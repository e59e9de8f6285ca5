"""Round-9 targeted tests.

1. PNG codec (operators/codecs.py): real zlib-inflate + filter
   reconstruction of 8-bit RGB, exercised against encode_png round
   trips covering all five scanline filters, plus the unsupported
   IHDR shapes and corrupt streams that fall back to the stub, and the
   mapInPandas pipeline path. GIF (operators/gif.py) round trips and
   the stub contract follow.
2. study_locus_qc_flags plan shape is covered in test_plans.py.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest


def _rng(seed=7):
    return np.random.default_rng(seed)


# --- PNG round trips -------------------------------------------------------
def test_png_rgb_roundtrip_all_filters():
    """encode_png cycles filters 0..4 per row, so one decode covers
    every unfilter path byte-exactly."""
    from gentropy_spark.operators.codecs import decode_png, encode_png

    px = _rng().integers(0, 256, size=(7, 5, 3), dtype=np.uint8)
    meta = decode_png(encode_png(px))
    assert meta["codec"] == "png"
    assert (meta["width"], meta["height"], meta["n_channels"]) == (5, 7, 3)
    assert meta["mean_value"] == pytest.approx(float(px.mean()))


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_single_filter_exact(ftype):
    """The scanlines encode_png writes with filter ``ftype`` (rows r
    with r % 5 == ftype) unfilter to the exact source bytes."""
    from gentropy_spark.operators.codecs import (
        _png_chunks,
        _png_unfilter,
        encode_png,
    )

    px = _rng(ftype).integers(0, 256, size=(10, 6, 3), dtype=np.uint8)
    b = encode_png(px)
    raw = zlib.decompress(b"".join(d for t, d in _png_chunks(b) if t == b"IDAT"))
    assert [raw[r * (6 * 3 + 1)] for r in range(10)] == [r % 5 for r in range(10)]
    out = _png_unfilter(raw, 10, 6 * 3, 3)
    rows = [r for r in range(10) if r % 5 == ftype]
    assert (out[rows] == px[rows].reshape(len(rows), -1)).all()


def _png_stream(px, bit_depth=8, color_type=2, interlace=0):
    """A complete PNG of (h, w, c) ``px`` with filter 0 on every row."""
    from gentropy_spark.operators.codecs import PNG_SIGNATURE, _png_chunk

    h, w = px.shape[:2]
    if bit_depth == 16:
        px = px.astype(">u2")
    raw = b"".join(b"\x00" + row.tobytes() for row in px)
    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0, interlace)
    return (
        PNG_SIGNATURE
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


@pytest.mark.parametrize(
    "color_type,channels",
    [(0, 1), (2, 3), (4, 2), (6, 4)],
)
def test_png_color_types(color_type, channels):
    """RGB (color type 2) decodes; a complete, well-formed stream of
    any other color type raises in decode_png and lands on the stub."""
    from gentropy_spark.operators.codecs import decode_any, decode_png

    px = _rng(color_type).integers(0, 256, size=(5, 4, channels), dtype=np.uint8)
    png = _png_stream(px, color_type=color_type)
    if color_type != 2:
        with pytest.raises(ValueError):
            decode_png(png)
        assert decode_any(png)["codec"] == "stub"
        return
    meta = decode_any(png)
    assert meta["codec"] == "png"
    assert (meta["width"], meta["height"]) == (4, 5)
    assert meta["n_channels"] == channels
    assert meta["mean_value"] == pytest.approx(float(px.mean()))


@pytest.mark.parametrize("bit_depth,interlace", [(16, 0), (8, 1)])
def test_png_complete_16bit_and_adam7_streams_fall_back_to_stub(
    bit_depth, interlace
):
    """Complete 1x1 RGB streams: Adam7's one non-empty pass is the
    plain scanline, and the 16-bit scanline is longer than the 8-bit
    one, so only the IHDR check stops a wrong decode."""
    from gentropy_spark.operators.codecs import decode_any, decode_png

    px = np.array([[[1, 2, 3]]], np.uint8)
    png = _png_stream(px, bit_depth=bit_depth, interlace=interlace)
    with pytest.raises(ValueError):
        decode_png(png)
    assert decode_any(png)["codec"] == "stub"


def test_png_unsupported_shapes_fall_back_to_stub():
    """16-bit depth, Adam7, truncated IDAT → stub via decode_any,
    never an exception out of the batch."""
    from gentropy_spark.operators.codecs import (
        PNG_SIGNATURE,
        _png_chunk,
        decode_any,
        encode_png,
    )

    ihdr16 = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    png16 = PNG_SIGNATURE + _png_chunk(b"IHDR", ihdr16)
    assert decode_any(png16)["codec"] == "stub"

    ihdr_adam = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
    png_adam = PNG_SIGNATURE + _png_chunk(b"IHDR", ihdr_adam)
    assert decode_any(png_adam)["codec"] == "stub"

    good = encode_png(np.zeros((4, 4, 3), np.uint8))
    assert decode_any(good[: len(good) // 2])["codec"] == "stub"


def test_png_through_mapinpandas_pipeline(spark):
    """A PNG payload rides the same decode_features contract as
    GIF/WAV — schema, batching, N rows in → N rows out."""
    from gentropy_spark.operators.codecs import encode_png
    from gentropy_spark.operators.multimodal import decode_features

    px = _rng(3).integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    rows = [
        (1, bytearray(encode_png(px))),
        (3, bytearray(b"not media")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in decode_features(df).collect()}
    assert got[1].codec == "png" and (got[1].width, got[1].height) == (8, 8)
    assert got[1].mean_value == pytest.approx(float(px.mean()))
    assert got[3].codec == "stub"


# --- streaming upsert sink: crash between staging write and swap -----------
def test_upsert_sink_crash_and_resume_exactly_once(spark, sf_dir, tmp_path):
    """Failure-path evidence for the foreachBatch MERGE sink (r8 verdict
    item 9): inject a crash AFTER the staging write but BEFORE the
    atomic swap while draining a second file. The target must (a)
    survive the crash unchanged (the swap never happened, the backup
    restore ran), and (b) after a plain re-drain over the same
    checkpoint equal the batch dedup of ALL input — processed exactly
    once, no double-counted n_dups, no lost keys."""
    import pathlib
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    import pytest as _pytest

    from gentropy_spark.streaming.windowed import run_upsert_sink

    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "events.parquet")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")

    # Phase 1: drain the first file — clean baseline.
    run_upsert_sink(spark, str(src), target_dir=target, checkpoint=ckpt)
    base = {
        (r.user_id, r.event_type, r.pos): (r.first_event_id, r.n_dups)
        for r in spark.read.parquet(target).collect()
    }
    assert base

    # Second file: same natural keys, shifted surrogate ids — every key
    # becomes a duplicate pair (n_dups must exactly double; min id must
    # stay the original).
    tbl = pq.read_table(src / "events.parquet")
    shifted = tbl.set_column(
        tbl.schema.get_field_index("event_id"),
        "event_id",
        pc.add(tbl.column("event_id"), 10_000_000),
    )
    pq.write_table(shifted, src / "events_b.parquet")

    # Phase 2: drain with an injected crash between staging and swap.
    orig_rename = pathlib.Path.rename
    state = {"armed": True}

    def flaky_rename(self, dst):
        if state["armed"] and str(self).endswith("__upsert_staging"):
            state["armed"] = False
            raise OSError("injected crash before swap")
        return orig_rename(self, dst)

    pathlib.Path.rename = flaky_rename
    try:
        with _pytest.raises(Exception, match="injected crash|STREAM"):
            run_upsert_sink(spark, str(src), target_dir=target, checkpoint=ckpt)
    finally:
        pathlib.Path.rename = orig_rename

    # (a) Atomicity: the interrupted drain left the PHASE-1 target.
    after_crash = {
        (r.user_id, r.event_type, r.pos): (r.first_event_id, r.n_dups)
        for r in spark.read.parquet(target).collect()
    }
    assert after_crash == base

    # Phase 3: plain re-drain over the SAME checkpoint.
    run_upsert_sink(spark, str(src), target_dir=target, checkpoint=ckpt)
    final = {
        (r.user_id, r.event_type, r.pos): (r.first_event_id, r.n_dups)
        for r in spark.read.parquet(target).collect()
    }
    assert set(final) == set(base)
    for key, (first_id, n) in base.items():
        got_first, got_n = final[key]
        assert got_first == first_id, key  # min id survives the merge
        assert got_n == 2 * n, key  # each key seen exactly twice


# --- salted join: measured skew evenness ------------------------------------
def test_salted_join_spreads_hot_key_measured(spark):
    """Skew posture, measured (r8 verdict item 5): one key owns 30% of
    the probe side. With broadcast disabled (the regime salting exists
    for) and AQE off (so runtime coalescing can't mask the raw shuffle
    layout), the plain shuffle join lands every hot-key output row in
    ONE partition; the salted join spreads it across n_salts
    partitions. We assert on rows-per-output-partition — the direct
    driver of task wall-time for a join — and on result equality."""
    from pyspark.sql import functions as F

    from gentropy_spark.operators.reshape import salted_join

    n, hot_share, n_keys = 200_000, 0.3, 1_000
    left = spark.range(n).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") % 10 < 3, F.lit(0))
        .otherwise(F.col("id") % n_keys)
        .alias("k"),
    )
    right = spark.range(n_keys).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("dim_val")
    )

    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # The test session runs 8 shuffle partitions; with only 8 buckets
    # the 16 salt groups land lumpily (2-4 per bucket) and understate
    # the spread. 64 partitions ~ a real cluster's task granularity.
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try:
        def max_partition_rows(df):
            sizes = (
                df.withColumn("pid", F.spark_partition_id())
                .groupBy("pid")
                .count()
                .collect()
            )
            return max(r["count"] for r in sizes)

        plain = left.join(right, on="k")
        salted = salted_join(left, right, key="k", n_salts=16)

        assert salted.count() == plain.count() == n
        # checksum equality: same rows, not just same cardinality
        chk = lambda df: df.agg(
            F.sum(F.col("row_id") * F.col("dim_val"))
        ).collect()[0][0]
        assert chk(salted) == chk(plain)

        hot_plain = max_partition_rows(plain)
        hot_salted = max_partition_rows(salted)
        # Plain: the hot key's ~30% of rows share one partition.
        assert hot_plain >= int(n * hot_share * 0.95), hot_plain
        # Salted: spread over 16 salts -> max partition carries a
        # small multiple of the even share. >=4x improvement is the
        # conservative bound (ideal is ~16x for the hot key).
        assert hot_plain / hot_salted >= 4, (hot_plain, hot_salted)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)


# --- randomized codec round trips (hypothesis) ------------------------------
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_CODEC_SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    channels=st.sampled_from([3]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@_CODEC_SETTINGS
def test_png_roundtrip_property(h, w, channels, seed):
    """PNG is lossless: any size round-trips to the exact mean
    (filters cycle per row, so all five paths run)."""
    from gentropy_spark.operators.codecs import decode_png, encode_png

    px = np.random.default_rng(seed).integers(
        0, 256, (h, w, channels), dtype=np.uint8
    )
    meta = decode_png(encode_png(px))
    assert (meta["width"], meta["height"]) == (w, h)
    assert meta["n_channels"] == channels
    assert meta["mean_value"] == pytest.approx(float(px.mean()))


# --- GIF codec (r9b): LZW decode + interlace + multi-frame ----------------
def test_gif_gray_and_color_roundtrip():
    from gentropy_spark.operators.gif import (
        decode_gif,
        decode_gif_pixels,
        encode_gif,
    )

    g = _rng(5).integers(0, 256, size=(13, 9), dtype=np.uint8)
    b = encode_gif(g)
    px = decode_gif_pixels(b)
    assert (px[:, :, 0] == g).all() and (px[:, :, 2] == g).all()
    meta = decode_gif(b)
    assert meta["codec"] == "gif"
    assert (meta["width"], meta["height"], meta["n_frames"]) == (9, 13, 1)
    assert meta["mean_value"] == pytest.approx(float(px.mean()))


def test_gif_interlaced_and_clear_spans():
    from gentropy_spark.operators.gif import decode_gif_pixels, encode_gif

    rng = _rng(6)
    colors = rng.integers(0, 256, size=(7, 3), dtype=np.uint8)
    c = colors[rng.integers(0, 7, size=(21, 17))]
    assert (decode_gif_pixels(encode_gif(c, interlace=True)) == c).all()
    # large image forces multiple CLEAR spans in the literal encoder
    big = colors[rng.integers(0, 7, size=(64, 61))]
    assert (decode_gif_pixels(encode_gif(big)) == big).all()


def test_gif_through_decode_any_and_corrupt_fallback():
    from gentropy_spark.operators.codecs import decode_any
    from gentropy_spark.operators.gif import encode_gif

    g = _rng(7).integers(0, 256, size=(8, 8), dtype=np.uint8)
    meta = decode_any(encode_gif(g))
    assert meta["codec"] == "gif"
    assert meta["width"] == 8 and meta["n_channels"] == 3
    # truncated payload routes to the stub, never raises
    assert decode_any(encode_gif(g)[:20])["codec"] == "stub"


def test_gif_too_many_colors_raises():
    from gentropy_spark.operators.gif import encode_gif

    rgb = _rng(8).integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    with pytest.raises(ValueError):
        encode_gif(rgb)  # ~1024 distinct colors


# --- GIF dictionary-LZW compressor (r9b) ----------------------------------
def test_gif_compressed_roundtrip_width_growth():
    """The dictionary compressor exercises the decoder's variable
    code-width growth (9→12 bits), which the literal-only encoder
    never reaches."""
    from gentropy_spark.operators.gif import decode_gif_pixels, encode_gif

    r = _rng(21)
    colors = r.integers(0, 256, size=(17, 3), dtype=np.uint8)
    img = colors[r.integers(0, 17, size=(123, 77))]
    b = encode_gif(img, compress=True)
    assert (decode_gif_pixels(b) == img).all()
    # repetitive content compresses well below the literal stream
    rep = np.tile(np.arange(16, dtype=np.uint8).repeat(50), 128).reshape(
        -1, 100
    )
    bc = encode_gif(rep, compress=True)
    bl = encode_gif(rep, compress=False)
    assert len(bc) < len(bl) / 2
    assert (decode_gif_pixels(bc)[:, :, 0] == rep).all()


def test_gif_compressed_dictionary_reset():
    """400x300 repetitive image overflows the 4096-code table, forcing
    the mid-stream CLEAR + rebuild path on both sides."""
    from gentropy_spark.operators.gif import decode_gif_pixels, encode_gif

    rep = np.tile(np.arange(16, dtype=np.uint8).repeat(50), 300)[
        :120000
    ].reshape(400, 300)
    assert (
        decode_gif_pixels(encode_gif(rep, compress=True))[:, :, 0] == rep
    ).all()


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=15, deadline=None)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    ncolors=st.integers(1, 256),
    seed=st.integers(0, 2**31 - 1),
    compress=st.booleans(),
    interlace=st.booleans(),
)
def test_gif_roundtrip_property(h, w, ncolors, seed, compress, interlace):
    from gentropy_spark.operators.gif import decode_gif_pixels, encode_gif

    r = np.random.default_rng(seed)
    colors = r.integers(0, 256, size=(ncolors, 3), dtype=np.uint8)
    img = colors[r.integers(0, ncolors, size=(h, w))]
    b = encode_gif(img, compress=compress, interlace=interlace)
    assert (decode_gif_pixels(b) == img).all()


def test_multimodal_stub_ledger_contract():
    """r11 (verdict #9): undecoded media — arithmetic-coded JPEG and
    raw H.264 pixel data — keeps the NULL-metadata contract: decode_any
    returns codec='stub' with every metadata field NULL (never a
    fabricated decode)."""
    import struct

    from gentropy_spark.operators.codecs import decode_any

    # Arithmetic-coded JPEG: SOI + SOF9 (extended sequential,
    # arithmetic coding) frame header. decode_any must land on the
    # stub contract.
    sof9 = (
        b"\xff\xd8"  # SOI
        + b"\xff\xc9" + struct.pack(">H", 11)  # SOF9, len
        + bytes([8])  # precision
        + struct.pack(">HH", 4, 4)  # h, w
        + bytes([1, 1, 0x11, 0])  # 1 component
        + b"\xff\xd9"  # EOI
    )
    out = decode_any(sof9)
    assert out["codec"] == "stub"
    assert all(
        out[k] is None
        for k in ("width", "height", "n_channels", "sample_rate", "mean_value")
    )

    # Raw Annex-B H.264 byte stream (start code + SPS NAL): no
    # container, must be the stub — never a fake pixel decode.
    annexb = b"\x00\x00\x00\x01\x67" + bytes(32)
    out = decode_any(annexb)
    assert out["codec"] == "stub"
    assert out["mean_value"] is None
