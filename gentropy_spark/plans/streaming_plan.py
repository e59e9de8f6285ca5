"""Streaming + multimodal plan entries (SURVEY §2.F6, E12)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gentropy_spark.operators.multimodal import attach_binary_payload, decode_features
from gentropy_spark.plans.registry import QuerySpec
from gentropy_spark.sources.readers import read_table
from gentropy_spark.streaming.windowed import (
    SESSION_GAP_US,
    STREAM_ENRICH_LOOKBACK_US,
    WINDOW_US,
    run_available_now,
)


# --- F6: watermarked streaming windowed aggregation ----------------------
def q_stream_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming tumbling-window aggregate, drained with
    availableNow — with a complete drain this must equal the batch
    group-by, which is exactly what the oracle asserts."""
    return run_available_now(spark, sf_dir)


STREAM_SQL = f"""
SELECT (epoch_us(ts) // {WINDOW_US}) * {WINDOW_US} AS window_start_us,
       user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


# --- E12: multimodal binary decode plumbing ------------------------------
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return decode_features(attach_binary_payload(docs))


MULTIMODAL_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       CAST(octet_length(encode(text)) % 640 AS INT) AS fake_width,
       CAST((octet_length(encode(text)) * 7) % 480 AS INT) AS fake_height,
       CAST(octet_length(encode(text)) % 16 + 1 AS INT) AS n_frames,
       -- text payloads carry no media magic bytes: every row takes the
       -- stub branch; the real-codec fields surface as typed NULLs
       -- (the decoders themselves are pinned by byte-exact unit tests)
       'stub' AS codec,
       CAST(NULL AS INT) AS width,
       CAST(NULL AS INT) AS height,
       CAST(NULL AS INT) AS n_channels,
       CAST(NULL AS INT) AS sample_rate,
       CAST(NULL AS DOUBLE) AS mean_value
FROM documents
"""


# --- F6b: streaming dedup (watermarked dropDuplicates) -------------------
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates on the natural key; with a complete
    availableNow drain this equals batch DISTINCT-by-key keeping the
    first arrival — oracle = min(event_id) per key."""
    from gentropy_spark.streaming.windowed import run_dedup_available_now

    return run_dedup_available_now(spark, sf_dir)


STREAM_DEDUP_SQL = """
SELECT user_id, event_type, epoch_us(ts) AS pos,
       MIN(event_id) AS first_event_id, COUNT(*) AS n_dups
FROM events
GROUP BY 1, 2, 3
"""


# --- F6c: custom stateful sessionization (applyInPandasWithState) --------
SESSION_GAP_MS = SESSION_GAP_US // 1000


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionizer (EventTimeTimeout, r3). The
    oracle mirrors the streaming contract exactly: a session appears
    iff it was closed by a later event in the data OR its quiet period
    (session_end + gap) fell behind the final event-time watermark —
    sessions still open at end-of-stream are withheld, as a longer
    stream could extend them."""
    from gentropy_spark.streaming.windowed import run_sessionize_available_now

    return run_sessionize_available_now(spark, sf_dir)


STREAM_SESSIONIZE_SQL = f"""
WITH clustered AS (
  SELECT *, SUM(CASE WHEN gap IS NULL OR gap > {SESSION_GAP_US} THEN 1 ELSE 0 END)
         OVER (PARTITION BY user_id, event_type ORDER BY pos
               ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM (
    SELECT user_id, event_type, epoch_us(ts) AS pos,
           epoch_us(ts) - LAG(epoch_us(ts)) OVER (
             PARTITION BY user_id, event_type ORDER BY epoch_us(ts)) AS gap
    FROM events
  )
),
sessions AS (
  SELECT user_id, event_type, session_seq,
         MIN(pos) AS session_start, MAX(pos) AS session_end,
         COUNT(*) AS n_events,
         MAX(session_seq) OVER (PARTITION BY user_id, event_type) AS max_seq
  FROM clustered
  GROUP BY user_id, event_type, session_seq
),
wm AS (SELECT MAX(epoch_us(ts)) // 1000 AS watermark_ms FROM events)
SELECT user_id, event_type, session_start, session_end, n_events
FROM sessions, wm
WHERE session_seq < max_seq
   OR session_end // 1000 + {SESSION_GAP_MS} < watermark_ms
"""


REGISTRY: dict[str, QuerySpec] = {
    "stream_sessionize": QuerySpec(q_stream_sessionize, STREAM_SESSIONIZE_SQL),
    "stream_dedup": QuerySpec(q_stream_dedup, STREAM_DEDUP_SQL),
    "stream_window_agg": QuerySpec(q_stream_window_agg, STREAM_SQL),
    "multimodal_decode": QuerySpec(q_multimodal_decode, MULTIMODAL_SQL),
}


# --- E12b: multimodal frame sampling (N:M mapInPandas fan-out) -----------
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gentropy_spark.operators.multimodal import sample_frames

    docs = read_table(spark, sf_dir, "documents")
    return sample_frames(attach_binary_payload(docs))


MULTIMODAL_FRAMES_SQL = """
WITH media AS (
  SELECT doc_id,
         CAST(octet_length(encode(text)) % 16 + 1 AS INT) AS n_frames
  FROM documents
),
sampled AS (
  SELECT doc_id, n_frames,
         CAST(unnest(generate_series(0, LEAST(4, n_frames) - 1)) AS INT) AS i,
         GREATEST(n_frames // LEAST(4, n_frames), 1) AS stride
  FROM media
)
SELECT doc_id,
       CAST(i * stride AS INT) AS frame_index,
       n_frames,
       ((doc_id * 31 + i * stride) * 2654435761) % 1000003 / 1000003.0
         AS frame_feature
FROM sampled
WHERE i * stride < n_frames
"""


REGISTRY["multimodal_frame_sample"] = QuerySpec(
    q_multimodal_frames, MULTIMODAL_FRAMES_SQL
)


# --- F9: stream-stream time-bounded enrichment join -----------------------


def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided watermarked stream join drained with availableNow;
    a complete drain equals the batch range join the oracle runs."""
    from gentropy_spark.streaming.windowed import run_stream_enrich_available_now

    return run_stream_enrich_available_now(spark, sf_dir)


STREAM_ENRICH_SQL = f"""
SELECT l.event_id AS obs_event_id, l.user_id,
       epoch_us(l.ts) AS obs_pos,
       r.event_id AS ref_event_id, epoch_us(r.ts) AS ref_pos,
       ROUND(l.value - r.value, 6) AS delta_value
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND epoch_us(r.ts) >= epoch_us(l.ts) - {STREAM_ENRICH_LOOKBACK_US}
 AND epoch_us(r.ts) <= epoch_us(l.ts)
WHERE l.event_id % 2 = 1 AND r.event_id % 2 = 0
"""

REGISTRY["stream_enrich"] = QuerySpec(q_stream_enrich, STREAM_ENRICH_SQL)


# --- E12c: multimodal resize planning (stub codec, real plumbing) ---------
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gentropy_spark.operators.multimodal import attach_binary_payload, resize_media

    docs = read_table(spark, sf_dir, "documents")
    return resize_media(attach_binary_payload(docs))


MULTIMODAL_RESIZE_SQL = """
WITH dims AS (
  SELECT doc_id,
         CAST(octet_length(encode(text)) AS INT) AS n,
         CAST(octet_length(encode(text)) % 640 AS INT) AS w,
         CAST((octet_length(encode(text)) * 7) % 480 AS INT) AS h
  FROM documents
)
SELECT doc_id, w AS src_width, h AS src_height,
       CASE WHEN w <= 0 OR h <= 0 THEN w
            ELSE CAST(TRUNC(w * (224.0 / LEAST(w, h))) AS INT) END AS out_width,
       CASE WHEN w <= 0 OR h <= 0 THEN h
            ELSE CAST(TRUNC(h * (224.0 / LEAST(w, h))) AS INT) END AS out_height,
       CASE WHEN w <= 0 OR h <= 0 THEN 1.0
            ELSE ROUND(224.0 / LEAST(w, h), 6) END AS scale,
       CASE WHEN w <= 0 OR h <= 0 THEN n
            ELSE CAST(TRUNC(w * (224.0 / LEAST(w, h)))
                 * TRUNC(h * (224.0 / LEAST(w, h))) * 3 AS INT) END AS out_bytes
FROM dims
"""

REGISTRY["multimodal_resize"] = QuerySpec(q_multimodal_resize, MULTIMODAL_RESIZE_SQL)


# --- F11: stream-static broadcast enrichment ------------------------------
def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gentropy_spark.streaming.windowed import run_stream_static_enrich

    return run_stream_static_enrich(spark, sf_dir)


STREAM_STATIC_SQL = """
SELECT CAST(e.user_id % 25 AS INT) AS nation_key, n.n_name AS nation_name,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
GROUP BY 1, 2
"""

REGISTRY["stream_static_enrich"] = QuerySpec(q_stream_static_enrich, STREAM_STATIC_SQL)


# --- F13: hopping (sliding) window aggregation ----------------------------
HOP_WINDOW_US = 86_400_000_000  # 1 day
HOP_SLIDE_US = 21_600_000_000   # 6 h → each event lands in 4 windows


def q_hopping_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window aggregate (the batch shape of a sliding
    streaming window): each event explodes into window/slide window
    memberships, then one partial-agg groupBy per (window, user) —
    shuffle grows by the overlap factor (4 here), never by a range
    join."""
    from pyspark.sql import functions as F

    from gentropy_spark.functions.exact import exact_sum
    from gentropy_spark.sources.readers import read_table, ts_micros

    ev = read_table(spark, sf_dir, "events")
    pos = ts_micros(ev)
    # Membership: window starts are the slide multiples in
    # (pos - W, pos] — identical to Spark's native F.window(size,
    # slide) semantics (start <= pos < start + W), which the streaming
    # counterpart (F14) relies on sharing this oracle.
    base = (
        ev.select("user_id", F.col("value"), pos.alias("pos"))
        .select(
            "user_id",
            "value",
            F.explode(
                F.sequence(
                    F.expr(
                        f"((pos - {HOP_WINDOW_US}) div {HOP_SLIDE_US}) + 1"
                    ),
                    F.expr(f"pos div {HOP_SLIDE_US}"),
                )
            ).alias("win_seq"),
        )
    )
    return (
        base.groupBy("win_seq", "user_id")
        .agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col("value")).alias("sum_value"),
        )
        .select(
            (F.col("win_seq") * HOP_SLIDE_US).alias("window_start_us"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


HOPPING_SQL = f"""
WITH base AS (
  SELECT user_id, value, epoch_us(ts) AS pos,
         unnest(generate_series(
           ((epoch_us(ts) - {HOP_WINDOW_US}) // {HOP_SLIDE_US}) + 1,
           epoch_us(ts) // {HOP_SLIDE_US}
         )) AS win_seq
  FROM events
)
SELECT win_seq * {HOP_SLIDE_US} AS window_start_us, user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM base GROUP BY 1, 2
"""

REGISTRY["hopping_window_agg"] = QuerySpec(q_hopping_window_agg, HOPPING_SQL)


# --- F14: streaming sliding-window aggregate ------------------------------
def q_stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native overlapping streaming windows; complete drain == the
    batch membership-explode (same oracle as hopping_window_agg)."""
    from gentropy_spark.streaming.windowed import run_sliding_available_now

    return run_sliding_available_now(
        spark, sf_dir, window_us=HOP_WINDOW_US, slide_us=HOP_SLIDE_US
    )


REGISTRY["stream_sliding_agg"] = QuerySpec(q_stream_sliding_agg, HOPPING_SQL)


# --- E12d: real-codec round-trip verification -----------------------------
# The multimodal trio exercises the mapInPandas CONTRACT on text
# payloads (stub branch). This query proves the REAL codecs inside the
# distributed pipeline with a full oracle: per document, deterministic
# pixel/sample data is derived from doc_id arithmetic, ENCODED to an
# actual PNG / GIF / WAV container and DECODED back via decode_any —
# all inside one Arrow-batched mapInPandas — while the DuckDB oracle
# computes the expected metadata analytically (the integer sums are
# exact in f64 in both engines, so ROUND(mean, 6) is hash-stable).
# A codec bug, sniff bug or container-layout bug breaks the value hash.
def q_multimodal_codec_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode→decode_any round-trip metadata per doc (E12d)."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("codec", T.StringType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("n_channels", T.IntegerType()),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("mean_value", T.DoubleType()),
        ]
    )

    def roundtrip(batches):
        import numpy as np

        from gentropy_spark.operators.codecs import (
            decode_any,
            encode_png,
            encode_wav,
        )
        from gentropy_spark.operators.gif import encode_gif

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"].tolist():
                k = d % 3
                if k < 2:
                    w = 4 + d % 5
                    h = 3 + d % 4
                    n = w * h * 3
                    vals = (d * 7 + 13 * np.arange(n)) % 256
                    px = vals.astype(np.uint8).reshape(h, w, 3)
                    payload = (
                        encode_png(px) if k == 0 else encode_gif(px, compress=True)
                    )
                else:
                    ns = 32 + d % 7
                    samples = (
                        (d * 11 + 17 * np.arange(ns)) % 4096 - 2048
                    ).astype(np.int16)
                    payload = encode_wav(samples, rate=16_000, channels=1)
                meta = decode_any(payload)
                rows.append(
                    (
                        d,
                        meta["codec"],
                        meta["width"],
                        meta["height"],
                        meta["n_channels"],
                        meta["sample_rate"],
                        round(meta["mean_value"], 6),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "codec", "width", "height",
                    "n_channels", "sample_rate", "mean_value",
                ],
            )

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(roundtrip, schema)


MULTIMODAL_VERIFY_SQL = """
WITH d AS (
  SELECT doc_id, doc_id % 3 AS k,
         CAST(4 + doc_id % 5 AS INT) AS w,
         CAST(3 + doc_id % 4 AS INT) AS h,
         CAST(32 + doc_id % 7 AS INT) AS ns
  FROM documents
),
img AS (
  SELECT d.doc_id,
         CASE WHEN k = 0 THEN 'png' ELSE 'gif' END AS codec,
         w AS width, h AS height,
         3 AS n_channels, CAST(NULL AS INT) AS sample_rate,
         ROUND(AVG(CAST((d.doc_id * 7 + 13 * g.i) % 256 AS DOUBLE)), 6)
           AS mean_value
  FROM d, LATERAL unnest(generate_series(0, w * h * 3 - 1)) AS g(i)
  WHERE k < 2
  GROUP BY d.doc_id, k, w, h
),
wav AS (
  SELECT d.doc_id, 'wav' AS codec,
         ns AS width, CAST(NULL AS INT) AS height,
         1 AS n_channels, 16000 AS sample_rate,
         ROUND(AVG(ABS(CAST((d.doc_id * 11 + 17 * g.i) % 4096 - 2048
                            AS DOUBLE))), 6) AS mean_value
  FROM d, LATERAL unnest(generate_series(0, ns - 1)) AS g(i)
  WHERE k = 2
  GROUP BY d.doc_id, ns
)
SELECT * FROM img
UNION ALL
SELECT * FROM wav
"""

REGISTRY["multimodal_codec_verify"] = QuerySpec(
    q_multimodal_codec_verify, MULTIMODAL_VERIFY_SQL
)
