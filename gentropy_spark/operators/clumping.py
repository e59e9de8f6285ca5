"""Distance-based clumping operators (SURVEY §2.C1–C3).

Re-expresses gentropy's two clumping methods as DataFrame transforms
over the summary-statistics columns (study_id, contig, pos, signif,
point_id):

- ``window_clump``: distance-window peak clumping. Reference:
  /root/reference/src/gentropy/method/window_based_clumping.py:28
  (``_cluster_peaks``: boundary where the gap to the previous point
  exceeds the window, cluster id propagated forward) and :155
  (``clump``: per-cluster significance ranking). Our formulation
  replaces the reference's concat-and-propagate cluster id with a
  running SUM of boundary flags — same partitioning, one less window
  pass, and directly expressible in ANSI SQL for the oracle.

- ``locus_breaker``: variable-width locus sessionization. Reference:
  /root/reference/src/gentropy/method/locus_breaker_clumping.py:20
  (gap-cutoff sessions over baseline-significant points, flanking
  extension, lead per locus above a stricter cutoff).

- ``semi_lead_clump``: the reference's iterative semi-lead pruning
  (window_based_clumping.py:114 ``_prune_peak``) — genuinely
  sequential per cluster. Runs as a partition-sorted ``mapInPandas``
  stream (NOT per-group applyInPandas: clusters are overwhelmingly
  singletons, and one Python round-trip per group cost 56s for 13k
  clusters at sf0.1 — the r15 finding; the stream form is ~2s and
  scales with rows, not groups).

Scale notes: every window partitions on (study, contig) — at real
scale that key space is huge (millions of study x chromosome pairs)
so the sort is per-partition and shuffle is a single hash exchange.
All three operators share that partitioning, so Catalyst reuses one
exchange across the boundary-flag, ranking, and aggregate windows.
No driver-side iteration anywhere.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _cluster_seq(
    df: DataFrame,
    study: str,
    point_id: str,
    max_gap: int,
) -> DataFrame:
    """Assign a per-(study, contig) cluster sequence number.

    A new cluster starts where the gap to the previous ``pos`` exceeds
    ``max_gap``; the running sum of boundary flags numbers the
    clusters. Deterministic total order via (pos, point_id).
    """
    w = Window.partitionBy(study, "contig").orderBy(
        F.col("pos").asc(), F.col(point_id).asc()
    )
    gap = F.col("pos") - F.lag("pos").over(w)
    boundary = F.when(gap.isNull() | (gap > max_gap), F.lit(1)).otherwise(F.lit(0))
    return df.withColumn(
        "cluster_seq",
        F.sum(boundary).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )


def window_clump(
    df: DataFrame,
    window: int = 500_000,
    min_signif: float | None = None,
) -> DataFrame:
    """Distance-window clumping: one lead (max significance) per cluster.

    Returns one row per cluster:
    (study, contig, cluster_seq, n_members, cluster_start, cluster_end,
    lead_point_id, lead_pos, lead_signif).
    """
    if min_signif is not None:
        df = df.filter(F.col("signif") >= min_signif)
    clustered = _cluster_seq(df, "study_id", "point_id", window)
    cluster_keys = ["study_id", "contig", "cluster_seq"]
    rank_w = Window.partitionBy(*cluster_keys).orderBy(
        F.col("signif").desc(), F.col("pos").asc(), F.col("point_id").asc()
    )
    agg_w = Window.partitionBy(*cluster_keys)
    return (
        clustered.withColumn("lead_rank", F.row_number().over(rank_w))
        .withColumn("n_members", F.count("*").over(agg_w))
        .withColumn("cluster_start", F.min("pos").over(agg_w))
        .withColumn("cluster_end", F.max("pos").over(agg_w))
        .filter(F.col("lead_rank") == 1)
        .select(
            F.col("study_id"),
            F.col("contig"),
            F.col("cluster_seq"),
            F.col("n_members"),
            F.col("cluster_start"),
            F.col("cluster_end"),
            F.col("point_id").alias("lead_point_id"),
            F.col("pos").alias("lead_pos"),
            F.col("signif").alias("lead_signif"),
        )
    )


def locus_breaker(
    df: DataFrame,
    baseline_signif: float = 0.0,
    distance_cutoff: int = 250_000,
    lead_signif: float = 0.0,
    flank: int = 100_000,
) -> DataFrame:
    """Variable-width locus sessionization with flanking extension.

    Points above ``baseline_signif`` are sessionized by
    ``distance_cutoff`` gaps; each locus is extended by ``flank`` on
    both sides (start clamped at 0); loci whose lead significance is
    below ``lead_signif`` are dropped.
    """
    filtered = df.filter(F.col("signif") >= baseline_signif)
    clustered = _cluster_seq(filtered, "study_id", "point_id", distance_cutoff)
    cluster_keys = ["study_id", "contig", "cluster_seq"]
    rank_w = Window.partitionBy(*cluster_keys).orderBy(
        F.col("signif").desc(), F.col("pos").asc(), F.col("point_id").asc()
    )
    agg_w = Window.partitionBy(*cluster_keys)
    return (
        clustered.withColumn("lead_rank", F.row_number().over(rank_w))
        .withColumn("n_members", F.count("*").over(agg_w))
        .withColumn(
            "locus_start", F.greatest(F.min("pos").over(agg_w) - flank, F.lit(0))
        )
        .withColumn("locus_end", F.max("pos").over(agg_w) + flank)
        .filter((F.col("lead_rank") == 1) & (F.col("signif") >= lead_signif))
        .select(
            F.col("study_id"),
            F.col("contig"),
            F.col("cluster_seq"),
            F.col("n_members"),
            F.col("locus_start"),
            F.col("locus_end"),
            F.col("point_id").alias("lead_point_id"),
            F.col("pos").alias("lead_pos"),
            F.col("signif").alias("lead_signif"),
        )
    )


def semi_lead_clump(
    df: DataFrame,
    window: int = 500_000,
    min_signif: float | None = None,
) -> DataFrame:
    """Iterative semi-lead selection inside distance clusters.

    Mirrors the reference's ``_prune_peak`` semantics
    (window_based_clumping.py:114): walk cluster members in descending
    significance; a member becomes a semi-lead iff it is at least
    ``window`` away from every already-chosen semi-lead. This is a
    genuine sequential dependency, so it runs in Python — but NOT as
    applyInPandas: that API makes one Python round-trip PER GROUP, and
    gap-sessionized clusters are overwhelmingly singletons (sf0.1:
    13,361 rows in 13,172 clusters), so per-group overhead alone cost
    ~4ms x clusters = 56s at sf0.1 and would grow linearly with the
    cluster count (r15 finding). Instead: hash-repartition on the
    cluster key, sort WITHIN partitions by (cluster key, signif DESC,
    pos, point_id) — exactly the walk order — and stream whole
    partitions through ``mapInPandas``, walking each contiguous group
    inside the batch loop. Python round-trips drop from O(clusters)
    to O(partitions x arrow batches); a group straddling two Arrow
    batches is carried over to the next batch, so values are
    byte-identical to the per-group form (sf0.1: 56s -> ~2s).

    The repartition names only the key columns — no explicit width —
    so ``spark.sql.shuffle.partitions`` / AQE sets the stream's
    parallelism from the data rather than pinning it to the driver
    host's core count (r15 verdict advisory; the carry logic is
    partitioning-agnostic, so any width yields identical values).

    Precondition: the cluster key columns are NON-NULL. This holds by
    construction (``_cluster_seq`` derives cluster_seq from a window
    count over non-null (study, contig, pos) rows), and the numpy
    segmentation below relies on it: object-array equality would read
    NULL != NULL and silently fragment a group, flipping
    ``is_semi_lead`` for the split members. ``emit`` asserts it.
    """
    if min_signif is not None:
        df = df.filter(F.col("signif") >= min_signif)
    clustered = _cluster_seq(df, "study_id", "point_id", window)

    out_schema = T.StructType(
        [
            clustered.schema["study_id"],
            clustered.schema["contig"],
            T.StructField("cluster_seq", T.LongType()),
            clustered.schema["point_id"],
            clustered.schema["pos"],
            clustered.schema["signif"],
            T.StructField("is_semi_lead", T.BooleanType()),
        ]
    )
    out_cols = ["study_id", "contig", "cluster_seq", "point_id", "pos", "signif",
                "is_semi_lead"]
    key_cols = ["study_id", "contig", "cluster_seq"]

    def prune_stream(batches):
        import numpy as np

        def emit(head: pd.DataFrame) -> pd.DataFrame:
            # Vectorized group segmentation (pandas groupby builds a
            # DataFrame PER GROUP — ~0.15ms each, which re-created the
            # per-group overhead in python once the Spark round-trips
            # were gone). Groups are contiguous; singletons — the vast
            # majority under gap sessionization — are semi-leads by
            # definition (the walk over an empty chosen-list always
            # accepts), so only multi-member groups run the walk.
            k = head[key_cols].to_numpy()
            # Non-null precondition (see docstring): NULL/NaN keys
            # would compare unequal to themselves and fragment groups.
            assert not head[key_cols].isna().any().any(), (
                "semi_lead_clump: NULL cluster key — segmentation "
                "assumes non-null keys"
            )
            new = np.ones(len(head), dtype=bool)
            new[1:] = (k[1:] != k[:-1]).any(axis=1)
            gid = np.cumsum(new) - 1
            sizes = np.bincount(gid)
            starts = np.nonzero(new)[0]
            positions = head["pos"].to_numpy()
            flags = np.ones(len(head), dtype=bool)
            for g in np.nonzero(sizes > 1)[0]:
                s = int(starts[g])
                chosen: list[float] = []
                for i in range(s, s + int(sizes[g])):
                    p = positions[i]
                    is_lead = all(abs(p - c) >= window for c in chosen)
                    if is_lead:
                        chosen.append(p)
                    flags[i] = is_lead
            out = head.copy()
            out["is_semi_lead"] = flags
            return out[out_cols]

        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            keys = pdf[key_cols].to_numpy()
            eq_last = (keys == keys[-1]).all(axis=1)
            if eq_last.all():
                # the whole batch is one (possibly incomplete) group
                carry = pdf
                continue
            # groups are contiguous (partition-sorted): the trailing
            # run of rows equal to the last key may continue in the
            # next batch — hold it back.
            tail_len = int(np.argmin(eq_last[::-1]))
            carry = pdf.iloc[len(pdf) - tail_len :].reset_index(drop=True)
            yield emit(pdf.iloc[: len(pdf) - tail_len])
        if carry is not None and len(carry):
            yield emit(carry)

    return (
        clustered.select(*key_cols, "point_id", "pos", "signif")
        .repartition(*[F.col(c) for c in key_cols])
        .sortWithinPartitions(
            *key_cols,
            F.col("signif").desc(),
            F.col("pos").asc(),
            F.col("point_id").asc(),
        )
        .mapInPandas(prune_stream, schema=out_schema)
    )


def exclude_regions(
    df: DataFrame,
    regions: Iterable[tuple[str, int, int]],
) -> DataFrame:
    """Drop points falling inside any blacklist region.

    Reference: study_locus.py:1145 ``exclude_region`` (e.g. the MHC
    region filter). Regions are (contig, start, end) tuples — a tiny
    literal list → pure predicate, fully pushed to the scan.
    """
    keep = F.lit(True)
    for region_contig, start, end in regions:
        inside = (
            (F.col("contig") == region_contig)
            & (F.col("pos") >= start)
            & (F.col("pos") <= end)
        )
        keep = keep & ~inside
    return df.filter(keep)
