"""Interval-overlap operators (SURVEY §2.C5).

Re-expresses gentropy's locus-overlap detection
(/root/reference/src/gentropy/dataset/study_locus.py:494
``_overlapping_peaks`` / :845 ``find_overlaps``): find pairs of loci
from two sides that sit on the same contig and overlap in position.

Scale design: the naive formulation is an equi-join on contig plus a
range predicate — fine when loci tables are post-aggregation (small).
For 100 TB inputs, ``overlap_join`` optionally buckets intervals into
fixed-width tiles and equi-joins on (contig, tile), turning the range
join into a co-partitioned hash join whose shuffle is proportional to
data size; duplicate tile hits are dropped with a tile-ownership
predicate (a pair is emitted only in the first tile it shares, so no
distinct/shuffle dedup is needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def overlap_join(
    left: DataFrame,
    right: DataFrame,
    start: str = "locus_start",
    end: str = "locus_end",
    tile_width: int | None = None,
    right_start: str | None = None,
    right_end: str | None = None,
) -> DataFrame:
    """Pairs of (left, right) loci on the same contig with overlapping spans.

    Overlap is inclusive: ``l.start <= r.end AND r.start <= l.end``.
    Columns from each side are prefixed ``left_``/``right_`` (except
    the shared ``contig``).

    Args:
        tile_width: if set, use the tiled equi-join strategy (scale
            path); if None, plain contig equi-join + range predicate
            (correct and AQE-friendly when either side is small).
        right_start / right_end: the right side's span column names
            when they differ from the left's (default: same names both
            sides).
    """
    r_start_name = right_start or start
    r_end_name = right_end or end
    lhs = left.select(
        F.col("contig").alias("contig"),
        *[F.col(c).alias(f"left_{c}") for c in left.columns if c != "contig"],
    )
    rhs = right.select(
        F.col("contig").alias("contig"),
        *[F.col(c).alias(f"right_{c}") for c in right.columns if c != "contig"],
    )
    l_start, l_end = F.col(f"left_{start}"), F.col(f"left_{end}")
    r_start, r_end = F.col(f"right_{r_start_name}"), F.col(f"right_{r_end_name}")
    overlap_pred = (l_start <= r_end) & (r_start <= l_end)

    if tile_width is None:
        return lhs.join(rhs, on="contig", how="inner").filter(overlap_pred)

    tile = lambda c: (c / tile_width).cast("long")  # noqa: E731
    lhs_t = lhs.withColumn(
        "tile", F.explode(F.sequence(tile(l_start), tile(l_end)))
    )
    rhs_t = rhs.withColumn(
        "tile", F.explode(F.sequence(tile(r_start), tile(r_end)))
    )
    # Ownership: emit the pair only in the first tile both intervals cover,
    # so each overlapping pair appears exactly once without a distinct.
    first_shared_tile = F.greatest(tile(l_start), tile(r_start))
    return (
        lhs_t.join(rhs_t, on=["contig", "tile"], how="inner")
        .filter(overlap_pred & (F.col("tile") == first_shared_tile))
        .drop("tile")
    )


def overlap_length(
    start_a: F.Column, end_a: F.Column, start_b: F.Column, end_b: F.Column
) -> F.Column:
    """Length of the intersection of two inclusive intervals (>= 0)."""
    return F.greatest(
        F.least(end_a, end_b) - F.greatest(start_a, start_b), F.lit(0)
    )


def span_self_pairs(
    df,
    key_cols: list[str],
    pos_col: str,
    span: int,
):
    """Bounded-span self-pairing as a bucketed equi-join (scale shape).

    Emits every ordered pair of rows sharing ``key_cols`` with
    ``|a.pos - b.pos| <= span`` — the kernel under pairwise LD,
    LD-dominance pruning and neighbour smoothing. A raw range
    self-join on the keys is quadratic per key group; bucketing
    ``pos`` into span-width tiles and exploding ONE side to its tile
    ±1 makes it an equi-join on (keys..., tile) whose cost follows
    bucket occupancy instead — the same strategy as the tiled
    ``overlap_join`` above. The exact span predicate is re-applied
    after the join, so semantics are identical to the range join.

    Returns pairs with the left columns as-is and every right column
    renamed with the suffix ``_b``.
    """
    from pyspark.sql import functions as F

    right = df.select(
        *[F.col(c).alias(f"{c}_b") for c in df.columns]
    ).withColumn("_tile_r", F.expr(f"{pos_col}_b div {span}"))
    left = df.withColumn(
        "_tile",
        F.explode(
            F.sequence(
                F.expr(f"{pos_col} div {span} - 1"),
                F.expr(f"{pos_col} div {span} + 1"),
            )
        ),
    )
    cond = F.col("_tile") == F.col("_tile_r")
    for c in key_cols:
        cond = cond & (F.col(c) == F.col(f"{c}_b"))
    return (
        left.join(right, cond)
        .filter(
            F.abs(F.col(pos_col) - F.col(f"{pos_col}_b")) <= span
        )
        .drop("_tile", "_tile_r")
    )
