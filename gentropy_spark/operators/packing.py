"""Scale-safe running token cumsum for sequence packing.

The contiguous-fill packer (plans/llm_pipeline.py E17/E22) needs a
running ``SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)``.
``source`` is a data-derived, LOW-cardinality key: a single-level
window would funnel one source's entire document stream through one
task's sort at 100 TB. This module provides the two-level equivalent
with identical output values:

1. bucket every row by a monotone function of the order key
   (``order_col div bucket_span``) — order within a source is
   preserved across bucket boundaries by construction;
2. run the unbounded cumsum WITHIN (part, bucket) — bounded per-task
   sort, parallelism = #buckets, one exchange on (part, bucket);
3. derive per-bucket totals from the cumsum output itself (the LAST
   row's running sum per bucket), reduce to one row per
   (part, bucket), prefix-sum per part (driver-scale window) and
   join the offsets back on (part, bucket);
4. final value = bucket prefix offset + within-bucket cumsum.

Single-scan guarantee (r12, closes the r10/r11 double-scan
advisory): both join sides descend from the IDENTICAL
scan → exchange → sort → Window subtree (the totals are max_by over
the cumsum column, not a fresh aggregate of the base table), so the
physical plan shares ONE shuffle between them (ReusedExchange) and
the upstream plan is evaluated once. Previously the totals were a
separate SUM over the base — Catalyst pruned that branch narrow,
but it was still a full second scan of the (possibly 5-way-join)
upstream, which at 100 TB doubles the pipeline's I/O. A plan test
pins the single-scan shape (tests/test_operators.py).

The offsets join carries NO forced broadcast hint: the offsets
relation has one row per (part, bucket) — ~1e7 rows at 100 TB, past
any sane broadcast threshold — while at bench scale AQE sees the
tiny runtime size and picks a broadcast join on its own. The big
side is already hash-partitioned on the join key from step 2, so
even the sort-merge fallback adds no new exchange of the data.

Equivalent to the reference's single-partition packing semantics
(conceptually ``dataset/`` batch assembly) but shaped for a
1000-executor cluster: no task ever sorts more than ``bucket_span``
order-key ticks of one source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Order-key ticks per bucket. At 100 TB with ~1e11 docs this yields
# ~1e7 buckets — each within-bucket sort is <= 8192 rows, and the
# totals aggregate is ~1e7 rows (fine for a shuffled join; never
# force-broadcast).
DEFAULT_BUCKET_SPAN = 8192


def bucketed_cumsum(
    df: DataFrame,
    part_col: str,
    order_col: str,
    value_col: str,
    bucket_span: int = DEFAULT_BUCKET_SPAN,
) -> DataFrame:
    """Running sum of ``value_col`` per ``part_col`` ordered by
    ``order_col``, computed without ever sorting a whole partition in
    one task. Output values are bit-identical to the single-level
    ``Window.partitionBy(part).orderBy(order)`` cumsum.

    PRECONDITION: ``part_col`` and ``order_col`` must be non-null.
    The offsets join keys on them with plain equality, so a NULL in
    either silently drops the row (where the single-level window
    would keep NULL as a valid partition/order value). Callers own
    the guarantee — the packer's (source, doc_id) keys are non-null
    by construction. Duplicate ``order_col`` values within a
    ``part_col`` are supported for non-negative ``value_col`` (the
    totals tie-break picks the max running sum among tied rows);
    duplicates combined with negative values are undefined, exactly
    as the single-level window cumsum is.

    ``order_col`` must be integral (the bucket is ``order div span``).
    The helper column ``__pack_bucket`` is dropped before returning.
    """
    bucket = F.expr(f"{order_col} div {int(bucket_span)}")
    within = (
        Window.partitionBy(part_col, "__pack_bucket")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Explicit null-drop BEFORE the window (same rows the offsets
    # join would drop anyway — see the PRECONDITION): with the filter
    # already below both join branches, Catalyst doesn't need to
    # inject asymmetric isnotnull constraints, the two branches'
    # scan→filter→project→exchange subtrees canonicalize EQUAL, and
    # the physical planner collapses them into one ReusedExchange.
    cum_in = (
        df.filter(F.col(part_col).isNotNull() & bucket.isNotNull())
        .withColumn("__pack_bucket", bucket)
        .withColumn("__cum_in", F.sum(value_col).over(within))
    )
    # Bucket total = the LAST row's running sum within the bucket —
    # derived from the cumsum output itself, so the totals branch is
    # the SAME scan → exchange → sort → Window subtree as the cumsum
    # branch (canonically identical: both need exactly (part, order,
    # value) below the window and both get the join's non-null filters
    # pushed through the window's partition keys). The physical plan
    # therefore reuses ONE shuffle for both join sides (ReusedExchange)
    # and the upstream plan is scanned once — see the module
    # docstring's single-scan guarantee. The reduction to one row per
    # (part, bucket) runs exchange-free on the window's partitioning.
    # max_by over a struct of EVERY column (not just __cum_in): the
    # optimizer cannot decompose max_by(struct(...)), so the totals
    # branch consumes the identical column set as the cumsum branch —
    # without this, a payload column used only on the cumsum side
    # (e.g. corpus_curate's pred_lang) gets pruned from the totals
    # branch, the two exchange subtrees stop canonicalizing equal, and
    # the reuse silently degrades to a full second evaluation of the
    # upstream. The struct rides only the per-(part,bucket) partial
    # aggregate — one row per bucket after map-side combine.
    # Tie-break (r13, closes the duplicate-order-key advisory): with
    # duplicate order_col values inside a (part, bucket), max_by keyed
    # on order_col alone picks an ARBITRARY row among the ties, whose
    # __cum_in can undercount the true bucket total and silently
    # corrupt every later bucket's offset. Keying on
    # struct(order_col, __cum_in) picks the tied row with the LARGEST
    # running sum — for non-negative value_col (the packer's domain:
    # token counts) that is exactly the row whose frame includes all
    # tied rows, i.e. the true bucket total. Ties combined with
    # negative values remain undefined — but so is the single-level
    # window cumsum itself under that input.
    payload = [c for c in cum_in.columns if c not in (part_col, "__pack_bucket")]
    totals = (
        cum_in.groupBy(part_col, "__pack_bucket")
        .agg(
            F.max_by(
                F.struct(*payload),
                F.struct(F.col(order_col), F.col("__cum_in")),
            ).alias("__last")
        )
        .select(
            part_col,
            "__pack_bucket",
            F.col("__last.__cum_in").alias("__btot"),
        )
    )
    prior = (
        Window.partitionBy(part_col)
        .orderBy("__pack_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        part_col,
        "__pack_bucket",
        F.coalesce(F.sum("__btot").over(prior), F.lit(0)).alias("__offset"),
    )
    return (
        cum_in.join(offsets, on=[part_col, "__pack_bucket"])
        .withColumn("cum_tokens", (F.col("__offset") + F.col("__cum_in")).cast("long"))
        .drop("__pack_bucket", "__cum_in", "__offset")
    )
