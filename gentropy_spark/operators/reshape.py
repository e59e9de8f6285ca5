"""Relational reshape operators: top-k per group, wide<->long pivots.

Re-expresses the reference's generic Spark helpers
(/root/reference/src/gentropy/common/spark.py:
``get_top_ranked_in_window`` :122, ``get_record_with_maximum_value``
:158, ``convert_from_wide_to_long`` :22, ``convert_from_long_to_wide``
:72, ``pivot_df`` :387) as standalone, scale-conscious transforms.

Scale notes:
- top_k_per_group is a single hash-partitioned window (one shuffle on
  the group keys); no global sort.
- wide_to_long uses the built-in ``stack``-equivalent via
  explode(array(structs)) so it stays in whole-stage codegen.
- long_to_wide uses ``pivot`` with an explicit value list (avoids the
  extra distinct-values job, which at 100 TB would be a full scan).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[Column],
    k: int = 1,
) -> DataFrame:
    """Keep the top-k rows per group under a deterministic ordering.

    Args:
        df: input.
        group_cols: grouping keys (should be high-cardinality at scale).
        order_cols: ordering columns (include tie-breakers for
            determinism — required for oracle-exact results).
        k: rows to keep per group.

    Returns:
        Input rows restricted to rank <= k, with ``rank_in_group`` added.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn("rank_in_group", F.row_number().over(w))
        .filter(F.col("rank_in_group") <= k)
    )


def wide_to_long(
    df: DataFrame,
    id_vars: Sequence[str],
    value_vars: Sequence[str],
) -> DataFrame:
    """Melt wide columns into (attribute, value) rows.

    Stays JVM-side: builds an array of (name, value) structs and
    explodes it — one narrow stage, no shuffle.
    """
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("attribute"),
                F.col(c).cast("double").alias("value"),
            )
            for c in value_vars
        ]
    )
    return df.select(
        *id_vars, F.explode(pairs).alias("_kv")
    ).select(*id_vars, "_kv.attribute", "_kv.value")


def long_to_wide(
    df: DataFrame,
    id_vars: Sequence[str],
    var_col: str,
    value_col: str,
    value_list: Sequence[str],
    agg: Callable[[Column], Column] = F.first,
) -> DataFrame:
    """Pivot long rows into one column per ``value_list`` entry, each
    the aggregate ``agg`` of ``value_col``.

    ``value_list`` must be supplied explicitly: letting Spark infer it
    requires an eager distinct scan, unacceptable on a 100 TB input.
    """
    return (
        df.groupBy(*id_vars)
        .pivot(var_col, list(value_list))
        .agg(agg(F.col(value_col)))
    )


def salted_join(
    left,
    right,
    key: str,
    n_salts: int = 16,
):
    """Skew-defeating inner equi-join via key salting (SURVEY A17).

    For a join key with pathological heavy hitters (see
    ``key_skew_profile``), AQE's skew-join splitting handles the SORT
    side but a broadcast-ineligible hot build side still lands on one
    task. Salting spreads it deterministically: the probe (left) side
    gets a salt from a hash of its row, the build (right) side is
    replicated once per salt, and the join key becomes (key, salt) —
    hot keys now occupy ``n_salts`` tasks. Output equals the plain
    join (each left row matches exactly its salt's replica).

    Use ONLY when the skew profile demands it: the build side is
    replicated ``n_salts``× — that is the explicit price of evenness.
    """
    from pyspark.sql import functions as F

    lt = left.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(n_salts)),
    )
    rt = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("_salt", F.col("_salt").cast("bigint"))
    out = lt.join(rt, on=[key, "_salt"], how="inner")
    return out.drop("_salt")
