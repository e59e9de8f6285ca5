"""Generic column/DataFrame helpers (SURVEY §2 — common/spark.py surface).

Re-expressions of the reference's utility belt
(/root/reference/src/gentropy/common/spark.py), cited per function.
All are pure Column expressions or narrow transforms.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def nullify_empty_array(col: Column) -> Column:
    """Empty array → NULL (spark.py:99)."""
    return F.when(F.size(col) > 0, col)


def map_column_by_dictionary(col: Column, mapping: dict[str, Any]) -> Column:
    """Literal-map lookup via a compile-time MapType (spark.py:353).

    The map is embedded in the plan — no join, no broadcast, constant
    lookup in codegen.
    """
    pairs = [x for kv in mapping.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    return F.element_at(F.create_map(*pairs), col)


def clean_strings_from_symbols(col: Column) -> Column:
    """Lowercase; non [a-z0-9_-] runs → underscore (spark.py:762)."""
    return F.regexp_replace(F.lower(col), "[^a-z0-9_\\-]+", "_")


def string2camelcase(name: str) -> str:
    """snake/kebab/space-separated → lowerCamelCase (spark.py:218)."""
    parts = [p for p in re.split(r"[ _\-.]+", name) if p]
    if not parts:
        raise ValueError(f"cannot camelcase {name!r}")
    return parts[0].lower() + "".join(p.capitalize() for p in parts[1:])


def order_array_of_structs_by_field(col: Column, field: str, asc: bool = False) -> Column:
    """Sort an array<struct> by one numeric field (spark.py:256).

    Descending by default (the reference sorts credible sets by
    posterior descending). NULL fields sort last.
    """
    sign = 1 if asc else -1

    def cmp(left: Column, right: Column) -> Column:
        lf, rf = left.getField(field), right.getField(field)
        return (
            F.when(lf.isNull() & rf.isNull(), 0)
            .when(lf.isNull(), 1)
            .when(rf.isNull(), -1)
            .when(lf < rf, sign * -1)
            .when(lf > rf, sign * 1)
            .otherwise(0)
        )

    return F.array_sort(col, cmp)


def safe_array_union(a: Column, b: Column) -> Column:
    """array_union that tolerates NULL operands (spark.py:520)."""
    return (
        F.when(a.isNotNull() & b.isNotNull(), F.array_union(a, b))
        .when(a.isNotNull(), a)
        .otherwise(b)
    )


def get_record_with_maximum_value(
    df: DataFrame, group_cols: list[str], order_col: str, tie_col: str
) -> DataFrame:
    """One row per group holding the max value (spark.py:158) —
    deterministic via the tie column."""
    w = Window.partitionBy(*group_cols).orderBy(
        F.col(order_col).desc(), F.col(tie_col).asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
