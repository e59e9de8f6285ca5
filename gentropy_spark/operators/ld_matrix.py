"""LD block-matrix plumbing (SURVEY §2 — gnomAD LD posture, r3).

Re-expresses the reference's GnomAD LD-matrix handling
(/root/reference/src/gentropy/datasource/gnomad/ld.py:101
``_convert_ld_matrix_to_table``, :223 ``_transpose_ld_matrix``, :200
``_resolve_variant_indices``, :364/:405 square-slice extraction) as
DataFrame transforms over an (i, j, r) entry
table — the storage shape a 100 TB LD release actually uses (Hail
block-matrix entries → parquet):

- upper-triangular entries → full symmetric table (union with swapped
  coordinates; the diagonal is emitted once);
- matrix indices → variant ids via two broadcast joins against the
  locus index;
- square block slice for a [start, end] index window (predicate
  pushdown prunes the scan to the block's row range).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def transpose_ld_triangular(
    ld: DataFrame, i: str = "idx_i", j: str = "idx_j", r: str = "r"
) -> DataFrame:
    """Upper-triangular entries → full symmetric entry table.

    Mirrors gnomad/ld.py:223 ``_transpose_ld_matrix``: every
    off-diagonal entry appears twice (swapped coordinates), the
    diagonal once.
    """
    lower = (
        ld.filter(F.col(i) != F.col(j))
        .select(
            F.col(j).alias(i), F.col(i).alias(j), *(
                c for c in ld.columns if c not in (i, j)
            )
        )
    )
    return ld.unionByName(lower)


def resolve_variant_indices(
    ld: DataFrame,
    index: DataFrame,
    i: str = "idx_i",
    j: str = "idx_j",
    idx_col: str = "idx",
    variant_col: str = "variant_id",
) -> DataFrame:
    """Matrix coordinates → variant ids (gnomad/ld.py:200).

    The locus index is small per block — broadcast both joins.
    """
    idx_a = index.select(
        F.col(idx_col).alias(i), F.col(variant_col).alias("variant_id_a")
    )
    idx_b = index.select(
        F.col(idx_col).alias(j), F.col(variant_col).alias("variant_id_b")
    )
    return ld.join(F.broadcast(idx_a), on=i).join(F.broadcast(idx_b), on=j)


def ld_block_slice(
    ld: DataFrame,
    start_idx: int,
    end_idx: int,
    i: str = "idx_i",
    j: str = "idx_j",
) -> DataFrame:
    """Square sub-block for an index window (gnomad/ld.py:364).

    Both range predicates push down to the entry scan, so a slice
    reads only the block's stripes, never the full matrix.
    """
    return ld.filter(
        (F.col(i) >= start_idx)
        & (F.col(i) <= end_idx)
        & (F.col(j) >= start_idx)
        & (F.col(j) <= end_idx)
    )
