"""LD block-matrix plumbing (SURVEY §2 — gnomAD LD posture, r3).

Re-expresses the reference's GnomAD LD-matrix handling
(/root/reference/src/gentropy/datasource/gnomad/ld.py:101
``_convert_ld_matrix_to_table``, :223 ``_transpose_ld_matrix``, :200
``_resolve_variant_indices``, :364/:405 square-slice extraction) as
DataFrame transforms over an (idx_i, idx_j, r)
entry table — the storage shape a 100 TB LD release actually uses (Hail
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


def transpose_ld_triangular(ld: DataFrame) -> DataFrame:
    """Upper-triangular entries → full symmetric entry table.

    Mirrors gnomad/ld.py:223 ``_transpose_ld_matrix``: every
    off-diagonal entry appears twice (swapped coordinates), the
    diagonal once.
    """
    lower = (
        ld.filter(F.col("idx_i") != F.col("idx_j"))
        .select(
            F.col("idx_j").alias("idx_i"), F.col("idx_i").alias("idx_j"), *(
                c for c in ld.columns if c not in ("idx_i", "idx_j")
            )
        )
    )
    return ld.unionByName(lower)


def resolve_variant_indices(
    ld: DataFrame,
    index: DataFrame,
) -> DataFrame:
    """Matrix coordinates → variant ids (gnomad/ld.py:200).

    The locus index is small per block — broadcast both joins.
    """
    idx_a = index.select(
        F.col("idx").alias("idx_i"), F.col("variant_id").alias("variant_id_a")
    )
    idx_b = index.select(
        F.col("idx").alias("idx_j"), F.col("variant_id").alias("variant_id_b")
    )
    return ld.join(F.broadcast(idx_a), on="idx_i").join(F.broadcast(idx_b), on="idx_j")


def ld_block_slice(
    ld: DataFrame,
    start_idx: int,
    end_idx: int,
) -> DataFrame:
    """Square sub-block for an index window (gnomad/ld.py:364).

    Both range predicates push down to the entry scan, so a slice
    reads only the block's stripes, never the full matrix.
    """
    return ld.filter(
        (F.col("idx_i") >= start_idx)
        & (F.col("idx_i") <= end_idx)
        & (F.col("idx_j") >= start_idx)
        & (F.col("idx_j") <= end_idx)
    )
