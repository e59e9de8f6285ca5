"""Sinks: partitioned parquet writer + quarantining text readers (SURVEY §2.F4–F5).

Writer re-expresses the reference Session write helpers
(common/session.py write modes) with the layout a 100 TB deployment
needs: range-partitioned by the query keys and sorted within files so
parquet min/max stats prune region scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str],
    num_partitions: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-partition on sort keys, sort within partitions, write parquet.

    The rangepartition + in-file sort gives every file a tight min/max
    envelope on ``sort_cols`` → downstream position/range queries prune
    at the footer level without reading data pages.
    """
    cols = [*partition_cols, *sort_cols]
    shaped = (
        df.repartitionByRange(num_partitions, *cols)
        if num_partitions
        else df.repartitionByRange(*cols)
    ).sortWithinPartitions(*cols)
    shaped.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a bucketed+sorted managed table for co-located joins.

    Two tables bucketed the same way join WITHOUT a shuffle exchange —
    the 100 TB answer for repeated joins on the same key (e.g. the
    summary-stats ↔ loci ↔ LD joins every pipeline step repeats).
    Verified shuffle-free in tests/test_framework.py.
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def read_csv_quarantine(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """CSV ingest with malformed-row quarantine (never silent drops).

    Mirrors the datasource-adapter posture: PERMISSIVE parse, corrupt
    lines captured in ``_corrupt_record`` so a QC step can count and
    route them (the reference adapters harmonise-then-flag rather than
    fail — e.g. datasource/gwas_catalog sumstat ingestion).
    """
    full = schema.add("_corrupt_record", T.StringType())
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("header", "true")
        .csv(path)
    )


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int,
    sort_cols: list[str] | None = None,
) -> int:
    """Rewrite a parquet dataset into ~target-sized files (SURVEY F10).

    The small-files maintenance pass every long-running 100 TB table
    needs: streaming sinks and incremental loads leave thousands of
    KB-sized files whose open/footer cost dominates scans. Reads the
    dataset, coalesces to ``ceil(rows / target_rows_per_file)`` files
    (repartitionByRange + in-file sort when ``sort_cols`` given, so
    compaction also restores the min/max pruning envelopes), writes to
    a staging dir, then atomically swaps. Returns the new file count.
    """
    import math
    import shutil
    from pathlib import Path

    df = spark.read.parquet(path)
    n_rows = df.count()
    n_files = max(1, math.ceil(n_rows / target_rows_per_file))
    staging = path.rstrip("/") + "__compact_staging"
    shaped = (
        df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(*sort_cols)
        if sort_cols
        else df.repartition(n_files)
    )
    shaped.write.mode("overwrite").parquet(staging)
    live, stage = Path(path), Path(staging)
    backup = Path(path.rstrip("/") + "__compact_backup")
    live.rename(backup)
    try:
        stage.rename(live)
    except OSError:
        backup.rename(live)  # restore on failure
        raise
    shutil.rmtree(backup)
    return len(list(Path(path).glob("part-*.parquet")))
