"""Sinks: parquet small-file compaction (SURVEY §2.F10)."""

from __future__ import annotations

from pyspark.sql import SparkSession


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
