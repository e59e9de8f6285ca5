"""Table readers — parquet-first, schema-aware, pruning-friendly.

Re-expresses the reference's dataset IO layer
(``dataset/dataset.py:from_parquet`` and the Session read helpers,
reference: /root/reference/src/gentropy/dataset/dataset.py:131) as
plain functions. Key behaviors kept:

- schema enforcement on read (fail fast on drift),
- recursive/partitioned parquet discovery,
- the caller always gets a plain DataFrame (column pruning and
  predicate pushdown stay visible to Catalyst — never cache here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    expected_schema: T.StructType | None = None,
) -> DataFrame:
    """Read one synthetic table from an sf directory.

    Args:
        spark: active session.
        sf_dir: e.g. ``/root/testdata/sf0.01``.
        name: table name (the parquet file stem, e.g. ``lineitem``).
        expected_schema: if given, assert read schema field names match.

    Returns:
        DataFrame for ``{sf_dir}/{name}.parquet``.
    """
    # Defensive: the driver may hand us a session without our factory
    # config; TIMESTAMP(NANOS) parquet (events.ts) needs this to load.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    if expected_schema is not None:
        got = {f_.name for f_ in df.schema.fields}
        want = {f_.name for f_ in expected_schema.fields}
        missing = want - got
        if missing:
            raise ValueError(f"table {name} missing expected columns: {sorted(missing)}")
    return normalize_events_ts(df)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the event-time column to a plain (instant) TIMESTAMP.

    The driver's testdata has shipped ``events.ts`` in three physical
    shapes across rounds: TIMESTAMP(NANOS) parquet (read as a nanosecond
    long under nanosAsLong), TIMESTAMP(MICROS, adjustedToUTC) (read as
    TIMESTAMP), and TIMESTAMP(MICROS) without timezone (read as
    TIMESTAMP_NTZ). Downstream operators — including Structured
    Streaming watermarks, which require an instant TIMESTAMP — all
    assume one canonical type, so convert here, at the single read
    choke point. The NTZ wall clock is interpreted as UTC (matching
    DuckDB's naive-timestamp ``epoch_us``), NOT the session timezone,
    so results are reproducible across differently-configured drivers.
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get("ts")
    if dtype in ("bigint", "long"):
        # nanosecond long → floor to micros (DuckDB epoch_us semantics)
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    if dtype == "timestamp_ntz":
        return df.withColumn("ts", _ntz_as_utc_instant(df))
    return df


def _ntz_as_utc_instant(df: DataFrame) -> "F.Column":
    """NTZ wall clock of ``ts`` → the instant with that wall clock in UTC,
    independent of ``spark.sql.session.timeZone``.

    ``to_utc_timestamp(ntz, 'UTC')`` is NOT that: Spark first
    implicit-casts NTZ→TIMESTAMP using the SESSION timezone, then
    shifts by zero — correct only when the session tz happens to be
    UTC. Under a UTC session (the pinned default of get_session and
    the driver) the plain cast IS the identity, and it is free — the
    general path rebuilds the instant from the (tz-free) wall-clock
    fields with an explicit 'UTC' zone, which is invariant under any
    session tz but costs six field extractions per row
    (``extract(SECOND ...)`` carries the fractional seconds).
    """
    from pyspark.sql import functions as F

    # No default arg: conf.get validates defaults against the entry,
    # and session.timeZone always has a value (falls back to JVM tz).
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    if tz in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
        return F.col("ts").cast("timestamp")
    return F.expr(
        "make_timestamp(year(ts), month(ts), day(ts), "
        "hour(ts), minute(ts), extract(SECOND FROM ts), 'UTC')"
    )


def ts_micros(df: DataFrame) -> "F.Column":
    """Microsecond epoch position from a timestamp-ish column.

    Handles all three physical shapes of events.ts (see
    normalize_events_ts) so it stays safe on non-normalized frames.
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get("ts")
    if dtype in ("bigint", "long"):
        return F.expr("ts div 1000")
    if dtype == "timestamp_ntz":
        return F.unix_micros(_ntz_as_utc_instant(df))
    return F.unix_micros(F.col("ts"))
