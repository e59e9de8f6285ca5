"""Structured-Streaming counterparts of the batch aggregations (SURVEY §2.F6).

The reference processes summary statistics in batch steps; a
streaming-first engine must express the same windowed aggregations
over an unbounded source. This module provides a watermarked
tumbling-window aggregation over a file stream and an
``availableNow`` runner that drains the current files and returns the
result as a batch DataFrame (which makes the operator oracle-checkable:
with a complete drain, streaming and batch semantics coincide).

Scale notes: file-stream → watermark 1h → tumbling window per
(user_id, window) is a streaming state store keyed by a
high-cardinality composite; sums are exact (``exact_sum``) to stay merge-exact
across micro-batches; at cluster scale the same plan runs continuous
with checkpointing — the query shape is identical.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gentropy_spark.functions.exact import exact_sum
from gentropy_spark.sources.readers import normalize_events_ts, read_table

WINDOW_US = 86_400_000_000  # 1 day tumbling windows (epoch-aligned)
SESSION_GAP_US = 43_200_000_000  # stateful sessionizer's quiet gap
STREAM_ENRICH_LOOKBACK_US = 86_400_000_000  # stream-stream join: 1 day


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table of ``sf_dir`` as a file stream with ``ts``
    normalized to an instant TIMESTAMP. The file-stream basePath must
    be a directory, so a glob filter selects the single table (the
    same listing the batch reader would do)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    return normalize_events_ts(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def _drain(out: DataFrame, query_name: str, mode: str) -> DataFrame:
    """Drain the stream ``out`` into a memory sink with
    trigger(availableNow) and return the sink as a batch DataFrame.

    The memory sink keeps its rows in the driver, so the checkpoint is
    only needed while the query runs and is removed after the drain.
    """
    with tempfile.TemporaryDirectory(prefix="gentropy_spark_ckpt_") as checkpoint:
        q = (
            out.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return out.sparkSession.table(query_name)


def windowed_event_agg(stream: DataFrame) -> DataFrame:
    """Tumbling 1-day window count + exact sum per user over a stream.

    ``ts`` is normalized to an instant TIMESTAMP at the read site
    (sources/readers.py normalize_events_ts) so it watermarks directly;
    the emitted window key is the epoch-µs window start
    (oracle-friendly integer).
    """
    with_time = stream.withColumn("event_time", F.col("ts"))
    return (
        with_time.withWatermark("event_time", "1 hour")
        .groupBy(
            F.window("event_time", "1 day").alias("w"),
            F.col("user_id"),
        )
        .agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col("value")).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def dedup_keys(stream: DataFrame) -> DataFrame:
    """Stateful streaming dedup on the natural key.

    Implemented as a keyed aggregation (min arrival id + duplicate
    count) rather than dropDuplicates: the kept row is then
    deterministic (lowest event_id) regardless of partition/task
    ordering — required for the oracle and the right semantics for a
    lineage-preserving dedup anyway.
    """
    return (
        stream.withColumn("pos", F.unix_micros(F.col("ts")))
        .groupBy("user_id", "event_type", "pos")
        .agg(
            F.min("event_id").alias("first_event_id"),
            F.count("*").alias("n_dups"),
        )
    )


def run_dedup_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the events file-stream through the stateful dedup."""
    return _drain(dedup_keys(_events_stream(spark, sf_dir)), "stream_dedup", "complete")


def sessionize_stateful(stream: DataFrame) -> DataFrame:
    """Custom stateful streaming sessionization (applyInPandasWithState).

    The streaming counterpart of the locus-breaker operator: per
    (user, type) key, contiguous runs of events separated by more than
    ``SESSION_GAP_US`` become sessions.

    Cross-batch contract (r3 — replaces the r2 single-batch
    simplification that flushed open state every micro-batch, splitting
    sessions at batch boundaries): state carries the open session
    across micro-batches; a session is emitted either when a LATER
    event in the data closes it (gap exceeded) or when the event-time
    watermark passes its quiet period (``EventTimeTimeout`` at
    session_end + gap). Sessions still open at the final watermark are
    deliberately NOT emitted — they are not finished; a longer-running
    stream could still extend them. Mild out-of-order arrivals merge
    via min/max; events older than the open session's window are
    watermark-late by construction and fold into the open session
    rather than resurrecting an emitted one.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("session_start", T.LongType()),
            T.StructField("session_end", T.LongType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start", T.LongType()),
            T.StructField("end", T.LongType()),
            T.StructField("n", T.LongType()),
        ]
    )
    cols = ["user_id", "event_type", "session_start", "session_end", "n_events"]
    gap_ms = SESSION_GAP_US // 1000

    def fn(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            s, e, n = state.get
            state.remove()
            yield pd.DataFrame([(key[0], key[1], s, e, n)], columns=cols)
            return
        rows = []
        cur = list(state.get) if state.exists else None
        poses: list[int] = []
        for pdf in pdf_iter:
            poses.extend(int(p) for p in pdf["pos"])
        # A group can be invoked with ZERO surviving rows when all its
        # batch data was watermark-late (dropped before the function).
        # Per the GroupState contract the previously-armed timeout is
        # CANCELLED by this very invocation, so it must be re-armed or
        # the open session would never be emitted. Clamp above the
        # current watermark (a stale session end could sit behind it,
        # and timestamps <= watermark are rejected).
        if not poses:
            if cur is not None:
                state.setTimeoutTimestamp(
                    max(cur[1] // 1000 + gap_ms, state.getCurrentWatermarkMs() + 1)
                )
            yield pd.DataFrame(
                {c: pd.Series(dtype="object") for c in cols}
            )
            return
        for pos in sorted(poses):
            if cur is None:
                cur = [pos, pos, 1]
            elif pos - cur[1] > SESSION_GAP_US:
                rows.append((key[0], key[1], cur[0], cur[1], cur[2]))
                cur = [pos, pos, 1]
            else:
                cur[0] = min(cur[0], pos)
                cur[1] = max(cur[1], pos)
                cur[2] += 1
        if cur is not None:
            state.update((cur[0], cur[1], cur[2]))
            # Close when the watermark passes the session's quiet
            # period (timeout timestamp is in epoch milliseconds; a
            # merged-in stale session could still sit behind the
            # watermark, so never arm earlier than the present).
            state.setTimeoutTimestamp(
                max(
                    cur[1] // 1000 + gap_ms,
                    state.getCurrentWatermarkMs() + 1,
                )
            )
        yield pd.DataFrame(rows, columns=cols)

    with_pos = stream.withColumn("pos", F.unix_micros(F.col("ts"))).withColumn(
        "event_time", F.col("ts")
    )
    return (
        with_pos.withWatermark("event_time", "0 seconds")
        .groupBy("user_id", "event_type")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_sessionize_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the events file-stream through the stateful sessionizer."""
    out = sessionize_stateful(_events_stream(spark, sf_dir))
    return _drain(out, "stream_sessionize", "append")


def run_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the events file-stream with trigger(availableNow) and
    return the windowed aggregate as a batch DataFrame."""
    out = windowed_event_agg(_events_stream(spark, sf_dir))
    return _drain(out, "stream_window_agg", "complete")


def stream_stream_enrich(left: DataFrame, right: DataFrame) -> DataFrame:
    """Watermarked stream-stream inner join (SURVEY F9).

    Each observation event joins every reference event of the same user
    from the preceding ``STREAM_ENRICH_LOOKBACK_US`` window (bounds
    inclusive). This is the genuine two-sided streaming join: both
    sides keep a watermark-bounded state store, and the time-range
    condition lets Spark evict reference state older than
    (watermark - lookback) — the only shape that survives an unbounded
    stream. The asof operator
    (plans/relational.py) picks ONE reference via window carry-forward;
    this one enriches with ALL in-window references.
    """
    lo = left.select(
        "user_id",
        F.col("ts").alias("l_time"),
        F.col("event_id").alias("obs_event_id"),
        F.col("value").alias("obs_value"),
    ).withWatermark("l_time", "1 hour")
    ro = right.select(
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("r_time"),
        F.col("event_id").alias("ref_event_id"),
        F.col("value").alias("ref_value"),
    ).withWatermark("r_time", "1 hour")
    joined = lo.join(
        ro,
        F.expr(
            f"""
            user_id = r_user_id AND
            r_time >= l_time - INTERVAL {STREAM_ENRICH_LOOKBACK_US // 1_000_000} SECONDS AND
            r_time <= l_time
            """
        ),
    )
    return joined.select(
        "obs_event_id",
        "user_id",
        F.unix_micros(F.col("l_time")).alias("obs_pos"),
        "ref_event_id",
        F.unix_micros(F.col("r_time")).alias("ref_pos"),
        F.round(F.col("obs_value") - F.col("ref_value"), 6).alias("delta_value"),
    )


def run_stream_enrich_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the stream-stream enrichment join over the events file."""
    left = _events_stream(spark, sf_dir).filter(F.col("event_id") % 2 == 1)
    right = _events_stream(spark, sf_dir).filter(F.col("event_id") % 2 == 0)
    out = stream_stream_enrich(left, right)
    return _drain(out, "stream_enrich", "append")


def run_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream enriched against a STATIC broadcast dimension (SURVEY F11).

    The third streaming-join shape (alongside the windowed agg and the
    stream-stream join): an unbounded event stream joined to a small
    static dimension table. The static side broadcasts — no state
    store, no watermark requirement on the dimension — which is the
    posture for enriching a 100 TB/day stream against reference data.
    Aggregates per dimension row so the availableNow drain is
    oracle-comparable.
    """
    stream = _events_stream(spark, sf_dir)
    nation = F.broadcast(
        read_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("nation_key"),
            F.col("n_name").alias("nation_name"),
        )
    )
    enriched = stream.withColumn(
        "nation_key", (F.col("user_id") % 25).cast("int")
    ).join(nation, on="nation_key")
    out = enriched.groupBy("nation_key", "nation_name").agg(
        F.count("*").alias("n_events"),
        exact_sum(F.col("value")).alias("sum_value"),
    )
    return _drain(out, "stream_static_enrich", "complete")


def run_sliding_available_now(
    spark: SparkSession,
    sf_dir: str,
    window_us: int = 86_400_000_000,
    slide_us: int = 21_600_000_000,
) -> DataFrame:
    """Streaming SLIDING-window aggregate drained with availableNow —
    Spark's native overlapping windows (window(col, size, slide)): the
    state store holds one aggregate per open window per key and the
    watermark closes window copies as event time passes. The batch
    counterpart (plans/streaming_plan.py q_hopping_window_agg) explodes
    memberships instead; a complete drain makes them coincide, which
    is exactly what the shared oracle asserts."""
    out = (
        _events_stream(spark, sf_dir)
        .withColumn("event_time", F.col("ts"))
        .withWatermark("event_time", "1 hour")
        .groupBy(
            F.window(
                "event_time",
                f"{window_us // 1_000_000} seconds",
                f"{slide_us // 1_000_000} seconds",
            ).alias("w"),
            F.col("user_id"),
        )
        .agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col("value")).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )
    return _drain(out, "stream_sliding_agg", "complete")


def run_upsert_sink(
    spark: SparkSession,
    src_dir: str,
    target_dir: str,
    checkpoint: str,
) -> None:
    """Streaming aggregate → foreachBatch MERGE into a parquet target
    (SURVEY F15).

    The production shape for maintaining a dimension table from a
    stream without a lakehouse format: the keyed aggregate runs in
    UPDATE output mode, and each micro-batch full-outer-merges its
    changed keys into the parquet target with an atomic
    staging-directory swap (same recovery contract as
    sources/writers.py compact_parquet). Re-draining over the same
    checkpoint is exactly-once: already-processed files produce no
    batch, so the target is idempotent.
    """
    import shutil
    from pathlib import Path

    schema = spark.read.parquet(f"{src_dir}/events.parquet").schema
    stream = normalize_events_ts(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events*.parquet")
        .parquet(src_dir)
    )
    agg = dedup_keys(stream)

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        target = Path(target_dir)
        changed = batch_df.withColumnRenamed("first_event_id", "new_first").withColumnRenamed(
            "n_dups", "new_n"
        )
        if target.exists():
            cur = spark.read.parquet(target_dir)
            merged = (
                cur.join(changed, on=["user_id", "event_type", "pos"], how="full_outer")
                .select(
                    "user_id",
                    "event_type",
                    "pos",
                    F.coalesce(F.col("new_first"), F.col("first_event_id")).alias(
                        "first_event_id"
                    ),
                    F.coalesce(F.col("new_n"), F.col("n_dups")).alias("n_dups"),
                )
            )
        else:
            merged = changed.select(
                "user_id",
                "event_type",
                "pos",
                F.col("new_first").alias("first_event_id"),
                F.col("new_n").alias("n_dups"),
            )
        staging = target_dir.rstrip("/") + "__upsert_staging"
        merged.write.mode("overwrite").parquet(staging)
        if target.exists():
            backup = Path(target_dir.rstrip("/") + "__upsert_backup")
            target.rename(backup)
            try:
                Path(staging).rename(target)
            except OSError:
                backup.rename(target)
                raise
            shutil.rmtree(backup)
        else:
            Path(staging).rename(target)

    q = (
        agg.writeStream.foreachBatch(apply_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
