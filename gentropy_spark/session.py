"""SparkSession factory — the single place where scale knobs live.

Re-expresses the role of the reference's ``common/session.py``
(gentropy Session wrapper: spark config, write modes, extended spark
conf) as a plain factory returning a tuned SparkSession.

The defaults are chosen for correctness at test scale and sanity at
cluster scale:
- AQE on (runtime coalescing of shuffle partitions, skew-join
  splitting) so the same plan survives a 1000x scale-up.
- Arrow on for any Pandas-UDF exchange.
- Broadcast threshold raised: all TPC-H-shaped dims and
  post-aggregation loci tables should broadcast.
"""

from __future__ import annotations

import functools
import os
import warnings
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_mem() -> str:
    """JVM heap for the local-mode driver (= the only executor).

    $SPARK_GRAFT_DRIVER_MEM overrides; otherwise size the heap to the
    HOST — a quarter of physical memory, clamped to [8g, 31g] — rather
    than a constant. Rationale (r17, guide §5): at the old fixed 8g,
    local[32] runs 32 concurrent tasks against ~4.8 GB of unified
    execution+storage memory, and the heavy composed queries
    (semdedup_prune, corpus_curate) spend most of their wall in GC —
    measured min-of-3 18.3s/27.3s at 8g vs 5.4s/11.0s at 24g on a
    128 GiB host, with 3-5x run-to-run spread at 8g collapsing to
    stable readings. The 31g cap keeps compressed oops (lost at 32g
    heaps, which would INFLATE every object reference). On a real
    cluster this knob is irrelevant: executor memory comes from the
    deployment (spark.executor.memory sized to cores x per-task state,
    the same cores-to-heap proportionality this default encodes).
    """
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (ValueError, OSError, AttributeError):
        return "8g"
    # SC_PHYS_PAGES reports HOST memory; in a container capped below
    # host/4 a heap sized from it would exceed the cgroup and be
    # OOM-killed (r17 advisory). Clamp against the cgroup limit too
    # (v2 memory.max, v1 memory.limit_in_bytes; "max"/huge = no limit).
    for limit_file in (
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ):
        try:
            with open(limit_file) as fh:
                raw = fh.read().strip()
            if raw.isdigit():
                total = min(total, int(raw))
            break
        except OSError:
            continue
    total_gb = total / (1 << 30)
    return f"{max(8, min(31, int(total_gb // 4)))}g"

# --- cache lifecycle -------------------------------------------------------
# Operators that persist() intermediates (shingle indexes, band tables)
# register the handle here. A bounded FIFO keeps long sessions (bench
# min-of-2, driver repeat probes) from accumulating storage memory, and
# callers that fully materialise a result can release_caches() eagerly.
# The cap must exceed the cache count of the LARGEST single composition
# (the extended L2G feature matrix tracks ~12): evicting a cache that a
# plan under construction still references forces mid-job recomputation
# storms — measured 3-4x slowdowns (r3 advice item, fixed r4).
_CACHED: list[DataFrame] = []
_CACHE_CAP = 64
# Handle lists of the ``prepared`` builds now running, innermost last.
_OPEN_BUILDS: list[list[DataFrame]] = []


def track_cache(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for bounded-lifetime cleanup.

    Re-registration of an already-cached plan is a no-op: Spark's
    CacheManager keys cache entries by analyzed plan, so a second
    handle for the same plan would (a) warn, and (b) on FIFO eviction
    unpersist the shared entry out from under the first handle.

    Every ``prepared`` build open at the time records ``df``, new or
    already persisted, so a memo hit can re-register it later.
    """
    for handles in _OPEN_BUILDS:
        handles.append(df)
    level = df.storageLevel
    if level.useMemory or level.useDisk:
        return df
    df.persist()
    _CACHED.append(df)
    while len(_CACHED) > _CACHE_CAP:
        _CACHED.pop(0).unpersist()
    return df


# --- prepared plans ---------------------------------------------------------
_PREPARED: dict[tuple, tuple[DataFrame, list[DataFrame]]] = {}


def prepared(build: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
    """Memoize the resolved DataFrame of a pure plan builder.

    Building a large plan through py4j costs 0.5-4 s of driver time
    (one JVM round-trip per Column op), so ``build(spark, sf_dir,
    *args, **kwargs)`` runs once per (application, build, sf_dir, args,
    sorted kwargs) and later calls return the SAME DataFrame — the
    prepared-statement behaviour of a mature engine. Execution still
    happens per action; nothing materialised is reused. A miss evicts
    the entries of other (stopped) applications, whose DataFrames hold
    dead py4j references.

    The ``track_cache`` handles the build records (its own persists and
    those re-registered by inner prepared hits) are re-registered on
    every hit: the builder does not re-run, so after
    ``release_caches()`` its multi-consumer subtrees would otherwise
    execute uncached, once per consumer.

    Only PURE builders may carry this: a builder that runs jobs while
    building (fixpoints, drains, writers) would skip real work on a
    hit, and one that localCheckpoints (the BPE trainer) would hand
    out truncated lineage that ``release_caches()`` has already freed.
    """

    @functools.wraps(build)
    def wrapper(
        spark: SparkSession, sf_dir: str, *args, **kwargs
    ) -> DataFrame:
        app_id = spark.sparkContext.applicationId
        key = (app_id, build, sf_dir, args, tuple(sorted(kwargs.items())))
        hit = _PREPARED.get(key)
        if hit is not None:
            df, handles = hit
            for h in handles:
                track_cache(h)
            return df
        handles: list[DataFrame] = []
        _OPEN_BUILDS.append(handles)
        try:
            df = build(spark, sf_dir, *args, **kwargs)
        finally:
            _OPEN_BUILDS.pop()
        for stale in [k for k in _PREPARED if k[0] != app_id]:
            del _PREPARED[stale]
        _PREPARED[key] = (df, handles)
        return df

    wrapper.prepared = True
    return wrapper


def is_prepared(fn: Callable) -> bool:
    """True when ``fn`` is a ``prepared`` plan builder."""
    return getattr(fn, "prepared", False) is True


# localCheckpoint()ed intermediates (the BPE trainer's per-iteration
# states) persist an INTERNAL RDD that Spark's CacheManager does not
# know about, so df.unpersist() cannot free it and sweep-scope
# release_caches() would leak K checkpointed vocab-grain RDDs per
# build (r15 advisory). These live in their OWN list — never the FIFO
# — because evicting a truncated-lineage RDD mid-query destroys data
# that can no longer be recomputed; they are freed only by an explicit
# release_caches() (called between sweep/bench keys, after the result
# is fully materialised).
_CHECKPOINTED: list[tuple[DataFrame, object | None]] = []
# Count of checkpoint RDDs release_caches() could not free (r16
# advisory: a blanket except-pass would let a Spark-version change to
# the analyzed-plan shape turn the unpersist into a silent no-op and
# bring the r15 leak back undetected). Tests assert this stays 0.
RELEASE_FAILURES = 0


def track_local_checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint()`` with sweep-scope storage cleanup.

    Returns the checkpointed DataFrame and registers it so
    ``release_caches()`` can unpersist the internal checkpoint RDD.
    The JVM RDD handle is captured HERE, at track time, through the
    analyzed plan's LogicalRDD (the only handle PySpark exposes to the
    storage localCheckpoint claims — no job runs: for a lazy
    checkpoint the marked RDD object already exists). Capturing early
    means any Spark-version change to the plan-shape accessor fails
    LOUDLY in the build path (warned + counted), not silently at
    release time.
    """
    global RELEASE_FAILURES
    cp = df.localCheckpoint(eager=eager)
    try:
        handle = cp._jdf.queryExecution().analyzed().rdd()
    except Exception as exc:  # noqa: BLE001
        RELEASE_FAILURES += 1
        warnings.warn(
            "track_local_checkpoint: could not capture the checkpoint "
            f"RDD handle ({exc!r}); release_caches() cannot free this "
            "checkpoint's storage",
            RuntimeWarning,
            stacklevel=2,
        )
        handle = None
    _CHECKPOINTED.append((cp, handle))
    return cp


def release_caches() -> None:
    """Unpersist every tracked intermediate (call after materialising)."""
    global RELEASE_FAILURES
    while _CACHED:
        _CACHED.pop().unpersist()
    while _CHECKPOINTED:
        _cp, handle = _CHECKPOINTED.pop()
        if handle is None:
            continue  # already warned + counted at track time
        try:
            handle.unpersist(False)
        except Exception as exc:  # noqa: BLE001
            from pyspark import SparkContext

            if SparkContext._active_spark_context is None:
                # Stopped session / dead JVM: nothing left to free.
                continue
            RELEASE_FAILURES += 1
            warnings.warn(
                f"release_caches: checkpoint unpersist failed ({exc!r})",
                RuntimeWarning,
                stacklevel=2,
            )


def get_session(
    app_name: str = "gentropy_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned SparkSession.

    Args:
        app_name: Spark application name.
        master: master URL; defaults to ``local[$SPARK_GRAFT_CPUS]``.
        shuffle_partitions: base shuffle parallelism (AQE coalesces
            down at runtime, so err high for cluster use).
        extra_conf: extra key/value Spark conf overrides.

    Returns:
        A SparkSession with the engine's standard configuration.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # (r11 note: a 64 KiB coalesce floor was trialled to keep
        # CPU-dense small-byte stages parallel — measured a net LOSS at
        # sf0.1: corpus_curate 9.5s -> 13.6s from task-overhead bloat in
        # the iterative joins. The default 1 MiB floor stands.)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # (r13 note: AQE's SMJ->shuffled-hash conversion
        # (maxShuffledHashJoinLocalMapThreshold) was trialled for the
        # coloc 10x shape — 64 MiB OOM'd 32 concurrent local hash-map
        # builds (the threshold compares COMPRESSED shuffle bytes, the
        # UnsafeHashedRelation inflates several-fold), and the probe
        # then disproved the sort-bottleneck theory entirely: a
        # max-pass-free direct logsumexp that removes the join outright
        # measured SLOWER at 10x (208s vs 198s). The conversion stays
        # off; docs/SCALE_PROBE.md records the A/B.)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as raw nanosecond longs instead.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python DataSource V2 pushFilters (sources/synthetic.py)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", _default_driver_mem())
        # Python workers (mapInPandas kernels) must import this package
        # even when the driver found it through sys.path alone.
        .config("spark.executorEnv.PYTHONPATH", str(Path(__file__).resolve().parents[1]))
        .config("spark.ui.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
