"""Tests for the framework: streaming, CLI, sources, registry, bench
and module reachability."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_stream_checkpoint_idempotent(spark, sf_dir, tmp_path):
    """A second availableNow drain over the same checkpoint must not
    reprocess (exactly-once file-source semantics)."""
    from gentropy_spark.streaming.windowed import windowed_event_agg

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    ckpt = str(tmp_path / "ckpt")

    def drain(name):
        from gentropy_spark.sources.readers import normalize_events_ts

        stream = normalize_events_ts(
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        q = (
            windowed_event_agg(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q.lastProgress

    drain("ckpt_run1")
    first = spark.table("ckpt_run1").count()
    assert first > 0
    progress = drain("ckpt_run2")
    # no new files -> second drain reads zero input rows
    assert progress is None or progress["numInputRows"] == 0


def test_stream_drains_leave_no_checkpoint_dir(spark, sf_dir):
    """The memory-sink drains behind the streaming registry keys remove
    their checkpoint dir once the drain ends."""
    import tempfile
    from pathlib import Path

    from gentropy_spark.plans.registry import full_registry

    def ckpts() -> set[str]:
        return {p.name for p in Path(tempfile.gettempdir()).glob("gentropy_spark_ckpt_*")}

    before = ckpts()
    registry = full_registry()
    for key in ("stream_window_agg", "stream_dedup"):
        assert registry[key].fn(spark, sf_dir).count() > 0
    assert ckpts() - before == set()


def test_cli_list_and_run(capsys):
    from gentropy_spark.cli import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "window_clump_leads\toracle" in out
    assert main(["run", "nonexistent_query"]) == 2


def test_sessionize_multibatch_no_split(spark, sf_dir, tmp_path):
    """r2 defect: the sessionizer flushed open state every micro-batch,
    splitting sessions at batch boundaries. Split the events table into
    three time-ordered files and drain one file per trigger: sessions
    spanning batch boundaries must come out whole, matching the
    watermark-aware single-batch result."""
    from pyspark.sql import functions as F

    from gentropy_spark.sources.readers import normalize_events_ts, read_table
    from gentropy_spark.streaming.windowed import sessionize_stateful

    events = read_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros(F.col("ts"))
    )
    # Three chronological chunks as separate files (lexicographic file
    # order == time order, which is how the file source picks batches).
    qs = events.approxQuantile("ts_us", [0.33, 0.66], 0.001)
    src = tmp_path / "events_split"
    for i, (lo, hi) in enumerate(
        [(None, qs[0]), (qs[0], qs[1]), (qs[1], None)]
    ):
        part = events
        if lo is not None:
            part = part.filter(F.col("ts_us") > lo)
        if hi is not None:
            part = part.filter(F.col("ts_us") <= hi)
        part = part.drop("ts_us")
        part.coalesce(1).write.mode("overwrite").parquet(str(src / f"b{i}"))
    paths = sorted(str(p) for p in src.glob("b*/part-*.parquet"))
    flat = tmp_path / "flat"
    flat.mkdir()
    for i, p in enumerate(paths):
        import os
        import shutil
        import time

        dst = flat / f"{i:03d}.parquet"
        shutil.copy(p, dst)
        # The file source orders batches by MODIFICATION TIME; quick
        # successive copies tie on mtime and can reorder, making every
        # chronologically-earlier file watermark-late. Space them out.
        t = time.time() + i * 60
        os.utime(dst, (t, t))

    schema = spark.read.parquet(str(flat)).schema
    stream = normalize_events_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(flat))
    )
    out = sessionize_stateful(stream)
    ckpt = str(tmp_path / "ckpt")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_multibatch")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    multi = {tuple(r) for r in spark.table("sess_multibatch").collect()}

    from gentropy_spark.streaming.windowed import run_sessionize_available_now

    single = {
        tuple(r)
        for r in run_sessionize_available_now(spark, sf_dir).collect()
    }
    assert multi == single


def test_cli_dag_topo_and_dry_run(tmp_path, capsys):
    """Step DAG: deterministic topological order, cycle and
    unknown-dependency errors, dry-run planning."""
    import json

    import pytest

    from gentropy_spark.cli import main, topo_order

    assert topo_order(
        {
            "c": {"after": ["a", "b"]},
            "b": {"after": ["a"]},
            "a": {},
            "d": {},
        }
    ) == ["a", "b", "c", "d"]
    with pytest.raises(ValueError, match="cycle"):
        topo_order({"a": {"after": ["b"]}, "b": {"after": ["a"]}})
    with pytest.raises(ValueError, match="unknown"):
        topo_order({"a": {"after": ["ghost"]}})

    cfg = {
        "sf_dir": "/root/testdata/sf0.001",
        "out_dir": str(tmp_path / "out"),
        "steps": {
            "clump": {"query": "window_clump_leads"},
            "pics": {"query": "pics_finemap", "after": ["clump"]},
        },
    }
    cfg_path = tmp_path / "pipeline.json"
    cfg_path.write_text(json.dumps(cfg))
    assert main(["dag", "--config", str(cfg_path), "--dry-run"]) == 0
    assert capsys.readouterr().out.strip() == "clump -> pics"
    # bad query name is rejected up front
    cfg["steps"]["pics"]["query"] = "nope"
    cfg_path.write_text(json.dumps(cfg))
    assert main(["dag", "--config", str(cfg_path), "--dry-run"]) == 2


def test_cli_dag_executes(tmp_path, spark):
    """The DAG runner writes one parquet per step in dependency order."""
    import json

    from gentropy_spark.cli import run_dag

    out_dir = tmp_path / "pipe"
    cfg = {
        "sf_dir": "/root/testdata/sf0.001",
        "out_dir": str(out_dir),
        "steps": {
            "clump": {"query": "window_clump_leads"},
            "qc": {"query": "qc_gc_lambda", "after": ["clump"]},
        },
    }
    cfg_path = tmp_path / "pipeline.json"
    cfg_path.write_text(json.dumps(cfg))
    order = run_dag(str(cfg_path))
    assert order == ["clump", "qc"]
    for step in order:
        files = list((out_dir / step).glob("*.parquet"))
        assert files, f"no parquet written for {step}"


def test_stream_watermark_drops_late_file(spark, sf_dir, tmp_path):
    """Watermark semantics demonstrated end-to-end: a file whose events
    are entirely older than the advanced watermark arrives late and is
    DROPPED by the stateful sessionizer (counted in the progress
    metrics). Spark's late-event filter uses the watermark as of one
    batch earlier, so the scenario needs THREE chronological batches:
    two fresh files (the second commits the first's watermark for
    filtering), then the stale file."""
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    from gentropy_spark.sources.readers import normalize_events_ts, read_table
    from gentropy_spark.streaming.windowed import sessionize_stateful

    events = read_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros(F.col("ts"))
    )
    mid, q90 = events.approxQuantile("ts_us", [0.5, 0.9], 0.001)
    new_a = events.filter(
        (F.col("ts_us") > mid) & (F.col("ts_us") <= q90)
    ).drop("ts_us")
    new_b = events.filter(F.col("ts_us") > q90).drop("ts_us")
    old_part = events.filter(F.col("ts_us") <= mid).drop("ts_us")
    src = tmp_path / "late_src"
    src.mkdir()
    t0 = time.time()
    for i, part in enumerate([new_a, new_b, old_part]):
        part.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"chunk{i}")
        )
        f = next((tmp_path / f"chunk{i}").glob("part-*.parquet"))
        dst = src / f"{i:03d}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (t0 + i * 60, t0 + i * 60))

    schema = spark.read.parquet(str(src)).schema
    stream = normalize_events_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    ckpt = str(tmp_path / "ckpt")
    q = (
        sessionize_stateful(stream)
        .writeStream.format("memory")
        .queryName("sess_late")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    n_old = old_part.count()
    assert dropped == n_old, f"expected all {n_old} late rows dropped, got {dropped}"


def test_stream_incremental_exactly_once(spark, sf_dir, tmp_path):
    """Exactly-once incremental processing: drain once, add a new file,
    drain again over the SAME checkpoint — the second drain processes
    only the new file and the union equals a batch over both."""
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    from gentropy_spark.sources.readers import read_table
    from gentropy_spark.streaming.windowed import dedup_keys

    events = read_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros(F.col("ts"))
    )
    mid = events.approxQuantile("ts_us", [0.5], 0.001)[0]
    first = events.filter(F.col("ts_us") <= mid).drop("ts_us")
    second = events.filter(F.col("ts_us") > mid).drop("ts_us")
    src = tmp_path / "incr_src"
    src.mkdir()
    first.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "f1"))
    f1 = next((tmp_path / "f1").glob("part-*.parquet"))
    t0 = time.time()
    shutil.copy(f1, src / "000.parquet")
    os.utime(src / "000.parquet", (t0, t0))

    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(str(src)).schema

    def drain(name):
        from gentropy_spark.sources.readers import normalize_events_ts

        stream = normalize_events_ts(
            spark.readStream.schema(schema).parquet(str(src))
        )
        q = (
            dedup_keys(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    drain("incr_1")
    n1 = spark.table("incr_1").count()
    second.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "f2"))
    f2 = next((tmp_path / "f2").glob("part-*.parquet"))
    shutil.copy(f2, src / "001.parquet")
    os.utime(src / "001.parquet", (t0 + 60, t0 + 60))
    q2 = drain("incr_2")
    # second drain reads ONLY the new file
    new_in = sum(p["numInputRows"] for p in q2.recentProgress)
    assert new_in <= second.count(), "second drain reprocessed old data"
    batch = (
        events.drop("ts_us").withColumn("pos", F.unix_micros(F.col("ts")))
        .groupBy("user_id", "event_type", "pos")
        .agg(
            F.min("event_id").alias("first_event_id"),
            F.count("*").alias("n_dups"),
        )
    )
    assert spark.table("incr_2").count() == batch.count()
    assert n1 <= batch.count()


def test_compact_parquet_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    from pathlib import Path

    from pyspark.sql import functions as F

    from gentropy_spark.sources.readers import read_table
    from gentropy_spark.sources.writers import compact_parquet

    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    out = str(tmp_path / "frag")
    # fragment: many tiny files
    ev.repartition(37).write.mode("overwrite").parquet(out)
    assert len(list(Path(out).glob("part-*.parquet"))) == 37
    total = ev.count()
    chk = ev.agg(F.sum("event_id")).first()[0]
    n = compact_parquet(spark, out, target_rows_per_file=total // 3, sort_cols=["event_id"])
    assert n <= 4
    back = spark.read.parquet(out)
    assert back.count() == total
    assert back.agg(F.sum("event_id")).first()[0] == chk


def test_synthetic_datasource_deterministic_and_pushdown(spark):
    """The custom Python DataSource must (a) produce identical data at
    any partitioning, (b) honor its row count, (c) filter correctly
    with study_id pushdown."""
    from pyspark.sql import functions as F

    from gentropy_spark.sources.synthetic import SyntheticSumstatsDataSource

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SyntheticSumstatsDataSource)
    a = (
        spark.read.format("synthetic_sumstats")
        .option("n_rows", 5000).option("n_partitions", 4).load()
    )
    b = (
        spark.read.format("synthetic_sumstats")
        .option("n_rows", 5000).option("n_partitions", 13).load()
    )
    assert a.count() == 5000
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    got = (
        a.filter(F.col("study_id") == 7)
        .agg(F.count("*"), F.sum("pos")).first()
    )
    want = (
        b.filter(F.col("study_id") == 7)
        .agg(F.count("*"), F.sum("pos")).first()
    )
    assert tuple(got) == tuple(want) and got[0] == 100


def test_ts_normalization_all_physical_shapes(spark, tmp_path):
    """The r5 regression guard: events.ts has shipped as nanosecond
    longs, tz-adjusted micros, and TIMESTAMP_NTZ micros across driver
    rounds. read_table must yield identical epoch micros — and a
    watermarkable TIMESTAMP — for all three."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gentropy_spark.sources.readers import read_table, ts_micros

    us = [1_704_067_200_000_000 + i * 1_000_000 for i in range(5)]
    ids = list(range(5))
    variants = {
        "ns_long": pa.table(
            {"event_id": ids, "ts": pa.array([u * 1000 for u in us], pa.int64())}
        ),
        "ntz": pa.table(
            {"event_id": ids, "ts": pa.array(us, pa.timestamp("us"))}
        ),
        "utc": pa.table(
            {"event_id": ids, "ts": pa.array(us, pa.timestamp("us", tz="UTC"))}
        ),
    }
    results = {}
    for name, tbl in variants.items():
        d = tmp_path / name
        d.mkdir()
        pq.write_table(tbl, d / "events.parquet")
        df = read_table(spark, str(d), "events")
        assert dict(df.dtypes)["ts"] == "timestamp", (name, df.dtypes)
        rows = df.select("event_id", ts_micros(df).alias("us")).collect()
        results[name] = sorted((r.event_id, r.us) for r in rows)
    want = sorted(zip(ids, us))
    for name, got in results.items():
        assert got == want, (name, got[:2], want[:2])


def test_operator_at_1m_rows_from_synthetic_source(spark):
    """Scale smoke: window clumping over 1M generated rows straight
    from the custom DataSource (no parquet), result invariant to the
    source partitioning — operators are not tied to file inputs."""
    from gentropy_spark.operators.clumping import window_clump
    from gentropy_spark.sources.synthetic import SyntheticSumstatsDataSource

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SyntheticSumstatsDataSource)

    def leads(n_partitions):
        src = (
            spark.read.format("synthetic_sumstats")
            .option("n_rows", 1_000_000)
            .option("n_partitions", n_partitions)
            .load()
        )
        out = window_clump(
            src, window=50_000_000, min_signif=290.0
        )
        return {
            (r.study_id, r.contig, r.cluster_seq): (r.lead_point_id, r.n_members)
            for r in out.collect()
        }

    a = leads(8)
    b = leads(31)
    assert a and a == b


def test_registry_degrades_per_module(monkeypatch):
    """A plan module that fails to import must cost only its own keys."""
    import importlib

    from gentropy_spark.plans import registry as R

    real = importlib.import_module

    def fake(name, *a, **k):
        if name.endswith(".graph_ld"):
            raise RuntimeError("injected import failure")
        return real(name, *a, **k)

    monkeypatch.setattr(importlib, "import_module", fake)
    reg = R.full_registry()
    assert "ontology_closure" not in reg  # graph_ld key gone
    assert "q1_pricing_summary" in reg  # everything else intact
    assert len(reg) > 100


def test_stream_upsert_sink_incremental(spark, sf_dir, tmp_path):
    """foreachBatch upsert: drain half the data, then all of it over
    the same checkpoint — the parquet target converges to the batch
    ground truth and the second drain only merges the new keys."""
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    from gentropy_spark.sources.readers import read_table
    from gentropy_spark.streaming.windowed import run_upsert_sink

    events = read_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros(F.col("ts"))
    )
    mid = events.approxQuantile("ts_us", [0.5], 0.001)[0]
    first = events.filter(F.col("ts_us") <= mid).drop("ts_us")
    second = events.filter(F.col("ts_us") > mid).drop("ts_us")
    src = tmp_path / "upsert_src"
    src.mkdir()
    t0 = time.time()
    first.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "u1"))
    shutil.copy(
        next((tmp_path / "u1").glob("part-*.parquet")), src / "events.parquet"
    )
    os.utime(src / "events.parquet", (t0, t0))
    target = str(tmp_path / "upsert_target")
    ckpt = str(tmp_path / "upsert_ckpt")

    run_upsert_sink(spark, str(src), target, ckpt)
    n1 = spark.read.parquet(target).count()
    assert n1 == first.withColumn("pos", F.unix_micros("ts")).groupBy(
        "user_id", "event_type", "pos"
    ).count().count()

    # append the rest as a NEW file, re-drain over the SAME checkpoint
    second.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "u2"))
    shutil.copy(
        next((tmp_path / "u2").glob("part-*.parquet")), src / "events2.parquet"
    )
    os.utime(src / "events2.parquet", (t0 + 60, t0 + 60))
    run_upsert_sink(spark, str(src), target, ckpt)

    got = spark.read.parquet(target)
    want = (
        events.drop("ts_us")
        .withColumn("pos", F.unix_micros("ts"))
        .groupBy("user_id", "event_type", "pos")
        .agg(F.min("event_id").alias("first_event_id"), F.count("*").alias("n_dups"))
    )
    assert got.count() == want.count()
    # every key present; first_event_id matches the batch ground truth
    diff = got.join(
        want.withColumnRenamed("first_event_id", "w_first"),
        on=["user_id", "event_type", "pos"],
    ).filter(F.col("first_event_id") != F.col("w_first"))
    assert diff.count() == 0


def _repo_root() -> str:
    import os

    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_package_module_is_reached_from_an_entry_point():
    """No library module may sit outside what the entry points reach.

    Walks the AST import graph (imports inside functions included) from
    every plan module that defines ``REGISTRY``, ``api.py``, ``cli.py``,
    ``hydra_compat.py`` and ``session.py``; a reached module also reaches
    its parent packages. Fails naming every module under
    ``gentropy_spark/`` that the walk never reaches.
    """
    import ast
    from pathlib import Path

    pkg_dir = Path(_repo_root()) / "gentropy_spark"
    modules: dict[str, Path] = {}
    for path in pkg_dir.rglob("*.py"):
        parts = path.relative_to(pkg_dir.parent).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        modules[".".join(parts)] = path

    def defines_registry(tree: ast.Module) -> bool:
        for node in tree.body:
            targets = (
                node.targets
                if isinstance(node, ast.Assign)
                else [node.target] if isinstance(node, ast.AnnAssign) else []
            )
            if any(isinstance(t, ast.Name) and t.id == "REGISTRY" for t in targets):
                return True
        return False

    def imported(name: str, tree: ast.Module) -> set[str]:
        is_pkg = modules[name].name == "__init__.py"
        here = name.split(".") if is_pkg else name.split(".")[:-1]
        out: set[str] = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                out.update(alias.name for alias in node.names)
            elif isinstance(node, ast.ImportFrom):
                base = here[: len(here) - node.level + 1] if node.level else []
                mod = ".".join(base + ([node.module] if node.module else []))
                out.add(mod)
                out.update(f"{mod}.{alias.name}" for alias in node.names)
        return out

    trees = {name: ast.parse(path.read_text()) for name, path in modules.items()}
    roots = {
        name
        for name, tree in trees.items()
        if name.startswith("gentropy_spark.plans.") and defines_registry(tree)
    }
    roots |= {f"gentropy_spark.{m}" for m in ("api", "cli", "hydra_compat", "session")}
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in seen or name not in modules:
            continue
        seen.add(name)
        parts = name.split(".")
        todo.extend(".".join(parts[:i]) for i in range(1, len(parts)))
        todo.extend(imported(name, trees[name]))
    unreached = sorted(str(modules[m].relative_to(pkg_dir)) for m in modules.keys() - seen)
    assert not unreached, f"modules no entry point reaches: {unreached}"


def test_decode_any_takes_every_dispatch_branch(spark, sf_dir):
    """The ``codec`` values of multimodal_decode and
    multimodal_codec_verify at sf0.001 are exactly the kinds that
    ``decode_any`` dispatches on, plus the stub. The import walk above
    cannot see a decoder that no key's payload reaches, because
    ``decode_any`` imports every decoder it dispatches to."""
    from gentropy_spark.operators.codecs import DECODERS
    from gentropy_spark.plans.registry import full_registry

    registry = full_registry()
    seen = set()
    for key in ("multimodal_decode", "multimodal_codec_verify"):
        df = registry[key].fn(spark, sf_dir)
        seen |= {r.codec for r in df.select("codec").distinct().collect()}
    assert seen == {*DECODERS, "stub"}


# The deployment settings the package reads from the environment. A
# new env var that changes plans or results would be a second profile
# of the engine; make it an explicit argument instead.
_DEPLOYMENT_ENVS = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_SF_DIR"}


def test_package_reads_only_deployment_env_vars():
    """Every ``os.environ`` / ``os.getenv`` use under ``gentropy_spark/``
    is a read of one literal name in ``_DEPLOYMENT_ENVS``. Fails naming
    each other name read, and each read whose name is not a literal."""
    import ast
    from pathlib import Path

    pkg_dir = Path(_repo_root()) / "gentropy_spark"
    bad = []
    for path in sorted(pkg_dir.rglob("*.py")):
        tree = ast.parse(path.read_text())
        parent = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
        for node in ast.walk(tree):
            name = getattr(node, "attr", None) or getattr(node, "id", None)
            if name not in ("environ", "getenv"):
                continue
            use = parent[node]
            if name == "environ" and isinstance(use, ast.Attribute):
                use = parent[use]  # os.environ.get(...) -> the Call
            if isinstance(use, ast.Call) and use.args:
                key = use.args[0]
            elif isinstance(use, ast.Subscript):
                key = use.slice
            elif isinstance(use, ast.Compare):  # "X" in os.environ
                key = use.left
            else:
                key = None
            where = f"{path.relative_to(pkg_dir)}:{node.lineno}"
            if not (isinstance(key, ast.Constant) and isinstance(key.value, str)):
                bad.append(f"{where} non-literal env read")
            elif key.value not in _DEPLOYMENT_ENVS:
                bad.append(f"{where} {key.value}")
    assert not bad, f"env reads outside the deployment settings: {bad}"


# Options that stay although one value reaches them outside the tests,
# each with its reason: "name" exempts every parameter of a function of
# that name, "name.param" one parameter.
_SINGLE_VALUE_OPTIONS = {
    "get_session.master": "deployment setting",
    "get_session.extra_conf": "deployment setting",
    "main.argv": "the CLI test seam (cli.main, hydra_compat.main)",
    "duplicate_clusters.assert_edges_covered": "input check",
    "read_table.expected_schema": "input check",
    "edge_min_labels.stats": "the only way to see the fixpoint's round count",
    "encode_gif.interlace": "builds the interlaced input of decode_gif, which text payloads reach",
    "encode_gif.compress": "builds the literal-LZW input of decode_gif, which text payloads reach",
}


def test_every_option_takes_two_values_outside_tests():
    """Every parameter of a function under ``gentropy_spark/`` whose
    default is a string, a bool or ``None`` takes at least two values
    across the calls in ``gentropy_spark/``, ``bench.py``,
    ``__spark_entry__.py`` and ``scripts/``. Otherwise it is a literal
    that only its default reaches, and belongs in the function body.

    Call sites are matched by function name (``f(...)``, ``x.f(...)``,
    ``partial(f, ...)``; a class name calls its ``__init__``), so two
    functions of one name share their calls. A call that omits the
    parameter passes the default; a non-literal argument, ``*args`` or
    ``**kw`` counts as a second value. The params of
    ``config.STEP_PARAM_SCHEMAS`` count as set on every ``q_*`` builder
    (``config.resolve_step`` binds them). ``api.py`` is the user
    surface, so its own parameters are exempt, and so is
    ``_SINGLE_VALUE_OPTIONS``. Fails naming each parameter with the
    one value it takes."""
    import ast
    from fnmatch import fnmatch
    from pathlib import Path

    root = Path(_repo_root())
    pkg_dir = root / "gentropy_spark"
    callers = [*pkg_dir.rglob("*.py"), root / "bench.py", root / "__spark_entry__.py"]
    callers += sorted((root / "scripts").glob("*.py"))
    trees = {path: ast.parse(path.read_text()) for path in callers}

    config = trees[pkg_dir / "config.py"]
    dag_params = {
        key.value
        for node in ast.walk(config)
        if isinstance(node, ast.AnnAssign)
        and getattr(node.target, "id", None) == "STEP_PARAM_SCHEMAS"
        for step in node.value.values
        for key in step.keys
    }

    # One walk per module: functions with their class, calls, and bare
    # name references (a registry entry, a callback: a call that passes
    # no argument). The walk is breadth-first, so a class is seen
    # before its methods.
    defs, calls, refs = [], {}, []
    for path, tree in trees.items():
        owner, called, loads = {}, set(), []
        for node in ast.walk(tree):
            if isinstance(node, ast.ClassDef):
                owner.update((fn, node.name) for fn in node.body)
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs.append((path, node, owner.get(node)))
            elif isinstance(node, ast.Call):
                f, args = node.func, node.args
                called.add(f)
                name = getattr(f, "id", None) or getattr(f, "attr", None)
                if name == "partial" and args:
                    called.add(args[0])
                    name = getattr(args[0], "id", None) or getattr(args[0], "attr", None)
                    args = args[1:]
                calls.setdefault(name, []).append((args, node.keywords))
            elif isinstance(getattr(node, "ctx", None), ast.Load):
                loads.append(node)
        refs += [node for node in loads if node not in called]

    # (call name, param, positional index or None, default, where)
    options = []
    for path, fn, cls in defs:
        if pkg_dir not in path.parents or path.name == "api.py":
            continue
        a = fn.args
        positional = a.posonlyargs + a.args
        if cls and positional and positional[0].arg in ("self", "cls"):
            positional = positional[1:]
        name = cls if cls and fn.name == "__init__" else fn.name
        first = len(positional) - len(a.defaults)
        params = [(p, i, a.defaults[i - first]) for i, p in enumerate(positional) if i >= first]
        params += [(p, None, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)]
        for p, i, d in params:
            if not (
                isinstance(d, ast.Constant)
                and (d.value is None or isinstance(d.value, (str, bool)))
            ):
                continue
            if any(
                fnmatch(fn.name, k) or fnmatch(f"{fn.name}.{p.arg}", k)
                for k in _SINGLE_VALUE_OPTIONS
            ):
                continue
            if fn.name.startswith("q_") and p.arg in dag_params:
                continue
            where = f"{path.relative_to(pkg_dir)}:{fn.lineno}"
            options.append((name, p.arg, i, repr(d.value), f"{where} {fn.name}({p.arg}={d.value!r})"))
    names = {name for name, *_ in options}
    for node in refs:
        name = getattr(node, "id", None) or getattr(node, "attr", None)
        if name in names:
            calls.setdefault(name, []).append(([], []))

    bad = []
    for name, param, index, default, where in options:
        values = set()
        for args, keywords in calls.get(name, []):
            starred = [k for k, arg in enumerate(args) if isinstance(arg, ast.Starred)]
            kw = {k.arg: k.value for k in keywords}
            if None in kw or (index is not None and starred and starred[0] <= index):
                values.add(None)  # *args / **kw forward
                continue
            passed = index is not None and index < len(args)
            arg = args[index] if passed else kw.get(param)
            if arg is None:
                values.add(default)
            elif isinstance(arg, ast.Constant):
                values.add(repr(arg.value))
            else:
                values.add(None)
        if len(values) < 2 and None not in values:
            bad.append(where)
    assert not bad, f"{len(bad)} options that one value reaches: {bad}"


def test_parity_sums_go_through_exact_sum():
    """No ``F.sum`` under ``gentropy_spark/`` outside ``functions/exact.py``
    sums a decimal cast: every exact sum of doubles is ``exact_sum`` /
    ``exact_decimal_sum``. A cast counts when its type is a
    ``"decimal..."`` literal, a module or local name bound to one, or a
    ``DecimalType(...)`` call. An ``F.sum`` is flagged when its argument
    holds such a cast, a Python name assigned one, or the name of a
    column that ``withColumn`` or ``.alias`` set to one anywhere in the
    same module (``F.sum("t")``, ``F.sum(F.col("t"))``). Not seen: sums
    in SQL strings (``F.expr``, ``spark.sql``), ``agg`` dicts, a ``sum``
    reached under another name, and a column bound in one module and
    summed in another (as ``pivot_wide`` once handed a decimal column
    to ``operators/reshape.long_to_wide``). Fails naming each flagged
    ``F.sum``."""
    import ast
    from pathlib import Path

    pkg_dir = Path(_repo_root()) / "gentropy_spark"
    bad = []
    for path in sorted(pkg_dir.rglob("*.py")):
        if path == pkg_dir / "functions" / "exact.py":
            continue
        tree = ast.parse(path.read_text())
        dec_types = {
            t.id
            for node in ast.walk(tree)
            if isinstance(node, ast.Assign)
            and isinstance(node.value, ast.Constant)
            and str(node.value.value).lower().startswith("decimal")
            for t in node.targets
            if isinstance(t, ast.Name)
        }

        def is_dec_cast(node) -> bool:
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("cast", "try_cast")
                and node.args
            ):
                return False
            to = node.args[0]
            return (
                (isinstance(to, ast.Constant) and str(to.value).lower().startswith("decimal"))
                or (isinstance(to, ast.Name) and to.id in dec_types)
                or (
                    isinstance(to, ast.Call)
                    and getattr(to.func, "id", getattr(to.func, "attr", None)) == "DecimalType"
                )
            )

        # Python names and column names bound to a decimal cast
        dec_vars, dec_cols = set(), set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Assign) and is_dec_cast(node.value):
                dec_vars |= {t.id for t in node.targets if isinstance(t, ast.Name)}
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            args = node.args
            if (
                node.func.attr == "withColumn"
                and len(args) == 2
                and isinstance(args[0], ast.Constant)
                and is_dec_cast(args[1])
            ):
                dec_cols.add(args[0].value)
            if (
                node.func.attr == "alias"
                and args
                and isinstance(args[0], ast.Constant)
                and is_dec_cast(node.func.value)
            ):
                dec_cols.add(args[0].value)

        def sums_dec(arg) -> bool:
            if any(is_dec_cast(n) for n in ast.walk(arg)):
                return True
            if isinstance(arg, ast.Constant):
                return arg.value in dec_cols
            if isinstance(arg, ast.Name):
                return arg.id in dec_vars
            return (
                isinstance(arg, ast.Call)
                and getattr(arg.func, "attr", None) == "col"
                and bool(arg.args)
                and isinstance(arg.args[0], ast.Constant)
                and arg.args[0].value in dec_cols
            )

        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "sum"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "F"
                and any(sums_dec(a) for a in node.args)
            ):
                bad.append(f"{path.relative_to(pkg_dir)}:{node.lineno}")
    assert not bad, f"{len(bad)} decimal-cast sums outside exact_sum: {bad}"


def test_ntz_normalization_is_session_tz_independent(spark):
    """normalize_events_ts must interpret an NTZ wall clock as UTC no
    matter what spark.sql.session.timeZone is set to."""
    from gentropy_spark.sources.readers import normalize_events_ts, ts_micros

    ntz = spark.sql(
        "SELECT TIMESTAMP_NTZ '2024-03-01 12:34:56.789123' AS ts"
    )
    expected_us = 1709296496789123  # 2024-03-01T12:34:56.789123Z

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/New_York", "Asia/Tokyo"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            got = normalize_events_ts(ntz).select(
                F.unix_micros("ts").alias("us")
            ).first()["us"]
            assert got == expected_us, f"session tz {tz}: {got}"
            got2 = ntz.select(ts_micros(ntz).alias("us")).first()["us"]
            assert got2 == expected_us, f"ts_micros under {tz}: {got2}"
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)

