"""One benchmark process: start a session, run passes of a workload, report.

Started by run.py in a fresh process with the benchmark's environment.
It calls the program only through its public functions:
``session.get_session`` / ``release_caches``, ``plans.full_registry``
and each ``QuerySpec.fn``, ``config.validate_config`` / ``resolve_step``
and ``cli.topo_order``, and the DataFrame write action. The result is
written as JSON to ``--out``; stdout and stderr belong to Spark.

Cold workloads run exactly one pass through the CLI layer and write
parquet; the outputs are read back and digested after the pass. Warm
workloads run an untimed warm-up round whose collected outputs are
digested, then timed passes into the noop sink until ``--seconds`` have
passed, at least ``min_passes`` of the workload. With ``--trace 1`` the
last pass is traced: each call is tagged with a Spark job group and its
status-store counters are read when it returns.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
from contextlib import contextmanager

from digest import digest
from tracing import StatusCounters, Tracer, duration
from workloads import POSTGWAS_DAG, WORKLOADS


def _floor_s(spark, tracer: Tracer) -> float:
    """Wall time of a trivial one-row aggregate: the host's job floor."""
    start = tracer.now()
    spark.range(1).groupBy().sum("id").collect()
    return tracer.now() - start


def _jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _pass_summary(tracer: Tracer, pass_span: dict, floors: list[float]) -> dict:
    keys = [
        {
            "key": s["attrs"]["key"],
            "total_s": duration(s),
            "error": s["attrs"].get("error"),
        }
        for s in tracer.spans
        if s["name"] == "key" and s["parent"] == pass_span["id"]
    ]
    return {
        "pass_s": duration(pass_span),
        "traced": tracer.counters is not None,
        "floor_s": floors,
        "keys": keys,
    }


def _call_key(spark, tracer, key_span, fn, sf_dir, write, last_df):
    """build -> action -> release of one key, each in its own span."""
    from gentropy_spark.session import release_caches

    key = key_span["attrs"]["key"]
    with tracer.span("plans.build", tagged=True) as build:
        df = fn(spark, sf_dir)
    build["attrs"]["memo_hit"] = df is last_df.get(key)
    last_df[key] = df
    with tracer.span("operators.action", tagged=True):
        write(df)
    if tracer.counters is not None:
        key_span["attrs"]["persisted_rdds"] = (
            spark.sparkContext._jsc.getPersistentRDDs().size()
        )
    with tracer.span("session.release"):
        release_caches()


@contextmanager
def _key(tracer, key):
    """Span of one key call; a call that raises is recorded and the pass
    goes on."""
    from gentropy_spark.session import release_caches

    with tracer.span("key", key=key) as ks:
        try:
            yield ks
        except Exception as exc:  # noqa: BLE001 - a failed key is counted, not fatal
            ks["attrs"]["error"] = repr(exc)[:2000]
            release_caches()


def _cold_pass(spark, tracer, sf_dir, out_dir, last_df):
    from gentropy_spark.cli import topo_order
    from gentropy_spark.config import resolve_step, validate_config

    cfg = {
        "sf_dir": sf_dir,
        "out_dir": out_dir,
        "steps": {k: {"query": k, "after": deps} for k, deps in POSTGWAS_DAG.items()},
    }
    with tracer.span("pass") as p:
        with tracer.span("cli.resolve", what="validate+order"):
            errors = validate_config(cfg)
            if errors:
                raise ValueError(f"invalid pipeline config: {errors}")
            order = topo_order(cfg["steps"])
        for name in order:
            step = cfg["steps"][name]
            path = os.path.join(out_dir, name)
            with _key(tracer, name) as ks:
                with tracer.span("cli.resolve"):
                    fn = resolve_step(step["query"], step.get("params", {}))
                _call_key(
                    spark, tracer, ks, fn, sf_dir,
                    lambda df, path=path: df.write.mode("overwrite").parquet(path),
                    last_df,
                )
    return p


def _warm_pass(spark, tracer, registry, sf_dir, order, last_df):
    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    with tracer.span("pass") as p:
        for key in order:
            with _key(tracer, key) as ks:
                _call_key(spark, tracer, ks, registry[key].fn, sf_dir, noop, last_df)
    return p


def _measure(spark, tracer, passes, run_pass) -> None:
    """Run one pass between two host-floor probes and record it."""
    floors = [_floor_s(spark, tracer)]
    p = run_pass()
    floors.append(_floor_s(spark, tracer))
    passes.append(_pass_summary(tracer, p, floors))


def _digest_or_none(df):
    if df is None:
        return None
    try:
        return digest(df.columns, df.collect())
    except Exception:  # noqa: BLE001 - a missing or unreadable output fails its pin
        return None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--t0", type=float, required=True, help="epoch of the spawn")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True, help="result JSON path")
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]
    tracer = Tracer(args.run_id, args.t0)
    rng = random.Random(args.seed)
    last_df: dict = {}
    passes: list[dict] = []
    digests: dict = {}

    with tracer.span("run"):
        with tracer.span("setup"):
            with tracer.span("session.start"):
                from gentropy_spark.session import get_session, release_caches

                spark = get_session(app_name=f"perfbench.{args.workload}")
            with tracer.span("plans.registry"):
                from gentropy_spark.plans import full_registry

                registry = full_registry()
            if not wl.cold:
                with tracer.span("warmup"):
                    for key in rng.sample(wl.keys, len(wl.keys)):
                        try:
                            last_df[key] = registry[key].fn(spark, args.data)
                        except Exception:  # noqa: BLE001 - fails its pin below
                            last_df.pop(key, None)
                        digests[key] = _digest_or_none(last_df.get(key))
                        release_caches()
        ready_s = tracer.now()

        if wl.cold:
            out_dir = os.path.abspath("out")
            if args.trace:
                tracer.counters = StatusCounters(spark.sparkContext)
            _measure(spark, tracer, passes,
                     lambda: _cold_pass(spark, tracer, args.data, out_dir, last_df))
            for name in wl.keys:
                try:
                    written = spark.read.parquet(os.path.join(out_dir, name))
                except Exception:  # noqa: BLE001 - a step that wrote nothing fails its pin
                    written = None
                digests[name] = _digest_or_none(written)
        else:

            def warm_pass():
                order = rng.sample(wl.keys, len(wl.keys))
                return _warm_pass(spark, tracer, registry, args.data, order, last_df)

            start = tracer.now()
            while len(passes) < wl.min_passes or tracer.now() - start < args.seconds:
                _measure(spark, tracer, passes, warm_pass)
            if args.trace:
                tracer.counters = StatusCounters(spark.sparkContext)
                _measure(spark, tracer, passes, warm_pass)

        sc = spark.sparkContext
        jvm = sc._gateway.proc
        rss = _jvm_peak_rss_mb(jvm.pid)

    result = {
        "ready_s": ready_s,
        "jvm_peak_rss_mb": rss,
        "passes": passes,
        "digests": digests,
        "spans": tracer.spans if args.trace else [],
        "floor_median_s": statistics.median(f for p in passes for f in p["floor_s"]),
    }
    with open(args.out, "w") as fh:
        json.dump(result, fh)

    spark.stop()
    sc._gateway.shutdown()
    jvm.stdin.close()  # the gateway JVM exits on EOF of its stdin
    jvm.wait(timeout=60)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
