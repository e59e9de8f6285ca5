"""Benchmark of gentropy_spark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload postgwas_cold --seed 1 --seconds 10 --trace 0

Run from the repository root. Every pass runs in a child process
(worker.py) started with a fixed environment: the profile flags cleared,
``SPARK_GRAFT_CPUS`` = nproc (``local[nproc]``), private
``SPARK_LOCAL_DIRS`` and temp dirs, the repository root on
``PYTHONPATH`` so Spark's Python workers can import the package. A cold
workload starts a fresh child per pass, a warm workload runs its passes
in one child; either way passes go on until ``--seconds`` have passed,
and at least the workload's ``min_passes``.

Outputs are checked against ``pins.json`` outside the timed spans. A key
call that raised, or whose output does not match its pin, is failed.
With ``--trace 0`` the result line carries the end-to-end metrics, with
``--trace 1`` the per-layer metrics of one traced pass (a traced run
also runs untraced passes, to report the tracing overhead). Every run
writes its own record to ``perfbench/runs/``; records are never
overwritten.
"""

from __future__ import annotations

import argparse
import datetime
import hashlib
import importlib.metadata
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

from digest import check
from tracing import duration, self_times
from workloads import WORKLOADS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / "data" / "sf0.01"
PROFILE_ENVS = ("GENTROPY_SPARK_NATIVE_SUMS", "GENTROPY_SPARK_APPROX_PERCENTILES")
DEADLINE_S = 170.0  # a run must end within 180 s


class BenchError(Exception):
    """The benchmark cannot produce a result."""


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _verify_tree(pins: dict) -> None:
    if not (ROOT / "gentropy_spark" / "__init__.py").is_file():
        raise BenchError(f"no gentropy_spark package under {ROOT}")
    for name, sha in pins["data"].items():
        path = DATA / name
        if not path.is_file() or hashlib.sha256(path.read_bytes()).hexdigest() != sha:
            raise BenchError(f"input {path} is missing or differs from its pin")


def _child_env(work: Path) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items() if k not in PROFILE_ENVS}
    tmp = work / "tmp"
    env.update(
        SPARK_GRAFT_CPUS=str(_cores()),
        SPARK_LOCAL_DIRS=str(work / "local"),
        PYTHONPATH=os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=str(tmp),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        TZ="UTC",
    )
    return env


def _run_child(args, trace: int, work: Path, deadline: float) -> dict:
    """Run one worker process to completion and return its result."""
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    t0 = time.time()
    cmd = [
        sys.executable, str(HERE / "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
        "--t0", repr(t0), "--run-id", f"{work.parent.name}/{work.name}",
        "--data", str(DATA), "--out", str(out),
    ]
    log = work / "worker.log"
    with open(log, "wb") as fh:
        proc = subprocess.Popen(
            cmd, cwd=work, env=_child_env(work), stdin=subprocess.DEVNULL,
            stdout=fh, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _reap_group(proc)
    if code != 0 or not out.is_file():
        tail = log.read_text(errors="replace")[-3000:]
        why = "timed out" if code is None else f"exited with {code}"
        raise BenchError(f"worker {why}; log tail:\n{tail}")
    return json.loads(out.read_text())


def _reap_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group (the JVM and
    Spark's Python workers) and wait until all of it has ended."""
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    for _ in range(300):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        os.killpg(proc.pid, signal.SIGKILL)
        time.sleep(0.1)
    raise BenchError(f"process group {proc.pid} did not end")


def _run_children(args, work: Path, deadline: float) -> list[dict]:
    """All worker results of the run; the last one is traced with --trace 1."""
    wl = WORKLOADS[args.workload]
    results: list[dict] = []
    start = time.time()
    if wl.cold:
        while len(results) < wl.min_passes or time.time() - start < args.seconds:
            if results and time.time() + 1.5 * _wall(results[-1]) > deadline:
                break
            results.append(_run_child(args, 0, work / f"p{len(results)}", deadline))
        if args.trace:
            results.append(_run_child(args, 1, work / "traced", deadline))
    else:
        results.append(_run_child(args, args.trace, work / "p0", deadline))
    return results


def _wall(result: dict) -> float:
    return result["ready_s"] + sum(p["pass_s"] for p in result["passes"])


def _outcome(results: list[dict], pins: dict) -> tuple[int, int, dict]:
    """(attempted, failed, {key: reason}) over every timed key call."""
    attempted = failed = 0
    bad: dict[str, str] = {}
    for r in results:
        mismatched = check(r["digests"], pins["outputs"])
        bad.update(mismatched)
        for p in r["passes"]:
            for k in p["keys"]:
                attempted += 1
                if k["error"] or k["key"] in mismatched:
                    failed += 1
                    if k["error"]:
                        bad[k["key"]] = k["error"].splitlines()[0][:300]
    return attempted, failed, bad


def end_to_end(results: list[dict]) -> dict[str, float]:
    untraced = [p for r in results for p in r["passes"] if not p["traced"]]
    return {
        "setup_s": statistics.median(r["ready_s"] for r in results),
        "pipeline_s": statistics.median(p["pass_s"] for p in untraced),
        "slowest_key_s": statistics.median(
            max(k["total_s"] for k in p["keys"]) for p in untraced
        ),
    }


def per_layer(results: list[dict], cores: int) -> tuple[dict[str, float], list[dict]]:
    """Per-layer metrics of the traced pass, and its per-key breakdown."""
    traced = results[-1]
    spans = traced["spans"]
    by_id = {s["id"]: s for s in spans}
    own = self_times(spans)
    pass_span = [s for s in spans if s["name"] == "pass"][-1]

    def under_pass(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
            if s["id"] == pass_span["id"]:
                return True
        return False

    in_pass = [s for s in spans if under_pass(s)]
    keys = []
    for ks in (s for s in in_pass if s["name"] == "key"):
        kids = [s for s in in_pass if s["parent"] == ks["id"]]
        row = {"key": ks["attrs"]["key"], "total_s": duration(ks), "self_s": own[ks["id"]],
               "persisted_rdds": ks["attrs"].get("persisted_rdds", 0)}
        for s in kids:
            row[f"{s['name']}_s"] = row.get(f"{s['name']}_s", 0.0) + duration(s)
            if s["name"] == "plans.build":
                row["memo_hit"] = s["attrs"]["memo_hit"]
                row["build_jobs"] = s["counters"]["jobs"]
            if s["name"] == "operators.action":
                row["operators"] = s["counters"]
        keys.append(row)

    def total(name):
        return sum(duration(s) for s in in_pass if s["name"] == name)

    def summed(counter):
        return sum(k.get("operators", {}).get(counter, 0) for k in keys)

    setup = {s["name"]: duration(s) for s in spans if s["name"] in ("session.start", "plans.registry")}
    untraced = [p["pass_s"] for r in results for p in r["passes"] if not p["traced"]]
    action_s = total("operators.action")
    metrics = {
        "session.start_s": setup["session.start"],
        "plans.registry_s": setup["plans.registry"],
        "plans.build_s": total("plans.build"),
        "plans.build_jobs": sum(k.get("build_jobs", 0) for k in keys),
        "plans.memo_hit_ratio": sum(bool(k.get("memo_hit")) for k in keys) / len(keys),
        "cli.resolve_s": total("cli.resolve"),
        "operators.action_s": action_s,
        "operators.jobs": summed("jobs"),
        "operators.stages": summed("stages"),
        "operators.tasks": summed("tasks"),
        "operators.task_run_s": summed("task_run_s"),
        "operators.task_cpu_s": summed("task_cpu_s"),
        "operators.gc_s": summed("gc_s"),
        "operators.busy_frac": summed("task_run_s") / (action_s * cores),
        "operators.shuffle_write_mb": summed("shuffle_write_mb"),
        "operators.spill_mb": summed("spill_mb"),
        "operators.failed_tasks": summed("failed_tasks"),
        "session.release_s": total("session.release"),
        "session.persisted_rdds": sum(k["persisted_rdds"] for k in keys),
        "sources.input_mb": summed("input_mb"),
        "sources.output_mb": summed("output_mb"),
        "host.floor_s": traced["floor_median_s"],
        "jvm.peak_rss_mb": traced["jvm_peak_rss_mb"],
        # Against the untraced pass just before: warm passes still speed
        # up pass by pass, so an earlier pass would bias the difference.
        "trace.overhead_s": duration(pass_span) - untraced[-1],
    }
    return metrics, keys


def _environment(cores: int) -> dict:
    env = _child_env(Path("<work>"))
    keys = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "PYSPARK_PYTHON", "TZ",
            "JAVA_TOOL_OPTIONS", "SPARK_LOCAL_DIRS", "PYTHONPATH")
    try:
        pyspark_version = importlib.metadata.version("pyspark")
    except importlib.metadata.PackageNotFoundError:
        pyspark_version = None
    return {
        "cores": cores,
        "env": {k: env.get(k) for k in keys},
        "cleared": list(PROFILE_ENVS),
        "python": platform.python_version(),
        "pyspark": pyspark_version,
        "machine": platform.machine(),
        "mem_total_kb": _meminfo_kb(),
    }


def _meminfo_kb() -> int | None:
    try:
        with open("/proc/meminfo") as fh:
            return int(fh.readline().split()[1])
    except (OSError, IndexError, ValueError):
        return None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.time() + DEADLINE_S
    cores = _cores()
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S.%fZ")
    name = f"{args.workload}-seed{args.seed}-c{cores}-trace{args.trace}-{stamp}"
    work = HERE / "work" / name
    try:
        bench = json.loads((ROOT / "BENCHMARK.json").read_text())
        pins = json.loads((HERE / "pins.json").read_text())
        _verify_tree(pins)
        results = _run_children(args, work, deadline)
    except (BenchError, OSError) as exc:
        print(f"benchmark failed: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed, bad = _outcome(results, pins)
    e2e = end_to_end(results)
    rss = statistics.median(r["jvm_peak_rss_mb"] for r in results)
    layers, keys = per_layer(results, cores) if args.trace else ({}, [])
    shown = layers if args.trace else e2e
    declared = bench["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    if units.keys() != shown.keys():
        print(f"benchmark failed: metrics {sorted(shown)} differ from BENCHMARK.json "
              f"{sorted(units)}", file=sys.stderr)
        return 1
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "timestamp": stamp,
        "environment": _environment(cores),
        "keys": list(WORKLOADS[args.workload].keys),
        "attempted": attempted,
        "failed": failed,
        "error_rate": failed / attempted,
        "failures": bad,
        "end_to_end": e2e,
        "jvm_peak_rss_mb": rss,
        "per_layer": layers,
        "per_key": keys,
        "host_floor_s": [p["floor_s"] for r in results for p in r["passes"]],
        "results": results,
    }
    runs = HERE / "runs"
    runs.mkdir(exist_ok=True)
    with open(runs / f"{name}.json", "x") as fh:
        json.dump(record, fh, indent=1)

    for key, reason in sorted(bad.items()):
        print(f"FAILED {key}: {reason}")
    for metric, value in shown.items():
        print(f"{metric} {value:.6g} {units[metric]}")
    print(f"jvm_peak_rss_mb {rss:.6g} MB")
    print(f"error_rate {failed / attempted:.6g} fraction")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m: {"value": v, "unit": units[m]} for m, v in shown.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
