"""A/B the three 'untouched ingest' regressions: r12 HEAD vs current HEAD.

r13 verdict item #5 flagged gwas_top_hits (2.19 -> 2.80s),
decode_study_ingest (2.89 -> 3.37s) and gwas_study_ingest
(2.84 -> 3.19s) as same-direction driver-bench moves with NO r13
commit touching plans/studies.py, naming two hypotheses: host drift
vs the r13 session.py change. Static analysis already kills the
second (the r13 session.py diff is comment-only — verified by
`git diff e24cc68 695d787 -- gentropy_spark/session.py` containing
zero non-comment lines); this probe settles the first empirically.

Method: check out r12 HEAD (e24cc68) into a git worktree, then run
SIX child processes interleaved A,B,A,B,A,B (A = current HEAD,
B = r12) on the SAME host window. Each child builds a fresh session
and times the three keys with the bench method (min-of-2, noop sink,
cache eviction between keys). Same-window medians isolate code from
host: if A≈B per key, the r13 regression was host drift; if A>B, the
code changed something after all.

Usage: python scripts/ingest_ab_probe.py [--rounds 3]
Writes nothing outside the repo; tears down the worktree on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
R12_SHA = "e24cc68"
WT_DIR = os.path.join(REPO, ".wt_r12_probe")
KEYS = ["gwas_top_hits", "decode_study_ingest", "gwas_study_ingest"]

CHILD = r"""
import json, sys, time
from gentropy_spark.session import get_session, release_caches
from gentropy_spark.plans.registry import full_registry

sf_dir = sys.argv[1]
keys = sys.argv[2].split(",")
spark = get_session(app_name="ingest_ab_probe")
registry = full_registry()
out = {}
for name in keys:
    fn = registry[name].fn
    best = float("inf")
    for _ in range(2):
        start = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - start)
    out[name] = round(best, 3)
    release_caches()
print("RESULT " + json.dumps(out))
spark.stop()
"""


def run_child(arm_dir: str, sf_dir: str) -> dict[str, float]:
    env = dict(os.environ)
    env["PYTHONPATH"] = arm_dir
    proc = subprocess.run(
        [sys.executable, "-c", CHILD, sf_dir, ",".join(KEYS)],
        cwd=arm_dir,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(
        f"child in {arm_dir} produced no RESULT; stderr tail: "
        + proc.stderr[-2000:]
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument(
        "--sf-dir", default=os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    subprocess.run(
        ["git", "worktree", "add", "--force", WT_DIR, R12_SHA],
        cwd=REPO, check=True, capture_output=True,
    )
    try:
        samples: dict[str, dict[str, list[float]]] = {
            "head": {k: [] for k in KEYS}, "r12": {k: [] for k in KEYS}
        }
        for i in range(args.rounds):
            for arm, arm_dir in (("head", REPO), ("r12", WT_DIR)):
                res = run_child(arm_dir, args.sf_dir)
                for k, v in res.items():
                    samples[arm][k].append(v)
                print(f"round {i + 1} {arm}: {res}", flush=True)
        report = {
            k: {
                "head_median": round(statistics.median(samples["head"][k]), 3),
                "r12_median": round(statistics.median(samples["r12"][k]), 3),
                "head_all": samples["head"][k],
                "r12_all": samples["r12"][k],
            }
            for k in KEYS
        }
        print(json.dumps(report, indent=2))
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", WT_DIR],
            cwd=REPO, check=False, capture_output=True,
        )


if __name__ == "__main__":
    main()
