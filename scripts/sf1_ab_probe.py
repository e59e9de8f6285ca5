"""10x (~sf1) Spark-vs-DuckDB A/B for the worst-ratio headline queries.

The bench's >2x sf0.1 ratios are ARGUED to be per-job-constant floors
(row-group scan atom, fixed scheduling overhead against a 10-100 ms
DuckDB denominator) — this probe proves it with data instead of
argument (r12, verdict task #7): replicate the fact tables 10x with
shifted keys (the same staging the r9 ingestion probe uses), run the
N worst-ratio queries on BOTH engines at sf0.1 and at 10x under the
bench's exact measurement method (Spark noop sink vs DuckDB
bit_xor(hash(t)), adjacent S,S then D,D min-of-2), and append the
per-query ratio trajectory to docs/SCALE_PROBE.md. A ratio that does
NOT shrink with scale is a real plan problem, not a floor — the probe
prints those as findings.

Run:  python scripts/sf1_ab_probe.py          (~10 min at 10x sf0.1)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_WORST = 10
REP = 10
BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()
# Fact tables replicated with shifted keys; dimensions symlinked.
REPLICATED = {
    "lineitem": ("l_orderkey", 10_000_000),
    "orders": ("o_orderkey", 10_000_000),
    "events": ("event_id", 100_000_000),
    "documents": ("doc_id", 10_000_000),
    "embeddings": ("vec_id", 10_000_000),
}


def _stage_10x(spark) -> str:
    from pyspark.sql import functions as F

    out = tempfile.mkdtemp(prefix="gentropy_sf1_ab_")
    for t in TABLES:
        if t in REPLICATED:
            continue
        os.symlink(f"{BASE_SF}/{t}.parquet", f"{out}/{t}.parquet")
    for t, (key, shift) in REPLICATED.items():
        df = spark.read.parquet(f"{BASE_SF}/{t}.parquet")
        rep = (
            df.crossJoin(spark.range(REP).withColumnRenamed("id", "_rep"))
            .withColumn(key, F.col(key) + F.col("_rep") * shift)
        )
        # events carries a second shifted id so sessionization keys
        # stay disjoint per replica (mirrors the r9 ingestion probe).
        if t == "events":
            rep = rep.withColumn(
                "user_id", F.col("user_id") + F.col("_rep") * 10_000_000
            )
        rep.drop("_rep").write.mode("overwrite").parquet(
            f"{out}/{t}.parquet"
        )
    return out


def _duck_con(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        # Spark writes a DIRECTORY of part files; DuckDB needs the glob.
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def _ab(spark, registry, name: str, sf_dir: str) -> tuple[float, float]:
    """(spark_sec, duck_sec) min-of-2 each, bench measurement method."""
    best_s = best_d = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        registry[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        best_s = min(best_s, time.perf_counter() - t0)
    con = _duck_con(sf_dir)
    sql = registry[name].oracle
    for _ in range(2):
        t0 = time.perf_counter()
        con.execute(f"SELECT bit_xor(hash(t)) FROM ({sql}) t").fetchall()
        best_d = min(best_d, time.perf_counter() - t0)
    con.close()
    return best_s, best_d


# Heavy/iterative pipelines probed with --heavy: the scaling question
# for these is not a ratio floor but whether the ITERATIVE and
# multi-stage shapes (fixpoint rounds, banded LSH, 34-feature fused
# matrix) stay sublinear in wall time as data grows.
# l2g_feature_matrix is EXCLUDED since r13: its DuckDB leg is
# unfinishable at 10x (r12 run aborted after >25 min, >=250x
# super-linear — spill-bound single-node join/window stack; the
# documented abort in docs/SCALE_PROBE.md stands as its evidence,
# with the Spark side sublinear on the same staging).
HEAVY = ("dedup_minhash_lsh", "dedup_clusters", "corpus_curate")


def main() -> None:
    from gentropy_spark.plans import full_registry
    from gentropy_spark.session import get_session, release_caches

    heavy_mode = "--heavy" in sys.argv
    # --keys=a,b,c : probe a named set (r13 verdict #3 — the remaining
    # >2x >=1s queries get their floor theory MEASURED, not argued).
    keys_arg = next(
        (a.split("=", 1)[1] for a in sys.argv if a.startswith("--keys=")),
        None,
    )
    with open(os.path.join(REPO, "BENCH_FULL.json")) as fh:
        full = json.load(fh)
    ratios = full["per_query_ratio"]
    if keys_arg:
        worst = keys_arg.split(",")
        # Fail fast on typos (r13 advice) — registry membership is the
        # validity check; per_query_ratio membership is NOT required
        # (new non-headline keys are probed fresh).
        unknown = [k for k in worst if k not in full_registry()]
        if unknown:
            raise SystemExit(f"unknown --keys (not in registry): {unknown}")
        no_oracle = [
            k for k in worst if full_registry()[k].oracle is None
        ]
        if no_oracle:
            raise SystemExit(
                f"--keys without a DuckDB oracle (no A/B leg): {no_oracle}"
            )
    elif heavy_mode:
        worst = list(HEAVY)
    else:
        worst = sorted(ratios, key=lambda k: -ratios[k])[:N_WORST]

    spark = get_session(app_name="gentropy_sf1_ab")
    registry = full_registry()
    registry["q1_pricing_summary"].fn(spark, BASE_SF).collect()  # warm

    stage_t0 = time.perf_counter()
    big_dir = _stage_10x(spark)
    stage_s = time.perf_counter() - stage_t0

    rows = []
    findings = []
    try:
        for name in worst:
            s0, d0 = _ab(spark, registry, name, BASE_SF)
            release_caches()
            s1, d1 = _ab(spark, registry, name, big_dir)
            release_caches()
            r0 = s0 / d0 if d0 else float("nan")
            r1 = s1 / d1 if d1 else float("nan")
            rows.append((name, s0, d0, r0, s1, d1, r1))
            print(
                f"{name}: sf0.1 {s0:.2f}/{d0:.3f} = {r0:.1f}x -> "
                f"10x {s1:.2f}/{d1:.3f} = {r1:.1f}x",
                flush=True,
            )
            if r1 > r0 * 0.9 and r1 > 2.0:
                findings.append(name)
    finally:
        shutil.rmtree(big_dir, ignore_errors=True)

    if keys_arg:
        # Marker "## Keyed A/B" is RESERVED for this mode — the doc
        # also carries hand-written "## Targeted A/B ..." narrative
        # sections that a --keys rerun must never section-replace
        # (it did, twice, in r14).
        lines = [
            "",
            f"## Keyed A/B at {REP}x sf0.1 (staged in {stage_s:.0f}s)",
            "",
            "The remaining >2x >=1s sf0.1 queries, floor theory measured:",
            "both engines, bench measurement method, min-of-2, adjacent",
            "S,S then D,D. A ratio that does not shrink toward <=2 at 10x",
            "is a named plan finding, not a floor.",
            "",
            "| query | sf0.1 S/D (ratio) | 10x S/D (ratio) | shrink |",
            "|---|---|---|---|",
        ]
        for name, s0, d0, r0, s1, d1, r1 in rows:
            lines.append(
                f"| {name} | {s0:.2f}/{d0:.3f} ({r0:.1f}x) | "
                f"{s1:.2f}/{d1:.3f} ({r1:.1f}x) | {r0 / r1:.1f}x |"
            )
        lines.append("")
        if findings:
            lines.append(
                "**Non-shrinking ratios (real plan findings, not floors): "
                + ", ".join(findings)
                + "**"
            )
        else:
            lines.append(
                "Every targeted ratio shrinks with scale — the sf0.1 "
                "overshoots are per-job constants, not plan defects."
            )
        marker = "## Keyed A/B at "
    elif heavy_mode:
        lines = [
            "",
            f"## Heavy/iterative pipelines at {REP}x sf0.1 (staged "
            f"in {stage_s:.0f}s)",
            "",
            "The scaling question for these is SUBLINEARITY of Spark's",
            "wall time on 10x the documents/facts — fixpoint rounds,",
            "banded LSH, and the full curation chain must not grow",
            "super-linearly. `growth` = spark 10x / spark sf0.1 (10.0",
            "would be linear). l2g_feature_matrix is excluded since",
            "r13: its DuckDB leg is unfinishable at 10x (the r12 run",
            "aborted it after >25 min, >=250x super-linear — a",
            "spill-bound single-node join/window stack — while the",
            "same 10x staging ran the Spark side sublinearly); that",
            "one-sided result stands as its scale evidence.",
            "",
            "| pipeline | sf0.1 S/D | 10x S/D | spark growth |",
            "|---|---|---|---|",
        ]
        for name, s0, d0, r0, s1, d1, r1 in rows:
            lines.append(
                f"| {name} | {s0:.2f}/{d0:.2f} | {s1:.2f}/{d1:.2f} | "
                f"{s1 / s0:.1f}x |"
            )
        lines.append("")
        growers = [r[0] for r in rows if r[4] / r[1] > REP]
        if growers:
            lines.append(
                "**Super-linear spark growth (scale findings): "
                + ", ".join(growers) + "**"
            )
        else:
            lines.append(
                "Every pipeline scales sublinearly in Spark wall time "
                f"at {REP}x — the iterative and multi-stage shapes hold."
            )
        marker = "## Heavy/iterative pipelines at "
    else:
        lines = [
            "",
            f"## Worst-ratio A/B at {REP}x sf0.1 (r12, verdict #7; staged in "
            f"{stage_s:.0f}s)",
            "",
            "Both engines, bench measurement method (noop sink / duck hash),",
            "min-of-2, adjacent S,S then D,D. `ratio = spark/duck`; the floor",
            "argument predicts ratios SHRINK as data grows because Spark's",
            "per-job constants amortize while DuckDB's work scales.",
            "",
            "| query | sf0.1 S/D (ratio) | 10x S/D (ratio) | shrink |",
            "|---|---|---|---|",
        ]
        for name, s0, d0, r0, s1, d1, r1 in rows:
            lines.append(
                f"| {name} | {s0:.2f}/{d0:.3f} ({r0:.1f}x) | "
                f"{s1:.2f}/{d1:.3f} ({r1:.1f}x) | {r0 / r1:.1f}x |"
            )
        lines.append("")
        if findings:
            lines.append(
                "**Non-shrinking ratios (real plan findings, not floors): "
                + ", ".join(findings)
                + "**"
            )
        else:
            lines.append(
                "No non-shrinking ratio above the 2x bar — the sf0.1 "
                "overshoots are per-job constants, not plan defects. "
                "(Rows already at/below ~2x at sf0.1 may wobble within "
                "the bar without being findings.)"
            )
        marker = "## Worst-ratio A/B at "
    doc = os.path.join(REPO, "docs", "SCALE_PROBE.md")
    with open(doc) as fh:
        existing = fh.read()
    if marker in existing:
        # Replace ONLY the previous run's section — up to the next
        # "## " heading, not to EOF (r13: the old to-EOF truncation
        # silently deleted every section written after this mode's).
        start = existing.index(marker)
        nxt = existing.find("\n## ", start + 1)
        tail = existing[nxt + 1:] if nxt != -1 else ""
        existing = (
            existing[:start].rstrip("\n") + "\n" + tail.rstrip("\n") + "\n"
        )
    with open(doc, "w") as fh:
        fh.write(existing.rstrip("\n") + "\n" + "\n".join(lines) + "\n")
    print(f"wrote {doc}", flush=True)


if __name__ == "__main__":
    main()
