"""100x sf0.1 Spark-growth probe for the LLM-pipeline operators.

The 10x A/Bs in docs/SCALE_PROBE.md settle the ratio-vs-oracle
question; this probe asks the remaining one: does Spark WALL TIME stay
sublinear at another order of magnitude (500k documents / 200k
embeddings — the shape of a real pre-training shard)? DuckDB is
deliberately absent: its legs are unfinishable single-node at this
scale (the 10x runs already showed 8-26x growth on the dedup shapes).

Staging replicates documents/embeddings 100x with shifted ids (the
sf1_ab_probe recipe), so the dedup keyspace, LSH bucket space and
cluster count grow with the data — the honest scale axis.

Run: python scripts/scale100_probe.py [--keys a,b,c] [--rep N]
Prints one line per key: sf0.1 wall, Nx wall, growth factor
(N = linear). Results are hand-recorded in docs/SCALE_PROBE.md.
--rep 1000 is the "one more decade" mode (2M embeddings / 5M
documents) for keys whose 100x trajectory needs another point.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REP = 100  # default; override with --rep
BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()
REPLICATED = {
    "documents": ("doc_id", 10_000_000),
    "embeddings": ("vec_id", 10_000_000),
}
DEFAULT_KEYS = [
    "quality_classifier",
    "epoch_shuffle",
    "bpe_train",
    "bpe_encode",
    "bm25_topk",
    "semdedup_prune",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "corpus_curate",
]


def _stage(spark) -> str:
    from pyspark.sql import functions as F

    out = tempfile.mkdtemp(prefix="gentropy_100x_")
    for t in TABLES:
        if t in REPLICATED:
            continue
        os.symlink(f"{BASE_SF}/{t}.parquet", f"{out}/{t}.parquet")
    for t, (key, shift) in REPLICATED.items():
        df = spark.read.parquet(f"{BASE_SF}/{t}.parquet")
        (
            df.crossJoin(spark.range(REP).withColumnRenamed("id", "_rep"))
            .withColumn(key, F.col(key) + F.col("_rep") * shift)
            .drop("_rep")
            .write.mode("overwrite")
            .parquet(f"{out}/{t}.parquet")
        )
    return out


def _time(spark, registry, name: str, sf_dir: str, runs: int = 2) -> float:
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        registry[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    global REP
    import argparse

    from gentropy_spark.plans import full_registry
    from gentropy_spark.session import get_session, release_caches

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--keys",
        default=None,
        help="comma-separated registry keys (default: the pipeline set)",
    )
    ap.add_argument(
        "--rep",
        type=int,
        default=REP,
        help="replication factor (default 100; 1000 = one more decade)",
    )
    args = ap.parse_args()
    REP = args.rep
    keys = args.keys.split(",") if args.keys else DEFAULT_KEYS
    registry = full_registry()
    unknown = [k for k in keys if k not in registry]
    if unknown:
        raise SystemExit(f"unknown --keys: {unknown}")

    spark = get_session(app_name="gentropy_100x_probe")
    t0 = time.perf_counter()
    big = _stage(spark)
    print(f"staged {REP}x in {time.perf_counter() - t0:.1f}s -> {big}",
          flush=True)
    try:
        for name in keys:
            s0 = _time(spark, registry, name, BASE_SF)
            release_caches()
            s1 = _time(spark, registry, name, big)
            release_caches()
            print(
                f"{name}: sf0.1 {s0:.2f}s -> {REP}x {s1:.2f}s "
                f"(growth {s1 / s0:.1f}x; linear would be {float(REP):.0f}x)",
                flush=True,
            )
    finally:
        shutil.rmtree(big, ignore_errors=True)


if __name__ == "__main__":
    main()
