"""Round-13 fixes, pinned.

Covers the r12 verdict tasks and ADVICE items:
- #2  dedup shingle re-spread: hash-partitioned (not round-robin), only
      when the file layout is KNOWN and under-split; derived/non-file
      inputs are left alone.
- #4  corpus_curate decontaminates via the Bloom probe (E20b), and the
      bloom probe itself lost its redundant per-(doc, shingle) regroup.
- #7  Hydra shim end-to-end: every reference step name resolves through
      the dag dry-run; a real ingest → clump → coloc → l2g chain writes
      parquet.
- ADVICE: bucketed_cumsum duplicate-order-key tie-break;
  duplicate_clusters edge-coverage assertion; coloc empty-group_cols
  error.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


# --- verdict #2: shingle re-spread guard ------------------------------------
def test_shingles_spread_is_hash_partitioned_on_file_source(spark, sf_dir):
    """A few-file parquet source gets spread for the explode stage —
    via HASH partitioning on the id column. Round-robin repartition
    inserts a defensive full-row local sort
    (spark.sql.execution.sortBeforeRepartition) that cost ~0.5s per
    warm run at sf0.1 (the r12 regression); hash partitioning has no
    such sort and measured at no-spread parity warm while keeping the
    cold one-row-group win (bench-shaped min-of-2: rr 2.8-3.0s, hash
    1.9-2.2s, no-spread 2.0s; cold first-run rr 8.9s, hash 3.3s,
    no-spread 4.2s)."""
    from gentropy_spark.operators.dedup import shingles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert len(docs.inputFiles()) == 1  # the premise of the guard
    plan = shingles(docs)._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(doc_id" in plan, plan
    assert "roundrobinpartitioning" not in plan.lower(), plan


def test_shingles_leaves_non_file_sources_alone(spark):
    """inputFiles() == [] means UNKNOWN layout (local relations, derived
    plans), not 'one file' — no shuffle may be injected (ADVICE r12)."""
    from gentropy_spark.operators.dedup import shingles

    local = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "beta gamma delta epsilon")],
        "doc_id long, text string",
    )
    assert local.inputFiles() == []
    plan = shingles(local)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_shingles_spread_preserves_values(spark, sf_dir):
    """The spread is layout-only: shingle sets identical with and
    without it (the hash gate for dedup_minhash_lsh / dedup_clusters /
    corpus_curate all ride on this)."""
    from gentropy_spark.operators.dedup import shingles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spread = {tuple(r) for r in shingles(docs).collect()}
    # coalesce(1) keeps file provenance out; inputFiles() is empty on
    # the derived plan so the guard skips the repartition.
    plain = {tuple(r) for r in shingles(docs.coalesce(1)).collect()}
    assert spread == plain


# --- verdict #4: bloom decontamination inside corpus_curate -----------------
def test_corpus_curate_uses_bloom_probe(spark, sf_dir):
    """The curate DAG decontaminates via the Bloom word-array probe:
    exactly ONE broadcast of a 4096-word array, no benchmark-shingle
    equi-join. The exact E20 path would show a broadcast hash join on
    the shingle string column."""
    from gentropy_spark.plans.llm_pipeline import q_corpus_curate

    plan = (
        q_corpus_curate(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "bloom_words" in plan, "curate no longer probes the bloom array"


def test_bloom_probe_single_doc_grain_aggregate(spark, sf_dir):
    """r13: shingles() emits DISTINCT (doc_id, shingle), so the probe
    aggregates straight to doc grain — the old per-(doc, shingle)
    min-regroup was a redundant full-width shuffle. Exactly one
    hashpartitioning(doc_id) exchange downstream of the probe."""
    from gentropy_spark.plans.llm_pipeline import q_bloom_decontaminate

    plan = (
        q_bloom_decontaminate(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "hashpartitioning(doc_id, shingle" not in plan, plan


def test_bloom_gate_dominates_exact_gate(spark, sf_dir):
    """No false negatives: every doc the exact decontaminate would
    flag at the curate threshold, the bloom gate also flags (the bloom
    ratio is >= the exact ratio per doc)."""
    from gentropy_spark.plans.llm_pipeline import (
        q_bloom_decontaminate,
        q_decontaminate,
    )

    exact = {
        r["doc_id"]: r["contamination_ratio"]
        for r in q_decontaminate(spark, sf_dir).collect()
    }
    bloom = {
        r["doc_id"]: r["bloom_hit_ratio"]
        for r in q_bloom_decontaminate(spark, sf_dir).collect()
    }
    assert set(exact) == set(bloom)
    for doc_id, ratio in exact.items():
        assert bloom[doc_id] >= ratio - 1e-12


# --- verdict #7: hydra shim end-to-end ---------------------------------------
def test_every_reference_step_name_resolves_through_dag_dry_run(tmp_path):
    """All reference step names translate AND dry-run-validate as one
    pipeline: hydra_compat → JSON config → cli.run_dag(dry_run=True).
    Reference: config.py:784-893 step registrations."""
    from gentropy_spark.cli import run_dag
    from gentropy_spark.hydra_compat import STEP_NAME_MAP, translate

    doc = {
        "out_dir": str(tmp_path / "out"),
        "steps": {f"s_{i:02d}": {"step": name} for i, name in
                  enumerate(sorted(STEP_NAME_MAP))},
    }
    cfg, _warnings = translate(doc)
    assert len(cfg["steps"]) == len(STEP_NAME_MAP)
    cfg_path = tmp_path / "pipeline.json"
    cfg_path.write_text(json.dumps(cfg))
    order = run_dag(str(cfg_path), dry_run=True)
    assert len(order) == len(STEP_NAME_MAP)


def test_hydra_chain_ingest_clump_coloc_l2g_writes_parquet(spark, tmp_path):
    """A real multi-step chain through the Hydra front door: Hydra-style
    step names with dependencies, executed (not dry-run), each step
    writing parquet the next stage's users could read."""
    from gentropy_spark.cli import run_dag
    from gentropy_spark.hydra_compat import translate

    out_dir = tmp_path / "chain_out"
    doc = {
        "sf_dir": "/root/testdata/sf0.001",
        "out_dir": str(out_dir),
        "steps": {
            "ingest": {"step": "gwas_catalog_study_index"},
            "clump": {
                "step": "window_based_clumping",
                "after": ["ingest"],
                "distance": 250_000,
                "gwas_significance": 5e-8,
            },
            "coloc": {"step": "colocalisation", "after": ["clump"]},
            "l2g": {"step": "locus_to_gene", "after": ["coloc"]},
        },
    }
    cfg, warnings = translate(doc)
    # the significance param must have been converted to -log10 scale
    assert cfg["steps"]["clump"]["params"]["min_signif"] == pytest.approx(
        7.301, abs=1e-3
    )
    cfg_path = tmp_path / "chain.json"
    cfg_path.write_text(json.dumps(cfg))
    order = run_dag(str(cfg_path))
    assert order == ["ingest", "clump", "coloc", "l2g"]
    for step in order:
        files = os.listdir(out_dir / step)
        assert any(f.endswith(".parquet") for f in files), (step, files)
        assert spark.read.parquet(str(out_dir / step)).count() > 0


# --- ADVICE: bucketed_cumsum duplicate-order-key tie-break -------------------
def test_bucketed_cumsum_duplicate_order_keys_exact_totals(spark):
    """With duplicate order keys inside a bucket, the totals max_by now
    tie-breaks on the running sum, so every bucket total is exact (for
    non-negative values) and later buckets' offsets stay correct. The
    invariant that is deterministic under ties: per part, the max
    running sum equals the part's total, and each bucket contributes
    exactly its sum to the next bucket's offset."""
    from gentropy_spark.operators.packing import bucketed_cumsum

    # bucket_span=4 -> order keys 0..3 are bucket 0, 4..7 bucket 1.
    # Duplicates at order=2 (values 10 and 1): an arbitrary max_by pick
    # could report bucket 0's total as 3+10=13 instead of 14, shifting
    # every bucket-1 value down by 1.
    rows = [
        ("s", 1, 3),
        ("s", 2, 10),
        ("s", 2, 1),
        ("s", 5, 7),
        ("s", 6, 2),
    ]
    df = spark.createDataFrame(rows, "part string, ord long, val long")
    out = bucketed_cumsum(
        df, part_col="part", order_col="ord", value_col="val", bucket_span=4
    )
    got = {(r["ord"], r["val"]): r["cum_tokens"] for r in out.collect()}
    # bucket-1 rows see the FULL bucket-0 total (14), not an
    # arbitrary-tie-pick partial.
    assert got[(5, 7)] == 21
    assert got[(6, 2)] == 23
    # the tied rows themselves carry the two partials in some order
    assert sorted((got[(2, 10)], got[(2, 1)])) in ([4, 14], [13, 14])
    assert max(got.values()) == 23


def test_bucketed_cumsum_unique_keys_match_single_level_window(spark):
    """Regression guard: unique order keys still match the single-level
    window cumsum bit-for-bit after the tie-break change."""
    from gentropy_spark.operators.packing import bucketed_cumsum

    rows = [(f"p{i % 3}", i, (i * 7) % 13) for i in range(200)]
    df = spark.createDataFrame(rows, "part string, ord long, val long")
    two = {
        (r["part"], r["ord"]): r["cum_tokens"]
        for r in bucketed_cumsum(df, "part", "ord", "val", bucket_span=16).collect()
    }
    w = (
        Window.partitionBy("part")
        .orderBy("ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    one = {
        (r["part"], r["ord"]): r["cum"]
        for r in df.withColumn("cum", F.sum("val").over(w)).collect()
    }
    assert two == one


# --- ADVICE: duplicate_clusters edge-coverage assertion ----------------------
def test_duplicate_clusters_asserts_edge_coverage(spark):
    from gentropy_spark.operators.dedup import duplicate_clusters

    docs = spark.createDataFrame([(1,), (2,)], "doc_id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 99)], "id_a long, id_b long"
    )
    # silent by default (documented contract) ...
    out = duplicate_clusters(docs, edges)
    assert {r["doc_id"] for r in out.collect()} == {1, 2}
    # ... loud when asked
    with pytest.raises(ValueError, match="edge endpoint"):
        duplicate_clusters(docs, edges, assert_edges_covered=True)


# --- ADVICE: coloc empty group_cols ------------------------------------------
def test_coloc_empty_group_cols_raises_clearly(spark):
    from gentropy_spark.operators.coloc import coloc

    df = spark.createDataFrame(
        [("a", 1.0, 2.0)], "g string, left_logbf double, right_logbf double"
    )
    with pytest.raises(ValueError, match="group column"):
        coloc(df, group_cols=[])


# --- verdict #8: fork-reuse audit for the other overlap consumers -----------
def test_ecaviar_does_not_fork_the_overlap_pipeline(spark, sf_dir):
    """ecaviar_clpp is a SINGLE aggregate above the tag-overlap join —
    there is no max/sum branch pair to lose ReusedExchange on (the r12
    coloc trap class). Pinned: exactly one Join and one Aggregate in
    the optimized plan. The tag left/right split inside the overlap
    join is a disjoint-parity partition (different predicates by
    design), not a reuse-loss."""
    from gentropy_spark.plans.genomics import q_ecaviar

    plan = (
        q_ecaviar(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("Join") == 1, plan
    assert plan.count("Aggregate") == 1, plan


def test_coloc_window_regime_single_exchange(spark, sf_dir):
    """r14 replaced the aggregate-join max shift with window-max for
    the standalone coloc: the r12/r13 ReusedExchange engineering is
    MOOT there because the plan no longer forks — the three maxima
    ride one unordered window and the logsumexp groupBy reuses its
    partitioning. Pin the new invariant: the overlap rows are hashed
    on the group keys exactly ONCE, and there is no join above the
    overlap join (the max join is gone)."""
    from gentropy_spark.plans.genomics import q_coloc

    df = q_coloc(spark, sf_dir)
    df.collect()  # finalize THIS QueryExecution's adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning(left_study_id") == 1, final
    assert "Window" in final


def test_coloc_agg_join_regime_still_reuses_exchange(spark, sf_dir):
    """The fused-L2G regime (max_strategy='agg_join') keeps the r12
    ReusedExchange property: the max and sum branches canonicalize
    equal and the overlap pipeline materializes once."""
    from gentropy_spark.operators.coloc import coloc
    from gentropy_spark.plans.genomics import _tag_overlaps

    df = coloc(
        _tag_overlaps(spark, sf_dir),
        group_cols=["left_study_id", "right_study_id", "contig"],
        max_strategy="agg_join",
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan.split("== Initial Plan ==")[0], plan
