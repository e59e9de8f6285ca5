"""The ``prepared`` plan memo (session.py) and the package's Python workers.

A prepared builder returns the SAME resolved DataFrame per (application,
builder, sf_dir, extra args, sorted kwargs), and re-registers the
``track_cache`` handles its build recorded on every hit, including the
handles of inner prepared builders it reached.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

from gentropy_spark import session as S

# Registry keys whose fn is a prepared builder: the pure plan builders.
PREPARED_KEYS = {
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "window_clump_leads",
    "locus_breaker",
    "overlap_join",
    "coloc",
    "pics_finemap",
    "credible_set_filter",
    "ld_clump",
    "qc_gc_lambda",
    "sumstat_qc_summary",
    "v2g_distance",
    "l2g_score",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "ann_ivf_topk",
    "ann_cosine_topk",
    "dedup_embedding_cosine",
    "text_quality",
    "token_count",
    "l2g_feature_matrix",
    "ld_index_build",
    "sumstat_harmonise_finngen",
    "asof_join",
    "eqtl_susie_ingest",
    "decode_sumstat_harmonise",
    "lm_perplexity",
    "dup_triangles",
    "gwas_study_ingest",
    "gwas_top_hits",
    "decode_study_ingest",
    "semdedup_prune",
    "bloom_decontaminate",
    "ann_ivfpq_topk",
    "embedding_pca_power",
    "embedding_pca_topm",
    "embedding_pca_project",
    "ann_pca_topk",
    "lm_kn_perplexity",
    "study_locus_qc_flags",
}


def _fresh_sf_dir(sf_dir: str, tmp_path: Path) -> str:
    """A new sf_dir string over the same tables, so every prepared
    builder misses on it."""
    for table in Path(sf_dir).glob("*.parquet"):
        (tmp_path / table.name).symlink_to(table)
    return str(tmp_path)


def _handles(fn, sf_dir: str) -> list:
    """The track_cache handles the prepared build of ``fn`` recorded."""
    build = fn.__wrapped__
    return next(
        h for k, (_df, h) in S._PREPARED.items() if k[1] is build and k[2] == sf_dir
    )


def _persisted(df) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


def test_registry_prepared_keys_are_pinned():
    from gentropy_spark.plans import full_registry

    reg = full_registry()
    assert {k for k, spec in reg.items() if S.is_prepared(spec.fn)} == PREPARED_KEYS


def test_prepared_identity_and_keying(spark, sf_dir, tmp_path):
    """Same object on repeat; a new sf_dir rebuilds; builders that act
    eagerly are not prepared."""
    from gentropy_spark.plans import full_registry

    reg = full_registry()
    fn = reg["q3_shipping_priority"].fn
    a = fn(spark, sf_dir)
    assert fn(spark, sf_dir) is a
    other = _fresh_sf_dir(sf_dir, tmp_path)
    c = fn(spark, other)
    assert c is not a
    assert fn(spark, other) is c
    assert fn(spark, sf_dir) is a
    # the fixpoint and checkpointing builders rebuild on every call
    for key in ("dedup_clusters", "corpus_curate", "bpe_train", "bpe_encode"):
        assert not S.is_prepared(reg[key].fn)
    assert S.is_prepared(fn) and not S.is_prepared(fn.__wrapped__)


def test_prepared_keys_on_sorted_kwargs(spark, sf_dir):
    """Keyword params are part of the key, in any order; a different
    binding is a different plan."""
    from gentropy_spark.plans.genomics import (
        CLUMP_WINDOW_US,
        SIGNIF_MIN,
        q_window_clump_leads,
    )

    wide = q_window_clump_leads(
        spark, sf_dir, window=2 * CLUMP_WINDOW_US, min_signif=SIGNIF_MIN
    )
    assert (
        q_window_clump_leads(
            spark, sf_dir, min_signif=SIGNIF_MIN, window=2 * CLUMP_WINDOW_US
        )
        is wide
    )
    assert q_window_clump_leads(spark, sf_dir) is not wide


def test_prepared_hit_repersists_tracked_caches_after_release(spark, sf_dir):
    from gentropy_spark.plans import full_registry

    fn = full_registry()["embedding_pca_topm"].fn
    fn(spark, sf_dir)
    tracked = _handles(fn, sf_dir)
    assert tracked, "build registered no track_cache handles"
    S.release_caches()
    assert not any(_persisted(t) for t in tracked), "release did not sweep"
    fn(spark, sf_dir)  # the hit must re-register the persist marks
    assert all(_persisted(t) for t in tracked), (
        "memo hit did not re-persist the tracked subtree"
    )
    S.release_caches()


def test_minhash_pairs_repersist_after_release(spark, sf_dir):
    from gentropy_spark.plans.llm_pipeline import q_dedup_minhash

    q_dedup_minhash(spark, sf_dir)
    tracked = _handles(q_dedup_minhash, sf_dir)
    assert tracked
    S.release_caches()
    q_dedup_minhash(spark, sf_dir)
    assert all(_persisted(t) for t in tracked)
    S.release_caches()


def test_minhash_pairs_evict_stopped_applications(spark, sf_dir, tmp_path):
    """An entry left by a stopped session is gone after a build in the
    live one (the old pairs memo kept every application's entries)."""
    from gentropy_spark.plans.llm_pipeline import q_dedup_minhash

    stale = ("app-stopped", q_dedup_minhash.__wrapped__, sf_dir, ())
    S._PREPARED[stale] = (None, [])
    q_dedup_minhash(spark, _fresh_sf_dir(sf_dir, tmp_path))
    assert stale not in S._PREPARED
    assert all(k[0] == spark.sparkContext.applicationId for k in S._PREPARED)
    S.release_caches()


def test_outer_hit_repersists_inner_prepared_handles(spark, sf_dir, tmp_path):
    """Build the inner pairs subplan, then the outer dup_triangles plan
    in the same cache window: the inner hit re-registers handles that
    are still persisted. After a release, an outer hit must persist
    them again, or every triangle consumer recomputes the LSH pipeline."""
    from gentropy_spark.plans import full_registry
    from gentropy_spark.plans.llm_pipeline import q_dedup_minhash

    fresh = _fresh_sf_dir(sf_dir, tmp_path)
    S.release_caches()
    q_dedup_minhash(spark, fresh)
    inner = _handles(q_dedup_minhash, fresh)
    assert inner and all(_persisted(h) for h in inner)
    outer = full_registry()["dup_triangles"].fn
    outer(spark, fresh)
    outer_handles = _handles(outer, fresh)
    assert all(any(h is o for o in outer_handles) for h in inner)
    S.release_caches()
    outer(spark, fresh)
    assert all(_persisted(h) for h in inner)
    S.release_caches()


def test_bpe_keys_not_prepared_and_rebuild_after_release(spark, sf_dir):
    """Releasing the checkpoints strands any HELD bpe DataFrame
    (truncated lineage cannot recompute), so bpe builders must never be
    prepared — every call rebuilds the chain, making
    release-then-recollect safe. Pin the exclusion and prove the
    rebuild survives a release between calls with identical values."""
    from gentropy_spark.plans import full_registry

    reg = full_registry()
    assert not S.is_prepared(reg["bpe_train"].fn)
    assert not S.is_prepared(reg["bpe_encode"].fn)
    fn = reg["bpe_train"].fn
    rows1 = sorted((r.step, r.merged_pair) for r in fn(spark, sf_dir).collect())
    S.release_caches()
    rows2 = sorted((r.step, r.merged_pair) for r in fn(spark, sf_dir).collect())
    assert rows1 == rows2
    S.release_caches()


def test_python_workers_import_package_without_pythonpath(tmp_path):
    """A driver that finds the package through sys.path alone (no
    PYTHONPATH) must still run kernels whose Python workers import it."""
    root = str(Path(S.__file__).resolve().parents[1])
    code = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {root!r})
        from gentropy_spark.session import get_session

        spark = get_session(
            app_name="worker_import",
            master="local[1]",
            shuffle_partitions=1,
            extra_conf={{"spark.driver.memory": "1g"}},
        )

        def probe(batches):
            import gentropy_spark.session

            for b in batches:
                yield b

        print("ROWS", len(spark.range(3).mapInPandas(probe, "id long").collect()))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "ROWS 3" in proc.stdout
