"""Query registry — maps SURVEY §2 inventory keys to (spark_fn, oracle_sql).

Each plan module contributes a dict of QuerySpec; ``full_registry``
merges them. ``__spark_entry__.py`` derives ``queries()`` and
``oracle_sql()`` from this single source of truth.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    """One verifiable engine capability.

    Attributes:
        fn: (spark, sf_dir) -> DataFrame implementation.
        oracle: equivalent DuckDB ANSI SQL over the pre-registered
            views, or None for non-SQL-expressible operators (the
            driver then records a rows-only check).
    """

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None


# The external correctness snapshot verifies the FIRST 50 ``queries()``
# entries. Rotation policy: every key whose newest driver evidence
# predates its last code change (or the last testdata format change)
# must sit inside that window; remaining keys rotate in next round.
# Rows-only kernels (no oracle SQL) are kept OUT of the window — their
# evidence lives in pytest fixtures, and an `err: no_oracle` row in the
# headline artifact is strictly worse than a green 50/50 (r10 verdict
# task #4).
_SNAPSHOT_PRIORITY = [
    # --- r18 window ---------------------------------------------------
    # (a) r17 driver-certification debt (r17 verdict item 1): these
    # were rewritten in r17 (lag-window -> array-zip bigrams,
    # prepared-pair routing + localCheckpoint, IVF-PQ shared prefix,
    # poly_hash string path) but sat outside the r17 sample window.
    "lm_perplexity",
    "lm_kn_perplexity",
    "dedup_clusters",
    "dup_triangles",
    "dup_pagerank",
    "ann_ivfpq_topk",
    "minhash_calibration",
    # (b) plans/values changed THIS round (r18) -- must certify:
    # the window-fused PCA normaliser (power/topm/project/pca_topk),
    # the codegen tokens()/stopword rewrite and its heaviest consumers
    # (text_quality/langid, token_count, quality_classifier, the
    # curate pair, the bloom/exact decon pair, the shingle dedups),
    # the fused-sample-count + union-agg study ingests, the spread
    # orders scans, and the shortest-prefix exchange-sharing family
    # (l2g features/score/coloc/interval, gwas_top_hits, eqtl_susie).
    "embedding_pca_power",
    "embedding_pca_topm",
    "embedding_pca_project",
    "ann_pca_topk",
    "text_quality",
    "text_langid",
    "token_count",
    "quality_classifier",
    "corpus_curate",
    "corpus_curate_scored",
    "bloom_decontaminate",
    "decontaminate",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "gwas_study_ingest",
    "decode_study_ingest",
    "gwas_top_hits",
    "eqtl_susie_ingest",
    "l2g_feature_matrix",
    "l2g_score",
    "l2g_coloc_features",
    "l2g_interval_features",
    # (c) the 17-key freshness tail scheduled from r17 (newest driver
    # evidence r13) -- after this window the remaining tokens()
    # consumers with value-identical plans (dedup_simhash_pairs,
    # doc_fingerprint, bigram_pmi, dsir_importance, vocab_topk,
    # char_ngram_profile) are the stalest set and rotate to r19.
    "locus_breaker",
    "ontology_closure",
    "ot_variant_to_vcf",
    "overlap_join",
    "pack_sequences",
    "pairwise_ld",
    "panukbb_ld_align",
    "pivot_wide",
    "props_json_parse",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q_decile_stats",
    "stream_dedup",
    "stream_window_agg",
    "study_index_validate",
    "ukb_ppp_study_ingest",
    "variant_effect_normalise",
    # (d) plans changed after r18, with no snapshot evidence since: the
    # standalone L2G gene/distance keys now select from the factory's
    # shared family pieces, and q1 runs the exact long-sum kernel
    # (now functions/exact.py; q3/q5, which also sum through it,
    # already sit in (c)). They replace the three
    # sketch keys (kmv/hll/cms), whose plans are unchanged since their
    # r18 evidence.
    "l2g_gene_features",
    "l2g_distance_features",
    "q1_pricing_summary",
]



def full_registry() -> dict[str, QuerySpec]:
    """Merge every plan module's registry (import here to avoid cycles).

    Ordering is part of the external contract: consumers that sample a
    bounded prefix (the correctness snapshot stops at 50 entries) see
    ``_SNAPSHOT_PRIORITY`` keys first, then the remaining keys in
    module order.
    """
    import importlib
    import sys

    # Import each plan module independently: one module failing to
    # import (a bad constant, an API drift) must cost only ITS keys,
    # not the whole registry — a total-failure registry zeroes every
    # driver correctness row at once, which is strictly worse than a
    # visible partial outage.
    module_names = (
        "relational",
        "genomics",
        "qc",
        "stats_kernel",
        "llm_pipeline",
        "streaming_plan",
        "l2g",
        "l2g_features",
        "variants",
        "graph_ld",
        "ingestion",
        "studies",
        "finngen_meta",
        "sumstat_ingest",
        "infra",
    )
    merged: dict[str, QuerySpec] = {}
    for name in module_names:
        try:
            module = importlib.import_module(f"gentropy_spark.plans.{name}")
        except Exception as exc:  # noqa: BLE001
            print(
                f"full_registry: plan module {name!r} failed to import "
                f"and its queries are UNAVAILABLE: {exc}",
                file=sys.stderr,
            )
            continue
        overlap = merged.keys() & module.REGISTRY.keys()
        if overlap:
            raise ValueError(f"duplicate query keys: {sorted(overlap)}")
        merged.update(module.REGISTRY)
    registry: dict[str, QuerySpec] = {}
    for key in _SNAPSHOT_PRIORITY:
        if key in merged:
            registry[key] = merged.pop(key)
    registry.update(merged)
    return registry
