"""Façade API test: a reference-style pipeline ports line by line."""

from __future__ import annotations

from pyspark.sql import functions as F

from gentropy_spark.api import Colocalisation, StudyLocus, SummaryStatistics
from gentropy_spark.plans.genomics import sumstats


def test_reference_style_pipeline(spark, sf_dir):
    ss = SummaryStatistics(sumstats(spark, sf_dir))

    cleaned = ss.sanity_filter().pvalue_filter(50.0)
    assert cleaned.df.count() > 0

    loci = cleaned.locus_breaker_clumping(
        baseline_signif=50.0,
        distance_cutoff=43_200_000_000,
        lead_signif=150.0,
        flank=3_600_000_000,
    ).assign_study_locus_id(["study_id", "contig", "cluster_seq"])
    assert "study_locus_id" in loci.df.columns

    left = StudyLocus(loci.df.filter(F.col("study_id") % 2 == 0))
    right = StudyLocus(loci.df.filter(F.col("study_id") % 2 == 1))
    pairs = left.find_overlaps(right)
    plain = pairs.count()
    tiled = left.find_overlaps(right, tile_width=86_400_000_000).count()
    assert plain == tiled  # scale path emits identical pairs

    clumped = cleaned.window_based_clumping(distance=21_600_000_000)
    assert clumped.df.filter(F.col("n_members") < 1).count() == 0

    # coloc over synthetic tag overlaps built from the same frame
    from gentropy_spark.plans.genomics import _tag_overlaps

    res = Colocalisation.coloc(_tag_overlaps(spark, sf_dir))
    row = res.select(
        (F.col("h0") + F.col("h1") + F.col("h2") + F.col("h3") + F.col("h4")).alias(
            "total"
        )
    ).first()
    assert abs(row.total - 1.0) < 1e-9  # posteriors sum to 1


def test_corpus_facade_roundtrip(spark, sf_dir):
    from pyspark.sql import functions as F

    from gentropy_spark.api import Corpus
    from gentropy_spark.sources.readers import read_table

    corpus = Corpus(read_table(spark, sf_dir, "documents"))
    n_docs = corpus.df.count()
    canon = corpus.canonical_only()
    assert 0 < canon.df.count() <= n_docs
    sampled = canon.sample_stratified({"en": "8000"}, default="ffff")
    assert 0 < sampled.df.count() <= canon.df.count()
    packed = sampled.pack_sequences(budget_tokens=256)
    assert packed.filter(F.col("bin_id") < 0).count() == 0
    red = corpus.pii_redact()
    assert red.count() == n_docs


def _sorted_rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_corpus_verbs_equal_registry_keys(spark, sf_dir):
    """Each Corpus verb runs the function its registry key runs, so it
    returns that key's rows."""
    from gentropy_spark.api import Corpus
    from gentropy_spark.plans import full_registry
    from gentropy_spark.plans.llm_pipeline import (
        PACK_BUDGET_TOKENS,
        SAMPLE_DEFAULT,
        SAMPLE_RATES,
    )
    from gentropy_spark.sources.readers import read_table

    reg = full_registry()
    corpus = Corpus(read_table(spark, sf_dir, "documents"))

    packed = reg["pack_sequences"].fn(spark, sf_dir)
    assert _sorted_rows(corpus.pack_sequences(PACK_BUDGET_TOKENS)) == _sorted_rows(
        packed
    )

    sampled = reg["sample_stratified"].fn(spark, sf_dir)
    facade = corpus.sample_stratified(SAMPLE_RATES, SAMPLE_DEFAULT).df
    assert _sorted_rows(facade.select(*sampled.columns)) == _sorted_rows(sampled)

    redacted = reg["pii_redact"].fn(spark, sf_dir)
    facade = corpus.pii_redact().select(
        "doc_id", F.md5("text").alias("redacted_md5")
    )
    assert _sorted_rows(facade) == _sorted_rows(
        redacted.select("doc_id", "redacted_md5")
    )

    clusters = reg["dedup_clusters"].fn(spark, sf_dir)
    canonical = clusters.filter(F.col("is_canonical")).select("doc_id")
    assert _sorted_rows(corpus.canonical_only().df.select("doc_id")) == (
        _sorted_rows(canonical)
    )


def test_facade_pack_never_shuffles_documents_on_source_alone(spark, sf_dir):
    """The façade packs with the registry's two-level cumsum: document
    rows are shuffled on (source, __pack_bucket), and the one exchange
    on source alone carries the per-(source, bucket) totals to the
    offsets window, never a whole source's documents."""
    import re

    from gentropy_spark.api import Corpus
    from gentropy_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents")
    plan = Corpus(docs).pack_sequences(256)._jdf.queryExecution().executedPlan()
    lines = plan.toString().splitlines()
    assert any(
        "Exchange hashpartitioning" in line and "__pack_bucket" in line
        for line in lines
    )
    for i, line in enumerate(lines):
        if re.search(r"Exchange hashpartitioning\(source#\d+, \d+\)", line):
            child = lines[i + 1]
            assert "Aggregate(key=[source#" in child and "__pack_bucket" in child, (
                "\n".join(lines)
            )
