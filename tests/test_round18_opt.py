"""Round-18 optimization pins.

Each test pins an internals change made for performance in the r18
optimization round to the exact values (or behaviour) it must
preserve. See OPTIMIZATION_r18.md for the measurements that motivated
each change.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


# --- codegen stopword count / tokens() --------------------------------------
# tokens() and the stopword scores moved from CodegenFallback HOF
# lambdas (filter / aggregate) to natively code-generated expressions
# (array_remove / array_join). The values must be identical, including
# NULL and empty inputs and duplicate tokens.
def test_tokens_array_remove_matches_filter_lambda(spark):
    from gentropy_spark.functions.text import tokens

    df = spark.createDataFrame(
        [
            (1, "The cat, the hat & THE bat!"),
            (2, ""),
            (3, None),
            (4, "   ,,;;   "),
            (5, "a1b2 c3---d4 EEE"),
        ],
        "id long, text string",
    )
    old = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != F.lit("")
    )
    rows = df.select(
        "id", tokens(F.col("text")).alias("new"), old.alias("old")
    ).collect()
    for r in rows:
        assert r["new"] == r["old"], (r["id"], r["new"], r["old"])


def test_stopword_count_sql_matches_filter_reference(spark):
    from gentropy_spark.functions.text import STOPWORDS, stopword_count_sql

    df = spark.createDataFrame(
        [
            (1, ["the", "the", "of", "cat", "el", "the"]),
            (2, []),
            (3, None),
            (4, ["zzz"]),
            (5, ["don't", "l'", "the"]),  # quote-bearing tokens
        ],
        "id long, toks array<string>",
    )
    for lang, words in STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        old = F.size(
            F.filter(F.col("toks"), lambda x: F.array_contains(arr, x))
        )
        new = F.expr(stopword_count_sql("toks", words))
        rows = df.select("id", new.alias("new"), old.alias("old")).collect()
        for r in rows:
            assert r["new"] == r["old"], (lang, r["id"], r["new"], r["old"])


def test_stopword_count_sql_escapes_quotes(spark):
    from gentropy_spark.functions.text import stopword_count_sql

    df = spark.createDataFrame(
        [(1, ["don't", "x", "don't"])], "id long, toks array<string>"
    )
    got = df.select(
        F.expr(stopword_count_sql("toks", ["don't"])).alias("n")
    ).collect()[0]["n"]
    assert got == 2


# --- gwas_study_ingest: fused sample-count projection ------------------------
# n_cases / n_controls / n_samples moved from parse_sample_counts's
# explode_outer -> groupBy -> self-left-join (a second full orders scan
# + a study-keyed exchange) to per-row array expressions
# (studies.sample_counts). The study table is study-grain unique, so the
# per-row fold must equal the grouped sums on every edge case the
# parser handles. parse_sample_counts is kept here as that grouped
# reference.
def parse_sample_counts(
    parsed: DataFrame,
) -> DataFrame:
    """Per-study n_cases / n_controls / n_samples from the free-text
    initialSampleSize string.

    Reference semantics (gwas_catalog/study_index.py:545): split the
    string on ',\\s+' (in-number commas like '10,000' have no trailing
    space and survive), strip remaining commas, extract the leading
    integer, route by 'cases'/'controls' substring, sum per study.
    Entries with no digits contribute NULL (excluded from sums).
    """
    return (
        parsed.select(
            "study_id",
            F.explode_outer(F.split(F.col("initial_sample_size"), r",\s+")).alias(
                "samples"
            ),
        )
        .withColumn(
            "n",
            # try_cast: regexp_extract yields '' (not NULL) on
            # no-match, and ANSI CAST('') throws — the oracle's
            # NULLIF guard must map to NULL here too.
            F.regexp_extract(
                F.regexp_replace(F.col("samples"), ",", ""), r"[0-9]+", 0
            ).try_cast("long"),
        )
        .groupBy("study_id")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("samples").contains("cases"), F.col("n"))
                ),
                F.lit(0),
            ).alias("n_cases"),
            F.coalesce(
                F.sum(
                    F.when(F.col("samples").contains("controls"), F.col("n"))
                ),
                F.lit(0),
            ).alias("n_controls"),
            F.sum("n").alias("n_samples"),
        )
    )


def test_gwas_sample_counts_projection_matches_reference(spark):
    from gentropy_spark.plans.studies import sample_counts

    cases = [
        (1, "1,000 cases, 2,500 controls"),
        (2, "5000 individuals"),
        (3, None),
        (4, "no digits here"),
        (5, "300 cases"),
        (6, "12 controls, 34 controls, 5 cases"),
        (7, ""),
        (8, "cases, controls"),  # words, no numbers
    ]
    df = spark.createDataFrame(cases, "study_id long, initial_sample_size string")
    ref = {
        r["study_id"]: (r["n_cases"], r["n_controls"], r["n_samples"])
        for r in parse_sample_counts(df).collect()
    }
    got = {
        r["study_id"]: (r["n_cases"], r["n_controls"], r["n_samples"])
        for r in df.select("study_id", *sample_counts()).collect()
    }
    assert got == ref, {k: (got[k], ref[k]) for k in got if got[k] != ref[k]}


# --- subset-partitioning exchange sharing ------------------------------------
# The locus-prefix repartitions added in r18 must actually collapse the
# (feat-key groupBy, locus window) exchange pairs: l2g_score's plan
# carries exactly ONE data-side exchange (the (point, study) prefix
# that per_pair, the flank window and the rank window all ride).
def test_l2g_score_single_data_exchange(spark, sf_dir):
    import re

    from gentropy_spark.plans.l2g import q_l2g_score

    df = q_l2g_score.__wrapped__(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    n_ex = len(re.findall(r"\(\d+\) Exchange\n", plan))
    assert n_ex == 1, f"expected 1 data-side exchange, got {n_ex}"
