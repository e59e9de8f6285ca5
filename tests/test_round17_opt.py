"""Round-17 optimization pins.

Each test pins an internals change made for performance in the r17
optimization round to the exact values (or plan shape) it must
preserve. See OPTIMIZATION_r17.md for the measurements that motivated
each change.
"""

from __future__ import annotations

import pyspark.sql.functions as F


# --- bloom dense-array build: range scatter, not map scans -----------------
# The build of the 1-row dense bloom word array was rewritten from
# map_from_entries + transform(sequence, try_element_at) — O(n_words x
# set_words) INTERPRETED (GetMapValue is a linear scan; HOF lambdas are
# CodegenFallback) — to a range left-join + sorted collect_list scatter
# (O(n_words log n_words), ~1.1s -> ~0.2s for the build stage at
# sf0.1). Values must be bit-identical: same length, same order, same
# words, zeros where no shingle hashed.
def test_bloom_dense_array_matches_python_reference(spark, sf_dir):
    from gentropy_spark.functions.xhash import poly_hash, seeded
    from gentropy_spark.operators.dedup import shingles
    from gentropy_spark.plans.llm_pipeline import (
        _BENCH_PRED,
        _BLOOM_COEFFS,
        BLOOM_M_BITS,
        BLOOM_WORD_BITS,
        DECON_NGRAM,
        read_table,
    )

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.expr(_BENCH_PRED))
    sh = shingles(bench, n=DECON_NGRAM).select("shingle")
    h = poly_hash(F.col("shingle"))
    pos_rows = sh.select(
        *[
            (seeded(h, a, c) % BLOOM_M_BITS).alias(f"p{k}")
            for k, (a, c) in enumerate(_BLOOM_COEFFS)
        ]
    ).collect()
    n_words = BLOOM_M_BITS // BLOOM_WORD_BITS
    expected = [0] * n_words
    for row in pos_rows:
        for pos in row:
            expected[pos // BLOOM_WORD_BITS] |= 1 << (pos % BLOOM_WORD_BITS)

    # The engine's built array, reached through the registered key's
    # own plan (the probe reads element_at(bloom_words, ...)).
    from gentropy_spark.plans.llm_pipeline import q_bloom_decontaminate

    plan = q_bloom_decontaminate(spark, sf_dir)
    analyzed = plan._jdf.queryExecution().analyzed().toString()
    assert "map_from_entries" not in analyzed, (
        "bloom array build regressed to the interpreted map-scan shape"
    )
    # Reconstruct the array the probe actually consumed by re-running
    # the build subtree exactly as the plan does (range scatter).
    from gentropy_spark.plans.llm_pipeline import _BENCH_PRED as BP

    train_docs = docs.filter(~F.expr(BP))
    sh_train = shingles(train_docs, n=DECON_NGRAM)
    ht = poly_hash(F.col("shingle"))
    probe = plan.collect()  # materialises through the dense array
    # Independent value gate: every training shingle whose K positions
    # are all set in the EXPECTED array must be a bloom hit, and the
    # per-doc hit counts must match the key's output exactly.
    rows = sh_train.select(
        "doc_id",
        *[
            (seeded(ht, a, c) % BLOOM_M_BITS).alias(f"p{k}")
            for k, (a, c) in enumerate(_BLOOM_COEFFS)
        ],
    ).collect()
    from collections import defaultdict

    n_sh = defaultdict(int)
    n_hit = defaultdict(int)
    for r in rows:
        n_sh[r["doc_id"]] += 1
        hit = all(
            expected[r[f"p{k}"] // BLOOM_WORD_BITS]
            >> (r[f"p{k}"] % BLOOM_WORD_BITS)
            & 1
            for k in range(len(_BLOOM_COEFFS))
        )
        n_hit[r["doc_id"]] += int(hit)
    got = {r["doc_id"]: (r["n_shingles"], r["n_bloom_hits"]) for r in probe}
    want = {d: (n_sh[d], n_hit[d]) for d in n_sh}
    assert got == want


# --- shuffle-free bigram builder --------------------------------------------
# Both LM scorers' bigram tables were rebuilt from a lag() window over
# the exploded token stream (a corpus-token-grain exchange + sort) to
# arrays_zip of adjacent array slices (scan-local). The bigram
# MULTISET per doc must be identical, including <2-token docs.
def test_doc_bigrams_multiset_matches_lag_window(spark, sf_dir):
    from collections import Counter

    from pyspark.sql import Window

    from gentropy_spark.functions.text import tokens
    from gentropy_spark.plans.llm_pipeline import _doc_bigrams, read_table

    docs = read_table(spark, sf_dir, "documents")
    new = Counter(
        (r["doc_id"], r["w_prev"], r["w"])
        for r in _doc_bigrams(docs).collect()
    )
    tok = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "w")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    old = Counter(
        (r["doc_id"], r["w_prev"], r["w"])
        for r in tok.withColumn("w_prev", F.lag("w").over(w_doc))
        .filter(F.col("w_prev").isNotNull())
        .collect()
    )
    assert new == old and len(new) > 0


def test_doc_bigrams_short_docs_produce_no_rows(spark):
    from gentropy_spark.plans.llm_pipeline import _doc_bigrams

    docs = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "two words"), (4, "  ,, ;;")],
        "doc_id long, text string",
    )
    rows = _doc_bigrams(docs).collect()
    assert {(r["doc_id"], r["w_prev"], r["w"]) for r in rows} == {
        (3, "two", "words")
    }


# --- semdedup: one cached prefix table serves both quantizer levels --------
# The coarse cells are by construction the K2 = ceil(sqrt(K)) lowest-id
# centroids — a strict prefix of cents — yet the old shape built them
# with their own full corpus scan + k_row aggregate + cache fill
# (measured: 25 -> 22 jobs, 6 -> 4 embeddings scans in the final plan).
def test_semdedup_coarse_is_prefix_of_cents_cache(spark, sf_dir):
    import ast
    import inspect
    import textwrap

    from gentropy_spark.plans.llm_pipeline import q_semdedup_prune

    # exactly TWO track_cache calls in the builder (the shared
    # centroid-prefix table `cents_full` — coarse filters it — and the
    # `assigned` table); a coarse regression to its own corpus scan +
    # cache would add a third. Counted via the AST, not source
    # formatting (r17 advisory: the old exact-indentation match broke
    # on any reflow).
    fn = getattr(q_semdedup_prune, "__wrapped__", q_semdedup_prune)
    tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    n_track = sum(
        1
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and (
            (isinstance(node.func, ast.Name) and node.func.id == "track_cache")
            or (
                isinstance(node.func, ast.Attribute)
                and node.func.attr == "track_cache"
            )
        )
    )
    assert n_track == 2, (
        f"expected exactly 2 track_cache calls (shared centroid prefix "
        f"+ assigned), got {n_track} — coarse regressed to its own cache?"
    )
    df = q_semdedup_prune(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert plan.count("embeddings.parquet") <= 4, (
        f"expected <= 4 embeddings scans, got "
        f"{plan.count('embeddings.parquet')}"
    )


def test_lm_kn_plan_has_no_window_node(spark, sf_dir):
    from gentropy_spark.plans.llm_pipeline import q_lm_kn_perplexity

    df = q_lm_kn_perplexity(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" not in plan, (
        "bigram build regressed to the lag-window (token-grain "
        "exchange + sort)"
    )
