"""Round-14 fixes: exact TreeSHAP explanations, the coloc
beta-ratio directionality column, PQ ANN and the bench native-sums
symmetry rewriter."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F


# --- l2g_explain: exact interventional TreeSHAP ---------------------------
def _eval_ast(node, x):
    kind = node[0]
    if kind == "lit":
        return node[1]
    if kind == "ind":
        return 1.0 if x[node[1]] <= node[2] else 0.0
    a, b = _eval_ast(node[1], x), _eval_ast(node[2], x)
    return a + b if kind == "add" else a - b if kind == "sub" else a * b


def test_shap_local_accuracy_axiom():
    """sum(shap) + base == margin EXACTLY (Shapley efficiency) — per
    tree the coalition values telescope, so the identity must hold to
    float tolerance for ANY input, including out-of-range values."""
    from gentropy_spark.operators.l2g_model import (
        FEATURES,
        TREES,
        _eval_tree,
        shap_ast,
    )

    phis, base = shap_ast()
    rng = np.random.default_rng(7)
    for _ in range(100):
        x = {f: float(rng.uniform(-0.5, 1.5)) for f in FEATURES}
        cols = {f: np.array([x[f]]) for f in FEATURES}
        margin = sum(_eval_tree(t, cols, 1)[0] for t in TREES)
        total = base + sum(_eval_ast(a, x) for a in phis.values())
        assert abs(total - margin) < 1e-9


def test_shap_matches_bruteforce_on_synthetic_background():
    """Closed-form phi == brute-force Shapley over an explicit
    background matrix, with the frozen tables recomputed from that
    matrix — validates the coalition-value algebra (incl. the joint
    background terms) independently of the frozen constants."""
    import itertools
    import math

    from gentropy_spark.operators import l2g_model as M

    rng = np.random.default_rng(11)
    n_bg = 400
    bg = {f: rng.uniform(0, 1.2, n_bg) for f in M.FEATURES}
    # Recompute the frozen tables from this synthetic background.
    cdf = {
        (g, t): float((bg[g] <= t).mean()) for (g, t) in M.BG_CDF
    }
    joint = {
        ((g1, t1), (g2, t2)): float(
            ((bg[g1] <= t1) & (bg[g2] <= t2)).mean()
        )
        for ((g1, t1), (g2, t2)) in M.BG_JOINT
    }
    old_cdf, old_joint = M.BG_CDF, M.BG_JOINT
    M.BG_CDF, M.BG_JOINT = cdf, joint
    try:
        phis, base = M.shap_ast()
    finally:
        M.BG_CDF, M.BG_JOINT = old_cdf, old_joint

    mat = np.column_stack([bg[f] for f in M.FEATURES])
    fidx = {f: i for i, f in enumerate(M.FEATURES)}

    def margin_rows(m):
        cols = {f: m[:, fidx[f]] for f in M.FEATURES}
        return sum(M._eval_tree(t, cols, len(m)) for t in M.TREES)

    used = sorted(phis)
    fact = math.factorial
    x = mat[rng.integers(n_bg)]
    n = len(used)
    for g in used:
        tot = 0.0
        others = [u for u in used if u != g]
        for k in range(n):
            w = fact(k) * fact(n - 1 - k) / fact(n)
            for s in itertools.combinations(others, k):
                m1, m0 = mat.copy(), mat.copy()
                for f in s:
                    m1[:, fidx[f]] = x[fidx[f]]
                    m0[:, fidx[f]] = x[fidx[f]]
                m1[:, fidx[g]] = x[fidx[g]]
                tot += w * (margin_rows(m1).mean() - margin_rows(m0).mean())
        mine = _eval_ast(phis[g], {f: float(x[fidx[f]]) for f in M.FEATURES})
        assert abs(mine - tot) < 1e-9, (g, mine, tot)
    assert abs(base - margin_rows(mat).mean()) < 1e-9


def test_l2g_explain_sums_to_margin_on_real_rows(spark, sf_dir):
    from gentropy_spark.operators.l2g_model import shap_columns
    from gentropy_spark.plans.l2g import q_l2g_features, q_l2g_explain

    phis, base = shap_columns()
    feats = q_l2g_features(spark, sf_dir)
    from gentropy_spark.operators.l2g_model import FEATURES, margin_udf

    margin = margin_udf()(*[F.col(c) for c in FEATURES])
    total = F.lit(base)
    for g in sorted(phis):
        total = total + phis[g]
    bad = feats.select(
        (F.abs(total - margin) > 1e-9).alias("bad")
    ).filter("bad").count()
    assert bad == 0
    # The registry key carries every column the schema promises.
    cols = set(q_l2g_explain(spark, sf_dir).columns)
    assert {"margin", "shap_base"} <= cols
    assert any(c.startswith("shap_") and c != "shap_base" for c in cols)


# --- coloc directionality column -------------------------------------------
def test_coloc_outputs_beta_ratio_sign_avg(spark, sf_dir):
    from gentropy_spark.plans.genomics import q_coloc, q_ecaviar

    for fn in (q_coloc, q_ecaviar):
        df = fn(spark, sf_dir)
        assert "beta_ratio_sign_avg" in df.columns
        rows = df.select("beta_ratio_sign_avg").limit(50).collect()
        for r in rows:
            v = r[0]
            assert v is None or -1.0 <= v <= 1.0


# --- PQ ANN sanity -----------------------------------------------------------
def test_pq_topk_shape_and_selfmatch(spark, sf_dir):
    from gentropy_spark.operators.similarity import pq_topk
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("vec")
    )
    # ADC is asymmetric (query vs the QUANTIZED corpus vector), so a
    # generic self pair carries its own quantization error — but a
    # CODEBOOK SEED's subvectors are codewords, so querying a seed
    # vector must find itself at ADC distance exactly 0, rank 1.
    seed_id = corpus.agg(F.min("corpus_id")).collect()[0][0]
    queries = corpus.filter(F.col("corpus_id") == seed_id).select(
        F.col("corpus_id").alias("query_id"), "vec"
    )
    out = pq_topk(queries, corpus, k=3).collect()
    assert len(out) == 3
    by_rank = {r["pq_rank"]: r for r in out}
    assert by_rank[1]["corpus_id"] == seed_id
    assert by_rank[1]["adc_dist"] == 0.0
    assert by_rank[1]["cosine"] == 1.0
    assert all(r["adc_dist"] >= 0.0 for r in out)
