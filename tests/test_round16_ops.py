"""Round-16 fixes: bpe_encode's size-gated vocab join, semi_lead_clump's
AQE-scaled shuffle width, and checkpoint storage release (r15 verdict
items 2/4 + advisory 2)."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def test_bpe_encode_vocab_join_not_hinted(spark):
    """The vocabulary join must carry NO forced broadcast hint: the
    vocab side is corpus-unbounded (every distinct token), so a forced
    broadcast is a job-killing 8 GB-limit hit at web scale (r15
    verdict item 2). The trainer's own 1-row best-pair broadcasts are
    behind localCheckpoint cuts, so the encode plan's ONLY join is the
    vocab join — assert the whole analyzed plan is hint-free, and that
    AQE (free to pick) still chooses a broadcast at test scale."""
    from gentropy_spark.plans.llm_pipeline import q_bpe_encode

    df = q_bpe_encode(spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, (
        "vocab join must be size-gated by AQE, not force-broadcast"
    )
    assert "UnresolvedHint" not in analyzed
    # AQE remains free to broadcast when the vocab is actually small:
    # at sf0.001 the executed plan should pick a broadcast join.
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final, (
        "expected AQE to choose broadcast for the tiny test vocab"
    )


def test_bpe_checkpoints_released(spark):
    """Each bpe build localCheckpoints K vocab-grain states whose
    internal RDDs the CacheManager cannot see; release_caches() must
    free them (r15 advisory 2). The same holds for every other
    iterative key that checkpoints per round: the dedup label fixpoint,
    the PageRank iterations and the ontology closure depths."""
    from gentropy_spark.plans.llm_pipeline import BPE_TRAIN_MERGES
    from gentropy_spark.plans.registry import full_registry
    from gentropy_spark.session import release_caches

    reg = full_registry()
    sc = spark.sparkContext
    for key, min_states in (
        ("bpe_train", BPE_TRAIN_MERGES),
        ("dedup_clusters", 1),
        ("dup_pagerank", 1),
        ("ontology_closure", 1),
    ):
        release_caches()  # start from a clean slate
        before = sc._jsc.getPersistentRDDs().size()
        reg[key].fn(spark, SF).collect()
        during = sc._jsc.getPersistentRDDs().size()
        assert during >= before + min_states, (
            f"{key}: expected >= {min_states} checkpointed states, "
            f"saw {during - before}"
        )
        release_caches()
        after = sc._jsc.getPersistentRDDs().size()
        assert after <= before, (
            f"{key}: release_caches leaked {after - before} checkpointed RDDs"
        )


def test_semi_lead_clump_width_scales_with_conf(spark):
    """The stream's shuffle width must follow
    spark.sql.shuffle.partitions (cluster-scalable), not the driver
    host's defaultParallelism (r15 verdict item 4) — and values must
    be identical across widths (the carry logic is
    partitioning-agnostic)."""
    from gentropy_spark.operators.clumping import semi_lead_clump

    rows = [
        (i, 1, "c", 1000 * i, float((i * 37) % 101)) for i in range(1, 200)
    ]
    df = spark.createDataFrame(
        rows,
        "point_id long, study_id long, contig string, pos long, signif double",
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for width in ("3", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", width)
            out = semi_lead_clump(df, window=2500)
            results[width] = sorted(
                (r.point_id, r.is_semi_lead) for r in out.collect()
            )
        assert results["3"] == results["17"]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_semi_lead_clump_no_fixed_width_repartition():
    """Pin the source contract: the repartition call must name only
    key columns (no numPartitions literal), so AQE owns the width."""
    import inspect

    from gentropy_spark.operators import clumping

    src = inspect.getsource(clumping.semi_lead_clump)
    assert ".repartition(target" not in src
    assert "defaultParallelism" not in src


def _brute_assign(vecs, cents):
    """Numpy reference: exact nearest centroid, 6dp-rounded L2,
    centroid-id tie-break."""
    import numpy as np

    out = {}
    for vid, v in vecs:
        best = None
        for cid, c in cents:
            d = round(float(sum((a - b) * (a - b) for a, b in zip(v, c))), 6)
            if best is None or (d, cid) < best:
                best = (d, cid)
        out[vid] = best[1]
    return out


def _toy_vectors(n, dim=4, seed=7):
    """Deterministic spread-out vectors (LCG, no RNG imports)."""
    s = seed
    vecs = []
    for i in range(n):
        row = []
        for _ in range(dim):
            s = (s * 1103515245 + 12345) % 2147483647
            row.append(float(s % 1000) / 10.0)
        vecs.append((i, row))
    return vecs


def test_two_level_assign_exact_when_all_cells_probed(spark):
    """K2 <= n_probe probes every cell, so the two-level assignment
    must be bit-identical to exact nearest-centroid search (the
    structural size gate the r15 verdict asked for)."""
    from pyspark.sql import functions as F

    from gentropy_spark.operators.similarity import two_level_nearest_centroid

    pts = _toy_vectors(120)
    cents = [(i, v) for i, v in pts[:20]]  # K=20 -> K2 would be 5
    coarse = [(i, v) for i, v in pts[:5]]
    vdf = spark.createDataFrame(pts, "vec_id long, v array<double>")
    cdf = spark.createDataFrame(
        cents, "centroid_id long, c array<double>"
    )
    odf = spark.createDataFrame(coarse, "cell_id long, cellv array<double>")
    got = {
        r.vec_id: r.centroid_id
        for r in two_level_nearest_centroid(
            vdf, cdf, odf, n_probe=5
        ).collect()
    }
    assert got == _brute_assign(pts, cents)


def test_two_level_assign_approximate_regime_contained(spark):
    """K2 > n_probe: every vector still gets exactly one assignment,
    and the chosen centroid must live in one of the vector's probed
    cells (candidate containment — proves the equi-join shape)."""
    from gentropy_spark.operators.similarity import two_level_nearest_centroid

    pts = _toy_vectors(150)
    cents = pts[:25]
    coarse = pts[:5]
    vdf = spark.createDataFrame(pts, "vec_id long, v array<double>")
    cdf = spark.createDataFrame(cents, "centroid_id long, c array<double>")
    odf = spark.createDataFrame(coarse, "cell_id long, cellv array<double>")
    rows = two_level_nearest_centroid(vdf, cdf, odf, n_probe=2).collect()
    assert len(rows) == len(pts)
    assert len({r.vec_id for r in rows}) == len(pts)
    # reference: probed cells per vector, centroid->cell map
    cent_cell = _brute_assign(cents, coarse)

    def probed(v):
        ds = sorted(
            (
                round(
                    float(
                        sum((a - b) * (a - b) for a, b in zip(v, cv))
                    ),
                    6,
                ),
                cid,
            )
            for cid, cv in coarse
        )
        return {cid for _, cid in ds[:2]}

    by_id = dict(pts)
    for r in rows:
        assert cent_cell[r.centroid_id] in probed(by_id[r.vec_id]), (
            f"vec {r.vec_id} assigned outside its probed cells"
        )


def test_semdedup_assignment_has_no_centroid_crossjoin(spark):
    """Pin the r15 verdict fix: semdedup's assignment must reach
    centroids through the CELL EQUI-JOIN — the only cross joins in the
    assignment subplan are (a) the 1-row k/k2 constant filters (they
    carry a vec_id < _k condition) and (b) the K2-row coarse-table
    broadcasts into the probe and centroid-hash stages. The former
    n x K shape crossed vecs against the FULL centroid relation."""
    import inspect

    from pyspark.sql import functions as F

    from gentropy_spark.operators.similarity import (
        as_double,
        two_level_nearest_centroid,
    )
    from gentropy_spark.plans.llm_pipeline import (
        SEMDEDUP_NPROBE,
        SEMDEDUP_TARGET_OCC,
        q_semdedup_prune,
    )
    from gentropy_spark.sources.readers import read_table

    emb = read_table(spark, SF, "embeddings")
    vecs = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    k_row = vecs.agg(
        F.ceil(F.count("*") / F.lit(float(SEMDEDUP_TARGET_OCC))).alias("_k")
    )
    cents = (
        vecs.crossJoin(F.broadcast(k_row))
        .filter(F.col("vec_id") < F.col("_k"))
        .select(F.col("vec_id").alias("centroid_id"), F.col("v").alias("c"))
    )
    coarse = (
        vecs.crossJoin(
            F.broadcast(
                k_row.select(
                    F.ceil(F.sqrt(F.col("_k"))).cast("long").alias("_k2")
                )
            )
        )
        .filter(F.col("vec_id") < F.col("_k2"))
        .select(F.col("vec_id").alias("cell_id"), F.col("v").alias("cellv"))
    )
    assigned = two_level_nearest_centroid(
        vecs, cents, coarse, n_probe=SEMDEDUP_NPROBE
    )
    opt = assigned._jdf.queryExecution().optimizedPlan().toString()
    join_lines = [ln for ln in opt.splitlines() if "Join" in ln]
    equi = [ln for ln in join_lines if "Join Inner, (cell_id" in ln]
    assert len(equi) == 1, f"expected the cell equi-join, got {join_lines}"
    # every Cross join is broadcast-hinted; the UNCONDITIONED ones are
    # the sqrt-bounded coarse broadcasts (probe + centroid-hash) — the
    # old n x K centroid crossJoin would add a third.
    crosses = [ln for ln in join_lines if "Join Cross" in ln]
    assert all("strategy=broadcast" in ln for ln in crosses)
    uncond = [ln for ln in crosses if "vec_id" not in ln]
    assert len(uncond) <= 2, f"unexpected cross joins: {crosses}"
    # source-level pin: no broadcast of the centroid set
    src = inspect.getsource(q_semdedup_prune)
    assert "F.broadcast(cents)" not in src


def test_l2g_coloc_features_uses_study_type_annotation(spark):
    """r15 verdict item 6: the L2G coloc family must consume study
    types through the C13 annotation verb (a broadcast study-index
    LUT), not an inline id-hash on the fact table. Pin (a) the source
    routes through annotate_study_type, (b) the physical plan carries
    the LUT as a BroadcastHashJoin on right_study_id over a customer
    scan — no new data-side exchange."""
    import inspect

    from gentropy_spark.plans.l2g import q_l2g_coloc_features

    src = inspect.getsource(q_l2g_coloc_features)
    assert "annotate_study_type" in src
    assert 'withColumn("qtl_type"' not in src

    df = q_l2g_coloc_features(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    lut_joins = [
        ln
        for ln in plan.splitlines()
        if "BroadcastHashJoin" in ln and "right_study_id" in ln
    ]
    assert lut_joins, "study-type LUT broadcast join missing"
    assert "c_custkey" in plan, "LUT must come from the customer dim"


def test_ann_ivfpq_topk_invariants(spark):
    """E6d composed IVF-PQ: k rows per query with ranks 1..k ordered by
    (adc_dist, corpus_id); every returned member's inverted list is one
    of that query's probed lists (the candidate-containment proof that
    scoring never left the probed fraction)."""
    from pyspark.sql import functions as F

    from gentropy_spark.plans.llm_pipeline import (
        EMB_DIM,
        IVFPQ_N_LISTS,
        IVFPQ_N_PROBE,
        q_ann_ivfpq,
    )
    from gentropy_spark.sources.readers import read_table

    rows = q_ann_ivfpq(spark, SF).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert by_q, "no results"
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.ivfpq_rank)
        assert [r.ivfpq_rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 5
        keys = [(r.adc_dist, r.corpus_id) for r in rs]
        assert keys == sorted(keys), f"rank order broken for query {qid}"

    # containment: recompute lists/probes in python
    emb = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in read_table(spark, SF, "embeddings").collect()
    }
    cents = sorted(vid for vid in emb if vid >= 10)[:IVFPQ_N_LISTS]

    def sqd(a, b):
        return round(sum((x - y) * (x - y) for x, y in zip(a, b)), 6)

    def nearest_list(v):
        return min(cents, key=lambda c: (sqd(v, emb[c]), c))

    for qid, rs in by_q.items():
        probed = sorted(cents, key=lambda c: (sqd(emb[qid], emb[c]), c))[
            :IVFPQ_N_PROBE
        ]
        for r in rs:
            assert nearest_list(emb[r.corpus_id]) in probed, (
                f"member {r.corpus_id} outside query {qid}'s probed lists"
            )


def test_lm_kn_perplexity_matches_python_reference(spark, tmp_path):
    """E50 interpolated Kneser-Ney: per-doc perplexity equals an
    in-test pure-python implementation of
    P(w2|w1) = (c12-D)/c1 + D*N1+(w1.)/c1 * N1+(.w2)/T on a corpus
    small enough to enumerate, and differs from E30's add-alpha."""
    import math
    from collections import Counter, defaultdict

    from gentropy_spark.plans.llm_pipeline import (
        LM_KN_DISCOUNT,
        q_lm_kn_perplexity,
        q_lm_perplexity,
    )

    docs = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the log"),
        (3, "a cat and a dog and a bird"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/documents.parquet")

    # python reference
    bigrams_per_doc = {}
    all_bigrams = []
    for did, text in docs:
        ws = text.split()
        bs = list(zip(ws, ws[1:]))
        bigrams_per_doc[did] = bs
        all_bigrams.extend(bs)
    c12 = Counter(all_bigrams)
    c1 = Counter(w1 for w1, _ in all_bigrams)
    n_after = {
        w1: len({b for a, b in c12 if a == w1}) for w1 in c1
    }
    n_before = defaultdict(set)
    for a, b in c12:
        n_before[b].add(a)
    T = len(c12)
    D = LM_KN_DISCOUNT

    def p(w1, w2):
        return (c12[(w1, w2)] - D) / c1[w1] + (
            D * n_after[w1] / c1[w1]
        ) * (len(n_before[w2]) / T)

    expected = {}
    for did, bs in bigrams_per_doc.items():
        nlls = [round(-math.log2(p(a, b)), 9) for a, b in bs]
        h = sum(nlls) / len(nlls)
        expected[did] = (len(bs), round(h, 6), round(2**h, 4))

    got = {
        r.doc_id: (r.n_bigrams, r.cross_entropy_bits, r.perplexity)
        for r in q_lm_kn_perplexity(spark, str(tmp_path)).collect()
    }
    assert got == expected

    addk = {
        r.doc_id: r.perplexity
        for r in q_lm_perplexity(spark, str(tmp_path)).collect()
    }
    assert any(
        abs(addk[d] - got[d][2]) > 1e-6 for d in got
    ), "KN must differ from add-alpha smoothing"
