"""Round-17 work: two-level assignment totality (r16 advisory 2), the
semdedup oracle's two-level mirror (r16 advisory 1 — parity must hold
in the APPROXIMATE regime, not just under the exactness bound), the
assignment_recall_eval calibration key (r16 verdict item 2), and the
checkpoint-release failure counter (r16 advisory 4)."""

from __future__ import annotations

import math

import pytest

SF = "/root/testdata/sf0.001"


def _grid_vectors(n: int, dim: int = 4) -> list[tuple[int, list[float]]]:
    """Deterministic spread-out vectors (no RNG in tests)."""
    out = []
    for i in range(n):
        v = [math.sin(0.7 * i + j) + 0.01 * i * (j + 1) for j in range(dim)]
        out.append((i, v))
    return out


def test_two_level_empty_probed_cells_drop(spark):
    """A vector whose nearest cells hold zero centroids drops out: the
    documented precondition (every coarse cell holds a centroid) that
    semdedup's quantizer meets structurally."""
    from gentropy_spark.operators.similarity import two_level_nearest_centroid

    # Two far-apart cells; ALL centroids hash to cell 1, so cell 0 is
    # empty. Vector 100 sits on cell 0 -> its n_probe=1 nearest cell
    # is the empty one.
    cells = [(0, [0.0, 0.0]), (1, [10.0, 10.0])]
    cents = [(0, [9.0, 9.0]), (1, [11.0, 11.0])]
    vec_rows = [(100, [0.1, 0.1]), (101, [10.2, 10.2])]
    vdf = spark.createDataFrame(vec_rows, "vec_id long, v array<double>")
    cdf = spark.createDataFrame(cents, "centroid_id long, c array<double>")
    odf = spark.createDataFrame(cells, "cell_id long, cellv array<double>")

    minimal = two_level_nearest_centroid(vdf, cdf, odf, n_probe=1).collect()
    assert {r.vec_id for r in minimal} == {101}, (
        "minimal-plan contract: empty-probe vectors drop"
    )


def test_two_level_occupied_probing_matches_exact_when_boundary(spark):
    """Probing every cell (n_probe >= K2) keeps the structural
    exactness bound on a tie-heavy grid, where all centroids may land
    in fewer cells than K2."""
    from gentropy_spark.operators.similarity import two_level_nearest_centroid

    pts = _grid_vectors(60)
    cents = pts[:12]
    cells = pts[:6]  # K2 = 6, but all centroids may land in fewer
    vdf = spark.createDataFrame(pts, "vec_id long, v array<double>")
    cdf = spark.createDataFrame(cents, "centroid_id long, c array<double>")
    odf = spark.createDataFrame(cells, "cell_id long, cellv array<double>")
    got = {
        r.vec_id: r.centroid_id
        for r in two_level_nearest_centroid(vdf, cdf, odf, n_probe=6).collect()
    }

    def brute(v):
        return min(
            (
                round(sum((a - b) * (a - b) for a, b in zip(v, cv)), 6),
                cid,
            )
            for cid, cv in cents
        )[1]

    assert got == {i: brute(v) for i, v in pts}


def test_semdedup_oracle_parity_in_approximate_regime(spark, big_emb_dir):
    """r16 advisory 1 (medium): the oracle now mirrors the two-level
    quantizer, so Spark/DuckDB parity must hold BEYOND the exactness
    bound. Run the full semdedup key on a 9990-vector corpus
    (K2 = 7 > NPROBE = 6) and compare every row value-exact; also
    prove the regime is genuinely approximate (the two-level
    assignment differs from exact nearest-centroid for >= 1 vector)."""
    import duckdb

    from gentropy_spark.plans.llm_pipeline import (
        SEMDEDUP_NPROBE,
        SEMDEDUP_SQL,
        q_semdedup_prune,
    )

    sdf = q_semdedup_prune(spark, big_emb_dir)
    srows = sorted(tuple(r) for r in sdf.collect())

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{big_emb_dir}/embeddings.parquet'"
    )
    cols = [d[0] for d in con.execute(SEMDEDUP_SQL).description]
    assert cols == sdf.columns
    drows = sorted(tuple(r) for r in con.execute(SEMDEDUP_SQL).fetchall())
    assert len(srows) == 9990
    assert srows == drows

    # regime proof: K2 > NPROBE and the approximation is real
    k, k2 = con.execute(
        "WITH vecs AS (SELECT vec_id FROM embeddings), "
        "kv AS (SELECT GREATEST(8, CAST(CEIL(COUNT(*) / 256.0) AS BIGINT))"
        " AS k FROM vecs) "
        "SELECT k, CAST(CEIL(SQRT(k)) AS BIGINT) FROM kv"
    ).fetchone()
    assert k2 > SEMDEDUP_NPROBE, "fixture must sit in the approximate regime"
    exact = dict(
        con.execute(
            f"""
WITH vecs AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS MATERIALIZED (SELECT vec_id AS centroid_id, v AS c
        FROM vecs WHERE vec_id < {k}),
exact AS (
  SELECT vec_id, centroid_id FROM (
    SELECT w.vec_id, cn.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY w.vec_id ORDER BY
             ROUND(list_sum(list_transform(list_zip(w.v, cn.c),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))), 6),
             cn.centroid_id) AS rk
    FROM vecs w CROSS JOIN cents cn
  ) WHERE rk = 1
)
SELECT vec_id, centroid_id FROM exact
"""
        ).fetchall()
    )
    # srows schema: (vec_id, centroid_id, dist2, priority, keep)
    n_diff = sum(1 for r in srows if exact[r[0]] != r[1])
    assert n_diff > 0, (
        "fixture never exercises the approximation — parity is vacuous"
    )


def test_assignment_recall_eval_invariants(spark):
    """E52 calibration key: the boundary row (n_probe >= K2) must
    MEASURE recall 1.0 / Jaccard 1.0 with identical prune counts, and
    recall must be monotone non-decreasing in n_probe (probed cell
    sets are nested prefixes of one ranking)."""
    from gentropy_spark.plans.llm_pipeline import q_assignment_recall_eval

    rows = {
        r.n_probe: r for r in q_assignment_recall_eval(spark, SF).collect()
    }
    assert set(rows) == {1, 2, 4, 16}
    n, k, k2 = rows[16].n_vectors, rows[16].k, rows[16].k2
    assert k == math.ceil(n / 8) and k2 == math.ceil(math.sqrt(k))
    assert k2 > 4, "occupancy target must put sf0.001 in the approx regime"
    assert 16 >= k2
    bound = rows[16]
    assert bound.assignment_recall == 1.0
    assert bound.prune_jaccard == 1.0
    assert bound.pruned_two_level == bound.pruned_exact
    recalls = [rows[np_].assignment_recall for np_ in (1, 2, 4, 16)]
    assert recalls == sorted(recalls)
    assert all(0.0 <= r <= 1.0 for r in recalls)
    for r in rows.values():
        assert 0.0 <= r.prune_jaccard <= 1.0


@pytest.mark.parametrize("np_", [1, 4])
def test_assignment_eval_matches_operator(spark, np_):
    """Fidelity pin: the eval's shared-scan conditional-min assignment
    must equal two_level_nearest_centroid run at the same width — the
    curve measures the OPERATOR, not a reimplementation."""
    from pyspark.sql import functions as F

    from gentropy_spark.operators.similarity import (
        as_double,
        two_level_nearest_centroid,
    )
    from gentropy_spark.plans.llm_pipeline import (
        ASSIGN_EVAL_OCC,
        EMB_DIM,
    )
    from gentropy_spark.sources.readers import read_table

    emb = read_table(spark, SF, "embeddings")
    vecs = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    n = vecs.count()
    k = -(-n // ASSIGN_EVAL_OCC)
    k2 = math.ceil(math.sqrt(k))
    cents = vecs.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("c")
    )
    coarse = vecs.filter(F.col("vec_id") < k2).select(
        F.col("vec_id").alias("cell_id"), F.col("v").alias("cellv")
    )
    op = {
        r.vec_id: (r.centroid_id, r.dist2)
        for r in two_level_nearest_centroid(
            vecs, cents, coarse, n_probe=np_, dim=EMB_DIM
        ).collect()
    }
    from gentropy_spark.plans.llm_pipeline import q_assignment_recall_eval

    # reconstruct the eval's per-width assignment through its own
    # internals: cheaper to just recompute the candidate argmin the
    # eval uses — but the real pin is against the REGISTERED output,
    # so compare recalls instead: the eval's recall at np_ must equal
    # the operator-vs-operator recall computed here.
    exact = {
        r.vec_id: r.centroid_id
        for r in two_level_nearest_centroid(
            vecs, cents, coarse, n_probe=10**6, dim=EMB_DIM
        ).collect()
    }
    want = round(
        sum(1.0 for i, (c, _) in op.items() if exact[i] == c) / len(op), 6
    )
    got = {
        r.n_probe: r.assignment_recall
        for r in q_assignment_recall_eval(spark, SF).collect()
    }[np_]
    assert got == want


def test_corpus_curate_scored_no_extra_corpus_pass(spark):
    """r16 verdict item 4: the model-based gate must FUSE into the
    curation DAG's existing scans — the composed pipeline reads the
    documents table exactly as many times as the base one (the
    classifier's weight sum rides the staged __toks projection, not a
    new explode+groupBy pass)."""
    from gentropy_spark.plans.llm_pipeline import q_corpus_curate

    def n_doc_scans(df):
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        return sum(
            1
            for ln in opt.splitlines()
            if "Relation" in ln and "documents" in ln
        )

    base = n_doc_scans(q_corpus_curate(spark, SF))
    scored = n_doc_scans(q_corpus_curate(spark, SF, classifier_gate=True))
    assert scored == base, (
        f"classifier gate added corpus passes: {base} -> {scored}"
    )


def test_corpus_curate_scored_gate_semantics(spark):
    """The scored variant's kept set must equal the base kept set
    intersected with the standalone E46 classifier's score >= 0.48 —
    the fused fold and the explode+groupBy sum are the same integers —
    and the gate must be non-degenerate (drops some, keeps some)."""
    from pyspark.sql import functions as F

    from gentropy_spark.plans.llm_pipeline import (
        CURATE_MIN_QSCORE,
        q_corpus_curate,
        q_quality_classifier,
    )

    base_ids = {
        r.doc_id for r in q_corpus_curate(spark, SF).select("doc_id").collect()
    }
    scored_ids = {
        r.doc_id
        for r in q_corpus_curate(spark, SF, classifier_gate=True)
        .select("doc_id")
        .collect()
    }
    good = {
        r.doc_id
        for r in q_quality_classifier(spark, SF)
        .filter(F.col("quality_score") >= CURATE_MIN_QSCORE)
        .collect()
    }
    assert scored_ids == base_ids & good
    assert scored_ids and scored_ids != base_ids


def test_checkpoint_release_failures_counted(spark, sf_dir):
    """r16 advisory 4: checkpoint storage release must not be a
    silent best-effort — the RDD handle is captured at track time and
    failures are COUNTED. A full build+release cycle must leave the
    counter untouched."""
    import gentropy_spark.session as S
    from gentropy_spark.plans.llm_pipeline import q_bpe_train

    S.release_caches()
    before = S.RELEASE_FAILURES
    q_bpe_train(spark, sf_dir).collect()
    assert S._CHECKPOINTED, "bpe build must register its checkpoints"
    assert all(h is not None for _, h in S._CHECKPOINTED), (
        "RDD handles must be captured at track time"
    )
    S.release_caches()
    assert S.RELEASE_FAILURES == before, (
        "release must free every checkpoint without counted failures"
    )
