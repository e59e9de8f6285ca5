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


def test_two_level_totality_empty_probed_cells(spark):
    """r16 advisory 2: with probe_occupied_cells (the default) every
    vector gets exactly one assignment even when its nearest cells
    hold zero centroids; with the flag off, such vectors drop (the
    documented minimal-plan contract semdedup uses, where the
    quantizer is structurally all-occupied)."""
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

    total = two_level_nearest_centroid(vdf, cdf, odf, n_probe=1).collect()
    assert {r.vec_id for r in total} == {100, 101}, (
        "default operator must be total: one row per vector"
    )
    # vector 100's only occupied probe is cell 1 -> nearest centroid 0
    by_id = {r.vec_id: r.centroid_id for r in total}
    assert by_id[100] == 0 and by_id[101] == 1

    minimal = two_level_nearest_centroid(
        vdf, cdf, odf, n_probe=1, probe_occupied_cells=False
    ).collect()
    assert {r.vec_id for r in minimal} == {101}, (
        "minimal-plan contract: empty-probe vectors drop"
    )


def test_two_level_occupied_probing_matches_exact_when_boundary(spark):
    """Occupied-cell probing keeps the structural exactness bound:
    probing every OCCUPIED cell is exact even when K2 > n_probe, as
    long as n_probe >= #occupied cells."""
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


@pytest.fixture(scope="module")
def big_emb_dir(tmp_path_factory):
    """A synthetic embeddings table big enough that semdedup's
    two-level assignment leaves the exact regime:
    n = 9990 -> K = ceil(n/256) = 40, K2 = ceil(sqrt(40)) = 7 > 6 =
    SEMDEDUP_NPROBE. Deterministic (seeded numpy), same physical
    schema as the testdata table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    n, dim = 9990, 64
    rng = np.random.default_rng(17)
    emb = rng.standard_normal((n, dim)).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [row for row in emb.tolist()], pa.list_(pa.float32())
            ),
            "label": pa.array([i % 7 for i in range(n)], pa.int32()),
        }
    )
    d = tmp_path_factory.mktemp("bigemb")
    pq.write_table(tbl, str(d / "embeddings.parquet"))
    return str(d)


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
            vecs, cents, coarse, n_probe=np_, dim=EMB_DIM,
            probe_occupied_cells=False,
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
            vecs, cents, coarse, n_probe=10**6, dim=EMB_DIM,
            probe_occupied_cells=False,
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


def test_ann_pca_topk_invariants(spark):
    """E53: (a) the candidate generator IS the registered E51 verb
    (source-level composition pin); (b) k rows per query, ranks 1..k
    ordered by (cosine DESC, corpus_id); (c) candidate containment —
    every returned neighbour's projection bin is within ±1 of its
    query's bin (proves scoring never left the banded slice)."""
    import inspect

    import duckdb
    from pyspark.sql import functions as F

    from gentropy_spark.plans.llm_pipeline import (
        PCA_ANN_BINS,
        PCA_ANN_K,
        EMB_PCA_SQL,
        q_ann_pca_topk,
    )

    src = inspect.getsource(q_ann_pca_topk)
    assert "q_embedding_pca_power" in src, (
        "the prefilter must consume the registered E51 verb"
    )

    rows = q_ann_pca_topk(spark, SF).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    for q, rs in per_q.items():
        rs = sorted(rs, key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, PCA_ANN_K + 1))
        key = [(-r.cosine, r.corpus_id) for r in rs]
        assert key == sorted(key)

    # containment: recompute bins through the oracle's own CTEs
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF}/embeddings.parquet'"
    )
    bins = dict(
        con.execute(
            f"""
WITH pca AS MATERIALIZED ({EMB_PCA_SQL}),
exv AS (
  SELECT vec_id, g.idx AS dim, (embedding::DOUBLE[])[g.idx] AS xj
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(idx)
),
proj AS (
  SELECT e.vec_id,
         ROUND(CAST(SUM(CAST(ROUND((e.xj - p.mean) * p.loading, 9)
               AS DECIMAL(38,12))) AS DOUBLE), 6) AS proj
  FROM exv e JOIN pca p USING (dim) GROUP BY e.vec_id
),
rng AS (SELECT MIN(proj) AS mn, MAX(proj) AS mx
        FROM proj WHERE vec_id >= 10)
SELECT vec_id,
       CAST(CASE WHEN (mx - mn) / {float(PCA_ANN_BINS)!r} = 0 THEN 0
            ELSE LEAST(GREATEST(FLOOR((proj - mn)
              / ((mx - mn) / {float(PCA_ANN_BINS)!r})), 0),
              {PCA_ANN_BINS - 1}) END AS INT)
FROM proj, rng
"""
        ).fetchall()
    )
    for r in rows:
        assert abs(bins[r.query_id] - bins[r.corpus_id]) <= 1, (
            f"neighbour {r.corpus_id} outside query {r.query_id}'s band"
        )


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


# --- E54/E55: top-m deflated PCA and its projection consumer ---------------


def test_pca_topm_component1_agrees_with_e51(spark):
    """Component 1 of the Gram-form chain computes the same two-step
    power iteration as E51, just quantized at the covariance-table
    grain instead of per row — means are EXACT-equal (identical
    formula) and loadings/eigenvalue agree within the quantization
    band (the 9dp rounds enter at different points, so outputs can
    differ by an output quantum)."""
    from gentropy_spark.plans.llm_pipeline import (
        q_embedding_pca_power,
        q_embedding_pca_topm,
    )

    e51 = {
        r.dim: (r.mean, r.loading, r.eigenvalue)
        for r in q_embedding_pca_power(spark, SF).collect()
    }
    c1 = {
        r.dim: (r.mean, r.loading, r.eigenvalue)
        for r in q_embedding_pca_topm(spark, SF).collect()
        if r.component == 1
    }
    assert set(c1) == set(e51)
    for dim in c1:
        assert c1[dim][0] == e51[dim][0], "means must be exact-equal"
        assert abs(c1[dim][1] - e51[dim][1]) <= 2e-6, dim
        assert abs(c1[dim][2] - e51[dim][2]) <= 2e-6, dim


def test_pca_topm_matches_numpy_deflation(spark):
    """Full 3-component replication of the Gram formulation: one
    covariance table, the quantized power steps on it, matrix-level
    Hotelling deflation C' = C − v wᵀ − w vᵀ + (v·w) v vᵀ — in numpy
    (the E51 test pattern — 1e-6 band for the DECIMAL-vs-float sum
    boundary flips)."""
    import numpy as np

    from gentropy_spark.plans.llm_pipeline import (
        PCA_TOPM,
        q_embedding_pca_topm,
    )
    from gentropy_spark.sources.readers import read_table

    X = np.array(
        [
            [float(v) for v in r.embedding]
            for r in read_table(spark, SF, "embeddings").collect()
        ]
    )
    n, d = X.shape
    mu = np.array(
        [float(np.sum(X[:, j].astype(np.float64))) / n for j in range(d)]
    )
    C = X - mu
    G = np.array(
        [
            [
                float(np.sum(np.round(C[:, j] * C[:, k], 9))) / n
                for k in range(d)
            ]
            for j in range(d)
        ]
    )
    tv = (
        float(np.sum([np.sum(np.round(C[:, j] * C[:, j], 9)) for j in range(d)]))
        / n
    )

    def matvec(M, v):
        return np.array(
            [float(np.sum(np.round(M[j] * v, 9))) for j in range(d)]
        )

    expected = {}
    Gk = G
    for k in range(1, PCA_TOPM + 1):
        u1 = np.round(Gk[:, 0], 9)
        v1 = np.round(u1 / np.sqrt(np.sum(np.round(u1 * u1, 9))), 12)
        u2 = matvec(Gk, v1)
        nrm2 = float(np.sqrt(np.sum(np.round(u2 * u2, 9))))
        vf = np.round(u2 / nrm2, 12)
        for j in range(d):
            expected[(k, j + 1)] = (
                round(float(mu[j]), 6),
                round(float(vf[j]), 6),
                round(nrm2, 6),
                round(nrm2 / tv, 6),
            )
        if k < PCA_TOPM:
            w = matvec(Gk, vf)
            s = float(np.sum(np.round(vf * w, 9)))
            Gk = (
                Gk
                - np.outer(vf, w)
                - np.outer(w, vf)
                + s * np.outer(vf, vf)
            )
    rows = q_embedding_pca_topm(spark, SF).collect()
    got = {
        (r.component, r.dim): (r.mean, r.loading, r.eigenvalue, r.var_ratio)
        for r in rows
    }
    assert set(got) == set(expected)
    for key in got:
        for a, b in zip(got[key], expected[key]):
            assert abs(a - b) <= 1e-6, (key, got[key], expected[key])


def test_pca_topm_invariants(spark):
    """Spectral invariants on the fixture: unit loadings, descending
    eigenvalues/explained shares, pairwise near-orthogonality (the
    deflation keeps every later iterate in the earlier vectors'
    orthogonal complement up to the quantization), shares in (0, 1]
    summing below 1, and eigenvalues below the true top eigenvalue."""
    import numpy as np

    from gentropy_spark.plans.llm_pipeline import (
        PCA_TOPM,
        q_embedding_pca_topm,
    )
    from gentropy_spark.sources.readers import read_table

    rows = q_embedding_pca_topm(spark, SF).collect()
    d = max(r.dim for r in rows)
    assert len(rows) == PCA_TOPM * d
    V = {}
    eig = {}
    share = {}
    for k in range(1, PCA_TOPM + 1):
        comp = sorted(
            (r for r in rows if r.component == k), key=lambda r: r.dim
        )
        V[k] = np.array([r.loading for r in comp])
        assert abs(np.linalg.norm(V[k]) - 1.0) < 1e-4
        assert len({r.eigenvalue for r in comp}) == 1
        assert len({r.var_ratio for r in comp}) == 1
        eig[k] = comp[0].eigenvalue
        share[k] = comp[0].var_ratio
        assert 0.0 < share[k] <= 1.0
    for k in range(2, PCA_TOPM + 1):
        assert eig[k] <= eig[k - 1] + 1e-6
        assert share[k] <= share[k - 1] + 1e-6
    assert sum(share.values()) <= 1.0 + 1e-6
    for a in range(1, PCA_TOPM + 1):
        for b in range(a + 1, PCA_TOPM + 1):
            assert abs(float(V[a] @ V[b])) < 1e-4, (a, b)
    X = np.array(
        [
            [float(v) for v in r.embedding]
            for r in read_table(spark, SF, "embeddings").collect()
        ]
    )
    w = np.linalg.eigvalsh(np.cov(X.T, bias=True))
    assert eig[1] <= w[-1] + 1e-6


def test_pca_topm_caches_tracked_and_released(spark):
    """The mus/gram intermediates are sweep-scope cached; a full
    build+release cycle must free them without counted failures, and
    the kernel stays a single-partition task (one Arrow batch group
    — the whole iteration is corpus-free)."""
    import gentropy_spark.session as S
    from gentropy_spark.plans.llm_pipeline import q_embedding_pca_topm

    S.release_caches()
    before_fail = S.RELEASE_FAILURES
    n_cached = len(S._CACHED)
    q_embedding_pca_topm(spark, SF).collect()
    assert len(S._CACHED) >= n_cached + 2, (
        "mus and gram must register for sweep-scope release"
    )
    S.release_caches()
    assert S.RELEASE_FAILURES == before_fail
    assert not S._CACHED


def test_pca_project_matches_consumed_definition(spark):
    """E55 fidelity pin: pc_k equals the order-free quantized
    projection computed from the CONSUMED E54 output (its 6dp means
    and loadings — the composition contract), for every vector."""
    import numpy as np

    from gentropy_spark.plans.llm_pipeline import (
        q_embedding_pca_project,
        q_embedding_pca_topm,
    )
    from gentropy_spark.sources.readers import read_table

    topm = q_embedding_pca_topm(spark, SF).collect()
    mean = {}
    load = {}
    for r in topm:
        if r.component <= 2:
            mean[r.dim] = r.mean
            load[(r.component, r.dim)] = r.loading
    d = max(r.dim for r in topm)
    m1 = np.array([mean[j + 1] for j in range(d)])
    l1 = np.array([load[(1, j + 1)] for j in range(d)])
    l2 = np.array([load[(2, j + 1)] for j in range(d)])
    emb = {
        r.vec_id: np.array([float(v) for v in r.embedding])
        for r in read_table(spark, SF, "embeddings").collect()
    }
    rows = q_embedding_pca_project(spark, SF).collect()
    assert {r.vec_id for r in rows} == set(emb)
    for r in rows:
        x = emb[r.vec_id]
        pc1 = round(float(np.sum(np.round((x - m1) * l1, 9))), 6)
        pc2 = round(float(np.sum(np.round((x - m1) * l2, 9))), 6)
        assert abs(r.pc1 - pc1) <= 1e-6, r.vec_id
        assert abs(r.pc2 - pc2) <= 1e-6, r.vec_id
    # the map must actually spread: both axes carry variance
    assert len({r.pc1 for r in rows}) > 1 and len({r.pc2 for r in rows}) > 1


def test_pca_topm_oracle_parity_on_random_corpus(spark, big_emb_dir):
    """The Gram+kernel chain must stay value-exact against the
    relational DuckDB mirror on a seeded RANDOM 9990-vector corpus,
    not just the driver fixtures — this is the live test of the
    kernel's exactness claim (python Decimal HALF_UP quantization ==
    BigDecimal setScale == DuckDB DECIMAL sums), including the
    upper-triangle mirror and the left-associated deflation."""
    import duckdb

    from gentropy_spark.plans.llm_pipeline import (
        EMB_PCA_TOPM_SQL,
        q_embedding_pca_topm,
    )

    srows = {
        (r.component, r.dim): (r.mean, r.loading, r.eigenvalue, r.var_ratio)
        for r in q_embedding_pca_topm(spark, big_emb_dir).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{big_emb_dir}/embeddings.parquet'"
    )
    drows = {
        (int(c), int(d)): (m, lo, e, v)
        for c, d, m, lo, e, v in con.execute(EMB_PCA_TOPM_SQL).fetchall()
    }
    assert srows == drows


def test_pca_topm_plan_shape(spark, sf_dir):
    """Scale-shape pin for the covariance method: exactly ONE Arrow
    task (the eigen kernel — the whole m-component iteration), the
    mus/gram intermediates cached, and no per-vector grouping
    anywhere (the only vec_id use is the self-join's equi-key).
    Raw-text caveat: plan.toString() re-lists every cached child
    under its InMemoryRelation, so scan/exchange COUNTS are printer
    artifacts — pin node kinds, not counts."""
    from gentropy_spark.plans.llm_pipeline import q_embedding_pca_topm
    from gentropy_spark.session import release_caches

    release_caches()
    plan = (
        q_embedding_pca_topm.__wrapped__(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("MapInPandas") == 1, plan
    assert "InMemoryTableScan" in plan, plan
    assert "CartesianProduct" not in plan
    assert "keys=[vec_id" not in plan, (
        "no aggregate may group by vec_id — the kernel owns all "
        "post-Gram math"
    )
    release_caches()


def test_pca_project_no_corpus_aggregate(spark, sf_dir):
    """E55's corpus side must be a pure projection: no per-vector
    aggregate or join anywhere (keys=[vec_id absent — the old design
    exploded and re-grouped by vec_id), and the only Arrow task is
    E54's kernel riding the broadcast model side."""
    from gentropy_spark.plans.llm_pipeline import q_embedding_pca_project
    from gentropy_spark.session import release_caches

    release_caches()
    plan = (
        q_embedding_pca_project.__wrapped__(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("MapInPandas") == 1, plan
    assert "keys=[vec_id" not in plan, plan
    assert "CartesianProduct" not in plan
    release_caches()
