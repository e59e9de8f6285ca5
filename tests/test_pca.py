"""PCA / ANN-projection family (E51 embedding_pca_power, E53 ann_pca_topk,
E54 embedding_pca_topm, E55 embedding_pca_project): numeric references,
oracle parity on a random corpus, plan-shape and job-count pins, and
input-shape and codegen guards."""

from __future__ import annotations

import pytest
from conftest import SF_DIR as SF

_PCA_KEYS = (
    "embedding_pca_power",
    "embedding_pca_topm",
    "embedding_pca_project",
    "ann_pca_topk",
)


def _write_embeddings(path, n: int, width: int) -> str:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(width)
    emb = rng.standard_normal((n, width)).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(emb.tolist(), pa.list_(pa.float32())),
                "label": pa.array([i % 7 for i in range(n)], pa.int32()),
            }
        ),
        str(path / "embeddings.parquet"),
    )
    return str(path)


@pytest.mark.parametrize("width", [63, 65])
def test_pca_keys_reject_embeddings_of_another_width(spark, tmp_path, width):
    """The projection chains index dims 1..EMB_DIM: a narrower table
    used to break mid-chain and a wider one silently dropped its
    tail. Every PCA key must fail loudly, naming the width."""
    from gentropy_spark.plans import full_registry
    from gentropy_spark.plans.llm_pipeline import EMB_DIM
    from gentropy_spark.session import release_caches

    assert width != EMB_DIM
    sf = _write_embeddings(tmp_path, 24, width)
    reg = full_registry()
    try:
        for key in _PCA_KEYS:
            with pytest.raises(
                Exception, match=f"has width {width}, expected {EMB_DIM}"
            ):
                reg[key].fn.__wrapped__(spark, sf).collect()
    finally:
        release_caches()


def test_pca_power_runs_at_most_14_jobs(spark):
    """A fresh collect of E51 dispatches at most 14 Spark jobs (the
    build's parquet footer job is not counted). A tracked
    cache of the d-row μ table, which AQE already shares between its
    three consumers, cost 9 more: every memo hit after
    ``release_caches()`` re-persisted it and the next action refilled
    it (23 jobs)."""
    from gentropy_spark.plans.llm_pipeline import q_embedding_pca_power
    from gentropy_spark.session import release_caches

    release_caches()
    df = q_embedding_pca_power.__wrapped__(spark, SF)
    sc = spark.sparkContext
    sc.setJobGroup("pca-power-jobs", "job count of one E51 run")
    try:
        df.collect()
    finally:
        sc._jsc.clearJobGroup()
        release_caches()
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts reach the store
    jobs = sc.statusTracker().getJobIdsForGroup("pca-power-jobs")
    assert len(jobs) <= 14, f"{len(jobs)} jobs"


@pytest.mark.parametrize(
    "key", ["embedding_pca_power", "embedding_pca_project", "ann_pca_topk"]
)
def test_pca_projection_plan_does_not_grow_with_width(spark, key):
    """The per-row projection Σ_j round((x_j − μ_j)·l_j, 9) is one array
    kernel. An unrolled chain put EMB_DIM element_at terms per chain
    into the plan, which Spark re-planned and re-code-generated on
    every run of a memoized plan. What remains are E51's scalar
    lookups (step 1's first coordinate, the matvec's μ_j), once per
    copy of E51's plan: 4 in power and project, 16 in ann_pca_topk."""
    from gentropy_spark.plans import full_registry
    from gentropy_spark.session import release_caches

    try:
        plan = (
            full_registry()[key]
            .fn.__wrapped__(spark, SF)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
    finally:
        release_caches()
    assert plan.count("element_at(") <= 16, plan.count("element_at(")


def test_pca_keys_survive_codegen_hard_fail(spark):
    """Every stage of the PCA keys compiles, or legitimately runs
    outside whole-stage codegen: with fallback disabled a compile
    failure (e.g. a generated method over the JVM's 64KB limit) is a
    hard error instead of a silent interpreted stage. The projection
    kernel's lambdas are interpreted expressions by design."""
    from gentropy_spark.plans import full_registry
    from gentropy_spark.session import release_caches

    reg = full_registry()
    prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        for key in _PCA_KEYS:
            reg[key].fn.__wrapped__(spark, SF).collect()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)
        release_caches()


def test_embedding_pca_power_matches_numpy_reference(spark):
    """E51: the two quantized power steps must equal an exact numpy
    replication (same 9-dp term rounding, same order-free sums), and
    the loading must be a unit vector aligned with the true leading
    eigenvector's direction on the real sf0.001 embeddings."""
    import numpy as np

    from gentropy_spark.plans.llm_pipeline import q_embedding_pca_power
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

    def step(v):
        dd = np.array(
            [float(np.sum(np.round(C[i] * v, 9))) for i in range(n)]
        )
        u = np.array(
            [float(np.sum(np.round(dd * C[:, j], 9))) / n for j in range(d)]
        )
        return u

    u1 = step(np.eye(d)[0])
    v1 = np.round(u1 / np.sqrt(np.sum(np.round(u1 * u1, 9))), 12)
    u2 = step(v1)
    nrm2 = float(np.sqrt(np.sum(np.round(u2 * u2, 9))))
    expected = {
        j + 1: (round(float(mu[j]), 6), round(float(u2[j] / nrm2), 6))
        for j in range(d)
    }
    rows = q_embedding_pca_power(spark, SF).collect()
    got = {r.dim: (r.mean, r.loading) for r in rows}
    # quantized DECIMAL sums vs numpy float sums: identical up to the
    # output rounding except possible 1-ulp boundary flips — allow a
    # 1e-6 band (one output quantum)
    assert set(got) == set(expected)
    for j in got:
        assert abs(got[j][0] - expected[j][0]) <= 1e-6
        assert abs(got[j][1] - expected[j][1]) <= 1e-6
    ev = {r.eigenvalue for r in rows}
    assert len(ev) == 1
    assert abs(next(iter(ev)) - round(nrm2, 6)) <= 1e-6
    # unit loading; power-iteration monotonicity: the norm estimate
    # must not shrink between steps (||C v1|| >= ||C v0|| by
    # Cauchy-Schwarz for symmetric PSD C), and must stay below the
    # true leading eigenvalue
    load = np.array([got[j + 1][1] for j in range(d)])
    assert abs(np.linalg.norm(load) - 1.0) < 1e-4
    nrm1 = float(np.sqrt(np.sum(np.round(u1 * u1, 9))))
    assert nrm2 >= nrm1 - 1e-6, "power step decreased the norm estimate"
    w = np.linalg.eigvalsh(np.cov(X.T, bias=True))
    assert nrm2 <= w[-1] + 1e-6, "norm estimate exceeded the top eigenvalue"


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
