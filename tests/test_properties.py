"""Property-based tests (hypothesis) for kernels and operator invariants.

Complements the oracle gate: the oracle proves Spark==DuckDB; these
prove both match the *mathematical* contract on arbitrary inputs.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gentropy_spark.functions.distributions import (
    chi2_isf_1df_col,
    norm_sf_col,
    probit_col,
)
from gentropy_spark.functions.stats import pvalue_from_neglog, split_pvalue
from gentropy_spark.operators.clumping import window_clump

# One shared strategy run per property keeps Spark round-trips bounded:
# generate a batch of values, evaluate them in one DataFrame.


@settings(max_examples=10, deadline=None)
@given(st.lists(st.floats(min_value=1e-12, max_value=1.0, exclude_max=False), min_size=1, max_size=30))
def test_pvalue_split_roundtrip(spark, ps):
    """split → recompose must reproduce p within mantissa rounding (3dp)."""
    df = spark.createDataFrame([(p,) for p in ps], ["p"])
    m, e = split_pvalue(F.col("p"))
    rows = df.select("p", m, e).collect()
    for r in rows:
        recomposed = r.p_mantissa * 10.0 ** r.p_exponent
        assert abs(recomposed - r.p) <= 0.0005 * 10.0 ** r.p_exponent
        assert 1.0 <= r.p_mantissa < 10.0 or (r.p_mantissa == 10.0)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.floats(min_value=0.01, max_value=300.0), min_size=1, max_size=30))
def test_pvalue_from_neglog_roundtrip(spark, nlps):
    df = spark.createDataFrame([(x,) for x in nlps], ["nlp"])
    m, e = pvalue_from_neglog(F.col("nlp"))
    for r in df.select("nlp", m, e).collect():
        assert abs(-(math.log10(r.p_mantissa) + r.p_exponent) - r.nlp) < 1e-6


@settings(max_examples=10, deadline=None)
@given(st.lists(st.floats(min_value=0.001, max_value=0.999), min_size=1, max_size=30))
def test_probit_monotone_and_symmetric(spark, ps):
    df = spark.createDataFrame([(p,) for p in sorted(set(ps))], ["p"])
    rows = df.select(
        "p",
        probit_col(F.col("p")).alias("z"),
        norm_sf_col(probit_col(F.col("p"))).alias("sf_of_z"),
        chi2_isf_1df_col(F.col("p")).alias("chi2"),
    ).collect()
    zs = [r.z for r in rows]
    assert zs == sorted(zs)  # monotone in p
    for r in rows:
        # norm_sf(probit(p)) == 1 - p (within kernel tolerance)
        assert abs(r.sf_of_z - (1.0 - r.p)) < 5e-6
        assert r.chi2 >= 0


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),  # pos
            st.floats(min_value=0.0, max_value=100.0),  # signif
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=2_000),
)
def test_window_clump_invariants(spark, points, window):
    """Invariants for any input: (1) cluster leads are at least one
    gap-boundary apart across clusters, (2) every point belongs to
    exactly one cluster, (3) the lead carries the cluster max signif."""
    data = [("s", "c", pos, i, sig) for i, (pos, sig) in enumerate(points)]
    df = spark.createDataFrame(
        data, ["study_id", "contig", "pos", "point_id", "signif"]
    )
    leads = window_clump(df, window=window).collect()
    assert sum(r.n_members for r in leads) == len(points)
    by_cluster = sorted(leads, key=lambda r: r.cluster_start)
    for a, b in zip(by_cluster, by_cluster[1:]):
        assert b.cluster_start - a.cluster_end > window  # separated clusters
    max_by_cluster = {}
    for pos, sig in points:
        for r in by_cluster:
            if r.cluster_start <= pos <= r.cluster_end:
                max_by_cluster.setdefault(r.cluster_seq, 0.0)
                max_by_cluster[r.cluster_seq] = max(
                    max_by_cluster[r.cluster_seq], sig
                )
    for r in leads:
        assert r.lead_signif == max_by_cluster[r.cluster_seq]


@settings(max_examples=15, deadline=None)
@given(
    st.integers(min_value=2, max_value=12),
    st.integers(min_value=0, max_value=2**31),
)
def test_susie_pip_invariants(p, seed):
    """SuSiE-inf on arbitrary well-conditioned inputs: per-effect PIPs
    are a probability distribution over SNPs; posterior precision is
    positive; the fit is deterministic."""
    import numpy as np

    from gentropy_spark.operators.susie import susie_inf_fit

    rng = np.random.RandomState(seed % (2**31))
    A = rng.randn(p, p + 3)
    R = A @ A.T
    d = np.sqrt(np.diag(R))
    R = R / np.outer(d, d)
    z = rng.randn(p) * 3
    fit = susie_inf_fit(z, R=R, L=min(3, p), est_tausq=True)
    assert np.all(fit["PIP"] >= 0) and np.all(fit["PIP"] <= 1 + 1e-12)
    col_sums = fit["PIP"].sum(axis=0)
    assert np.allclose(col_sums, 1.0, atol=1e-6)
    assert np.all(fit["omega"] > 0)
    fit2 = susie_inf_fit(z, R=R, L=min(3, p), est_tausq=True)
    assert np.array_equal(fit["PIP"], fit2["PIP"])


@settings(max_examples=15, deadline=None)
@given(
    st.integers(min_value=2, max_value=10),
    st.integers(min_value=0, max_value=2**31),
)
def test_carma_pip_invariants(p, seed):
    """CARMA shotgun: PIPs in [0,1]; outliers never inside the best
    model; deterministic across calls."""
    import numpy as np

    from gentropy_spark.operators.carma_full import carma_shotgun

    rng = np.random.RandomState(seed % (2**31))
    A = rng.randn(p, p + 3)
    R = A @ A.T
    d = np.sqrt(np.diag(R))
    R = R / np.outer(d, d)
    z = rng.randn(p) * 2
    res = carma_shotgun(z, R, num_causal=min(3, p))
    assert np.all(res["pip"] >= 0) and np.all(res["pip"] <= 1 + 1e-12)
    assert not (set(res["outliers"]) & set(res["best_model"]))
    res2 = carma_shotgun(z, R, num_causal=min(3, p))
    assert np.array_equal(res["pip"], res2["pip"])


@settings(max_examples=8, deadline=None)
@given(st.data())
def test_span_self_pairs_matches_bruteforce(spark, data):
    """The tiled span join equals the O(n^2) definition on random data."""
    from gentropy_spark.operators.overlaps import span_self_pairs

    rows = data.draw(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=2),     # key group
                st.integers(min_value=0, max_value=500),   # pos
            ),
            min_size=1,
            max_size=40,
        )
    )
    span = data.draw(st.integers(min_value=1, max_value=200))
    df = spark.createDataFrame(
        [(f"g{g}", pos, i) for i, (g, pos) in enumerate(rows)],
        ["grp", "pos", "rid"],
    )
    got = {
        (r.rid, r.rid_b)
        for r in span_self_pairs(df, ["grp"], "pos", span).collect()
    }
    want = {
        (i, j)
        for i, (g1, p1) in enumerate(rows)
        for j, (g2, p2) in enumerate(rows)
        if g1 == g2 and abs(p1 - p2) <= span
    }
    assert got == want


@settings(max_examples=8, deadline=None)
@given(st.data())
def test_duplicate_clusters_matches_union_find(spark, data):
    """Min-label propagation equals a reference union-find."""
    from gentropy_spark.operators.dedup import duplicate_clusters

    n = data.draw(st.integers(min_value=1, max_value=20))
    edges = data.draw(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=n - 1),
                st.integers(min_value=0, max_value=n - 1),
            ),
            max_size=25,
        )
    )
    edges = [(a, b) for a, b in edges if a != b]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: find(i) for i in range(n)}

    docs = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    edf = (
        spark.createDataFrame(edges, "id_a long, id_b long")
        if edges
        else spark.createDataFrame([], "id_a long, id_b long")
    )
    got = {
        r.doc_id: r.cluster_id
        for r in duplicate_clusters(docs, edf, max_iters=40).collect()
    }
    assert got == want


# --- r8 property tests -----------------------------------------------------
def test_variant_effect_normalised_bounds(spark):
    """Every normalised predictor score must land in [-1, 1] (the
    common axis contract of VariantEffectNormaliser) or be NULL
    (unknown PolyPhen / unmapped LOFTEE assessments)."""
    from gentropy_spark.plans.variants import q_variant_effect_normalise

    rows = q_variant_effect_normalise(spark, "/root/testdata/sf0.001").collect()
    assert rows
    seen_methods = set()
    for r in rows:
        seen_methods.add(r.method)
        if r.normalised_score is not None:
            assert -1.0 - 1e-9 <= r.normalised_score <= 1.0 + 1e-9, r
    # All 11 predictor branches must actually be exercised.
    assert len(seen_methods) == 11


def test_ancestry_even_split_conserves_mass_property(spark):
    """Property: per-(study,stage) sum of split counts never exceeds
    the raw total, and the deficit is < n_parts per row (truncation)."""
    import pyspark.sql.functions as F
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from gentropy_spark.plans.studies import _ANC_SPLIT_RE

    labels = st.sampled_from(
        ["European", "African, East Asian", "A, B, C, D", "Solo"]
    )

    @settings(max_examples=5, deadline=None)
    @given(
        rows=st.lists(
            st.tuples(labels, st.integers(min_value=1, max_value=10_000)),
            min_size=1,
            max_size=8,
            unique=True,
        )
    )
    def check(rows):
        df = spark.createDataFrame(rows, ["label", "n"])
        parts = F.split(F.col("label"), _ANC_SPLIT_RE)
        out = df.select(
            "n",
            F.size(parts).alias("k"),
            F.explode(parts).alias("ancestry"),
            (F.col("n") / F.size(parts)).cast("long").alias("part"),
        )
        agg = out.agg(
            F.sum("part").alias("split_sum"),
            F.sum(F.col("n") / F.col("k")).alias("ideal"),
        ).first()
        raw_total = sum(n for _, n in rows)
        assert agg.split_sum <= raw_total
        # deficit bounded by (k-1) per raw row (integer truncation)
        assert raw_total - agg.split_sum <= sum(
            len(_split_label(lbl)) - 1 for lbl, _ in rows
        )

    def _split_label(lbl):
        import re

        return re.split(r",\s(?![^()]*\))", lbl)

    check()


def test_bpe_pair_counts_matches_python_reference(spark):
    """BPE pair statistics must equal a pure-python recount on the
    same corpus (small SF exhaustive check)."""
    import re
    from collections import Counter

    import duckdb

    from gentropy_spark.plans.llm_pipeline import q_bpe_pair_counts

    sf = "/root/testdata/sf0.001"
    got = {
        r.pair: r.pair_count
        for r in q_bpe_pair_counts(spark, sf).collect()
    }
    con = duckdb.connect()
    texts = [
        t[0]
        for t in con.execute(
            f"SELECT text FROM '{sf}/documents.parquet'"
        ).fetchall()
    ]
    word_freq = Counter()
    for t in texts:
        for w in re.split(r"[^a-z0-9]+", t.lower()):
            if w:
                word_freq[w] += 1
    expected = Counter()
    for w, n in word_freq.items():
        for i in range(len(w) - 1):
            expected[w[i : i + 2]] += n
    for pair, cnt in got.items():
        assert expected[pair] == cnt, pair
    # the spark top-1 really is the global argmax
    top_pair = max(got, key=got.get)
    assert got[top_pair] == max(expected.values())


def test_dsir_importance_zero_sum_property(spark):
    """Σ_docs n_feat-weighted mean log ratio over the RAW corpus must
    be near the target-vs-raw KL structure: raw-weighted expectation
    of (log p_t - log p_r) equals -KL(p_r || p_t) <= 0."""
    from gentropy_spark.plans.llm_pipeline import q_dsir_importance

    rows = q_dsir_importance(spark, "/root/testdata/sf0.001").collect()
    total_feat = sum(r.n_feat for r in rows)
    mean_ratio = sum(r.log_importance for r in rows) / total_feat
    assert mean_ratio <= 1e-9  # -KL <= 0


@pytest.mark.parametrize("scale", [6, 9, 12])
def test_exact_sum_matches_decimal_sum(spark, scale):
    """Property: ``exact_sum`` (functions/exact.py) is bit-identical to
    CAST(SUM(CAST(x AS DECIMAL(38,s))) AS DOUBLE), grouped and over a
    window, for mixed-sign values, many groups, NULLs, all-NULL groups,
    and both branches of the per-row conversion — the negative-value
    shift/AND limb identity, the rint guard and the NULL propagation
    are exactly what every parity sum rests on. ``exact_decimal_sum``
    equals the decimal sum itself, type included. Single-row groups
    pin the per-row conversion on unrounded values of every magnitude
    and on values just either side of a HALF_UP tie."""
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import Window

    from gentropy_spark.functions.exact import exact_decimal_sum, exact_sum

    u = 10**scale  # units per 1.0
    rng = random.Random(20260814 + scale)
    rows = []
    for g in range(40):
        for _ in range(rng.randint(1, 60)):
            if rng.random() < 0.05:
                v = None
            else:
                v = rng.uniform(-1e6, 1e6) * (10 ** rng.randint(-6, 3)) * 1e6 / u
                if rng.random() < 0.5:
                    # values with at most `scale` decimals, as the
                    # round(·, 9) terms summed at scale 12
                    v = round(v, rng.randint(0, scale))
            rows.append((g, v))
    rows.extend([(98, None), (99, -1.0 / u), (99, 1.5 / u)])
    # The per-row conversion takes rint(x * 10^s) while
    # |y - rint(y)| + |y| * 2^-51 < 1/2 (y = x * 10^s); everything else
    # takes the decimal cast. Pin both branches and the edges between
    # them.
    edge = {
        # ties at scale + 1 dp, both signs
        100: [s * (k + 0.5) / u for k in (0, 1, 7, 123456, 10**9) for s in (1, -1)],
        # just inside and just outside |x * 10^s| = 2^50
        101: [s * (2**50 + d) / u for d in (-3, -1, 0, 1, 3) for s in (1, -1)],
        # large magnitudes (|x * 10^s| = 1e18 and 2^53); rint(x * 10^s)
        # is off by up to ulp/2 = 64 units at 1e18, which the
        # cancelling pair makes visible in the sum
        102: [1e18 / u, -1e18 / u, 2**53 / u, -(2**53) / u],
        105: [1e18 / u + 0.25e6 / u, -1e18 / u],
        # groups that mix both branches
        103: [12.34, -0.01, 2.5e-6, 1e18 / u, 99.99],
        104: [2**50 / u - 1e6 / u, 2**50 / u, -7.5e-6, 0.5],
        # |x * 10^s| past the long unit range
        106: [1e19 / u, 1.0],
    }
    rows.extend((g, v) for g, vs in edge.items() for v in vs)
    # one row per group: unrounded values over 22 decades, values a
    # few ulps either side of a tie (k + 1/2 units), and the ties on
    # which rint(y) misses the cast's integer though |y - rint(y)| < 1/2
    # (found through a model of the cast: HALF_UP of the shortest
    # round-trip string), which the guard must refuse
    single = [
        rng.choice((1, -1)) * rng.uniform(1, 10) * 10.0 ** rng.randint(-9, 12)
        for _ in range(600)
    ]
    misses = []
    for _ in range(40000):
        t = (rng.randint(0, 10 ** rng.randint(0, 14)) + 0.5) / u
        m = rng.randint(-6, 6)
        for _ in range(abs(m)):
            t = math.nextafter(t, math.copysign(math.inf, m))
        y = t * u
        cast = Decimal(repr(t)).scaleb(scale).quantize(Decimal(1), ROUND_HALF_UP)
        if abs(y - round(y)) < 0.5 and round(y) != cast:
            misses.append(-t if len(misses) % 2 else t)
        elif len(single) < 1200:
            single.append(t)
    single.extend(misses)
    rows.extend((1000 + i, v) for i, v in enumerate(single))

    def rint_branch(v: float) -> bool:
        y = v * u
        return abs(y - round(y)) + abs(y) * 2.0**-51 < 0.5

    if scale <= 6:  # the scales that run the long-sum kernel
        for g in (103, 104):
            assert len({rint_branch(v) for v in edge[g]}) == 2, g
        assert not any(rint_branch(v) for g in (100, 102, 105) for v in edge[g])
        assert any(rint_branch(v) for g, v in rows if g < 40 and v is not None)
        # the guard admits rows far from an integer, and refuses ties
        near_half = [v for v in single if abs(v * u - round(v * u)) > 0.45]
        assert any(rint_branch(v) for v in near_half)
        assert len(misses) >= 10 and not any(rint_branch(v) for v in misses)

    dec = f"decimal(38,{scale})"
    df = spark.createDataFrame(rows, "g long, x double")
    x = F.col("x")
    want_dec = F.sum(x.cast(dec))
    got = (
        df.groupBy("g")
        .agg(exact_sum(x, scale).alias("s"), exact_decimal_sum(x, scale).alias("d"))
        .orderBy("g")
    )
    want = (
        df.groupBy("g")
        .agg(want_dec.cast("double").alias("s"), want_dec.alias("d"))
        .orderBy("g")
    )
    assert got.schema == want.schema
    w = Window.partitionBy("g")
    got_w = df.select("g", exact_sum(x, scale, over=w).alias("s")).distinct()
    want_w = df.select("g", want_dec.over(w).cast("double").alias("s")).distinct()
    for got_rows, want_rows in (
        (got.collect(), want.collect()),
        (got_w.orderBy("g").collect(), want_w.orderBy("g").collect()),
    ):
        assert len(got_rows) == len(want_rows) == len({r[0] for r in rows})
        for a, b in zip(got_rows, want_rows):
            assert a.g == b.g
            for f in a.__fields__[1:]:
                # bit-identical, not approximately equal
                assert (a[f] is None) == (b[f] is None), (a.g, f)
                assert a[f] == b[f] and str(a[f]) == str(b[f]), (a.g, f, a[f], b[f])


@pytest.mark.parametrize("scale", [6, 9, 12])
def test_exact_sum_keeps_decimal_range(spark, scale):
    """``exact_sum`` holds the decimal sum's range, |sum| < 10^(38-s):
    a group of 1.2M rows just inside the long unit range (|x * 10^s|
    = 8.9e18, a sum of ~1.07e25 units, past what a two-limb long split
    holds) and groups whose large rows sum past 10^(37-s) come out
    bit-identical to the decimal sum, where a long overflow or a
    DECIMAL(37,s) part would raise."""
    n = 1_200_000
    near_long = 8.9e18 / 10**scale
    many = spark.range(n).select(
        F.lit(0).cast("long").alias("g"),
        (F.lit(near_long) * (1 + (F.col("id") % 7) * 1e-6)).alias("x"),
    )
    big = 4.0 * 10.0 ** (37 - scale)
    rows = [(2, big), (2, big), (2, 1.5), (2, near_long), (3, -big), (3, -big), (3, -0.25)]
    df = many.unionByName(spark.createDataFrame(rows, "g long, x double"))
    from gentropy_spark.functions.exact import exact_decimal_sum, exact_sum

    dec = f"decimal(38,{scale})"
    want_dec = F.sum(F.col("x").cast(dec))
    got = df.groupBy("g").agg(
        exact_sum(F.col("x"), scale).alias("s"),
        exact_decimal_sum(F.col("x"), scale).alias("d"),
    )
    want = df.groupBy("g").agg(want_dec.cast("double").alias("s"), want_dec.alias("d"))
    got_rows = sorted(got.collect())
    want_rows = sorted(want.collect())
    assert len(got_rows) == 3
    assert [tuple(r) for r in got_rows] == [tuple(r) for r in want_rows]
    assert [str(r.s) for r in got_rows] == [str(r.s) for r in want_rows]
    assert abs(got_rows[1].d) > 10 ** (37 - scale)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),    # order-key gap
            st.sampled_from(["a", "b", "c"]),          # low-card part key
            st.integers(min_value=-50, max_value=50),  # value (negatives ok)
        ),
        min_size=1,
        max_size=120,
    ),
    st.sampled_from([1, 7, 64]),
)
def test_bucketed_cumsum_property(spark, rows, span):
    """r11: two-level cumsum is row-identical to the single-level
    window for arbitrary frames — irregular order-key gaps, negative
    values, degenerate and large bucket spans. Order keys are unique
    per part (cumulative gaps), matching both the packer's real
    contract (doc_id) and the operator's documented non-null/ordered
    semantics; with ties a row-level running sum is not well-defined
    in EITHER form."""
    from collections import defaultdict

    from pyspark.sql import Window

    from gentropy_spark.operators.packing import bucketed_cumsum

    next_ord: dict[str, int] = defaultdict(int)
    data = []
    for gap, p, v in rows:
        next_ord[p] += gap + 1  # strictly increasing per part
        data.append((next_ord[p], p, v))
    df = spark.createDataFrame(data, ["ord", "part", "val"])
    got = {
        (r["part"], r["ord"]): r["cum_tokens"]
        for r in bucketed_cumsum(
            df, "part", "ord", "val", bucket_span=span
        ).collect()
    }
    w = (
        Window.partitionBy("part")
        .orderBy("ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r["part"], r["ord"]): r["cum"]
        for r in df.withColumn("cum", F.sum("val").over(w)).collect()
    }
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),   # order key (ties OK)
            st.sampled_from(["a", "b"]),              # part key
            st.integers(min_value=0, max_value=50),   # NON-NEGATIVE value
        ),
        min_size=1,
        max_size=100,
    ),
    st.sampled_from([1, 4, 64]),
)
def test_bucketed_cumsum_duplicate_keys_property(spark, rows, span):
    """r13 tie-break property: with DUPLICATE order keys and
    non-negative values (the packer's domain), the per-row running sum
    is tie-order-dependent in both forms, but three invariants are
    deterministic and must hold: (1) per part, max(cum) == sum(values)
    — exact bucket totals, the ADVICE defect; (2) the multiset of cum
    values restricted to each part's FINAL order key contains the
    part total; (3) row count preserved."""
    from collections import defaultdict

    from gentropy_spark.operators.packing import bucketed_cumsum

    df = spark.createDataFrame(
        [(o, p, v) for o, p, v in rows], ["ord", "part", "val"]
    )
    out = bucketed_cumsum(df, "part", "ord", "val", bucket_span=span).collect()
    assert len(out) == len(rows)
    totals: dict[str, int] = defaultdict(int)
    for o, p, v in rows:
        totals[p] += v
    max_cum: dict[str, int] = defaultdict(int)
    for r in out:
        max_cum[r["part"]] = max(max_cum[r["part"]], r["cum_tokens"])
    for p, tot in totals.items():
        assert max_cum[p] == tot, (p, max_cum[p], tot)
