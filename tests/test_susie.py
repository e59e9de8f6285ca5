"""SuSiE-inf kernel + operator tests (SURVEY §2.G1).

The kernel is validated against the reference implementation's own
published fixtures (tests/gentropy/data_samples/01_test_*.csv): the
method-of-moments log-BFs must match to numpy allclose (observed max
abs diff ~1.4e-8).
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from gentropy_spark.operators.susie import (
    credible_sets,
    minimize_bounded,
    susie_inf_fit,
)

_FIXDIR = "/root/reference/tests/gentropy/data_samples"
_HAVE_FIXTURES = os.path.exists(os.path.join(_FIXDIR, "01_test_ld.csv"))


def _load_fixtures():
    import pandas as pd

    ld = np.loadtxt(f"{_FIXDIR}/01_test_ld.csv", delimiter=",")
    z = np.array(pd.read_csv(f"{_FIXDIR}/01_test_z.csv").iloc[:, 1])
    lbf_mom = np.loadtxt(f"{_FIXDIR}/01_test_lbf_moments.csv")
    return ld, z, lbf_mom


def test_brent_minimizer_quadratic():
    assert abs(minimize_bounded(lambda x: (x - 0.3) ** 2, 0.0, 1.0) - 0.3) < 1e-5
    assert abs(minimize_bounded(lambda x: np.cosh(x - 2.0), 0.0, 10.0) - 2.0) < 1e-5


@pytest.mark.skipif(not _HAVE_FIXTURES, reason="reference fixtures not present")
def test_susie_inf_moments_matches_reference_fixture():
    ld, z, lbf_mom = _load_fixtures()
    fit = susie_inf_fit(z, R=ld, est_tausq=True)
    assert np.allclose(fit["lbf_variable"][:, 0], lbf_mom), (
        f"max diff {np.abs(fit['lbf_variable'][:, 0] - lbf_mom).max()}"
    )


@pytest.mark.skipif(not _HAVE_FIXTURES, reason="reference fixtures not present")
def test_susie_inf_credible_set_matches_reference_fixture():
    ld, z, _ = _load_fixtures()
    fit = susie_inf_fit(z, R=ld, est_tausq=True)
    cred = credible_sets(fit["PIP"], R=ld, coverage=0.99)
    assert cred[0] == [5]


def test_susie_inf_identity_ld_single_signal():
    """With identity LD and one strong z, the first effect's PIP must
    concentrate on that SNP and its credible set must be a singleton."""
    p = 12
    z = np.zeros(p)
    z[7] = 8.0
    fit = susie_inf_fit(z, R=np.eye(p), L=3, est_tausq=False)
    assert np.argmax(fit["PIP"][:, 0]) == 7
    assert fit["PIP"][7, 0] > 0.99
    cred = credible_sets(fit["PIP"], R=np.eye(p), coverage=0.95)
    assert cred[0] == [7]


def test_susie_inf_deterministic():
    rng = np.random.RandomState(7)
    p = 15
    A = rng.randn(p, p)
    R = A @ A.T
    d = np.sqrt(np.diag(R))
    R = R / np.outer(d, d)
    z = rng.randn(p) * 2
    f1 = susie_inf_fit(z, R=R, est_tausq=True)
    f2 = susie_inf_fit(z, R=R, est_tausq=True)
    assert np.array_equal(f1["PIP"], f2["PIP"])
    assert np.array_equal(f1["lbf_variable"], f2["lbf_variable"])


def test_susie_inf_finemap_operator(spark, sf_dir):
    """End-to-end Spark surface: per-locus applyInPandas fine-mapping
    over the clustered sumstats; pip in [0,1], one row per variant,
    every nonempty credible set is a valid index."""
    from gentropy_spark.plans.genomics import q_susie_inf

    out = q_susie_inf(spark, sf_dir)
    rows = out.collect()
    assert rows
    assert all(0.0 <= r.pip <= 1.0 for r in rows)
    assert all(r.credible_set >= -1 for r in rows)
    # PIP mass concentrates: each locus has at least one variant in a CS
    import collections

    by_locus = collections.defaultdict(list)
    for r in rows:
        by_locus[(r.study_id, r.contig, r.cluster_seq)].append(r)
    with_cs = sum(
        1 for vs in by_locus.values() if any(v.credible_set >= 0 for v in vs)
    )
    assert with_cs > 0


def test_susie_finemapper_step(spark, sf_dir):
    """Step contract: one row per surviving credible set with a lead
    variant, log10 BF, and purity metrics within bounds."""
    from gentropy_spark.plans.genomics import q_susie_finemapper_step

    rows = q_susie_finemapper_step(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_in_set >= 1
        assert 0.0 <= r.lead_pip <= 1.0
        assert 0.0 <= r.purity_min_r2 <= r.purity_mean_r2 <= 1.0
        assert r.purity_min_r2 >= 0.25  # step filter applied
        assert r.credible_set_index >= 0


def test_finemap_simulation_calibration_bounds():
    """r7 calibration harness: on seeded AR(1)-LD simulations the
    SuSiE-inf port's 99% credible sets must contain a planted causal
    in >=85% of sets, with sensitivity >=50% — and the run must be
    byte-reproducible."""
    from gentropy_spark.operators.finemap_sim import run_finemap_calibration

    a = run_finemap_calibration(n_iter=20)
    b = run_finemap_calibration(n_iter=20)
    assert a == b, "seeded calibration must be deterministic"
    assert a["successful_runs"] >= 10
    assert a["accuracy"] >= 0.85
    assert a["accuracy_lead"] >= 0.75
    assert a["sensitivity"] >= 0.5


def test_finemap_simulation_carma_calibration():
    from gentropy_spark.operators.finemap_sim import run_finemap_calibration

    c = run_finemap_calibration(n_iter=8, method="carma")
    assert c["successful_runs"] >= 3
    assert c["accuracy"] >= 0.75


def _fixture_hash(df):
    """Quantized sorted-row md5 — the same canonicalization idea as the
    driver's value-hash gate, applied to a rows-only kernel."""
    import hashlib

    def q(v):
        if isinstance(v, float):
            r = round(v, 6)
            if r == 0.0:
                r = 0.0  # normalize -0.0
            return format(r, ".6f")
        return str(v)

    rows = df.collect()
    canon = sorted("|".join(q(v) for v in row) for row in rows)
    return len(rows), hashlib.md5("\n".join(canon).encode()).hexdigest()


def test_susie_step_fixture_hash_gate(spark):
    """r13 verdict item 9: rows-only kernels get a pinned value gate.

    The SuSiE finemapper step is deterministic (seeded clustering,
    fixed iteration caps), so its full credible-set table at sf0.001,
    quantized to 6dp, has ONE correct md5. Any numeric regression in
    the SuSiE kernel, the clustering, or the purity joins breaks this
    hash the way an oracle mismatch would.
    """
    from gentropy_spark.plans.genomics import q_susie_finemapper_step

    n, h = _fixture_hash(
        q_susie_finemapper_step(spark, "/root/testdata/sf0.001")
    )
    assert (n, h) == (132, "075c6ce8d8f3c44ec83c3fb9d00dd9f3")


def test_susie_inf_fixture_hash_gate(spark):
    """Same gate for the per-variant SuSiE-inf PIP table."""
    from gentropy_spark.plans.genomics import q_susie_inf

    n, h = _fixture_hash(q_susie_inf(spark, "/root/testdata/sf0.001"))
    assert (n, h) == (136, "822d7bebab8a7287808966a5626a99c0")


def test_rows_only_fixture_hash_gates(spark):
    """Every remaining rows-only registry key gets the same pinned
    value gate (r13 verdict item 9, extended r14): the kernels are
    seeded and iteration-capped, so their full sf0.001 outputs have
    ONE correct md5 each. The driver still records these keys
    rows-only (the iterative loops are not SQL-expressible), but any
    numeric drift now fails pytest the way an oracle mismatch would.
    """
    from gentropy_spark.plans.registry import full_registry

    reg = full_registry()
    pinned = {
        "carma_finemap": (389, "09211a4fb0cc1dac34ee7942e57d9e38"),
        "carma_shotgun_finemap": (136, "edfda6817d6581188a1e44c0be10fd8e"),
        "susie_like_finemap": (389, "cd355051da7265bc5877ff5db78c9da5"),
        "l2g_train_metrics": (1, "321ba94fd3e1310bb2308a63531e3252"),
    }
    for key, expected in pinned.items():
        got = _fixture_hash(reg[key].fn(spark, "/root/testdata/sf0.001"))
        assert got == expected, f"{key}: {got} != {expected}"
