"""SuSiE-inf fine-mapping (SURVEY §2.G1 — faithful port, r3).

Re-expresses gentropy's SuSiE-inf
(/root/reference/src/gentropy/method/susie_inf.py:33 ``susie_inf``,
:243 ``_MoM``, :407 ``cred_inf`` — itself derived from
the FinucaneLab *fine-mapping-inf* package; model from Cui et al. 2023,
"Improving fine-mapping by modeling infinitesimal effects") as an
original, scipy-free numpy kernel plus a Spark operator.

Model: y = X·(Σ_l b_l) + X·α + ε with L sparse single effects b_l
(SuSiE) plus an infinitesimal component α ~ N(0, τ²I) absorbed into
the noise covariance Ω = (τ²XX' + σ²I)⁻¹. Everything is computed in
the eigenbasis of X'X (V, D² with X'X = V D² V'), so each iteration is
O(p²) matrix-vector work instead of O(p³).

Differences from the reference, by construction not by accident:
- scipy-free: ``numpy.linalg.eigh`` for the eigendecomposition (the
  algorithm is invariant to eigenvector sign/order) and a
  golden-section bounded scalar minimizer (tighter tolerance than
  scipy's default ``minimize_scalar(..., method='bounded')``) for the
  s²_l updates.
- (σ², τ²) are estimated by the method of moments only; the
  reference's ``_MLE`` alternative is not ported.
- Credible-set purity subsampling is deterministic (top-100 by PIP)
  instead of the reference's seeded ``np.random.choice``.

Scale posture: fine-mapping is per-locus embarrassingly parallel; the
Spark surface runs the kernel through the shared per-locus driver
``operators.finemapping.finemap_loci`` — one shuffle on the locus key,
numpy inside, no driver participation. Loci are capped at ``max_variants``
by |z| (the reference's fine-mapper imposes locus size limits the same
way) so a single pathological locus cannot OOM an executor.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from gentropy_spark.operators.finemapping import finemap_loci

_INVPHI = (math.sqrt(5.0) - 1.0) / 2.0


def minimize_bounded(
    f, lo: float, hi: float, xatol: float = 1e-5, maxfun: int = 500
) -> float:
    """Bounded scalar minimization by Brent's classical FMIN algorithm
    (golden-section + successive parabolic interpolation; Brent 1973).

    Deliberately uses the same default ``xatol`` and termination rule
    as the common scientific-Python implementation so fixed points of
    iterative procedures whose published fixtures were generated with
    it are reproduced (the SuSiE-inf s²_l updates feed back into the
    iteration, so a *different* optimizer tolerance shifts the whole
    trajectory).
    """
    sqrt_eps = math.sqrt(2.2204460492503131e-16)
    golden = 0.5 * (3.0 - math.sqrt(5.0))
    a, b = float(lo), float(hi)
    x = w = v = a + golden * (b - a)
    fx = fw = fv = f(x)
    d = e = 0.0
    nfev = 1
    mid = 0.5 * (a + b)
    tol1 = sqrt_eps * abs(x) + xatol / 3.0
    tol2 = 2.0 * tol1
    while abs(x - mid) > (tol2 - 0.5 * (b - a)):
        golden_step = True
        if abs(e) > tol1:
            # Try a parabolic fit through (v, w, x).
            r = (x - w) * (fx - fv)
            q = (x - v) * (fx - fw)
            p = (x - v) * q - (x - w) * r
            q = 2.0 * (q - r)
            if q > 0.0:
                p = -p
            q = abs(q)
            r, e = e, d
            if (
                abs(p) < abs(0.5 * q * r)
                and p > q * (a - x)
                and p < q * (b - x)
            ):
                d = p / q
                u = x + d
                if (u - a) < tol2 or (b - u) < tol2:
                    d = tol1 if x < mid else -tol1
                golden_step = False
        if golden_step:
            e = (b if x < mid else a) - x
            d = golden * e
        u = x + (d if abs(d) >= tol1 else (tol1 if d > 0 else -tol1))
        fu = f(u)
        nfev += 1
        if fu <= fx:
            if u < x:
                b = x
            else:
                a = x
            v, w, x = w, x, u
            fv, fw, fx = fw, fx, fu
        else:
            if u < x:
                a = u
            else:
                b = u
            if fu <= fw or w == x:
                v, w = w, u
                fv, fw = fw, fu
            elif fu <= fv or v == x or v == w:
                v, fv = u, fu
        if nfev >= maxfun:
            break
        mid = 0.5 * (a + b)
        tol1 = sqrt_eps * abs(x) + xatol / 3.0
        tol2 = 2.0 * tol1
    return x


def _logsumexp(x: np.ndarray) -> float:
    m = np.max(x)
    if not np.isfinite(m):
        return float(m)
    return float(m + np.log(np.sum(np.exp(x - m))))


def susie_inf_fit(
    z: np.ndarray,
    R: np.ndarray,
    n: int = 100_000,
    L: int = 10,
    meansq: float = 1.0,
    ssq_range: tuple[float, float] = (0.0, 1.0),
    est_tausq: bool = False,
    sigmasq: float = 1.0,
    tausq: float = 0.0,
    maxiter: int = 100,
    pip_tol: float = 1e-3,
) -> dict:
    """Fit SuSiE-inf from z-scores and an LD matrix.

    Each effect's prior variance s²_l is estimated by maximum
    likelihood, and σ² (with τ² when ``est_tausq``) by the method of
    moments. Returns a dict with PIP/mu/omega/lbf_variable (p×L), ssq
    (L), sigmasq, tausq, alpha (p), lbf (L) — same keys and semantics
    as the reference so downstream conversion code ports one-to-one.
    """
    z = np.asarray(z, dtype=np.float64)
    p = z.shape[0]
    evals, V = np.linalg.eigh(np.asarray(R, dtype=np.float64))
    Dsq = np.maximum(n * evals, 0.0)
    Xty = math.sqrt(n) * z
    VtXty = V.T @ Xty
    yty = n * meansq

    var = tausq * Dsq + sigmasq  # eigenvalues of Omega^-1 (up to V)
    diag_XtOX = np.sum(V * V * (Dsq / var), axis=1)
    XtOy = V @ (VtXty / var)

    ssq = np.full(L, 0.2)
    PIP = np.full((p, L), 1.0 / p)
    mu = np.zeros((p, L))
    lbf = np.zeros((p, L))
    omega = diag_XtOX[:, None] + 1.0 / ssq
    logpi0 = np.full(p, np.log(1.0 / p))

    for _it in range(maxiter):
        PIP_prev = PIP.copy()
        for ell in range(L):
            # Residualize all OTHER effects out of X'Ωy.
            b_other = np.sum(mu * PIP, axis=1) - mu[:, ell] * PIP[:, ell]
            XtOXb = V @ ((V.T @ b_other) * Dsq / var)
            XtOr = XtOy - XtOXb

            # MLE of the effect-size prior variance s²_l: maximize the
            # single-effect marginal likelihood (= logsumexp of per-SNP
            # evidences) over the bounded range.
            def neg_evidence(s: float) -> float:
                t = s * diag_XtOX
                return -_logsumexp(
                    -0.5 * np.log1p(t)
                    + s * XtOr**2 / (2.0 * (1.0 + t))
                    + logpi0
                )

            ssq[ell] = minimize_bounded(neg_evidence, *ssq_range)
            omega[:, ell] = diag_XtOX + 1.0 / ssq[ell]
            mu[:, ell] = XtOr / omega[:, ell]
            lbf[:, ell] = XtOr**2 / (2.0 * omega[:, ell]) - 0.5 * np.log(
                omega[:, ell] * ssq[ell]
            )
            log_post = lbf[:, ell] + logpi0
            PIP[:, ell] = np.exp(log_post - _logsumexp(log_post))

        sigmasq, tausq = _update_moments(
            PIP, mu, omega, tausq, n, V, Dsq, VtXty, Xty, yty, est_tausq
        )
        var = tausq * Dsq + sigmasq
        diag_XtOX = np.sum(V * V * (Dsq / var), axis=1)
        XtOy = V @ (VtXty / var)

        if np.max(np.abs(PIP_prev - PIP)) < pip_tol:
            break

    b_post = np.sum(mu * PIP, axis=1)
    XtOr_final = XtOy - V @ ((V.T @ b_post) * Dsq / var)
    alpha = tausq * XtOr_final
    lbf_cs = np.array([_logsumexp(lbf[:, ell] + logpi0) for ell in range(L)])
    return {
        "PIP": PIP,
        "mu": mu,
        "omega": omega,
        "lbf_variable": lbf,
        "ssq": ssq,
        "sigmasq": sigmasq,
        "tausq": tausq,
        "alpha": alpha,
        "lbf": lbf_cs,
    }


def _posterior_second_moments(PIP, mu, omega, V):
    """diag(V' M V) where M = E[BB'] − Σ_l E[b_l]E[b_l]' + Σ_l Var-ish,
    i.e. the posterior second-moment correction the MoM update needs."""
    b = np.sum(mu * PIP, axis=1)
    Vtb = V.T @ b
    diag = Vtb**2
    d_var = np.zeros(V.shape[0])
    for ell in range(PIP.shape[1]):
        Vtbl = V.T @ (mu[:, ell] * PIP[:, ell])
        diag -= Vtbl**2
        d_var += PIP[:, ell] * (mu[:, ell] ** 2 + 1.0 / omega[:, ell])
    diag += np.sum(V.T**2 * d_var, axis=1)
    return b, Vtb, diag


def _update_moments(
    PIP, mu, omega, tausq, n, V, Dsq, VtXty, Xty, yty, est_tausq
):
    """Method-of-moments (σ², τ²) update: match E‖r‖² and E‖X'r‖²."""
    b, Vtb, diagVtMV = _posterior_second_moments(PIP, mu, omega, V)
    sumD, sumD2 = float(np.sum(Dsq)), float(np.sum(Dsq**2))
    m1 = yty - 2.0 * float(b @ Xty) + float(Dsq @ diagVtMV)
    m2 = (
        float(Xty @ Xty)
        - 2.0 * float((Vtb * VtXty) @ Dsq)
        + float((Dsq**2) @ diagVtMV)
    )
    if est_tausq:
        # Solve [[n, ΣD²],[ΣD², ΣD⁴]] (σ², τ²)' = (m1, m2)'.
        det = n * sumD2 - sumD * sumD
        s_hat = (sumD2 * m1 - sumD * m2) / det
        t_hat = (n * m2 - sumD * m1) / det
        if s_hat > 0 and t_hat > 0:
            return s_hat, t_hat
        return m1 / n, 0.0
    return (m1 - sumD * tausq) / n, tausq


def credible_sets(
    PIP: np.ndarray,
    R: np.ndarray,
    coverage: float = 0.99,
    purity: float = 0.5,
    max_purity_check: int = 100,
) -> list[list[int]]:
    """Per-effect credible sets: smallest PIP-descending prefix reaching
    ``coverage``, kept only if min |r| over the set exceeds ``purity``
    (reference cred_inf; purity subsample here is deterministic top-N
    by PIP instead of a seeded random choice). De-duplicated preserving
    first occurrence.
    """
    out: list[list[int]] = []
    for ell in range(PIP.shape[1]):
        order = np.argsort(-PIP[:, ell], kind="stable")
        csum = np.cumsum(PIP[order, ell])
        k = int(np.searchsorted(csum, coverage)) + 1
        cs = order[:k]
        if len(cs) > 1:
            rows = cs[:max_purity_check]
            sub = np.abs(R[np.ix_(rows, rows)])
            if float(np.min(sub)) <= purity:
                continue
            out.append(sorted(int(i) for i in cs))
        else:
            out.append([int(cs[0])])
    dedup: list[list[int]] = []
    for cs in out:
        if cs not in dedup:
            dedup.append(cs)
    return dedup


def susie_inf_finemap(
    df: DataFrame,
    L: int = 5,
    n: int = 100_000,
    tau: float = 10_800_000_000.0,
    coverage: float = 0.95,
    max_variants: int = 1_000,
) -> DataFrame:
    """Per-locus SuSiE-inf over clustered summary statistics.

    LD is synthesized from distance decay (r = exp(−|Δpos|/τ)) — the
    same synthetic-LD convention as the engine's PICS/CARMA/coloc
    queries; with a real LD source, pass the r matrix per locus
    instead. Emits one row per variant: overall PIP (1 − Π_l(1−PIP_l)),
    posterior mean effect, best single-effect log-BF, the infinitesimal
    posterior mean α, and the 95% credible-set index the variant
    belongs to (−1 if none). Values rounded to 6 dp so results are
    deterministic under Arrow batch reordering.
    """
    keys = ["study_id", "contig", "cluster_seq"]
    out_schema = T.StructType(
        [
            df.schema["study_id"],
            df.schema["contig"],
            df.schema["cluster_seq"],
            df.schema["point_id"],
            T.StructField("pip", T.DoubleType()),
            T.StructField("post_mean", T.DoubleType()),
            T.StructField("lbf_best", T.DoubleType()),
            T.StructField("alpha_inf", T.DoubleType()),
            T.StructField("credible_set", T.IntegerType()),
        ]
    )

    def fit_one(pdf: pd.DataFrame, z: np.ndarray, R: np.ndarray) -> pd.DataFrame:
        """Fine-map ONE locus (pdf = rows of a single cluster)."""
        p = len(z)
        eff = min(L, p)
        fit = susie_inf_fit(
            z, R=R, n=n, L=eff, est_tausq=True
        )
        pip_all = 1.0 - np.prod(1.0 - fit["PIP"], axis=1)
        post_mean = np.sum(fit["mu"] * fit["PIP"], axis=1)
        lbf_best = np.max(fit["lbf_variable"], axis=1)
        cs_idx = np.full(p, -1, dtype=np.int32)
        for ci, cs in enumerate(
            credible_sets(fit["PIP"], R, coverage=coverage)
        ):
            for v in cs:
                if cs_idx[v] < 0:
                    cs_idx[v] = ci
        return pd.DataFrame(
            {
                "study_id": pdf["study_id"],
                "contig": pdf["contig"],
                "cluster_seq": pdf["cluster_seq"],
                "point_id": pdf["point_id"],
                "pip": np.round(pip_all, 6),
                "post_mean": np.round(post_mean, 6),
                "lbf_best": np.round(lbf_best, 6),
                "alpha_inf": np.round(fit["alpha"], 6),
                "credible_set": cs_idx,
            }
        )

    return finemap_loci(
        df, keys, fit_one, out_schema, tau, max_variants
    )


def susie_finemapper_step(
    df: DataFrame,
    L: int = 5,
    n: int = 100_000,
    tau: float = 10_800_000_000.0,
    coverage: float = 0.95,
    purity_min_r2_threshold: float = 0.25,
    purity_mean_r2_threshold: float = 0.0,
    max_variants: int = 1_000,
) -> DataFrame:
    """Per-credible-set StudyLocus rows — the reference's flagship
    fine-mapping STEP (susie_finemapper.py:193 susie_inf_to_studylocus)
    composed around the SuSiE-inf kernel.

    Emits one row per surviving credible set: the set index, its
    log10 Bayes factor (lbf_cs × log10 e, :312), the lead variant
    (highest single-effect PIP in the set), set size, and the purity
    metrics (mean/min r² over the set, :358-:379) with the step's
    purity filters applied. Same ``finemap_loci`` driver and synthetic
    distance-decay LD as ``susie_inf_finemap``.
    """
    keys = ["study_id", "contig", "cluster_seq"]
    out_schema = T.StructType(
        [
            df.schema["study_id"],
            df.schema["contig"],
            df.schema["cluster_seq"],
            T.StructField("credible_set_index", T.IntegerType()),
            T.StructField("lead_point_id", df.schema["point_id"].dataType),
            T.StructField("lead_pip", T.DoubleType()),
            T.StructField("cs_log10_bf", T.DoubleType()),
            T.StructField("n_in_set", T.IntegerType()),
            T.StructField("purity_mean_r2", T.DoubleType()),
            T.StructField("purity_min_r2", T.DoubleType()),
        ]
    )
    log10_e = 0.4342944819032518

    def fit_one(pdf: pd.DataFrame, z: np.ndarray, R: np.ndarray) -> pd.DataFrame:
        eff = min(L, len(z))
        fit = susie_inf_fit(z, R=R, n=n, L=eff, est_tausq=True)
        rows = []
        for ci, cs in enumerate(
            credible_sets(fit["PIP"], R, coverage=coverage)
        ):
            idx = np.asarray(cs, dtype=int)
            # the effect whose PIPs define this set = highest total mass
            eff_scores = fit["PIP"][idx, :].sum(axis=0)
            ell = int(np.argmax(eff_scores))
            lead_local = int(idx[np.argmax(fit["PIP"][idx, ell])])
            r2 = R[np.ix_(idx, idx)] ** 2
            m = pdf.iloc[0]
            rows.append(
                (
                    m["study_id"],
                    m["contig"],
                    m["cluster_seq"],
                    ci,
                    pdf["point_id"].iloc[lead_local],
                    round(float(fit["PIP"][lead_local, ell]), 6),
                    round(float(fit["lbf"][ell] * log10_e), 6),
                    int(len(idx)),
                    round(float(np.mean(r2)), 6),
                    round(float(np.min(r2)), 6),
                )
            )
        out = pd.DataFrame(
            rows,
            columns=[
                "study_id",
                "contig",
                "cluster_seq",
                "credible_set_index",
                "lead_point_id",
                "lead_pip",
                "cs_log10_bf",
                "n_in_set",
                "purity_mean_r2",
                "purity_min_r2",
            ],
        )
        if len(out):
            out = out[
                (out["purity_min_r2"] >= purity_min_r2_threshold)
                & (out["purity_mean_r2"] >= purity_mean_r2_threshold)
            ]
        return out

    return finemap_loci(
        df, keys, fit_one, out_schema, tau, max_variants
    )
