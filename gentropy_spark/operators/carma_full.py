"""CARMA spike-and-slab fine-mapping with shotgun configuration search
(SURVEY §2.H21 upgrade, r3).

Re-expresses gentropy's CARMA
(/root/reference/src/gentropy/method/carma.py:57 ``CARMA_spike_slab_noEM``,
:591 ``_MCS_modified``, :220 outlier likelihood, :459 ``_ridge_fun``,
:532 ``_PIP_func``) as an original scipy-free numpy kernel:

- Same model posterior: spike-slab marginal likelihood of a causal
  configuration S — |S|/2·log τ − ½·log|R_S + τI| + ½·z_S'(R_S+τI)⁻¹z_S
  — plus the truncated-Poisson prior |S|·log λ + lgamma(p−|S|+1) −
  lgamma(p+1).
- Same neighborhood structure (delete-one / add-one / swap-one) and
  the same ridge-shrinkage outlier Bayes-factor test (shrinkage factor
  fitted by the bounded Brent minimizer shared with the SuSiE kernel).
- DETERMINISTIC search: instead of the reference's Monte-Carlo shotgun
  sampling (``np.random.choice`` proportional to posterior mass) the
  next configuration is the argmax over the evaluated neighborhood
  (ties broken by lexicographic model key), iterated to a local
  optimum. Every evaluated configuration enters the model list, and
  PIPs are computed by Bayes-model-averaging over that list exactly as
  the reference's ``_PIP_func`` does — so PIPs track the reference's
  (validated on its own fixtures at r ≈ 1) while runs are exactly
  reproducible.

Spark surface: the shared per-locus driver
``operators.finemapping.finemap_loci``, grouped at contig level (the
same driver as the SuSiE operators).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from gentropy_spark.operators.finemapping import finemap_loci
from gentropy_spark.operators.susie import minimize_bounded


def _config_margin(
    S: tuple[int, ...], z: np.ndarray, R: np.ndarray, tau: float, lam: float
) -> float:
    """Spike-slab log marginal likelihood + model-size prior of S."""
    p = len(z)
    k = len(S)
    prior = k * math.log(lam) + math.lgamma(p - k + 1) - math.lgamma(p + 1)
    if k == 0:
        return prior
    idx = np.asarray(S, dtype=int)
    M = R[np.ix_(idx, idx)] + tau * np.eye(k)
    sign, logdet = np.linalg.slogdet(M)
    if sign <= 0:
        return -np.inf
    zs = z[idx]
    quad = float(zs @ np.linalg.solve(M, zs))
    return prior + 0.5 * k * math.log(tau) - 0.5 * logdet + 0.5 * quad


def _outlier_loglik(
    idx: np.ndarray, Sigma: np.ndarray, z: np.ndarray, tau: float
) -> float:
    """Reference outlier model likelihood (pinv-regularized)."""
    k = len(idx)
    S_mat = Sigma[np.ix_(idx, idx)]
    A = tau * np.eye(k)
    inv_I = np.linalg.pinv(S_mat + A, rcond=1e-5)
    inv_0 = np.linalg.pinv(S_mat, rcond=1e-5)
    det_0 = abs(np.linalg.det(inv_0))
    det_I = abs(np.linalg.det(inv_I))
    zs = z[idx]
    q0 = float(zs @ inv_0 @ zs)
    qI = float(zs @ inv_I @ zs)
    return 0.5 * (math.log(det_0 + 1e-300) + math.log(det_I + 1e-300)) - 0.5 * (
        q0 - qI
    )


def _outlier_log_bf(
    test_S: np.ndarray, Sigma: np.ndarray, z: np.ndarray, tau: float
) -> float:
    """−|log BF| between observed-LD and ridge-shrunk-LD outlier models.

    The shrinkage factor c ∈ [0,1] minimizing the negative outlier
    likelihood of c·R_S + (1−c)·I is fitted with the bounded Brent
    minimizer (reference uses scipy minimize_scalar 'bounded')."""
    sub = Sigma[np.ix_(test_S, test_S)]

    def neg_lik(c: float) -> float:
        tmp = Sigma.copy()
        tmp[np.ix_(test_S, test_S)] = c * sub + (1.0 - c) * np.eye(len(test_S))
        return -_outlier_loglik(test_S, tmp, z, tau)

    c_star = minimize_bounded(neg_lik, 0.0, 1.0)
    modi = Sigma.copy()
    modi[np.ix_(test_S, test_S)] = c_star * sub + (1.0 - c_star) * np.eye(
        len(test_S)
    )
    bf = _outlier_loglik(test_S, Sigma, z, tau) - _outlier_loglik(
        test_S, modi, z, tau
    )
    return -abs(bf)


def carma_shotgun(
    z: np.ndarray,
    R: np.ndarray,
    lambda_val: float = 1.0,
    tau: float = 0.04,
    num_causal: int = 10,
    outlier_bf_index: float = 1.0 / 3.2,
    max_rounds: int = 100,
) -> dict:
    """Deterministic shotgun search + BF model averaging.

    Returns {"pip": p-array, "outliers": sorted list, "n_models": int,
    "best_model": tuple}.
    """
    z = np.asarray(z, dtype=np.float64)
    p = len(z)
    visited: dict[tuple[int, ...], float] = {}

    def margin(S: tuple[int, ...]) -> float:
        if S not in visited:
            visited[S] = _config_margin(S, z, R, tau, lambda_val)
        return visited[S]

    outliers: set[int] = set()
    S: tuple[int, ...] = ()
    margin(S)
    for _ in range(max_rounds):
        cur = set(S)
        candidates: list[tuple[int, ...]] = []
        if len(S) > 1:
            for drop in S:
                candidates.append(tuple(sorted(cur - {drop})))
        free = [j for j in range(p) if j not in cur and j not in outliers]
        if len(S) < num_causal:
            for j in free:
                candidates.append(tuple(sorted(cur | {j})))
        for drop in S:
            for j in free:
                candidates.append(tuple(sorted((cur - {drop}) | {j})))
        for c in candidates:
            margin(c)
        # Outlier screen on the best growing/swapped configuration,
        # repeated like the reference's rejection loop but on the
        # argmax rather than a sample.
        while True:
            grown = [
                c for c in candidates if len(c) > 1 and set(c) - cur
            ]
            if not grown:
                break
            best_grown = max(grown, key=lambda c: (visited[c], c))
            test_S = np.asarray(best_grown, dtype=int)
            log_bf = _outlier_log_bf(test_S, R, z, tau)
            if math.exp(log_bf) < outlier_bf_index:
                new_members = set(best_grown) - cur
                outliers |= new_members
                candidates = [
                    c for c in candidates if not (set(c) & new_members)
                ]
                for c in list(visited):
                    if set(c) & new_members:
                        del visited[c]
            else:
                break
        if not candidates:
            break
        best = max(candidates, key=lambda c: (visited[c], c))
        if visited[best] <= margin(S) + 1e-12:
            break
        S = best

    # Post-convergence model-space expansion: the stochastic reference
    # search visits a broad cloud of near-optimal configurations whose
    # mass shapes the PIPs; a pure hill-climb path under-samples it.
    # Deterministic equivalent: exhaustively evaluate the delete/add/
    # swap neighborhoods of the top-scoring configurations until the
    # frontier is closed or the model budget is reached.
    for _ in range(3):
        top = sorted(visited, key=lambda k: visited[k], reverse=True)[:10]
        new_any = False
        for base_cfg in top:
            cur = set(base_cfg)
            free = [j for j in range(p) if j not in cur and j not in outliers]
            neigh: list[tuple[int, ...]] = []
            if len(base_cfg) > 1:
                neigh += [tuple(sorted(cur - {d})) for d in base_cfg]
            if len(base_cfg) < num_causal:
                neigh += [tuple(sorted(cur | {j})) for j in free]
            neigh += [
                tuple(sorted((cur - {d}) | {j})) for d in base_cfg for j in free
            ]
            for c in neigh:
                if c not in visited:
                    visited[c] = _config_margin(c, z, R, tau, lambda_val)
                    new_any = True
        if not new_any or len(visited) > 20_000:
            break

    # Bayes model averaging over every evaluated configuration
    # (reference _PIP_func: drop >num_causal models, softmax margins).
    keys = [k for k in visited if len(k) <= num_causal]
    margins = np.array([visited[k] for k in keys])
    mx = margins.max()
    w = np.exp(margins - mx)
    denom = w.sum()
    pip = np.zeros(p)
    for key, wt in zip(keys, w):
        for j in key:
            pip[j] += wt
    pip /= denom
    return {
        "pip": pip,
        "outliers": sorted(outliers),
        "n_models": len(visited),
        "best_model": S,
    }


def carma_finemap_full(
    df: DataFrame,
    tau_ld: float = 10_800_000_000.0,
    tau: float = 0.04,
    lambda_val: float = 1.0,
    num_causal: int = 5,
    max_variants: int = 500,
) -> DataFrame:
    """Per-locus CARMA shotgun fine-mapping over clustered sumstats.

    LD is the engine's synthetic distance-decay r (exp(−|Δpos|/τ_ld)),
    consistent with the PICS/SuSiE/coloc queries. Emits one row per
    variant with its model-averaged PIP, outlier flag and the best
    configuration's membership.
    """
    keys = ["study_id", "contig", "cluster_seq"]
    out_schema = T.StructType(
        [
            df.schema["study_id"],
            df.schema["contig"],
            df.schema["cluster_seq"],
            df.schema["point_id"],
            T.StructField("pip", T.DoubleType()),
            T.StructField("is_outlier", T.BooleanType()),
            T.StructField("in_best_model", T.BooleanType()),
        ]
    )

    def fit_one(pdf: pd.DataFrame, z: np.ndarray, R: np.ndarray) -> pd.DataFrame:
        res = carma_shotgun(
            z, R, lambda_val=lambda_val, tau=tau, num_causal=num_causal
        )
        best = set(res["best_model"])
        out_set = set(res["outliers"])
        n = len(z)
        return pd.DataFrame(
            {
                "study_id": pdf["study_id"],
                "contig": pdf["contig"],
                "cluster_seq": pdf["cluster_seq"],
                "point_id": pdf["point_id"],
                "pip": np.round(res["pip"], 6),
                "is_outlier": [i in out_set for i in range(n)],
                "in_best_model": [i in best for i in range(n)],
            }
        )

    return finemap_loci(
        df, keys, fit_one, out_schema, tau_ld, max_variants
    )
