"""Fine-mapping operators (SURVEY §2.C8, C9, G1).

- ``pics``: PICS posterior probabilities. Reference:
  /root/reference/src/gentropy/method/pics.py (:59
  ``_pics_standard_deviation``, :88 ``_pics_mu``, :36 relative
  posterior = 2·norm.sf(neglog_p; mu, std)). The reference runs a
  Python UDF over the ldSet array per locus; here the whole
  computation is a Column-expression window pipeline (erfc-based
  normal sf from functions/distributions.py) — no UDF, no array
  materialisation, and therefore DuckDB-oracle-checkable.

- ``susie_like``: an iterative sum-of-single-effects fine-mapper in
  the spirit of susie_inf.py (:533 lines of per-locus numpy) —
  genuinely iterative linear algebra per locus, so it runs as an
  Arrow-batched grouped pandas UDF over locus groups. Scale: loci are
  bounded (thousands of variants), groups are independent, the
  shuffle is one range exchange on (study, contig).

- ``finemap_loci``: the one Spark driver every per-locus numpy
  fine-mapper (``carma_like``, ``susie_like``, SuSiE-inf, the SuSiE
  step, CARMA shotgun) runs through: variant selection, synthetic LD,
  the in-process locus loop and the pinned-parallelism exchange.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gentropy_spark.functions.distributions import norm_sf_col

PICS_K = 6.4  # reference pics.py:69 — empiric curve-fit constant


def pics_annotate(
    clustered: DataFrame,
    nlp_scale: float = 10.0,
    tau: int = 10_800_000_000,
) -> DataFrame:
    """PICS posteriors ANNOTATED onto the input (all columns kept).

    Column-preserving form of :func:`pics`: adds ``pics_r2`` and
    ``pics_pp`` without dropping caller columns, so consumers that
    need the posterior alongside other per-row state (e.g. the QC
    flag sweep's PIP-mass window) can stay on the same
    (study, contig) exchange instead of computing PICS as a separate
    subplan and joining back.
    """
    keys = ["study_id", "contig", "cluster_seq"]
    ordered = Window.partitionBy(*keys).orderBy(
        F.col("signif").desc(), F.col("pos").asc(), F.col("point_id").asc()
    )
    grp = Window.partitionBy(*keys)

    nlp_lead = F.first(F.col("signif") / nlp_scale).over(ordered)
    lead_pos = F.first(F.col("pos")).over(ordered)
    r2 = F.exp(-F.abs(F.col("pos") - lead_pos) / F.lit(float(tau)))
    mu = nlp_lead * r2
    std = F.sqrt(1.0 - F.pow(F.sqrt(r2), PICS_K)) * F.sqrt(nlp_lead) / 2.0
    # Zero-signal guard: nlp_lead == 0 makes std == 0 and (nlp-mu)/std a
    # 0/0 NaN that would poison the whole cluster's prob_sum. The limit
    # of 2·sf((nlp−mu)/std) as nlp_lead → 0⁺ is 2·sf(0) = 1, so emit
    # that directly.
    prob = F.when(F.col("pos") == lead_pos, F.lit(1.0)).when(
        (r2 >= 0.5) & (nlp_lead > 0.0), 2.0 * norm_sf_col((nlp_lead - mu) / std)
    ).when(r2 >= 0.5, F.lit(1.0))

    with_prob = clustered.withColumn("_pics_prob", prob).withColumn(
        "_pics_r2", r2
    )
    return (
        with_prob.withColumn("_pics_prob_sum", F.sum("_pics_prob").over(grp))
        .withColumn("pics_r2", F.round("_pics_r2", 6))
        .withColumn(
            "pics_pp",
            F.round(F.col("_pics_prob") / F.col("_pics_prob_sum"), 6),
        )
        .drop("_pics_prob", "_pics_r2", "_pics_prob_sum")
    )


def pics(
    clustered: DataFrame,
    nlp_scale: float = 10.0,
    tau: int = 10_800_000_000,
) -> DataFrame:
    """PICS posteriors per cluster member.

    r² between a member and the cluster lead is synthesised from
    distance decay (exp(−|Δpos|/τ)); members with r² < 0.5 get a null
    posterior exactly as the reference nullifies weakly-linked tags.
    """
    annotated = pics_annotate(clustered, nlp_scale, tau)
    return annotated.select(
        F.col("study_id"),
        F.col("contig"),
        F.col("cluster_seq"),
        F.col("point_id"),
        F.col("pos"),
        F.col("pics_r2").alias("r2"),
        F.col("pics_pp"),
    )


def finemap_loci(
    df: DataFrame,
    keys: list[str],
    kernel: Callable[[pd.DataFrame, np.ndarray, np.ndarray], pd.DataFrame],
    out_schema: T.StructType,
    tau: float,
    max_variants: int | None,
) -> DataFrame:
    """Run a per-locus numpy fine-mapper over every locus of ``df``.

    ``keys`` is (study, contig) or (study, contig, cluster): the first
    two are the shuffle group, a third splits loci inside it. Per locus
    the rows are ordered by ``point_id``, cut to the ``max_variants``
    largest |``z``| (ties on ``point_id``) when given, and handed to
    ``kernel(pdf, z, R)`` with the synthetic distance-decay LD
    R = exp(−|Δ``pos``|/``tau``); the kernel returns rows of
    ``out_schema``.
    """

    def fit_one(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("point_id").reset_index(drop=True)
        if max_variants is not None and len(pdf) > max_variants:
            keep = (
                pdf.assign(_az=pdf["z"].abs())
                .nlargest(max_variants, ["_az", "point_id"])
                .index
            )
            pdf = pdf.loc[sorted(keep)].reset_index(drop=True)
        z = pdf["z"].to_numpy(dtype=np.float64)
        p = pdf["pos"].to_numpy(dtype=np.float64)
        R = np.exp(-np.abs(p[:, None] - p[None, :]) / tau)
        return kernel(pdf, z, R)

    def fit_partition(pdf: pd.DataFrame) -> pd.DataFrame:
        # One Arrow exchange per (study, contig) — clumped loci are
        # typically tiny (median 1-3 variants), so invoking the Python
        # kernel once per LOCUS drowns in per-group Arrow/pandas
        # overhead (~13k groups at sf0.1). Grouping at contig level
        # keeps the shuffle key coarse and loops loci in-process.
        if len(keys) == 2:
            return fit_one(pdf)
        outs = [fit_one(g) for _, g in pdf.groupby(keys[2], sort=True)]
        return pd.concat(outs, ignore_index=True)

    study, contig = keys[:2]
    sel = df.select(*keys, "point_id", "pos", "z")
    # The shuffled rows are tiny but the per-locus kernel is Python
    # CPU: AQE's byte-based coalescing collapses a small
    # ENSURE_REQUIREMENTS exchange to ~1 partition and serializes all
    # loci onto one worker (measured 40s vs 12s of actual kernel CPU).
    # A plain hash repartition on the same keys gets optimizer-removed
    # as redundant against the upstream window exchange; a RANGE
    # repartition survives (different partitioning class), still
    # satisfies the groupBy's clustered-distribution requirement, and
    # its user-specified partition count is exempt from AQE coalescing
    # — pinning the Python stage's parallelism.
    nparts = sel.sparkSession.sparkContext.defaultParallelism
    return (
        sel.repartitionByRange(nparts, study, contig)
        .groupBy(study, contig)
        .applyInPandas(fit_partition, schema=out_schema)
    )


def carma_like(
    df: DataFrame,
    max_causal: int = 5,
    z_stop: float = 3.0,
    outlier_resid: float = 3.0,
    tau: float = 10_800_000_000.0,
) -> DataFrame:
    """CARMA-style per-locus Bayesian model search with outlier flags.

    The reference (method/carma.py, 919 LoC numpy) runs a shotgun
    stochastic search over causal configurations with spike-slab
    priors and flags LD-inconsistent outliers. This operator keeps the
    two load-bearing ideas — configuration search over an LD model and
    residual-based outlier detection — in a deterministic greedy form:

    per (study, contig) group: forward-select up to ``max_causal``
    variants maximising the conditional residual |z| (residualised
    through R = distance-decay LD), stop when the best remaining
    conditional |z| < ``z_stop``; then flag outliers where the final
    residual exceeds ``outlier_resid``.

    Runs Arrow-batched through ``finemap_loci`` (locus-bounded numpy),
    one shuffle on the locus key.
    """
    out_schema = T.StructType(
        [
            df.schema["study_id"],
            df.schema["contig"],
            df.schema["point_id"],
            T.StructField("in_model", T.BooleanType()),
            T.StructField("model_order", T.IntegerType()),
            T.StructField("residual_z", T.DoubleType()),
            T.StructField("is_outlier", T.BooleanType()),
        ]
    )

    def search(pdf: pd.DataFrame, z: np.ndarray, R: np.ndarray) -> pd.DataFrame:
        n = len(z)
        chosen: list[int] = []
        effects = np.zeros(n)
        resid = z.copy()
        for _ in range(min(max_causal, n)):
            cand = int(np.argmax(np.abs(resid)))
            if abs(resid[cand]) < z_stop or cand in chosen:
                break
            chosen.append(cand)
            # joint refit of chosen effects: solve R_cc b = z_c
            sub = np.ix_(chosen, chosen)
            b = np.linalg.solve(R[sub] + 1e-6 * np.eye(len(chosen)), z[chosen])
            effects = np.zeros(n)
            effects[chosen] = b
            resid = z - R @ effects
        order = {idx: i + 1 for i, idx in enumerate(chosen)}
        return pd.DataFrame(
            {
                "study_id": pdf["study_id"],
                "contig": pdf["contig"],
                "point_id": pdf["point_id"],
                "in_model": [i in order for i in range(n)],
                "model_order": [order.get(i, 0) for i in range(n)],
                "residual_z": np.round(resid, 6),
                "is_outlier": np.abs(resid) > outlier_resid,
            }
        )

    return finemap_loci(
        df, ["study_id", "contig"], search, out_schema, tau, None
    )


def susie_like(
    df: DataFrame,
    n_effects: int = 3,
    n_iter: int = 20,
    tau: float = 10_800_000_000.0,
) -> DataFrame:
    """Iterative sum-of-single-effects fine-mapping per locus group.

    Per (study, contig) group: LD matrix R from distance decay, then
    the classic SuSiE coordinate loop — for each effect, residualise
    the other effects' fitted means through R, convert residual
    z-scores to log Bayes factors, softmax into inclusion probs.
    PIP = 1 − Π(1 − α_l). Deterministic (no RNG).
    """
    out_schema = T.StructType(
        [
            df.schema["study_id"],
            df.schema["contig"],
            df.schema["point_id"],
            T.StructField("pip", T.DoubleType()),
            T.StructField("top_effect", T.IntegerType()),
        ]
    )

    def finemap(pdf: pd.DataFrame, z: np.ndarray, R: np.ndarray) -> pd.DataFrame:
        n = len(z)
        alpha = np.full((n_effects, n), 1.0 / n)
        mu = np.zeros((n_effects, n))
        for _ in range(n_iter):
            for l in range(n_effects):
                others = (alpha * mu).sum(axis=0) - alpha[l] * mu[l]
                z_res = z - R @ others
                log_bf = 0.5 * z_res**2 - 0.5 * np.log1p(np.ones(n))
                log_bf -= log_bf.max()
                a = np.exp(log_bf)
                alpha[l] = a / a.sum()
                mu[l] = z_res / 2.0  # posterior mean under unit prior
        pip = 1.0 - np.prod(1.0 - alpha, axis=0)
        top = alpha.argmax(axis=0).astype("int32")
        return pd.DataFrame(
            {
                "study_id": pdf["study_id"],
                "contig": pdf["contig"],
                "point_id": pdf["point_id"],
                "pip": np.round(pip, 6),
                "top_effect": top,
            }
        )

    return finemap_loci(
        df, ["study_id", "contig"], finemap, out_schema, tau, None
    )
