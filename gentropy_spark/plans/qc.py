"""Summary-statistics QC queries (SURVEY §2.D + G2).

Re-expresses gentropy's sumstat QC suite
(/root/reference/src/gentropy/method/sumstat_quality_controls.py:
``gc_lambda_check`` :97, ``p_z_test`` :157, ``mean_beta_check`` :230)
and the dataset sanity filter
(/root/reference/src/gentropy/dataset/summary_statistics.py:147) on
the synthetic mapping: beta = (value−150)/100, se = 0.5+(event_id%10)/20.

All are single-shuffle grouped aggregations (partial-agg friendly);
the reference uses percentile_approx for the GC-lambda median — we use
exact percentile at test SF (the oracle needs exactness) and note
percentile_approx as the 100 TB drop-in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gentropy_spark.functions.exact import exact_sum
from gentropy_spark.operators.coloc import grouped_logsumexp
from gentropy_spark.plans.registry import QuerySpec
from gentropy_spark.session import prepared
from gentropy_spark.sources.readers import read_table, ts_micros

CHI2_MEDIAN_1DF = 0.45493642311957185  # scipy.stats.chi2.ppf(0.5, df=1)

BETA_SQL = "(value - 150.0) / 100.0"
SE_SQL = "0.5 + (event_id % 10) / 20.0"


def _gwas(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id"),
        F.col("user_id").alias("study_id"),
        F.col("event_type").alias("contig"),
        ts_micros(ev).alias("pos"),
        F.col("value"),
        ((F.col("value") - 150.0) / 100.0).alias("beta"),
        (0.5 + (F.col("event_id") % 10) / 20.0).alias("se"),
        (F.col("value") / 100.0).alias("z_from_p"),
    )


GWAS_SQL = f"""
  SELECT event_id, user_id AS study_id, event_type AS contig,
         epoch_us(ts) AS pos, value,
         {BETA_SQL} AS beta, {SE_SQL} AS se,
         value / 100.0 AS z_from_p
  FROM events
"""


def qc_metrics(spark: SparkSession, sf_dir: str, cols: list[str]) -> DataFrame:
    """Per-study QC aggregates, one groupBy over one scan: any of
    ``gc_lambda``, ``pz_corr``, ``mean_diff``, ``mean_beta`` and
    ``n_variants``. The D1-D3 keys and the fused sumstat_qc_summary
    select from this one set of expressions."""
    g = _gwas(spark, sf_dir)
    # z*z, not pow(z, 2): POW is libm-evaluated and may differ by 1 ulp
    # across engines; multiplication is IEEE-exact.
    z = F.col("beta") / F.col("se")
    aggs = {
        "gc_lambda": F.expr("percentile(z2, 0.5)") / CHI2_MEDIAN_1DF,
        "pz_corr": F.round(F.corr("z", "z_from_p"), 6),
        "mean_diff": exact_sum(F.round(F.col("z") - F.col("z_from_p"), 6))
        / F.count("*"),
        "mean_beta": exact_sum(F.col("beta")) / F.count("*"),
        "n_variants": F.count("*"),
    }
    return (
        g.withColumn("z", z)
        .withColumn("z2", z * z)
        .groupBy("study_id")
        .agg(*[aggs[c].alias(c) for c in cols])
    )


# --- D1: genomic-control lambda ------------------------------------------
@prepared
def q_gc_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    return qc_metrics(spark, sf_dir, ["gc_lambda"])


GC_LAMBDA_SQL = f"""
SELECT study_id,
       quantile_cont((beta / se) * (beta / se), 0.5) / {CHI2_MEDIAN_1DF!r} AS gc_lambda
FROM ({GWAS_SQL})
GROUP BY study_id
"""


# --- D2: P-Z consistency --------------------------------------------------
def q_pz_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return qc_metrics(spark, sf_dir, ["pz_corr", "mean_diff"])


PZ_SQL = f"""
SELECT study_id,
       ROUND(CORR(beta / se, z_from_p), 6) AS pz_corr,
       CAST(SUM(CAST(ROUND(beta / se - z_from_p, 6) AS DECIMAL(38,6))) AS DOUBLE)
         / COUNT(*) AS mean_diff
FROM ({GWAS_SQL})
GROUP BY study_id
"""


# --- D3: mean beta --------------------------------------------------------
def q_mean_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return qc_metrics(spark, sf_dir, ["mean_beta", "n_variants"])


MEAN_BETA_SQL = f"""
SELECT study_id,
       CAST(SUM(CAST(beta AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mean_beta,
       COUNT(*) AS n_variants
FROM ({GWAS_SQL})
GROUP BY study_id
"""


# --- D4: sanity filter + dedup -------------------------------------------
def q_sanity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null/range validity filter + key dedup keeping the lowest event_id.

    Reference: summary_statistics.py:147 ``sanity_filter`` (drop null
    mandatory fields, p-values out of (0, 1], duplicated variants).
    """
    g = _gwas(spark, sf_dir)
    valid = (
        F.col("study_id").isNotNull()
        & F.col("contig").isNotNull()
        & F.col("pos").isNotNull()
        & F.col("value").isNotNull()
        & (F.col("value") > 0)
        & (F.col("value") < 1000)
    )
    w = Window.partitionBy("study_id", "contig", "pos").orderBy("event_id")
    return (
        g.filter(valid)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "study_id", "contig", "pos", "value")
    )


SANITY_SQL = f"""
SELECT event_id, study_id, contig, pos, value
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY study_id, contig, pos
                               ORDER BY event_id) AS rn
  FROM ({GWAS_SQL})
  WHERE study_id IS NOT NULL AND contig IS NOT NULL AND pos IS NOT NULL
    AND value IS NOT NULL AND value > 0 AND value < 1000
)
WHERE rn = 1
"""


# --- D5: QC flag accumulation --------------------------------------------
def q_qc_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-typed QC flag accumulation, emitted as a joined string.

    Reference pattern: StudyLocus qualityControls array building
    (study_locus.py:398 ``_qc_subsignificant_associations`` and
    neighbors) — conditional flag append without UDFs. concat_ws
    skips NULL branches in both engines.
    """
    g = _gwas(spark, sf_dir)
    flags = F.concat_ws(
        "|",
        F.when(F.col("value") < 1.0, F.lit("SUBSIGNIFICANT")),
        F.when(F.col("value") > 250.0, F.lit("EXTREME_SIGNAL")),
        F.when(F.col("contig") == "error", F.lit("FLAGGED_CONTIG")),
        F.when(F.abs(F.col("beta")) > 1.2, F.lit("LARGE_EFFECT")),
    )
    return g.select("event_id", "study_id", flags.alias("qc_flags")).filter(
        F.col("qc_flags") != ""
    )


QC_FLAGS_SQL = f"""
SELECT event_id, study_id,
       CONCAT_WS('|',
         CASE WHEN value < 1.0 THEN 'SUBSIGNIFICANT' END,
         CASE WHEN value > 250.0 THEN 'EXTREME_SIGNAL' END,
         CASE WHEN contig = 'error' THEN 'FLAGGED_CONTIG' END,
         CASE WHEN ABS(beta) > 1.2 THEN 'LARGE_EFFECT' END
       ) AS qc_flags
FROM ({GWAS_SQL})
WHERE CONCAT_WS('|',
         CASE WHEN value < 1.0 THEN 'SUBSIGNIFICANT' END,
         CASE WHEN value > 250.0 THEN 'EXTREME_SIGNAL' END,
         CASE WHEN contig = 'error' THEN 'FLAGGED_CONTIG' END,
         CASE WHEN ABS(beta) > 1.2 THEN 'LARGE_EFFECT' END) <> ''
"""


# --- G2: grouped logsumexp ------------------------------------------------
def q_logsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _gwas(spark, sf_dir).withColumn("logbf", F.col("value") / 10.0)
    out = grouped_logsumexp(g, ["study_id"], "logbf")
    return out.select("study_id", F.round("logsum", 6).alias("logsum"))


LOGSUM_SQL = f"""
WITH vals AS (
  SELECT study_id, value / 10.0 AS logbf,
         MAX(value / 10.0) OVER (PARTITION BY study_id) AS mx
  FROM ({GWAS_SQL})
)
SELECT study_id, ROUND(LN(SUM(EXP(logbf - mx))) + mx, 6) AS logsum
FROM vals
GROUP BY study_id, mx
"""


REGISTRY: dict[str, QuerySpec] = {
    "qc_gc_lambda": QuerySpec(q_gc_lambda, GC_LAMBDA_SQL),
    "qc_pz_consistency": QuerySpec(q_pz_consistency, PZ_SQL),
    "qc_mean_beta": QuerySpec(q_mean_beta, MEAN_BETA_SQL),
    "sanity_filter": QuerySpec(q_sanity_filter, SANITY_SQL),
    "qc_flag_accumulate": QuerySpec(q_qc_flags, QC_FLAGS_SQL),
    "logsum": QuerySpec(q_logsum, LOGSUM_SQL),
}


# --- inverse-variance meta-analysis ---------------------------------------
META_BUCKET_US = 3_600_000_000


def q_meta_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-effect inverse-variance meta-analysis across studies
    sharing a tag bucket.

    Reference: finngen_ukb_mvp_meta.py / method-level meta-analysis —
    meta_beta = Σ(β/se²)/Σ(1/se²), meta_se = √(1/Σ(1/se²)), z and a
    −log10 p from the χ²(1) survival kernel. Decimal-cast partial sums
    keep the merge order-independent.
    """
    g = _gwas(spark, sf_dir)
    w = 1.0 / (F.col("se") * F.col("se"))
    # DECIMAL(38,12) without pre-rounding: w and w*beta terminate at
    # <=8 decimal digits for this data, so 12-dp quantization is
    # tie-free in BOTH engines (a 6-dp cast was not: Spark quantizes
    # the exact binary double, DuckDB its shortest decimal repr, and
    # they straddle x.xxxxxx5 boundaries differently).
    tagged = g.select(
        "contig",
        F.expr(f"pos div {META_BUCKET_US}").alias("bucket"),
        (w * F.col("beta")).alias("wb"),
        w.alias("w"),
    )
    agg = tagged.groupBy("contig", "bucket").agg(
        F.count("*").alias("n_studies"),
        exact_sum(F.col("wb"), 12).alias("sum_wb"),
        exact_sum(F.col("w"), 12).alias("sum_w"),
    )
    meta_beta = F.col("sum_wb") / F.col("sum_w")
    meta_se = F.sqrt(1.0 / F.col("sum_w"))
    z = meta_beta / meta_se
    # meta significance is emitted as z only: division and sqrt are
    # IEEE-exact cross-engine, while an exp/log p-value chain is
    # libm-dependent (the z -> p conversion is covered by B2/B5).
    return agg.select(
        "contig",
        "bucket",
        "n_studies",
        F.round(meta_beta, 6).alias("meta_beta"),
        F.round(meta_se, 6).alias("meta_se"),
        F.round(z, 6).alias("meta_z"),
    )


def _meta_sql() -> str:
    z = "(sum_wb / sum_w) / SQRT(1.0 / sum_w)"
    return f"""
WITH tagged AS (
  SELECT contig, pos // {META_BUCKET_US} AS bucket,
         (1.0 / (se * se)) * beta AS wb,
         1.0 / (se * se) AS w
  FROM ({GWAS_SQL})
),
agg AS (
  SELECT contig, bucket, COUNT(*) AS n_studies,
         CAST(SUM(CAST(wb AS DECIMAL(38,12))) AS DOUBLE) AS sum_wb,
         CAST(SUM(CAST(w AS DECIMAL(38,12))) AS DOUBLE) AS sum_w
  FROM tagged GROUP BY 1, 2
)
SELECT contig, bucket, n_studies,
  ROUND(sum_wb / sum_w, 6) AS meta_beta,
  ROUND(SQRT(1.0 / sum_w), 6) AS meta_se,
  ROUND({z}, 6) AS meta_z
FROM agg
"""


# --- N_eff sanity check ----------------------------------------------------
def q_qc_n_eff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective-sample-size check from allele frequency and SE.

    Reference: sumstat_quality_controls.py:29 ``genotypic_variance``
    (2·af·(1−af)) and :277 ``sumstat_n_eff_check``:
    n_eff ≈ 1/(var_g · se²); per-study median ratio to the expected N.
    Synthetic af = (event_id % 50 + 1)/100.
    """
    g = _gwas(spark, sf_dir)
    af = (F.col("event_id") % 50 + 1) / 100.0
    var_g = 2.0 * af * (1.0 - af)
    n_eff = 1.0 / (var_g * F.col("se") * F.col("se"))
    return (
        g.withColumn("n_eff", n_eff)
        .groupBy("study_id")
        .agg(
            F.round(F.expr("percentile(n_eff, 0.5)"), 6).alias("median_n_eff"),
            F.round(F.min("n_eff"), 6).alias("min_n_eff"),
            F.round(F.max("n_eff"), 6).alias("max_n_eff"),
        )
    )


N_EFF_SQL = f"""
WITH g AS (
  SELECT study_id,
         1.0 / ((2.0 * ((event_id % 50 + 1) / 100.0)
                 * (1.0 - (event_id % 50 + 1) / 100.0)) * se * se) AS n_eff
  FROM ({GWAS_SQL})
)
SELECT study_id,
       ROUND(quantile_cont(n_eff, 0.5), 6) AS median_n_eff,
       ROUND(MIN(n_eff), 6) AS min_n_eff,
       ROUND(MAX(n_eff), 6) AS max_n_eff
FROM g GROUP BY study_id
"""


REGISTRY.update(
    {
        "meta_analysis": QuerySpec(q_meta_analysis, _meta_sql()),
        "qc_n_eff": QuerySpec(q_qc_n_eff, N_EFF_SQL),
    }
)


# --- D6: per-study significance calibration (rank-based) ------------------
def q_signif_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based calibration curve per study: each observation's
    percent_rank and cumulative distribution position over the study's
    significance values, plus the uniform-quantile gap — the
    rank-statistics view of the GC-lambda check (D1 summarises to one
    number; this keeps the whole curve for QQ-plot-style inspection).
    Deciles only in the output to keep the result bounded: the
    curve is sampled at rank-decile boundaries."""
    ev = read_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    base = ev.select(
        F.col("user_id").alias("study_id"),
        F.col("event_id").alias("point_id"),
        F.col("value").alias("signif"),
    )
    w = Window.partitionBy("study_id").orderBy("signif", "point_id")
    ranked = base.select(
        "study_id",
        "point_id",
        "signif",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(10).over(w).alias("decile"),
    )
    w2 = Window.partitionBy("study_id", "decile").orderBy(
        F.col("pct_rank").desc(), F.col("point_id").desc()
    )
    return (
        ranked.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") == 1)
        .select(
            "study_id",
            "decile",
            F.col("signif").alias("decile_max_signif"),
            "pct_rank",
            "cume",
            F.round(F.col("cume") - F.col("decile") / 10.0, 6).alias(
                "uniform_gap"
            ),
        )
    )


SIGNIF_CALIBRATION_SQL = """
WITH base AS (
  SELECT user_id AS study_id, event_id AS point_id, value AS signif
  FROM events
),
ranked AS (
  SELECT study_id, point_id, signif,
         ROUND(percent_rank() OVER w, 6) AS pct_rank,
         ROUND(cume_dist() OVER w, 6) AS cume,
         ntile(10) OVER w AS decile
  FROM base
  WINDOW w AS (PARTITION BY study_id ORDER BY signif, point_id)
),
top_of_decile AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY study_id, decile
             ORDER BY pct_rank DESC, point_id DESC) AS rk
  FROM ranked
)
SELECT study_id, decile, signif AS decile_max_signif, pct_rank, cume,
       ROUND(cume - decile / 10.0, 6) AS uniform_gap
FROM top_of_decile WHERE rk = 1
"""


REGISTRY["signif_calibration"] = QuerySpec(
    q_signif_calibration, SIGNIF_CALIBRATION_SQL
)
