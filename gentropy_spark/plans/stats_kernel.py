"""Stats-kernel verification queries (SURVEY §2.B).

Bind the column kernel in ``functions/stats.py`` to the events table:
p = value/300 ∈ (0, 1] (events values are positive), with synthetic
null patterns for the harmonisation cascade. Float outputs that pass
through log/exp are rounded to 6 dp on both sides; pure-arithmetic
outputs are exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gentropy_spark.functions.stats import (
    effect_ci,
    harmonise_effect,
    neglog_pvalue,
    pvalue_from_neglog,
    split_pvalue,
)
from gentropy_spark.plans.registry import QuerySpec
from gentropy_spark.session import prepared
from gentropy_spark.sources.readers import read_table

P_SQL = "value / 300.0"


def _pvals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "events")
        .filter(F.col("value") > 0)
        .select("event_id", (F.col("value") / 300.0).alias("p"))
    )


PVALS_SQL = f"SELECT event_id, {P_SQL} AS p FROM events WHERE value > 0"


# --- B1 -------------------------------------------------------------------
def q_pvalue_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    m, e = split_pvalue(F.col("p"))
    return _pvals(spark, sf_dir).select("event_id", m, e)


PVALUE_SPLIT_SQL = f"""
SELECT event_id,
       ROUND(p / POW(10.0, FLOOR(LOG10(p))), 3) AS p_mantissa,
       CAST(FLOOR(LOG10(p)) AS INT) AS p_exponent
FROM ({PVALS_SQL})
"""


# --- B2 -------------------------------------------------------------------
def q_neglog_pvalue(spark: SparkSession, sf_dir: str) -> DataFrame:
    m, e = split_pvalue(F.col("p"))
    df = _pvals(spark, sf_dir).select("event_id", m, e)
    return df.select(
        "event_id",
        F.round(neglog_pvalue(F.col("p_mantissa"), F.col("p_exponent")), 6).alias(
            "neglog_pval"
        ),
    )


NEGLOG_SQL = f"""
SELECT event_id,
       ROUND(-1 * (LOG10(p_mantissa) + p_exponent), 6) AS neglog_pval
FROM ({PVALUE_SPLIT_SQL})
"""


# --- B3 -------------------------------------------------------------------
def q_pvalue_from_neglog(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _pvals(spark, sf_dir).select(
        "event_id", (-F.log10(F.col("p"))).alias("nlp")
    )
    m, e = pvalue_from_neglog(F.col("nlp"))
    return df.select("event_id", F.round(m, 6).alias("p_mantissa"), e)


PVALUE_FROM_NEGLOG_SQL = f"""
SELECT event_id,
       ROUND(POW(10.0, CEIL(nlp) - nlp), 6) AS p_mantissa,
       CAST(-1 * CEIL(nlp) AS INT) AS p_exponent
FROM (SELECT event_id, -LOG10(p) AS nlp FROM ({PVALS_SQL}))
"""


# --- B4 -------------------------------------------------------------------
def q_effect_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    beta = (F.col("value") - 150.0) / 100.0
    se = 0.5 + (F.col("event_id") % 10) / 20.0
    lo, hi = effect_ci(beta, se)
    return ev.select("event_id", beta.alias("beta"), se.alias("se"), lo, hi)


EFFECT_CI_SQL = """
SELECT event_id,
       (value - 150.0) / 100.0 AS beta,
       0.5 + (event_id % 10) / 20.0 AS se,
       (value - 150.0) / 100.0 - 1.96 * (0.5 + (event_id % 10) / 20.0) AS ci_lower,
       (value - 150.0) / 100.0 + 1.96 * (0.5 + (event_id % 10) / 20.0) AS ci_upper
FROM events
"""


# --- B6 -------------------------------------------------------------------
def q_stderr_harmonise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic null-pattern cascade: event_id%3==0 rows carry only an
    odds ratio + CI; others carry beta + se."""
    ev = read_table(spark, sf_dir, "events")
    is_or = F.col("event_id") % 3 == 0
    beta = F.when(~is_or, (F.col("value") - 150.0) / 100.0)
    odds = F.when(is_or, 1.0 + F.col("value") / 300.0)
    se = F.when(~is_or, 0.5 + (F.col("event_id") % 10) / 20.0)
    ci_up = F.when(is_or, 1.5 + F.col("value") / 300.0)
    ci_lo = F.when(is_or, 0.5 + F.col("value") / 600.0)
    beta_h, se_h = harmonise_effect(beta, odds, se, ci_up, ci_lo)
    return ev.select(
        "event_id",
        F.round(beta_h, 6).alias("beta_h"),
        F.round(se_h, 6).alias("se_h"),
    )


HARMONISE_SQL = """
SELECT event_id,
  ROUND(CASE WHEN event_id % 3 <> 0 THEN (value - 150.0) / 100.0
             ELSE LN(1.0 + value / 300.0) END, 6) AS beta_h,
  ROUND(CASE WHEN event_id % 3 <> 0 THEN 0.5 + (event_id % 10) / 20.0
             ELSE ABS(LN(1.5 + value / 300.0) - LN(0.5 + value / 600.0)) / 3.92
             END, 6) AS se_h
FROM events
"""


# --- B5: probit / chi2 conversions ---------------------------------------
def q_zscore_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chi2 = chi2_isf(p, 1 dof); z = sign(beta)·sqrt(chi2).

    Reference: common/stats.py:80 ``chi2_from_pvalue`` and :572
    ``zscore_from_pvalue`` (scipy UDFs there; pure Column polynomial
    kernels here — functions/distributions.py).
    """
    from gentropy_spark.functions.distributions import chi2_isf_1df_col

    ev = read_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    p = F.col("value") / 300.0
    beta = (F.col("value") - 150.0) / 100.0
    chi2 = chi2_isf_1df_col(p)
    sign = F.when(beta >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))
    return ev.select(
        "event_id",
        F.round(chi2, 6).alias("chi2"),
        F.round(sign * F.sqrt(chi2), 6).alias("zscore"),
    )


def _zscore_chi2_sql() -> str:
    from gentropy_spark.functions.distributions import chi2_isf_1df_sql

    chi2 = chi2_isf_1df_sql("value / 300.0")
    return f"""
SELECT event_id,
  ROUND({chi2}, 6) AS chi2,
  ROUND((CASE WHEN (value - 150.0) / 100.0 >= 0 THEN 1.0 ELSE -1.0 END)
        * SQRT({chi2}), 6) AS zscore
FROM events WHERE value > 0
"""


REGISTRY: dict[str, QuerySpec] = {
    "zscore_chi2": QuerySpec(q_zscore_chi2, _zscore_chi2_sql()),
    "pvalue_split": QuerySpec(q_pvalue_split, PVALUE_SPLIT_SQL),
    "neglog_pvalue": QuerySpec(q_neglog_pvalue, NEGLOG_SQL),
    "pvalue_from_neglog": QuerySpec(q_pvalue_from_neglog, PVALUE_FROM_NEGLOG_SQL),
    "effect_ci": QuerySpec(q_effect_ci, EFFECT_CI_SQL),
    "stderr_harmonise": QuerySpec(q_stderr_harmonise, HARMONISE_SQL),
}


# --- end-to-end ingestion harmonisation pipeline -------------------------
def q_sumstat_harmonise_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ingestion pipeline: raw table → canonical summary-statistics
    schema with p-value components, harmonised effect and CI, and a
    validity flag — the shape every datasource adapter produces
    (e.g. datasource/gwas_catalog sumstat preprocessing: rename,
    split p, normalise effect, flag invalid rows; never drop silently).
    """
    ev = read_table(spark, sf_dir, "events")
    p = F.col("value") / 300.0
    beta = (F.col("value") - 150.0) / 100.0
    se = 0.5 + (F.col("event_id") % 10) / 20.0
    m, e = split_pvalue(p)
    lo, hi = effect_ci(beta, se)
    valid = (F.col("value") > 0) & (F.col("value") < 300.0)
    return ev.select(
        F.col("event_id").alias("variant_key"),
        F.col("user_id").alias("study_id"),
        F.col("event_type").alias("chromosome"),
        F.unix_micros(F.col("ts")).alias("position"),
        F.when(valid, m).alias("p_mantissa"),
        F.when(valid, e).alias("p_exponent"),
        F.round(beta, 6).alias("beta"),
        F.round(se, 6).alias("standard_error"),
        F.round(lo, 6).alias("ci_lower"),
        F.round(hi, 6).alias("ci_upper"),
        valid.alias("is_valid"),
    )


HARMONISE_INGEST_SQL = """
SELECT event_id AS variant_key,
       user_id AS study_id,
       event_type AS chromosome,
       epoch_us(ts) AS position,
       CASE WHEN value > 0 AND value < 300.0
            THEN ROUND((value / 300.0) / POW(10.0, FLOOR(LOG10(value / 300.0))), 3)
       END AS p_mantissa,
       CASE WHEN value > 0 AND value < 300.0
            THEN CAST(FLOOR(LOG10(value / 300.0)) AS INT)
       END AS p_exponent,
       ROUND((value - 150.0) / 100.0, 6) AS beta,
       ROUND(0.5 + (event_id % 10) / 20.0, 6) AS standard_error,
       ROUND((value - 150.0) / 100.0 - 1.96 * (0.5 + (event_id % 10) / 20.0), 6)
         AS ci_lower,
       ROUND((value - 150.0) / 100.0 + 1.96 * (0.5 + (event_id % 10) / 20.0), 6)
         AS ci_upper,
       (value > 0 AND value < 300.0) AS is_valid
FROM events
"""


REGISTRY["sumstat_harmonise_ingest"] = QuerySpec(
    q_sumstat_harmonise_ingest, HARMONISE_INGEST_SQL
)


# --- composed effect harmonisation (allele flip + palindromic drop) ------
# Reference: datasource/gwas_catalog/associations.py:959
# harmonise_association_effect_to_beta — extract the risk allele, drop
# palindromic-ambiguous variants, decide the flip from risk-vs-alt
# allele identity (incl. reverse complement), parse the CI text, and
# emit a harmonised beta + standard error for BOTH effect encodings
# (beta "unit increase" and odds ratio → ln OR). One composed flow, not
# the column kernels in isolation.
def q_sumstat_harmonise_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gentropy_spark.functions.alleles import (
        complement_allele,
        is_strand_ambiguous,
    )

    ev = read_table(spark, sf_dir, "events")
    alleles = F.array(*[F.lit(a) for a in ("A", "C", "G", "T", "AT", "GCC")])
    ref = F.element_at(alleles, (F.col("event_id") % 6 + 1).cast("int"))
    alt = F.element_at(alleles, (F.expr("event_id div 7") % 6 + 1).cast("int"))
    revcomp_ref = F.reverse(complement_allele(ref))
    # Synthetic risk-allele report: cycles through alt (no flip),
    # ref (flip) and revcomp(ref) (flip) like real GWAS catalog rows.
    risk = (
        F.when(F.col("event_id") % 3 == 0, alt)
        .when(F.col("event_id") % 3 == 1, ref)
        .otherwise(revcomp_ref)
    )
    effect = F.round(F.abs(F.col("value")) / 100.0 + 0.01, 6)
    is_beta = (F.col("event_id") % 2 == 0)
    lo = F.round(effect * 0.8, 6).cast("decimal(12,6)")
    hi = F.round(effect * 1.2, 6).cast("decimal(12,6)")
    ci_text = F.concat(
        F.lit("["),
        lo.cast("string"),
        F.lit("-"),
        hi.cast("string"),
        F.lit("]"),
        F.when(is_beta, F.lit(" unit increase")).otherwise(F.lit("")),
    )

    base = ev.select(
        F.col("event_id").alias("variant_key"),
        ref.alias("ref"),
        alt.alias("alt"),
        risk.alias("risk_allele"),
        effect.alias("reported_effect"),
        ci_text.alias("ci_text"),
    )
    # Palindromic-ambiguous variants cannot be strand-resolved: drop.
    kept = base.filter(~is_strand_ambiguous(F.col("ref"), F.col("alt")))
    needs_flip = (F.col("risk_allele") == F.col("ref")) | (
        F.col("risk_allele")
        == F.reverse(complement_allele(F.col("ref")))
    )
    has_unit = F.col("ci_text").contains("unit")
    ci_lo = F.regexp_extract(F.col("ci_text"), r"\[([0-9.]+)-", 1).cast("double")
    ci_hi = F.regexp_extract(F.col("ci_text"), r"-([0-9.]+)\]", 1).cast("double")
    beta_raw = F.when(
        has_unit,
        F.when(needs_flip, -F.col("reported_effect")).otherwise(
            F.col("reported_effect")
        ),
    ).otherwise(
        F.when(needs_flip, -F.log(F.col("reported_effect"))).otherwise(
            F.log(F.col("reported_effect"))
        )
    )
    se_raw = F.when(has_unit, (ci_hi - ci_lo) / 3.92).otherwise(
        (F.log(ci_hi) - F.log(ci_lo)) / 3.92
    )
    return kept.select(
        "variant_key",
        "ref",
        "alt",
        "risk_allele",
        needs_flip.alias("direction_flipped"),
        has_unit.alias("effect_is_beta"),
        # + 0.0 maps IEEE -0.0 to +0.0 (a flipped ln(1.0) effect is
        # exactly -0.0; the engines disagree on preserving the sign).
        (F.round(beta_raw, 6) + 0.0).alias("beta"),
        F.round(se_raw, 6).alias("standard_error"),
    )


HARMONISE_FULL_SQL = """
WITH built AS (
  SELECT event_id AS variant_key,
    (['A','C','G','T','AT','GCC'])[(event_id % 6) + 1] AS ref,
    (['A','C','G','T','AT','GCC'])[((event_id // 7) % 6) + 1] AS alt,
    CASE CAST(event_id % 3 AS INT)
      WHEN 0 THEN (['A','C','G','T','AT','GCC'])[((event_id // 7) % 6) + 1]
      WHEN 1 THEN (['A','C','G','T','AT','GCC'])[(event_id % 6) + 1]
      ELSE reverse(translate(upper((['A','C','G','T','AT','GCC'])[(event_id % 6) + 1]),
                             'ACGT', 'TGCA'))
    END AS risk_allele,
    ROUND(ABS(value) / 100.0 + 0.01, 6) AS reported_effect,
    '[' || CAST(CAST(ROUND(ROUND(ABS(value) / 100.0 + 0.01, 6) * 0.8, 6)
                AS DECIMAL(12,6)) AS VARCHAR)
        || '-'
        || CAST(CAST(ROUND(ROUND(ABS(value) / 100.0 + 0.01, 6) * 1.2, 6)
                AS DECIMAL(12,6)) AS VARCHAR)
        || ']'
        || CASE WHEN event_id % 2 = 0 THEN ' unit increase' ELSE '' END AS ci_text
  FROM events
),
kept AS (
  SELECT * FROM built
  WHERE NOT (LENGTH(ref) = LENGTH(alt)
             AND reverse(translate(upper(alt), 'ACGT', 'TGCA')) = upper(ref))
),
flagged AS (
  SELECT *,
    (risk_allele = ref
     OR risk_allele = reverse(translate(upper(ref), 'ACGT', 'TGCA')))
      AS direction_flipped,
    ci_text LIKE '%unit%' AS effect_is_beta,
    CAST(regexp_extract(ci_text, '\\[([0-9.]+)-', 1) AS DOUBLE) AS ci_lo,
    CAST(regexp_extract(ci_text, '-([0-9.]+)\\]', 1) AS DOUBLE) AS ci_hi
  FROM kept
)
SELECT variant_key, ref, alt, risk_allele, direction_flipped, effect_is_beta,
  ROUND(CASE WHEN effect_is_beta
             THEN CASE WHEN direction_flipped THEN -reported_effect
                       ELSE reported_effect END
             ELSE CASE WHEN direction_flipped THEN -LN(reported_effect)
                       ELSE LN(reported_effect) END
        END, 6) + 0.0 AS beta,
  ROUND(CASE WHEN effect_is_beta THEN (ci_hi - ci_lo) / 3.92
             ELSE (LN(ci_hi) - LN(ci_lo)) / 3.92 END, 6) AS standard_error
FROM flagged
"""


REGISTRY["sumstat_harmonise_full"] = QuerySpec(
    q_sumstat_harmonise_full, HARMONISE_FULL_SQL
)


# --- FinnGen-meta-shaped multi-cohort harmonisation ------------------------
# Reference: datasource/finngen_meta/summary_statistics.py:302
# ``from_source`` — the second ingestion dialect: per-cohort wide
# columns (beta/se/af/imputation-r2 per biobank) harmonised into one
# summary-statistics row per variant. The composed steps, in reference
# order: (4) meta-analyzed filter (>= 2 cohorts present, :1186
# is_meta_analyzed_variant), (5) imputation-score filter (MVP r2 >=
# 0.8, :628 has_low_imputation_score), (6-7) gnomAD direction join —
# beta * direction, cohort AFs flipped to 1-af, variant id swapped to
# the aligned form (:327), (9) combined effect allele frequency =
# sample-weighted mean over PRESENT cohorts (:779
# combined_allele_frequency), (10) min-allele-count filter
# (MAC = 2*min(af,1-af)*n >= 20 in every present cohort, :658).
# Cohort presence/AF/r2/direction derive deterministically from ids
# (the synthetic tables have no biobank axis); every derived value is
# exact integer arithmetic scaled by powers of 10, so both engines
# compute identical doubles, and the one quotient (combined EAF) is
# FLOOR-truncated, never rounded.
FINNGEN_COHORTS = (("fg", 500_000, 5), ("mvp", 300_000, 4), ("ukbb", 9_000, 3))
FINNGEN_IMPUTATION_MIN_R2 = 0.8
FINNGEN_MIN_ALLELE_COUNT = 20


@prepared
def q_sumstat_harmonise_finngen(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        F.col("event_id").alias("point_id"),
        F.col("user_id").alias("study_id"),
        F.col("event_type").alias("contig"),
        F.unix_micros(F.col("ts")).alias("pos"),
        F.col("value"),
    )
    alleles = F.array(*[F.lit(a) for a in ("A", "C", "G", "T", "AT", "GCC")])
    ref = F.element_at(alleles, (F.col("point_id") % 6 + 1).cast("int"))
    alt = F.element_at(alleles, (F.expr("point_id div 7") % 6 + 1).cast("int"))
    # gnomAD direction: 1 = aligned, -1 = flipped, NULL = not in gnomAD
    direction = (
        F.when(F.col("point_id") % 10 == 7, F.lit(-1))
        .when(F.col("point_id") % 10 == 8, F.lit(None).cast("int"))
        .otherwise(F.lit(1))
    )
    mvp_r2 = 0.75 + ((F.col("point_id") * 13) % 100) / 400.0
    cols = [
        "point_id", "study_id", "contig", "pos",
        ref.alias("ref"), alt.alias("alt"), direction.alias("direction"),
        F.round(F.col("value") / 1000.0, 6).alias("meta_beta"),
        F.round(F.abs(F.col("value")) / 5000.0 + 0.001, 6).alias("meta_se"),
        F.round(F.abs(F.col("value")) / 10.0, 6).alias("neglogp"),
        mvp_r2.alias("mvp_r2"),
    ]
    for i, (name, n, mod) in enumerate(FINNGEN_COHORTS, start=1):
        present = F.col("point_id") % mod != 0
        af = ((F.col("point_id") * 37 + i) % 1000) / 1000.0
        cols.append(F.when(present, af).alias(f"af_{name}"))
        cols.append(present.alias(f"in_{name}"))
    wide = base.select(*cols)
    n_cohorts = sum(
        (F.col(f"in_{name}").cast("int") for name, _, _ in FINNGEN_COHORTS),
        start=F.lit(0),
    )
    filtered = (
        wide.withColumn("n_cohorts", n_cohorts)
        .filter(F.col("n_cohorts") >= 2)  # (4) meta-analyzed only
        .filter(  # (5) imputation score: MVP cohort only
            ~F.col("in_mvp") | (F.col("mvp_r2") >= FINNGEN_IMPUTATION_MIN_R2)
        )
    )
    # (7) direction alignment: flip beta and AFs, swap the variant id
    flipped = F.col("direction") == -1
    d = F.coalesce(F.col("direction"), F.lit(1))
    aligned_cols = [
        F.when(flipped & F.col(f"af_{name}").isNotNull(), 1.0 - F.col(f"af_{name}"))
        .otherwise(F.col(f"af_{name}"))
        .alias(f"af_{name}")
        for name, _, _ in FINNGEN_COHORTS
    ]
    aligned = filtered.select(
        "point_id", "study_id", "contig", "pos", "n_cohorts",
        "meta_se", "neglogp",
        (F.round(F.col("meta_beta") * d, 6) + 0.0).alias("beta"),
        F.when(flipped, F.concat_ws("_", F.col("contig"), F.col("pos"), F.col("alt"), F.col("ref")))
        .otherwise(F.concat_ws("_", F.col("contig"), F.col("pos"), F.col("ref"), F.col("alt")))
        .alias("variant_id"),
        *aligned_cols,
        *[F.col(f"in_{name}") for name, _, _ in FINNGEN_COHORTS],
    )
    # (9) combined EAF over present cohorts; (10) MAC filter per cohort
    num = sum(
        (
            F.when(F.col(f"in_{name}"), F.col(f"af_{name}") * float(n)).otherwise(F.lit(0.0))
            for name, n, _ in FINNGEN_COHORTS
        ),
        start=F.lit(0.0),
    )
    den = sum(
        (
            F.when(F.col(f"in_{name}"), F.lit(float(n))).otherwise(F.lit(0.0))
            for name, n, _ in FINNGEN_COHORTS
        ),
        start=F.lit(0.0),
    )
    mac_ok = [
        ~F.col(f"in_{name}")
        | (
            2.0 * F.least(F.col(f"af_{name}"), 1.0 - F.col(f"af_{name}")) * float(n)
            >= FINNGEN_MIN_ALLELE_COUNT
        )
        for name, n, _ in FINNGEN_COHORTS
    ]
    out = aligned.withColumn("eaf", F.floor(num / den * 1e6) / 1e6).withColumn(
        "sample_size",
        sum(
            (
                F.when(F.col(f"in_{name}"), F.lit(n)).otherwise(F.lit(0))
                for name, n, _ in FINNGEN_COHORTS
            ),
            start=F.lit(0),
        ).cast("long"),
    )
    for cond in mac_ok:
        out = out.filter(cond)
    return out.select(
        "point_id", "study_id", "variant_id", "contig", "pos",
        "beta", F.col("meta_se").alias("standard_error"), "neglogp",
        "eaf", "sample_size", "n_cohorts",
    )


def _finngen_sql() -> str:
    arr = "(['A','C','G','T','AT','GCC'])"
    ref = f"{arr}[CAST(point_id % 6 AS INT) + 1]"
    alt = f"{arr}[CAST((point_id // 7) % 6 AS INT) + 1]"
    af = {
        name: f"CASE WHEN point_id % {mod} <> 0 THEN ((point_id * 37 + {i}) % 1000) / 1000.0 END"
        for i, (name, _, mod) in enumerate(FINNGEN_COHORTS, start=1)
    }
    present = {
        name: f"point_id % {mod} <> 0" for name, _, mod in FINNGEN_COHORTS
    }
    n_cohorts = " + ".join(
        f"CAST({present[name]} AS INT)" for name, _, _ in FINNGEN_COHORTS
    )
    af_flip = {
        name: (
            f"CASE WHEN direction = -1 AND af_{name} IS NOT NULL"
            f" THEN 1.0 - af_{name} ELSE af_{name} END"
        )
        for name, _, _ in FINNGEN_COHORTS
    }
    num = " + ".join(
        f"CASE WHEN in_{name} THEN af_{name} * {float(n)!r} ELSE 0.0 END"
        for name, n, _ in FINNGEN_COHORTS
    )
    den = " + ".join(
        f"CASE WHEN in_{name} THEN {float(n)!r} ELSE 0.0 END"
        for name, n, _ in FINNGEN_COHORTS
    )
    mac = " AND ".join(
        f"(NOT in_{name} OR 2.0 * LEAST(af_{name}, 1.0 - af_{name}) * {float(n)!r}"
        f" >= {FINNGEN_MIN_ALLELE_COUNT})"
        for name, n, _ in FINNGEN_COHORTS
    )
    ssize = " + ".join(
        f"CASE WHEN in_{name} THEN {n} ELSE 0 END" for name, n, _ in FINNGEN_COHORTS
    )
    af_cols = ",\n    ".join(f"{af[name]} AS af_{name}" for name, _, _ in FINNGEN_COHORTS)
    in_cols = ",\n    ".join(f"{present[name]} AS in_{name}" for name, _, _ in FINNGEN_COHORTS)
    flip_cols = ",\n    ".join(f"{af_flip[name]} AS af_{name}" for name, _, _ in FINNGEN_COHORTS)
    return f"""
WITH base AS (
  SELECT event_id AS point_id, user_id AS study_id, event_type AS contig,
         epoch_us(ts) AS pos, value,
    {ref} AS ref, {alt} AS alt,
    CASE WHEN event_id % 10 = 7 THEN -1
         WHEN event_id % 10 = 8 THEN NULL
         ELSE 1 END AS direction,
    ROUND(value / 1000.0, 6) AS meta_beta,
    ROUND(ABS(value) / 5000.0 + 0.001, 6) AS meta_se,
    ROUND(ABS(value) / 10.0, 6) AS neglogp,
    0.75 + ((event_id * 13) % 100) / 400.0 AS mvp_r2,
    {af_cols},
    {in_cols}
  FROM events
),
filtered AS (
  SELECT *, {n_cohorts} AS n_cohorts FROM base
  WHERE {n_cohorts} >= 2
    AND (NOT in_mvp OR mvp_r2 >= {FINNGEN_IMPUTATION_MIN_R2!r})
),
aligned AS (
  SELECT point_id, study_id, contig, pos, n_cohorts, meta_se, neglogp,
    ROUND(meta_beta * COALESCE(direction, 1), 6) + 0.0 AS beta,
    CASE WHEN direction = -1
         THEN CONCAT_WS('_', contig, pos, alt, ref)
         ELSE CONCAT_WS('_', contig, pos, ref, alt) END AS variant_id,
    {flip_cols},
    in_fg, in_mvp, in_ukbb
  FROM filtered
)
SELECT point_id, study_id, variant_id, contig, pos,
  beta, meta_se AS standard_error, neglogp,
  FLOOR(({num}) / ({den}) * 1e6) / 1e6 AS eaf,
  CAST({ssize} AS BIGINT) AS sample_size,
  n_cohorts
FROM aligned
WHERE {mac}
"""


REGISTRY["sumstat_harmonise_finngen"] = QuerySpec(
    q_sumstat_harmonise_finngen, _finngen_sql()
)
