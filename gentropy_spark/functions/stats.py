"""Statistical column kernel (SURVEY §2.B).

Pure Column-expression re-implementations of gentropy's p-value /
effect-size conversion suite (/root/reference/src/gentropy/common/
stats.py). Everything stays inside whole-stage codegen — no UDFs.

Name map (reference:line → here):
- split_pvalue_column (:428)      → split_pvalue
- neglogpval_from_pvalue (:243)   → neglog_pvalue
- pvalue_from_neglogpval (:395)   → pvalue_from_neglog
- ci (:137)                       → effect_ci
- stderr_from_ci (:519)           → stderr_from_ci
- normalise_gwas_statistics (:271)→ harmonise_effect
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

Z_95 = 1.96


def split_pvalue(p: Column) -> tuple[Column, Column]:
    """p-value → (mantissa, exponent) with mantissa rounded to 3 dp.

    p must be in (0, 1]; exponent = floor(log10 p), mantissa = p/10^e.
    """
    exponent = F.floor(F.log10(p))
    mantissa = F.round(p / F.pow(F.lit(10.0), exponent), 3)
    return mantissa.alias("p_mantissa"), exponent.cast("int").alias("p_exponent")


def neglog_pvalue(mantissa: Column, exponent: Column) -> Column:
    """(mantissa, exponent) → −log10 p."""
    return (-1 * (F.log10(mantissa) + exponent)).alias("neglog_pval")


def pvalue_from_neglog(neglog_p: Column) -> tuple[Column, Column]:
    """−log10 p → (mantissa, exponent): e = ceil(nlp), m = 10^(e−nlp)."""
    exponent = F.ceil(neglog_p)
    mantissa = F.pow(F.lit(10.0), exponent - neglog_p)
    return (
        mantissa.alias("p_mantissa"),
        (-1 * exponent).cast("int").alias("p_exponent"),
    )


def effect_ci(beta: Column, se: Column) -> tuple[Column, Column]:
    """95% confidence interval of the effect: β ± 1.96·SE."""
    return (
        (beta - Z_95 * se).alias("ci_lower"),
        (beta + Z_95 * se).alias("ci_upper"),
    )


def stderr_from_ci(ci_upper: Column, ci_lower: Column) -> Column:
    """SE from the bounds of an odds-ratio CI (log-difference)."""
    return F.abs(F.log(ci_upper) - F.log(ci_lower)) / (2 * Z_95)


def harmonise_effect(
    beta: Column,
    odds_ratio: Column,
    se: Column,
    ci_upper: Column,
    ci_lower: Column,
) -> tuple[Column, Column]:
    """Coalesce-cascade harmonisation of effect and standard error.

    β: keep if present, else ln(odds ratio). SE: keep if present, else
    derive from OR-based CI bounds; null otherwise (the reference's
    p-value branch needs the χ² kernel — SURVEY §2.B5, round 2).
    """
    beta_h = (
        F.when(beta.isNotNull(), beta)
        .when(odds_ratio.isNotNull(), F.log(odds_ratio))
        .alias("beta_h")
    )
    se_h = (
        F.when(se.isNotNull(), se)
        .when(
            ci_upper.isNotNull() & ci_lower.isNotNull() & odds_ratio.isNotNull(),
            stderr_from_ci(ci_upper, ci_lower),
        )
        .alias("se_h")
    )
    return beta_h, se_h
