"""Distribution kernels: erfc, normal sf, probit, χ²(1 dof) (SURVEY §2.B5).

The reference leans on scipy (chi2.isf/sf, norm.sf — see
/root/reference/src/gentropy/common/udf.py and method/pics.py) via
Python UDFs. Here each kernel is a pure arithmetic composition —
Abramowitz & Stegun 7.1.26 for erfc, Acklam's rational approximation
for the probit — implemented TWICE from one coefficient table: once
as a Spark Column expression (whole-stage codegen, no UDF) and once
as a DuckDB SQL string. Because both engines evaluate the identical
Horner-form arithmetic, results agree to the last ulp modulo libm's
exp/ln, and all consumers round to 6 dp.

Max absolute error vs the true functions: ~1.5e-7 (erfc),
~1.15e-9 (probit) — far below the 6 dp comparisons used everywhere.
"""

from __future__ import annotations

import math
from typing import TypeVar

from pyspark.sql import Column
from pyspark.sql import functions as F

T = TypeVar("T")

# A&S 7.1.26 erf coefficients.
_ERF_P = 0.3275911
_ERF_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)

# Acklam inverse-normal-CDF coefficients.
_ACK_A = (
    -3.969683028665376e01,
    2.209460984245205e02,
    -2.759285104469687e02,
    1.383577518672690e02,
    -3.066479806614716e01,
    2.506628277459239e00,
)
_ACK_B = (
    -5.447609879822406e01,
    1.615858368580409e02,
    -1.556989798598866e02,
    6.680131188771972e01,
    -1.328068155288572e01,
)
_ACK_C = (
    -7.784894002430293e-03,
    -3.223964580411365e-01,
    -2.400758277161838e00,
    -2.549732539343734e00,
    4.374664141464968e00,
    2.938163982698783e00,
)
_ACK_D = (
    7.784695709041462e-03,
    3.224671290700398e-01,
    2.445134137142996e00,
    3.754408661907416e00,
)
_P_LOW = 0.02425

SQRT2 = math.sqrt(2.0)


# --- Spark Column builders -------------------------------------------------
def erfc_col(x: Column) -> Column:
    """erfc(x) via A&S 7.1.26 (valid for all x via reflection)."""
    ax = F.abs(x)
    t = 1.0 / (1.0 + _ERF_P * ax)
    poly = (
        (((_ERF_A[4] * t + _ERF_A[3]) * t + _ERF_A[2]) * t + _ERF_A[1]) * t + _ERF_A[0]
    ) * t
    erfc_pos = poly * F.exp(-(ax * ax))
    return F.when(x >= 0, erfc_pos).otherwise(2.0 - erfc_pos)


def norm_sf_col(z: Column) -> Column:
    """Standard normal survival function P(Z > z)."""
    return 0.5 * erfc_col(z / SQRT2)


def _ack_tail_col(q: Column) -> Column:
    c, d = _ACK_C, _ACK_D
    num = ((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5]
    den = (((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1.0
    return num / den


def probit_col(p: Column) -> Column:
    """Inverse standard normal CDF (Acklam), p ∈ (0, 1)."""
    a, b = _ACK_A, _ACK_B
    q_low = F.sqrt(-2.0 * F.log(p))
    q_high = F.sqrt(-2.0 * F.log(1.0 - p))
    qc = p - 0.5
    r = qc * qc
    num = (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4]) * r + a[5]) * qc
    den = ((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r + 1.0
    return (
        F.when(p < _P_LOW, _ack_tail_col(q_low))
        .when(p > 1.0 - _P_LOW, -_ack_tail_col(q_high))
        .otherwise(num / den)
    )


def chi2_isf_1df_col(p: Column) -> Column:
    """χ²(1) inverse survival function: probit(p/2)²."""
    z = probit_col(p / 2.0)
    return z * z


def chi2_sf_1df_col(x: Column) -> Column:
    """χ²(1) survival function: erfc(√(x/2))."""
    return erfc_col(F.sqrt(x / 2.0))


# --- DuckDB SQL builders (same coefficient table, same Horner order) ------
def _L(v: float) -> str:
    """Float literal in scientific notation — DuckDB parses plain decimals
    as DECIMAL (overflow-prone in polynomials); e-notation forces DOUBLE."""
    return format(v, ".17e")


def erfc_sql(x: str) -> str:
    a = _ERF_A
    poly = (
        f"(((({_L(a[4])} * __t + {_L(a[3])}) * __t + {_L(a[2])}) * __t + {_L(a[1])}) "
        f"* __t + {_L(a[0])}) * __t"
    )
    body = poly.replace("__t", f"(1.0 / (1.0 + {_L(_ERF_P)} * ABS({x})))")
    pos = f"({body}) * EXP(-(ABS({x}) * ABS({x})))"
    return f"(CASE WHEN ({x}) >= 0 THEN {pos} ELSE 2.0 - ({pos}) END)"


def norm_sf_sql(z: str) -> str:
    return f"(0.5 * {erfc_sql(f'(({z}) / {_L(SQRT2)})')})"


def _ack_tail_sql(q: str) -> str:
    c, d = _ACK_C, _ACK_D
    num = (
        f"((((({_L(c[0])} * {q} + {_L(c[1])}) * {q} + {_L(c[2])}) * {q} + {_L(c[3])}) "
        f"* {q} + {_L(c[4])}) * {q} + {_L(c[5])})"
    )
    den = (
        f"(((({_L(d[0])} * {q} + {_L(d[1])}) * {q} + {_L(d[2])}) * {q} + {_L(d[3])}) "
        f"* {q} + 1.0)"
    )
    return f"({num} / {den})"


def probit_sql(p: str) -> str:
    a, b = _ACK_A, _ACK_B
    q_low = f"SQRT(-2.0 * LN({p}))"
    q_high = f"SQRT(-2.0 * LN(1.0 - ({p})))"
    num = (
        f"(((((({_L(a[0])} * __r + {_L(a[1])}) * __r + {_L(a[2])}) * __r + {_L(a[3])}) "
        f"* __r + {_L(a[4])}) * __r + {_L(a[5])}) * __q)"
    )
    den = (
        f"((((({_L(b[0])} * __r + {_L(b[1])}) * __r + {_L(b[2])}) * __r + {_L(b[3])}) "
        f"* __r + {_L(b[4])}) * __r + 1.0)"
    )
    central = (
        f"({num} / {den})"
        .replace("__r", f"((({p}) - 0.5) * (({p}) - 0.5))")
        .replace("__q", f"(({p}) - 0.5)")
    )
    return (
        f"(CASE WHEN ({p}) < {_L(_P_LOW)} THEN {_ack_tail_sql(q_low)} "
        f"WHEN ({p}) > {_L(1.0 - _P_LOW)} THEN -{_ack_tail_sql(q_high)} "
        f"ELSE {central} END)"
    )


def chi2_isf_1df_sql(p: str) -> str:
    z = probit_sql(f"(({p}) / 2.0)")
    return f"({z} * {z})"


def chi2_sf_1df_sql(x: str) -> str:
    return erfc_sql(f"SQRT(({x}) / 2.0)")
