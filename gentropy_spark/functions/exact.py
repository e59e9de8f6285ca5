"""Exact, order-independent sums of doubles.

One exact sum discipline: every SUM over doubles that must match a
DuckDB oracle equals ``CAST(SUM(CAST(x AS DECIMAL(38,s))) AS DOUBLE)``
for one scale ``s`` (6, 9 or 12). Decimal addition is associative, so
Spark's partial-aggregation order and DuckDB's serial order give
bit-equal results (a plain double SUM is order-dependent in the last
ulp). ``exact_sum`` is the one way to write such a sum; there is no
inexact profile.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, WindowSpec
from pyspark.sql import functions as F

_LIMB_BITS = 20  # three limbs of the unit integer: bits 40+, 20..39, 0..19
_LIMB_MASK = (1 << _LIMB_BITS) - 1
_RINT_SLACK = 2.0**-51  # |y| * 2^-51 bounds the cast's distance from y
# |x * 10^s| bound of the long unit path (< 2^63).
_LONG_UNITS = 9e18
# Spark's precision-loss rule keeps at least min(s, 6) decimals of a
# sum whose type passes precision 38: the largest scale at which the
# long part and a DECIMAL(38,s) large-row part add without rounding.
_KERNEL_MAX_SCALE = 6


def exact_decimal_sum(
    col: Column, scale: int = 6, over: WindowSpec | None = None
) -> Column:
    """``SUM(CAST(col AS DECIMAL(38,scale)))``: the same DECIMAL(38,scale)
    value over the decimal sum's whole range, order-free, over ``over``
    when it is given.

    A window sum, and a grouped sum at a scale above 6, is the plain
    decimal sum. A grouped sum at scale 6 avoids the two costs of the
    decimal path:

    - The per-row ``CAST(x AS DECIMAL(38,s))`` is BigDecimal work. It
      yields ``uv``, the integer of ``x`` in units of ``10^-s``; for
      almost every row ``rint(x * 10^s)`` is the same integer for the
      price of one double multiply. With ``y = x * 10^s`` the
      conversion is

          CASE WHEN |y - rint(y)| + |y| * 2^-51 < 1/2
               THEN CAST(rint(y) AS BIGINT)
               ELSE CAST(CAST(x AS DECIMAL(38,s)) * 10^s AS BIGINT) END

      Why the first branch is exact: Spark's cast parses the decimal
      string of ``x`` (Java's ``Double.toString``; any string that
      round-trips to ``x`` will do) and rounds it HALF_UP to ``s`` dp.
      That string is within ulp(x)/2 of ``x``, i.e. less than ulp(y)
      in units, because ulp(x) * 10^s < 2 * ulp(y). The product ``y``
      is within ulp(y)/2 of ``x * 10^s``. So the string lies within
      1.5 * ulp(y) <= 1.5 * |y| * 2^-52 < |y| * 2^-51 of ``y``, and
      when the guard holds it lies less than 1/2 from the integer
      ``n = rint(y)``: never on a HALF_UP tie, and the cast rounds to
      the same ``n``. (Both terms of the guard are exact in double;
      rounding their sum cannot carry it below 1/2. Subnormal ``y``
      has ``n = 0`` and a distance far below 1/2.) The guard fails
      from |y| = 2^50 on. Everything else (ties at ``s + 1`` dp, large
      magnitudes, NaN, NULL) takes the decimal branch.
    - A DECIMAL(38,s) sum buffer is BigDecimal-backed in Spark (the
      compact-long fast path stops at precision 18), but the same
      exact value is reachable through LONG arithmetic. ``uv`` is
      split into 20-bit limbs, ``uv = a * 2^40 + b * 2^20 + c`` with
      ``a = uv >> 40``, ``b = (uv >> 20) & (2^20 - 1)`` and
      ``c = uv & (2^20 - 1)`` (arithmetic shift is floor division and
      two's-complement AND gives a non-negative remainder, so the
      identity holds for negative values too), and each limb is
      summed as a plain long (codegen fast path). A limb is below
      2^23 in magnitude, so a long limb sum holds 2^40 rows of any
      size per group; per group the value is

          SUM(a) * 2^40/10^s + SUM(b) * 2^20/10^s + SUM(c) / 10^s

      with the three weights as exact decimal literals, typed
      DECIMAL(36,s) and exact. ``uv`` itself must fit a long: rows
      with |x * 10^s| at or above 9e18 (and NaN/infinity) skip the
      long sums and go to a third, plain DECIMAL(38,s) sum. The two
      parts add as DECIMAL(38,s) with no rounding: Spark's
      precision-loss rule keeps min(s, 6) decimals, hence scale 6 as
      the kernel's bound. So the result holds the decimal sum's range,
      |sum| < 10^(38-s). A group with no rows on one side keeps the
      other side's value, and an all-NULL group stays NULL.
    """
    dec = f"decimal(38,{scale})"
    if over is not None:
        return F.sum(col.cast(dec)).over(over)
    if scale > _KERNEL_MAX_SCALE:
        return F.sum(col.cast(dec))
    unit = 10**scale
    y = col * F.lit(float(unit))
    n = F.rint(y)
    in_long = F.abs(y) < F.lit(_LONG_UNITS)
    uv = F.when(
        F.abs(y - n) + F.abs(y) * F.lit(_RINT_SLACK) < F.lit(0.5), n.cast("long")
    ).when(in_long, (col.cast(dec) * F.lit(unit)).cast("long"))
    mask = F.lit(_LIMB_MASK)

    def weight(bits: int) -> Column:  # 2^bits units, an exact decimal
        return F.lit(Decimal(1 << bits).scaleb(-scale))

    small = (
        F.sum(F.shiftright(uv, 2 * _LIMB_BITS)) * weight(2 * _LIMB_BITS)
        + F.sum(F.shiftright(uv, _LIMB_BITS).bitwiseAND(mask)) * weight(_LIMB_BITS)
        + F.sum(uv.bitwiseAND(mask)) * weight(0)
    )
    large = F.sum(F.when(~in_long, col.cast(dec)))
    return F.coalesce(small + large, small, large)


def exact_sum(col: Column, scale: int = 6, over: WindowSpec | None = None) -> Column:
    """``CAST(SUM(CAST(col AS DECIMAL(38,scale))) AS DOUBLE)``, bit for
    bit, grouped or over ``over`` (see ``exact_decimal_sum``)."""
    return exact_decimal_sum(col, scale, over).cast("double")
