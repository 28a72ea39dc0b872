"""Cross-engine-deterministic arithmetic helpers.

Floating-point aggregation order differs between Spark (partial/final
partitions) and any oracle engine, so a raw ``sum(double)`` is not
hash-stable.  Money-style sums instead go through DECIMAL(18,6): decimal
addition is exact and order-independent, so Spark and DuckDB produce
bit-identical results, which we round and cast back to double for a
clean output schema (SURVEY.md §7.3.1).

Averages divide the exact decimal sum *as a double* by the count —
IEEE-754 double division is correctly rounded and engine-independent —
then round.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,6)"


def dec(c: Column | str) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(DEC)


def dround(c: Column | str, ndigits: int = 2) -> Column:
    """Per-row money rounding that agrees across engines.

    ``round(double, 2)`` differs between Spark (HALF_UP on the exact
    binary value) and DuckDB (scale-then-std::round) precisely when the
    value is an exact decimal half (e.g. price*(1-disc) = x.xx5).  Going
    through DECIMAL(18,6) first recovers the exact decimal in both
    engines, so the final HALF_UP round is identical."""
    return F.round(dec(c), ndigits).cast("double")


def sql_dround(expr: str, ndigits: int = 2) -> str:
    return f"CAST(round(CAST({expr} AS DECIMAL(18,6)), {ndigits}) AS DOUBLE)"


def dsum(c: Column | str, ndigits: int = 2) -> Column:
    """Order-independent sum of a double column, rounded, as double."""
    return F.round(F.sum(dec(c)), ndigits).cast("double")


def davg(c: Column | str, ndigits: int = 4) -> Column:
    """Deterministic mean: exact decimal sum → double division → round."""
    return F.round(F.sum(dec(c)).cast("double") / F.count(F.lit(1)), ndigits)


def sql_dsum(expr: str, ndigits: int = 2) -> str:
    """DuckDB-side twin of :func:`dsum` for oracle SQL strings."""
    return f"CAST(round(sum(CAST({expr} AS DECIMAL(18,6))), {ndigits}) AS DOUBLE)"


def sql_davg(expr: str, ndigits: int = 4) -> str:
    return (
        f"round(CAST(sum(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"
        f" / count(*), {ndigits})"
    )


def sql_cents2(col: str) -> str:
    """Exact ×10² BIGINT scaling of a 2-decimal money column (the b147
    cents pattern): the stored double is the nearest binary to p/100,
    so round(x·100) recovers p exactly for |p| ≪ 2⁵²."""
    return f"CAST(round({col} * 100) AS BIGINT)"


def sql_dsum_c4(prod_c4: str, ndigits: int = 2) -> str:
    """Fast exact twin of :func:`sql_dsum` / :func:`dsum` for
    money expressions whose EXACT value has ≤ 4 decimal places,
    pre-scaled ×10⁴ into a BIGINT product expression (e.g.
    ``sql_cents2(price) * (100 - sql_cents2(discount))``).

    Why: dsum's per-row decimal(18,6) casts and decimal×decimal
    products run the aggregate through the non-compact BigDecimal path
    — measured 3.7× the cost of the same plan on primitive longs
    (b09, sf0.1).  Here the per-row work is long multiply-adds in
    whole-stage codegen; ONLY the sum accumulates in decimal(38,0)
    (exact at any corpus scale — an all-long sum would overflow 2⁶³
    past ~10⁸ rows for ×10⁶-scaled charges).

    Bit-identical to ``round(sum(CAST(v AS DECIMAL(18,6))), n)::
    DOUBLE``: the decimal cast of the double v recovers the exact
    ≤4-dp rational (the double sits ≪ 5·10⁻⁷ from it), the decimal
    sum is the exact rational s/10⁴, HALF_UP at 2 digits on that
    rational is the sign-aware integer trunc-div below (`div`
    truncates toward zero; +50/−50 biases implement away-from-zero
    ties), and the final /100.0 — one correctly-rounded IEEE division
    of an integer — equals casting the exact 2-dp decimal to double.
    At ndigits ≥ 4 the round is a no-op on a 4-dp value and the
    division by 10⁴ is the single rounding on both paths."""
    # D-suffixed divisors: a bare 100.0 parses as DECIMAL(4,1) in Spark
    # SQL and drags the quotient back into decimal (the b150 literal
    # lesson); 100.0D forces the double division the
    # bit-identity argument needs.
    #
    # The rounding division runs on the DECIMAL sum and only
    # the already-divided quotient becomes BIGINT — casting the raw sum
    # to BIGINT first would reinstate the 2⁶³ ceiling (~9.2·10¹⁸ at ×10⁴
    # scale) the decimal accumulator exists to avoid (ANSI:
    # ARITHMETIC_OVERFLOW at extreme corpus scale).  Spark's `div` is
    # IntegralDivide — LONG-typed, truncating toward zero — for decimal
    # operands too, so `(s ± 50) div 100` IS the quotient cast; the
    # ndigits≥4 path casts the decimal straight to DOUBLE (the decimal→
    # double and the old bigint→double conversions of the same integer
    # are both correctly rounded, hence bit-identical where both exist).
    s = f"sum(CAST({prod_c4} AS DECIMAL(38,0)))"
    if ndigits >= 4:
        return f"(CAST({s} AS DOUBLE) / 10000.0D)"
    if ndigits == 2:
        return (
            f"(CASE WHEN {s} >= 0 THEN ({s} + 50) div 100 "
            f"ELSE ({s} - 50) div 100 END) / 100.0D"
        )
    raise ValueError(f"unsupported ndigits for c4 fast path: {ndigits}")


def finite(c: Column | str) -> Column:
    """TRUE iff the double is finite (not NULL/NaN/±Inf).  The
    quarantine predicate for metric columns that feed integer-unit
    casts: round(NaN·1e6)::BIGINT is a whole-query crash under ANSI in
    Spark and an INT128 conversion error in DuckDB (found by a NaN
    probe — the b80-digitless-props class for numerics),
    so every value-casting query filters on this, mirrored by
    ``WHERE isfinite(value)`` in its oracle.  At 100 TB a metrics
    pipeline quarantines non-finite readings; it must never crash on
    one."""
    col = F.col(c) if isinstance(c, str) else c
    return (
        ~F.isnan(col)
        & (col > F.lit(float("-inf")))
        & (col < F.lit(float("inf")))
    )
