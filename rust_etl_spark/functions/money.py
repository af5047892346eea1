"""Exact scaled-integer money expressions, shared across plan modules.

``round(sum(double), 2)`` is NOT engine-portable: Spark and DuckDB may
reduce the same multiset of doubles in different orders, and when the
accumulated low bits differ the final cent-round can land on opposite
sides of a half-cent boundary (or pick different ulp-tied max
winners). So every graded MONEY aggregate, and ``events.value``
(``VALUE_CENTS``), is exact scaled-integer — the fixture generator quantizes
event values to exactly 2 decimals (verified: 0 of 100k sf0.1 rows
carry >2), so scaled-integer sums are value-exact there too, not a
semantics fork. Genuinely continuous derived floats (cosine scores,
centroid means) are NOT quantized; they use ``round_half_up`` on
deterministic inputs instead.

The pattern (abc_analysis/q9/q15 heritage): prices quantize to integer
cents and rates to integer percents — one IEEE multiply + one
half-up round per ROW on bit-identical parquet inputs, deterministic
on both engines — then every aggregate is exact BIGINT arithmetic, and
the output reconstitutes dollars with one IEEE division plus
``round_half_up`` (pure IEEE ops) on the same BIGINT. Every float step
is bit-identical by construction; no reduction order can matter.

The same expression TEXT runs on both engines (Spark via ``F.expr``,
DuckDB verbatim). Top-k orderings must sort on the scaled BIGINT, not
the reconstituted double, so LIMIT membership can never straddle a
rounding boundary.

Int64 headroom: the widest scale used is 10^6 (sum_charge: cents x
discount-pct x tax-pct); per-group sums reach ~1.7e18 of int64's
9.2e18 at a 10x generated tier. Beyond ~sf50 the posture is
DECIMAL(38) accumulators — not needed at any graded or evidence tier,
and the driver harness requires BIGINT-castable outputs anyway. This
bound is ENFORCED, not just documented: tests/test_money_headroom.py
measures max |per-group scaled sum| for every scale family on the
active tier and fails (naming the DECIMAL(38) escape hatch) before
wraparound could produce a wrong hash instead of an error.

The escape hatch is IMPLEMENTED and tested: ``dec38_sql`` wraps a
scaled summand in a DECIMAL(38,0)
cast, so the SUM accumulates in 38-digit exact decimal on both engines
(capacity ~1e38, ~1e19x the int64 bound). Failure-mode note, pinned in
tests/test_money_dec38.py: under Spark 4's DEFAULT ANSI mode a BIGINT
accumulator overflow RAISES ARITHMETIC_OVERFLOW — a loud query error,
not a silent wrap (that wrap is the non-ANSI behavior; nothing in this
repo or the driver disables ANSI) — so past the headroom the BIGINT
form fails loudly and the DEC38 form
is the fix. Reconstitution is unchanged: the exact decimal sum casts
to DOUBLE (correctly rounded, identical on both engines even above
2^53) then one IEEE division + ``round_half_up``.
``groupby_agg_dec38`` (plans/relational.py) runs the q1 shape on this
accumulator and is oracle-verified at every sweep tier;
tests/test_money_dec38.py pins the adversarial grid INCLUDING a
beyond-int64 sum.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from rust_etl_spark.functions.rounding import round_half_up, round_half_up_sql


def cents_sql(col: str) -> str:
    """Integer cents of a dollar-valued double column (engine-portable).

    floor(x*100 + 0.5), not round(x*100, 0): every step is a
    correctly-rounded IEEE op, so the two engines agree BY
    CONSTRUCTION (the repo's round_half_up doctrine) — round(double)
    only agrees empirically (Spark rounds the decimal string via
    BigDecimal, DuckDB multiplies), and Spark's BigDecimal path
    allocates per row, which about doubles scan-bound wide aggregates
    such as q1. Fixture money carries exactly 2 decimals, so
    x*100 sits within ~1e-9 of an integer and the +0.5 never lands
    near a representational boundary; for negative amounts
    (c_acctbal) the tie rule is half-toward-+inf, the same documented
    convention as round_half_up.
    """
    return f"CAST(floor({col} * 100 + 0.5) AS BIGINT)"


def pct_sql(col: str) -> str:
    """Integer percent of a rate-valued double column (0.05 -> 5)."""
    return f"CAST(floor({col} * 100 + 0.5) AS BIGINT)"


#: lineitem building blocks
CENTS = cents_sql("l_extendedprice")
#: floor(x + 0.5), not CAST(x AS BIGINT): fixture quantities are whole
#: numbers, but a bare CAST has divergent cross-engine semantics for
#: non-integral doubles (Spark truncates toward zero, DuckDB rounds
#: half-even) — the floor form is portable by construction and the
#: integrality invariant itself is pinned in test_money_portability.py.
QTY_INT = "CAST(floor(l_quantity + 0.5) AS BIGINT)"
DPCT = pct_sql("l_discount")
TPCT = pct_sql("l_tax")

def dec38_sql(expr: str) -> str:
    """DECIMAL(38,0) accumulator form of a scaled-integer summand.

    Use when test_money_headroom.py trips (~sf25 for CHARGE_SCALED at
    q1's 4-group grain): ``sum(dec38_sql(X))`` accumulates exactly in
    38-digit decimal instead of int64. The per-row value is still the
    exact BIGINT-valued integer (the cast widens, never rounds), so
    results are value-identical to the BIGINT path wherever that path
    is in range — pinned in tests/test_money_dec38.py, which also
    proves the beyond-int64 case where the BIGINT sum raises
    ARITHMETIC_OVERFLOW (Spark ANSI default) and this form stays
    exact. Costs one decimal accumulator per group instead of a long.
    """
    return f"CAST({expr} AS DECIMAL(38, 0))"


#: revenue, scale 10^-4 dollars: cents x (100 - discount-pct)
REV_SCALED = f"{CENTS} * (100 - {DPCT})"
#: discount revenue (Q6 shape), scale 10^-4 dollars: cents x discount-pct
DISC_REV_SCALED = f"{CENTS} * {DPCT}"
#: charge, scale 10^-6 dollars: cents x (100 - dpct) x (100 + tpct)
CHARGE_SCALED = f"{REV_SCALED} * (100 + {TPCT})"
#: the DECIMAL(38,0) escape-hatch accumulator for the widest family —
#: what test_money_headroom.py's failure message migrates q1 to.
CHARGE_SCALED_DEC38 = dec38_sql(CHARGE_SCALED)

#: orders / customer money columns
O_TOTALPRICE_CENTS = cents_sql("o_totalprice")
C_ACCTBAL_CENTS = cents_sql("c_acctbal")

#: events.value integer cents (generator-quantized to 2 decimals; the
#: parity sweep pins the 2-decimal invariant alongside quantity
#: integrality). Headroom: the widest events form is the time-weighted
#: numerator sum(cents x dt_us) per user — measured 2.4e-3 of int64 at
#: sf0.1 and linear in rows-per-user, so ~0.24 of int64 only at
#: ~sf1000, far beyond any graded or evidence tier.
VALUE_CENTS = cents_sql("value")


def value_total_sql() -> str:
    """Exact total of the 2-decimal events.value column: sum BIGINT
    cents, reconstitute dollars with one IEEE division +
    round_half_up (round(sum(double), 2) is the class that hash-failed
    twice at the 10x tier)."""
    return round_half_up_sql(f"CAST(sum({VALUE_CENTS}) AS BIGINT) / 100.0", 2)


def value_total_col() -> Column:
    """Spark form of :func:`value_total_sql`. The batch plans and the
    streaming queries both aggregate with it, so their totals agree
    value for value, and the streaming sum state is an exact BIGINT."""
    return round_half_up(F.sum(F.expr(VALUE_CENTS)).cast("long") / F.lit(100.0), 2)
