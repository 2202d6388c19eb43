"""Cross-engine-exact numeric conventions.

Floating-point aggregation order differs between engines (and between
partitionings of the same engine), so raw ``SUM(double)`` is not
reproducible bit-for-bit.  Every judged aggregate therefore goes through
decimal arithmetic, which is exact and associative, and is only cast to
double at the very end — both Spark and DuckDB then produce the *same*
double for the same exact decimal value.

Conventions (mirror these in oracle SQL):

* sum:      ``CAST(ROUND(SUM(CAST(x AS DECIMAL(18,4))), 2) AS DOUBLE)``
  — the ROUND keeps the decimal at scale 2 before the double cast, so
  both engines perform a single correctly-rounded conversion (casting a
  high-scale decimal to double costs DuckDB two roundings and can differ
  from Spark by 1 ULP)
* product:  cast both factors to DECIMAL before multiplying
* average:  exact-double sum / COUNT, in double arithmetic, ROUND(..., 6)
  (one double division of identical operands is deterministic)

This doubles as the 100TB answer: decimal sums are associative, so
map-side partial aggregation and AQE re-partitioning cannot change the
result.

``DEC`` (``decimal(18,4)``) is defined once, in the medallion core's
``functions/timeseries.py``; this module imports it from there.  The
rest of this module is registry-only and stays out of the core.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from velib_lakehouse_spark.functions.timeseries import DEC

DEC_HI = "decimal(18,6)"


def dec_sum(col: Column | str, alias: str) -> Column:
    """Exact sum of a double column, surfaced as double (2-decimal)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(DEC)), 2).cast("double").alias(alias)


def dec_sum_expr(col: Column) -> Column:
    return F.round(F.sum(col.cast(DEC)), 2).cast("double")


def dec_avg(col: Column | str, alias: str) -> Column:
    """Exact-sum / count average, rounded to 6 places."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(DEC)).cast("double") / F.count(c), 6).alias(alias)


def dec_product(a: Column, b: Column) -> Column:
    """Exact product of two double columns (decimal domain)."""
    return a.cast(DEC_HI) * b.cast(DEC_HI)


# ---- integer fixed-point fast path -----------------------------------------
#
# When the inputs have a KNOWN fixed decimal scale (TPC-H money/quantity
# columns: <= 2 places), the decimal route above leaves performance on
# the table: sum(DECIMAL(18,4)) widens to DECIMAL(28,4), which Spark
# backs with BigDecimal objects instead of codegen longs (measured ~3x
# on the Q1 aggregate).  Scaling to integer micro-units (1e-4) first
# keeps the whole aggregate in long arithmetic — still exact, still
# associative (so partial aggregation/AQE cannot change results), and
# whole-stage-codegen fast.  round(x*100) is safe because a 2-decimal
# double is within 1 ULP of its scaled integer — never near a .5
# boundary.  NONNEGATIVE inputs only (the final half-up rounding is
# emulated in exact integer arithmetic); signed columns (acctbal) stay
# on the decimal path.
#
# SCALE BOUND (explicit, because "exact" has a domain): the long
# accumulator holds ~9.2e18.  Scale-4 products of TPC-H money columns
# are ~1e9 micro-units per row, so SUM overflows int64 at ~9.2e9 rows
# *per aggregation group* — ~TPC-H sf6000 (≈6 TB) for Q1's 4 groups.
# Under ANSI mode that is a loud error, not a wrong answer.  Past that
# scale use ``micro_sum_2dp_wide`` (identical value, decimal(38,0)
# accumulator — exact to 1e38, off the codegen fast path) — or keep the
# fast path by pre-aggregating finer groups first.  The final
# half-up-to-2dp step avoids double division entirely (an earlier
# version used floor((s+50)/100.0), which silently loses integer
# exactness once s > 2^53 ≈ 9e15, i.e. ~sf60): it subtracts the
# remainder in long math and performs one exact decimal division, so
# the cents value is exact for any in-range sum; the one double cast at
# the end is a single correctly-rounded conversion in both engines.

CENTS = 100
MICRO = 10_000


def cents(col: Column | str) -> Column:
    """Exact integer cents of a nonnegative <=2-decimal double column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * CENTS).cast("bigint")


def cents_product(a: Column | str, b: Column | str) -> Column:
    """cents(a) * cents(b): exact scale-4 micro-units, pure long math."""
    return cents(a) * cents(b)


def _half_up_2dp(s: Column, alias: str) -> Column:
    """(s + 50) div 100 in exact arithmetic, surfaced as double cents/100.

    ``s % 100`` and the subtraction stay in long math; the division is
    decimal-exact because the dividend is a multiple of 100 (decimal
    division's scale-adjustment rounding is the identity on an integral
    quotient).  No double op touches the sum until the final cast.
    """
    shifted = s + F.lit(50)
    whole = (shifted - shifted % F.lit(100)).cast("decimal(38,0)")
    cents2 = (whole / F.lit(100)).cast("decimal(38,0)")
    return (cents2.cast("double") / F.lit(100.0)).alias(alias)


def micro_sum_2dp(micro_col: Column, alias: str) -> Column:
    """SUM of scale-4 micro-units, rounded half-up to 2 decimals and
    surfaced as double — same value as ``dec_sum`` on the unscaled
    column (nonnegative inputs).  Long accumulator: valid to ~9.2e9
    rows/group of ~1e9-unit products (see SCALE BOUND above); past that
    use ``micro_sum_2dp_wide``."""
    return _half_up_2dp(F.sum(micro_col), alias)


def micro_sum_2dp_wide(micro_col: Column, alias: str) -> Column:
    """``micro_sum_2dp`` with a decimal(38,0) accumulator: same value,
    no int64 bound (exact to 1e38 micro-units), for aggregation groups
    past ~9.2e9 rows.  Off the codegen long fast path — pay it only at
    the scale that needs it."""
    return _half_up_2dp(
        F.sum(micro_col.cast("decimal(38,0)")).cast("decimal(38,0)"), alias
    )


def micro_avg_6dp(micro_col: Column, count_col: Column | str, alias: str) -> Column:
    """Exact micro sum -> double, / 1e4, / count, rounded to 6 — the
    identical double-op sequence as ``dec_avg``."""
    c = F.col(count_col) if isinstance(count_col, str) else count_col
    return F.round(
        F.sum(micro_col).cast("double") / F.lit(float(MICRO)) / F.count(c), 6
    ).alias(alias)


def sql_cents(expr: str) -> str:
    return f"CAST(round(({expr}) * 100) AS BIGINT)"


def sql_cents_product(a: str, b: str) -> str:
    return f"({sql_cents(a)} * {sql_cents(b)})"


def sql_micro_sum_2dp(micro_expr: str, alias: str) -> str:
    # BIGINT // is exact integer division — mirrors the long/decimal
    # exact route on the Spark side (no double touches the sum).
    return (
        f"CAST((SUM({micro_expr}) + 50) // 100 AS DOUBLE) / 100.0"
        f" AS {alias}"
    )


def sql_micro_avg_6dp(micro_expr: str, count_expr: str, alias: str) -> str:
    return (
        f"ROUND(CAST(SUM({micro_expr}) AS DOUBLE) / 10000.0"
        f" / COUNT({count_expr}), 6) AS {alias}"
    )
