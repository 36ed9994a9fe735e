"""Exact-arithmetic aggregation helpers.

Summing doubles is order-dependent (floating-point addition is not
associative), and Spark's shuffle-parallel partial aggregation visits rows
in a different order than a single-threaded oracle — so ``SUM(double)``
can differ in the last ulps between runs and engines. For money-style
columns whose true scale is 2 (the testdata prices/discounts/taxes), we
cast to DECIMAL before aggregating: decimal sums are EXACT, hence
order-independent, hence bit-identical across Spark, DuckDB, and any
degree of parallelism. The final cast back to double is deterministic.

This is also the right posture at 100 TB: a 600-billion-row sum in double
drifts by thousands of ulps depending on partitioning; decimal
aggregation gives reproducible results run-to-run.

DOMAIN CONTRACT: ``money()``/``rate()`` assume the input's TRUE scale is
2 (money columns). A >2-dp input landing on an exact half-cent tie
(x.xx5) rounds HALF_UP-away-from-zero in Spark but toward +∞ in DuckDB —
a bare decimal cast is only engine-portable under the 2-dp contract.
Operators that accept ARBITRARY-precision metrics (the statistics family
in operators/hypotests.py) must not rely on this contract; they quantize
explicitly via ``hypotests.quantized_money`` (half-up integer cents →
exact /100), which is value-identical on contract-conforming data.

MAGNITUDE ENVELOPE (ADVICE r7): ``quantized_money`` round-trips through
a double, so its per-row input must satisfy |v|·100 < 2⁵³
(|v| < ~9·10¹³ currency units) for the cents grid to be exact; above
that the bare decimal cast would be exact where the double path is not.
The envelope binds PER ROW — downstream sums carry magnitude in exact
decimal accumulators with their own documented 10²⁷ wide-split bound —
and sits ~10 orders above any plausible money value. Documented in the
same style as the hypotests 10²⁷ envelopes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Wide enough for values < 10^10 at scale 2; narrow enough that products
# of three factors stay inside Spark's 38-digit decimal without scale
# truncation (see disc_price/charge below).
MONEY = "decimal(12,2)"
RATE = "decimal(4,2)"


def money(col: Column | str) -> Column:
    return F.col(col).cast(MONEY) if isinstance(col, str) else col.cast(MONEY)


def rate(col: Column | str) -> Column:
    return F.col(col).cast(RATE) if isinstance(col, str) else col.cast(RATE)


def sum_money(col: Column | str, alias: str) -> Column:
    """Exact sum of a 2-decimal double column, returned as double."""
    return F.sum(money(col)).cast("double").alias(alias)


def disc_price(ext: str = "l_extendedprice", disc: str = "l_discount") -> Column:
    """l_extendedprice * (1 - l_discount), all-decimal: (12,2)*(13,2) →
    exact product, no scale truncation."""
    return money(ext) * (F.lit(1) - rate(disc))


def charge(
    ext: str = "l_extendedprice", disc: str = "l_discount", tax: str = "l_tax"
) -> Column:
    """l_extendedprice * (1 - l_discount) * (1 + l_tax), still exact."""
    return disc_price(ext, disc) * (F.lit(1) + rate(tax))


# DuckDB-side fragments for the same arithmetic (oracle parity).
SQL_MONEY = "DECIMAL(12,2)"
SQL_RATE = "DECIMAL(4,2)"


def sql_sum_money(col: str, alias: str) -> str:
    return f"CAST(SUM(CAST({col} AS {SQL_MONEY})) AS DOUBLE) AS {alias}"


def sql_disc_price(ext: str = "l_extendedprice", disc: str = "l_discount") -> str:
    return f"CAST({ext} AS {SQL_MONEY}) * (1 - CAST({disc} AS {SQL_RATE}))"


def sql_charge(
    ext: str = "l_extendedprice", disc: str = "l_discount", tax: str = "l_tax"
) -> str:
    return f"{sql_disc_price(ext, disc)} * (1 + CAST({tax} AS {SQL_RATE}))"


def round_half_up(x: float, digits: int = 6) -> float:
    """Python-side round matching engine ``round()`` semantics.

    Spark's ``round(double, n)`` converts the double to BigDecimal (the
    EXACT binary value) and applies ``setScale(n, HALF_UP)``; DuckDB's
    ``round`` does the same half-away-from-zero. Python's builtin
    ``round`` is banker's (half-to-even), so a tie at the nth decimal
    silently diverges from any SQL replay (ADVICE r4, image_stats).
    ``decimal.Decimal(float)`` is likewise exact, so quantize with
    ROUND_HALF_UP reproduces the engines bit-for-bit. Use this in every
    Arrow-batched UDF that emits a value an oracle replays with
    ``round(expr, n)``.
    """
    import decimal

    q = decimal.Decimal(1).scaleb(-digits)
    return float(
        decimal.Decimal(x).quantize(q, rounding=decimal.ROUND_HALF_UP)
    )
