"""Per-group OLS trend via exact integer sufficient statistics:
simple linear regression of order value on order date, the
monitoring pass a pipeline runs per segment ("is this source's
quality/price/volume drifting, and how fast?"). The textbook
closed form (e.g. Draper & Smith, Applied Regression Analysis §1)
needs only five sums — n, Σx, Σy, Σx², Σxy — which is also exactly
how a distributed engine WANTS to compute it: the sums are
commutative/associative, so the whole regression is one map-side-
combined keyed aggregation, the same mergeable-partials law the
sketch family documents.

Determinism contract: x is the day offset of the order date from a
fixed epoch (1998-07-01, centered inside the generator's 1995–2001
date range to keep magnitudes small), y is the price in exact cents — both
BIGINT, so all five sums are exact integers and compare bitwise.
The slope itself is emitted as ONE fixed-shape double expression
``(n·Σxy − Σx·Σy) / (n·Σxx − Σx·Σx)`` evaluated in DOUBLE on both
engines: every operand is a BIGINT→DOUBLE conversion (exact below
2^53 — the sums stay under 10^17 at 100× the bench scale) and every
operation is a single correctly-rounded IEEE op in the same written
order, so both engines produce the bit-identical double. Degenerate
groups (all orders on one day → zero denominator) yield NULL via a
nullif guard, identically on both sides.

Scale shape: ONE narrow projection + ONE keyed aggregation with
map-side combine — no windows, no joins, no second exchange. This is
the minimal possible plan for a regression, and it scales exactly
like q_count_by_source: partial sums merge associatively across any
number of executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: fixed x-epoch (centering constant) — interpolated into the staged
#: oracle so engine and oracle can never drift.
X_EPOCH = "1998-07-01"


#: the five SUM-mergeable statistics — the merge law the streamed
#: store lane (streaming/sketches.py generic loop) re-aggregates by
TREND_STAT_COLS = ("n", "sx", "sy", "sxx", "sxy")


def trend_stats(orders: DataFrame) -> DataFrame:
    """Per-priority integer sufficient statistics (o_orderpriority,
    n, sx, sy, sxx, sxy) — the mergeable-partials half of the
    regression (the store lane's half): partials from disjoint drops
    SUM to the corpus statistics exactly, so the streamed store's
    merge law is plain per-key addition."""
    base = orders.filter(
        F.col("o_totalprice").isNotNull() & F.col("o_orderdate").isNotNull()
    ).select(
        "o_orderpriority",
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lit(X_EPOCH))
        )
        .cast("bigint")
        .alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
    )
    return base.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )


def trend_from_stats(stats: DataFrame) -> DataFrame:
    """Finish the regression from a (possibly partial-per-drop)
    statistics frame: SUM-merge per key, then the fixed-shape double
    slope. On the batch path the input is already one row per key and
    its partitioning satisfies the re-aggregation, so no second
    exchange appears (plan-pinned); on the store path this is the
    read that makes stream == batch exact."""
    agg = stats.groupBy("o_orderpriority").agg(
        *[F.sum(c).cast("bigint").alias(c) for c in TREND_STAT_COLS]
    )
    num = F.col("n").cast("double") * F.col("sxy").cast("double") - F.col(
        "sx"
    ).cast("double") * F.col("sy").cast("double")
    den = F.col("n").cast("double") * F.col("sxx").cast("double") - F.col(
        "sx"
    ).cast("double") * F.col("sx").cast("double")
    return agg.withColumn(
        "slope_cents_per_day", num / F.nullif(den, F.lit(0.0))
    )


def q_ols_trend(orders: DataFrame) -> DataFrame:
    """Declared query: per-priority OLS of price-in-cents
    on day-offset — (o_orderpriority, n, sx, sy, sxx, sxy,
    slope_cents_per_day); sums exact BIGINT, slope one fixed-shape
    double expression (module docstring has the parity argument)."""
    return trend_from_stats(trend_stats(orders))


#: the DuckDB twin — identical
#: integer sufficient statistics, identical fixed-shape double slope.
OLS_TREND_ORACLE = f"""
    WITH base AS (
      SELECT o_orderpriority,
             CAST(date_diff('day', DATE '{X_EPOCH}',
                            CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
             CAST(round(o_totalprice * 100) AS BIGINT) AS y
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
    ), agg AS (
      SELECT o_orderpriority,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM base GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n, sx, sy, sxx, sxy,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0)
             AS slope_cents_per_day
    FROM agg
"""
