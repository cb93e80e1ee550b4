"""Exact per-group robust statistics (median / MAD) in pure integer
arithmetic: the robust location/scale pair (Hampel 1974; the
MAD as the robust sigma — Leys et al. 2013's outlier-detection
standard) that q_stats_agg's moment statistics cannot provide, and
that naive cross-engine implementations get WRONG: Spark
``percentile()`` and DuckDB ``quantile_cont`` both interpolate
even-count medians in IEEE doubles, where a 1-ulp divergence flips a
rounded digit (as with per-group money averages).

The twice-median trick makes everything exact: for n values the
DOUBLED median ``med2 = v[lo] + v[hi]`` with ``lo = (n+1) div 2`` and
``hi = n div 2 + 1`` (equal for odd n — the middle value counted
twice) is always an INTEGER of the input's unit. The deviations
``d = |2·v − med2| = 2·|v − median|`` are then integers too, and the
doubled median of d is ``4·MAD`` — so the emitted columns
(n, med2_cents = 2·median, mad4_cents = 4·MAD) are all BIGINT and
the compare is bitwise; the consumer divides at the end, exactly the
PMI/lift sufficient-statistics discipline.

Scale shape (aggregating each median and joining back would compile
to THREE group-keyed exchanges and a double-built window pipeline):
the whole computation is window
expressions over ONE hashpartitioning(group) exchange — rank by
(value, key), derive med2 as a windowed conditional sum over the
group, compute d per-row in place, re-rank by (d, key) inside the
same partitioning (an in-partition re-sort, no new exchange), and
finish with one group-sized aggregation. NO joins anywhere. Per-group
sorts are the honest order-statistic requirement — parallelism across
groups, never a global sort. Ties inside each sort are broken by the
row key so both engines rank identically, and NULL values are
dropped up front (Spark windows order NULLS FIRST, DuckDB NULLS LAST
— robust statistics are over observed values in both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def q_robust_stats(orders: DataFrame) -> DataFrame:
    """Declared query: per-priority robust price
    statistics — (o_orderpriority, n, med2_cents, mad4_cents), all
    BIGINT (module docstring has the doubling conventions)."""
    grp = "o_orderpriority"
    base = orders.filter(F.col("o_totalprice").isNotNull()).select(
        grp,
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.col("o_orderkey").alias("k"),
    )
    w_grp = Window.partitionBy(grp)
    w1 = w_grp.orderBy(F.col("cents").asc(), F.col("k").asc())
    n = F.count("*").over(w_grp)
    lo = F.expr("CAST((_n + 1) AS BIGINT) div 2")
    hi = F.expr("CAST(_n AS BIGINT) div 2 + 1")
    ranked = (
        base.withColumn("_rn", F.row_number().over(w1))
        .withColumn("_n", n)
        .withColumn(
            "med2_cents",
            (
                F.sum(F.when(F.col("_rn") == lo, F.col("cents"))).over(w_grp)
                + F.sum(F.when(F.col("_rn") == hi, F.col("cents"))).over(
                    w_grp
                )
            ).cast("bigint"),
        )
        .withColumn(
            "d", F.abs(2 * F.col("cents") - F.col("med2_cents"))
        )
    )
    w2 = w_grp.orderBy(F.col("d").asc(), F.col("k").asc())
    ranked2 = ranked.withColumn("_rn2", F.row_number().over(w2))
    return ranked2.groupBy(grp).agg(
        F.max("_n").cast("bigint").alias("n"),
        F.max("med2_cents").cast("bigint").alias("med2_cents"),
        (
            F.sum(F.when(F.col("_rn2") == lo, F.col("d")))
            + F.sum(F.when(F.col("_rn2") == hi, F.col("d")))
        )
        .cast("bigint")
        .alias("mad4_cents"),
    )


#: the DuckDB twin — identical
#: doubled-order-statistic arithmetic, NO quantile functions anywhere
ROBUST_STATS_ORACLE = """
    WITH base AS (
      SELECT o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey AS k
      FROM orders WHERE o_totalprice IS NOT NULL
    ), r1 AS (
      SELECT o_orderpriority, cents,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY cents, k) AS rn,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM base
    ), med AS (
      SELECT o_orderpriority, CAST(max(n) AS BIGINT) AS n,
             CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN cents END)
                  + sum(CASE WHEN rn = n // 2 + 1 THEN cents END)
                  AS BIGINT) AS med2_cents
      FROM r1 GROUP BY o_orderpriority
    ), dev AS (
      SELECT b.o_orderpriority, abs(2 * b.cents - m.med2_cents) AS d, b.k
      FROM base b JOIN med m USING (o_orderpriority)
    ), r2 AS (
      SELECT o_orderpriority, d,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY d, k) AS rn,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM dev
    ), mad AS (
      SELECT o_orderpriority,
             CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN d END)
                  + sum(CASE WHEN rn = n // 2 + 1 THEN d END)
                  AS BIGINT) AS mad4_cents
      FROM r2 GROUP BY o_orderpriority
    )
    SELECT med.o_orderpriority, med.n, med.med2_cents, mad.mad4_cents
    FROM med JOIN mad USING (o_orderpriority)
"""
