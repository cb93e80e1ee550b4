"""RFM customer segmentation: the classic recency / frequency /
monetary quintile segmentation (Hughes, "Strategic Database
Marketing", 1994 — the standard warehouse cohorting operator), over
every customer with at least one order.

Determinism contract: every metric is an exact integer — recency as
DAYS since epoch of the latest order date, frequency as the order
count, monetary as the cent sum (round(price·100), the skyline money
discipline) — and each quintile is assigned by the closed form
``seg = (5 · (rank − 1)) div n`` over the TOTAL order
(metric, custkey), custkey breaking metric ties. No ntile(): its
extra-row placement is engine-convention; the div form is TRUE
integer division on both sides (Spark ``div``, DuckDB ``//``;
``floor(a/b)`` would be IEEE double division in both
engines, exact only below 2^53). Segments run 0..4 ascending in the
metric (recency 4 = most recent, frequency 4 = most orders,
monetary 4 = highest spend).

Scale shape: one keyed aggregation (orders → per-customer metrics), then ONE
distributed global rank (not three sequential ones) — the
``operators/snm.py`` range-repartition + local row_number +
broadcast-offsets rewrite, the engine's only total-order pattern, reused —
over the tag-union of the three (metric, custkey) streams, 3n rows of the
customer-dimension-sized metric frame (never the orders fact). ``n`` is
computed ONCE driver-side from the checkpointed metric frame; with tag
leading the total order each tag block holds exactly n rows, so the
per-metric rank is ``rn − tag·n`` with no per-tag recount. A custkey-keyed
pivot agg folds the three segment columns back and joins the checkpointed
metrics. No single-task window ever sees the whole frame.

The DuckDB oracle is the deliberately single-machine form (three
plain ROW_NUMBER windows + the same floor arithmetic), so the
distributed rank rewrite is what the compare checks — on all three
metrics at once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from node_js_etl_processor_spark.functions import barrier

from .snm import global_rank


def rfm_metrics(orders: DataFrame) -> DataFrame:
    """(custkey, recency_days, n_orders, monetary_cents) per customer
    with ≥ 1 order — all exact BIGINT."""
    return orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.datediff(F.max("o_orderdate"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("recency_days"),
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("monetary_cents"),
    )


def q_rfm_segments(orders: DataFrame) -> DataFrame:
    """Declared query:
    (custkey, recency_days, n_orders, monetary_cents, r_seg, f_seg,
    m_seg) — see the module docstring.

    Instead of three
    sequential range-rank + checkpoint rounds (one per metric), the
    three (metric, custkey) streams are tag-unioned and range-ranked
    ONCE on the total order (tag, metric, custkey). Because every
    customer appears exactly once per tag, each tag block holds
    exactly ``n`` rows and the per-metric rank is the closed form
    ``rn − tag·n`` — no per-tag re-count, no second sort. The three
    exchanges + three eager checkpoint jobs become one range
    exchange over 3n rows + one custkey-keyed pivot agg + the
    metrics join-back (measured ~1.3× faster solo at sf0.1 than the
    three-round form, on a 32-core host).
    Segment arithmetic is unchanged: ``(5·(rank−1)) div n`` in true
    integer division, segments 0..4 ascending, custkey tiebreak."""
    m = barrier.cut(rfm_metrics(orders), "rfm.metrics")
    n = m.count()  # one cheap job over the cut frame
    tagged = (
        m.select(
            "custkey",
            F.col("recency_days").alias("metric"),
            F.lit(0).alias("tag"),
        )
        .unionAll(
            m.select(
                "custkey",
                F.col("n_orders").alias("metric"),
                F.lit(1).alias("tag"),
            )
        )
        .unionAll(
            m.select(
                "custkey",
                F.col("monetary_cents").alias("metric"),
                F.lit(2).alias("tag"),
            )
        )
    )
    ranked = global_rank(tagged, ["tag", "metric", "custkey"])
    seg = F.expr(
        f"(5 * (rn - tag * CAST({n} AS BIGINT) - 1))"
        f" div CAST({n} AS BIGINT)"
    )
    segs = ranked.groupBy("custkey").agg(
        F.max(F.when(F.col("tag") == 0, seg)).alias("r_seg"),
        F.max(F.when(F.col("tag") == 1, seg)).alias("f_seg"),
        F.max(F.when(F.col("tag") == 2, seg)).alias("m_seg"),
    )
    return m.join(segs, "custkey").select(
        "custkey",
        "recency_days",
        "n_orders",
        "monetary_cents",
        "r_seg",
        "f_seg",
        "m_seg",
    )


#: the DuckDB twin — the
#: single-machine ROW_NUMBER form, cross-checking the distributed
#: rank rewrite on all three metrics
RFM_SEGMENTS_ORACLE = """
    WITH m AS (
      SELECT o_custkey AS custkey,
             CAST(datediff('day', DATE '1970-01-01', max(o_orderdate))
                  AS BIGINT) AS recency_days,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS monetary_cents
      FROM orders GROUP BY o_custkey
    ), n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM m),
    r AS (
      SELECT m.*,
             row_number() OVER (ORDER BY recency_days, custkey) AS rr,
             row_number() OVER (ORDER BY n_orders, custkey) AS rf,
             row_number() OVER (ORDER BY monetary_cents, custkey) AS rm
      FROM m
    )
    SELECT custkey, recency_days, n_orders, monetary_cents,
           CAST((5 * (rr - 1)) // n.n AS BIGINT) AS r_seg,
           CAST((5 * (rf - 1)) // n.n AS BIGINT) AS f_seg,
           CAST((5 * (rm - 1)) // n.n AS BIGINT) AS m_seg
    FROM r, n
"""
