"""Equi-depth histograms per group — r18-SCHEDULED declaration
(built + staged-oracle-verified in r16; the capacity policy in
__spark_entry__.py holds it for r18): the classic database
statistics structure (Piatetsky-Shapiro & Connell, SIGMOD 1984,
"Accurate Estimation of the Number of Tuples Satisfying a
Condition"; the variance-minimizing V-optimal/equi-depth line of
Ioannidis, VLDB 2003 survey) — B buckets each holding n/B rows, with
observed [lo, hi] value bounds per bucket. A pipeline reads these
for selectivity estimation, partition-boundary planning (the same
range boundaries a range-partitioner wants), and drift monitoring
(compare this week's bucket bounds to last week's).

Determinism contract: values are exact integer cents; bucket
assignment follows SQL-standard NTILE(B) over the total order
(cents, l_orderkey, l_linenumber) within each group — the first
n mod B buckets take the extra row — so membership can never be
ambiguous on ties. Everything emitted (bucket, n, lo_cents,
hi_cents) is BIGINT; the compare is bitwise.

Scale shape — the distributed GROUPED-RANK pattern: the naive
``ntile() OVER (PARTITION BY l_returnflag ORDER BY …)`` plan has
parallelism = #groups (3 returnflags ⇒ 3 tasks sort everything; the
first cut measured 5.4× at the 10× stress point exactly because of
it). Instead the rank is computed the way snm.global_rank computes
its global order: range-repartition on the FULL (group, value, key)
sort tuple, row_number per (partition, group), then add broadcast
per-(partition, group) cumulative offsets (a ≤ #partitions×#groups
row frame). Ranks are boundary-independent because the sort tuple is
total — wherever the range partitioner cuts, local-rank + offset
reproduces the exact in-group position. The NTILE bucket is then
PURE ARITHMETIC on (rank, group count): with q = n div B and
r = n mod B, bucket = ⌈…⌉ per the standard first-r-buckets-larger
rule — no second sort, no single-task window anywhere. The final
(group, bucket) aggregation is map-side combined. The DuckDB twin
deliberately keeps the single-machine NTILE formulation,
cross-checking the distributed rewrite bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from node_js_etl_processor_spark.functions import barrier

#: bucket count — interpolated into the staged oracle so engine and
#: oracle can never drift.
N_BUCKETS = 8

#: range-partition fan-out for the distributed grouped ranking
#: (snm.py's _RANK_PARTS discipline).
_RANK_PARTS = 32


def q_equidepth_hist(
    lineitem: DataFrame,
    n_buckets: int = N_BUCKETS,
    parts: int = _RANK_PARTS,
) -> DataFrame:
    """r18-scheduled declaration: per-returnflag equi-depth histogram
    of extended price — (l_returnflag, bucket, n, lo_cents, hi_cents),
    all BIGINT (module docstring has the NTILE-parity and
    distributed-rank arguments)."""
    base = lineitem.filter(F.col("l_extendedprice").isNotNull()).select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = base.repartitionByRange(
        parts, "l_returnflag", "cents", "l_orderkey", "l_linenumber"
    ).withColumn("pid", F.spark_partition_id())
    w_local = Window.partitionBy("pid", "l_returnflag").orderBy(
        "cents", "l_orderkey", "l_linenumber"
    )
    # the locally-ranked frame feeds the offset counts AND the final
    # rank join, so without the cut the range exchange + window sort
    # over lineitem ran per reference (3 scans in the final plan)
    local = ranked.withColumn("lrn", F.row_number().over(w_local))
    local = barrier.cut(local, "histogram.q_equidepth_hist")
    counts = local.groupBy("pid", "l_returnflag").agg(
        F.count("*").alias("cnt")
    )
    w_off = (
        Window.partitionBy("l_returnflag")
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "off", F.coalesce(F.sum("cnt").over(w_off), F.lit(0))
    ).select("pid", "l_returnflag", "off")
    totals = counts.groupBy("l_returnflag").agg(
        F.sum("cnt").cast("bigint").alias("n_grp")
    )
    rn = (F.col("lrn") + F.col("off")).cast("bigint")
    with_rank = (
        local.join(F.broadcast(offsets), ["pid", "l_returnflag"])
        .join(F.broadcast(totals), "l_returnflag")
        .withColumn("rn", rn)
    )
    # SQL-standard NTILE arithmetic: q = n div B, r = n mod B; the
    # first r buckets hold q+1 rows. greatest(q, 1) guards the n < B
    # case, where r = n and the second branch is never taken.
    b = F.lit(int(n_buckets)).cast("bigint")
    q = F.floor(F.col("n_grp") / b).cast("bigint")
    r = (F.col("n_grp") % b).cast("bigint")
    head = r * (q + 1)
    bucket = F.when(
        F.col("rn") <= head, F.floor((F.col("rn") - 1) / (q + 1)) + 1
    ).otherwise(
        r + F.floor((F.col("rn") - head - 1) / F.greatest(q, F.lit(1))) + 1
    )
    return (
        with_rank.withColumn("bucket", bucket.cast("bigint"))
        .groupBy("l_returnflag", "bucket")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
    )


#: the DuckDB twin, staged until the r18 registry wiring (capacity policy) — the
#: deliberately single-machine NTILE formulation over the identical
#: total order, cross-checking the distributed rank+arithmetic
#: rewrite bit-for-bit.
EQUIDEPTH_HIST_ORACLE = f"""
    WITH base AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             l_orderkey, l_linenumber
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    ), ranked AS (
      SELECT l_returnflag, cents,
             CAST(ntile({N_BUCKETS}) OVER (
               PARTITION BY l_returnflag
               ORDER BY cents, l_orderkey, l_linenumber) AS BIGINT) AS bucket
      FROM base
    )
    SELECT l_returnflag, bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(cents) AS BIGINT) AS lo_cents,
           CAST(max(cents) AS BIGINT) AS hi_cents
    FROM ranked GROUP BY l_returnflag, bucket
"""
