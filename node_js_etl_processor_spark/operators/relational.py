"""Relational operator library (SURVEY.md §2b group A).

Each function takes the fixture DataFrames and returns a result
DataFrame whose column aliases match the DuckDB oracle twin in
``__spark_entry__.oracle_sql``. All are built-in Column expressions —
no UDFs — so every query compiles to a single Catalyst plan with
predicate pushdown, column pruning and whole-stage codegen.

Scale notes are attached per operator; the common rules:

- dimension tables (nation, region, supplier) are broadcast
  (``F.broadcast``) — no shuffle of the fact side for enrichment joins;
- aggregations rely on partial (map-side) aggregation, so the shuffle
  carries group keys only;
- top-k never does a global sort of the data: ``orderBy().limit(k)``
  compiles to TakeOrderedAndProject (per-partition heap + driver merge),
  and per-group top-k uses a rank window that only shuffles by the
  partition key.

Reference citations: the reference implements none of these beyond
count/union (SURVEY.md §2a) — the query set is the declared contract
that exercises both the reference's operators (filter/clean/union/
count, reference server.js:65-97, 35-52) and the engine's extensions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from node_js_etl_processor_spark.functions.js_semantics import (
    js_truthy_str,
    null_to_empty,
    trim_or_null,
)


def q_filter_required(orders: DataFrame) -> DataFrame:
    """Required-field truthiness filter (F1/F2; reference server.js:69-76).

    Keep orders whose priority is non-null and non-empty after trim —
    the two-phase JS-truthiness filter applied to a fixture column.
    Scale: predicate is pushed into the parquet scan (IsNotNull) and the
    residual runs in codegen; no shuffle.
    """
    return orders.filter(
        js_truthy_str(F.col("o_orderpriority")) & (F.trim("o_orderpriority") != "")
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")


def q_clean_project(customer: DataFrame) -> DataFrame:
    """Trim/cast/rename/null-normalize projection (P1-P3; server.js:80-83).

    Scale: narrow projection, zero shuffle, column pruning limits the
    scan to 3 columns.
    """
    return customer.select(
        F.col("c_custkey").alias("custkey"),
        F.trim(F.col("c_name").cast("string")).alias("name"),
        trim_or_null(F.col("c_mktsegment")).alias("segment"),
    )


def q_array_transform(part: DataFrame) -> DataFrame:
    """Array build → per-element transform → first-element (P4/P5;
    reference server.js:84-89).

    Output keeps scalar columns (joined string + first element + size)
    so the oracle hash is stable across engines' array renderings.
    Scale: all array ops are codegen'd expressions; no shuffle.
    """
    words = F.transform(F.split(F.col("p_name"), " "), lambda w: F.upper(F.trim(w)))
    return part.select(
        F.col("p_partkey").alias("partkey"),
        F.array_join(words, ",").alias("words_csv"),
        F.try_element_at(words, F.lit(1)).alias("primary_word"),
        F.size(words).cast("bigint").alias("n_words"),
    )


def q_csv_export_shape(customer: DataFrame) -> DataFrame:
    """Column prune/reorder + null→'' coalesce (P7/P8; server.js:109-127).

    Scale: pure projection; pruned scan reads only the 4 needed columns.
    """
    return customer.select(
        F.col("c_custkey").alias("custkey"),
        null_to_empty(F.col("c_name")).alias("name"),
        null_to_empty(F.col("c_mktsegment")).alias("segment"),
        # fixed-decimal render so the string form is engine-independent
        F.coalesce(F.format_string("%.2f", F.col("c_acctbal")), F.lit("")).alias(
            "acctbal_str"
        ),
    )


def q_union_sources(customer: DataFrame) -> DataFrame:
    """Multi-source fan-out union-all (S2; reference server.js:35-52).

    Three per-"source" subsets unioned by name, mirroring the
    reference's 3-country parallel fetch + concat. Scale: unionByName is
    plan-level only — partitions of the children are concatenated, no
    shuffle, and each branch's filter is pushed into its scan.
    """
    branches = [
        customer.filter(F.col("c_nationkey") == n).withColumn("src", F.lit(f"src_{n}"))
        for n in (1, 7, 13)
    ]
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out.select("c_custkey", "c_name", "c_nationkey", "src")


def q_count_by_source(orders: DataFrame) -> DataFrame:
    """Count aggregation (A1; reference server.js:95,155,207) by group.

    Scale: partial count map-side; shuffle carries one row per group per
    partition.
    """
    return orders.groupBy("o_orderstatus").agg(F.count("*").alias("n"))


def q_join_enrich(orders: DataFrame, customer: DataFrame, nation: DataFrame) -> DataFrame:
    """3-way enrichment join with broadcast dimension.

    orders ⋈ customer (shuffle hash/sort-merge on custkey — both large
    at scale) ⋈ nation (broadcast — 25 rows, never shuffled).
    Scale: with AQE, the orders⋈customer side picks shuffled-hash vs
    sort-merge at runtime; nation is a build-side broadcast so the
    enrichment adds no extra exchange.
    """
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "inner")
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "inner")
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("c_name").alias("customer_name"),
            F.col("n_name").alias("nation_name"),
            F.col("o_totalprice").alias("totalprice"),
        )
    )


def q_semi_anti(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Anti join: customers with no pending ('P') orders (reference
    README.md:263-293 relational split design intent; no join exists in
    the reference code). The status filter keeps the result non-trivial
    on the fixtures (every customer has *some* order).

    Scale: left-anti compiles to a broadcast/shuffled hash anti join on
    the key only — the orders side is filtered and pruned to o_custkey
    before the exchange, so the shuffle payload is one bigint column.
    """
    pending = orders.filter(F.col("o_orderstatus") == "P")
    return customer.join(
        pending, customer.c_custkey == pending.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


def q_agg_pricing(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: filter → hash agg → sort.

    The engine's flagship query (SURVEY.md §7 M1): exercises scan,
    predicate pushdown (l_shipdate <= D reaches the parquet reader),
    partial+final hash aggregation, and a tiny post-agg sort.
    Money aggregates are rounded to 2 decimals so the cross-engine value
    hash is stable under float summation order.
    """
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_rollup(orders: DataFrame) -> DataFrame:
    """ROLLUP aggregation over (status, priority).

    Scale: Spark expands rollup into a single expand+aggregate — one
    shuffle keyed by the grouping-set id + keys.
    """
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.count("*").alias("n"),
        )
        .select("o_orderstatus", "o_orderpriority", "sum_price", "n")
    )


def q_window_topk(customer: DataFrame) -> DataFrame:
    """Per-group top-k via rank window (top 3 customers by balance per
    market segment). Deterministic tiebreak on custkey.

    Scale: single shuffle on the partition key; rank is computed
    streaming within each sorted partition. For extreme-cardinality
    groups a pre-aggregation/top-k sketch would replace this; for
    bounded k the window is the right plan.
    """
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        customer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "c_mktsegment",
            "c_custkey",
            "c_name",
            "c_acctbal",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def q_sort_limit(orders: DataFrame) -> DataFrame:
    """Global top-k: highest-value orders, deterministic tiebreak.

    Scale: compiles to TakeOrderedAndProject — per-partition heaps of
    size k merged on the driver; no global sort shuffle.
    """
    return orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc()).limit(
        10
    ).select("o_orderkey", "o_custkey", "o_totalprice")


def q_dedup_upsert(orders: DataFrame) -> DataFrame:
    """Last-write-wins dedup: the engine's answer to the reference's
    intended ``ON CONFLICT ... DO UPDATE`` upsert (reference
    README.md:295-310). Latest order per customer by (orderdate,
    orderkey) via a rank-1 window.

    Scale: one shuffle on the dedup key; at 100 TB this is the standard
    CDC-compaction pattern (optionally bucketed by key to make repeated
    compactions shuffle-free).
    """
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            # formatted string so the cross-engine value hash is free of
            # timestamp-precision representation differences
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
        )
    )


def q_date_buckets(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour buckets over the event stream (batch form).

    Implemented with ``date_trunc('hour', ts)`` — wall-clock-stable
    under any session timezone, unlike epoch-aligned ``window()``, so
    the oracle match is tz-independent. The streaming twin
    (streaming/sessions.py) uses ``window()`` + watermark.
    Scale: partial agg map-side; shuffle keyed by (bucket, type).
    """
    return (
        events.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
                "bucket"
            ),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def q_set_ops(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Set operations beyond union-all (SURVEY §2a gap table): INTERSECT
    and EXCEPT between building-segment customers and big-order
    customers, labeled and unioned.

    Scale: both compile to aggregate/join forms on the key column only;
    the inputs are pruned to one bigint before any exchange.
    """
    building = customer.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    big = orders.filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("custkey")
    )
    both = building.intersect(big).withColumn("op", F.lit("intersect"))
    only = building.subtract(big).withColumn("op", F.lit("except"))
    return both.unionByName(only).select("op", "custkey")


def q_cube(orders: DataFrame) -> DataFrame:
    """CUBE aggregation over (status, priority) — all 4 grouping sets.

    Scale: like rollup, a single expand+aggregate; the expand factor
    (4x) happens before partial aggregation, so the shuffle still
    carries only group keys.
    """
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
        .select("o_orderstatus", "o_orderpriority", "n", "avg_price")
    )


def q_window_lag(events: DataFrame) -> DataFrame:
    """lag/lead + running aggregate windows over the event stream:
    per-user value delta vs previous event and running sum.

    Scale: one shuffle on user_id; both window functions share the
    same (partition, order) spec so Spark evaluates them in one pass.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("delta_prev"),
        F.round(
            F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2
        ).alias("running_sum"),
    )


def q_scalar_math(lineitem: DataFrame) -> DataFrame:
    """Math + date scalar-function coverage (SURVEY §2a gap table):
    year/month extraction, abs/ceil/floor/sqrt/ln, aggregated per
    ship-month so the result stays small.

    Scale: all scalar exprs fold into the scan projection; single
    partial-aggregated shuffle on (year, month).
    """
    return (
        lineitem.select(
            F.year("l_shipdate").alias("ship_year"),
            F.month("l_shipdate").alias("ship_month"),
            F.sqrt(F.col("l_extendedprice")).alias("sqrt_price"),
            F.log(F.col("l_extendedprice") + 1.0).alias("ln_price"),
            F.ceil(F.col("l_discount") * 100).alias("disc_pct_ceil"),
            F.floor(F.col("l_tax") * 100).alias("tax_pct_floor"),
            F.abs(F.col("l_quantity") - 25.0).alias("qty_dev"),
        )
        .groupBy("ship_year", "ship_month")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("sqrt_price"), 4).alias("avg_sqrt_price"),
            F.round(F.avg("ln_price"), 4).alias("avg_ln_price"),
            F.round(F.avg("disc_pct_ceil"), 4).alias("avg_disc_ceil"),
            F.round(F.avg("tax_pct_floor"), 4).alias("avg_tax_floor"),
            F.round(F.avg("qty_dev"), 4).alias("avg_qty_dev"),
        )
    )


def q_string_funcs(part: DataFrame) -> DataFrame:
    """String scalar-function coverage: case mapping, substring,
    concat, padding, replace, regexp extraction.

    Scale: pure projection fused into the scan; no shuffle.
    """
    return part.select(
        F.col("p_partkey").alias("partkey"),
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 4).alias("name_prefix"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.lpad(F.col("p_size").cast("string"), 3, "0").alias("size_padded"),
        F.regexp_replace(F.col("p_name"), "[aeiou]", "_").alias("name_devoweled"),
        F.regexp_extract(F.col("p_name"), r"^(\w+)", 1).alias("first_word"),
        F.length("p_name").cast("bigint").alias("name_len"),
    )


def q_region_supplier(
    supplier: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """Dimension-chain enrichment (supplier ⋈ nation ⋈ region) with
    per-region supplier stats — exercises the full dimension hierarchy.

    Scale: both dimensions broadcast; the supplier fact side never
    shuffles for the joins, only for the final tiny aggregation.
    """
    return (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.avg("s_acctbal"), 4).alias("avg_acctbal"),
        )
    )


def q_stats_agg(customer: DataFrame) -> DataFrame:
    """Statistical aggregates per market segment: stddev, exact median,
    min/max — the numeric-analysis surface beyond sum/avg/count.

    Scale: percentile is an exact sort-based aggregate (heavier than
    approx_percentile); at real scale swap to approx_percentile with a
    documented error bound — exact here because the oracle is exact.
    """
    return customer.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.round(F.stddev_samp("c_acctbal"), 4).alias("sd_acctbal"),
        F.round(F.percentile("c_acctbal", F.lit(0.5)), 4).alias("median_acctbal"),
        F.round(F.min("c_acctbal"), 2).alias("min_acctbal"),
        F.round(F.max("c_acctbal"), 2).alias("max_acctbal"),
    )


def q_pivot(orders: DataFrame) -> DataFrame:
    """Pivot: order counts per priority, order-status values as columns.

    Implemented with an explicit values list — at scale, pivot without
    values triggers an extra distinct-collection job; declaring the
    domain keeps it a single pass.
    """
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
    )


def q_semi_exists(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Left-semi join: customers having at least one urgent order
    (the EXISTS twin of q_semi_anti's NOT EXISTS).

    Scale: semi join shuffles only the pruned key column of orders and
    stops probing on first match.
    """
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return customer.join(
        urgent, customer.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_nationkey")


def q_json_props(events: DataFrame) -> DataFrame:
    """JSON scalar extraction from a string column (events.props).

    ``get_json_object`` is evaluated JVM-side; at scale, repeatedly
    queried JSON should be promoted to a typed column at ingest
    (from_json with schema) — demonstrated in tests.
    """
    return events.select(
        F.col("event_id"),
        F.get_json_object(F.col("props"), "$.k").cast("bigint").alias("k"),
    )


def q_grouping_sets(orders: DataFrame) -> DataFrame:
    """GROUPING SETS aggregation — per-status, per-priority, and grand
    totals in ONE pass (the general form of q_rollup/q_cube; the
    reference has no aggregation machinery at all, SURVEY.md §2a).

    ``grouping()`` indicators disambiguate "null because aggregated
    over" from "null in the data". Scale: single scan + single shuffle
    with partial aggregation; the exchange carries one row per (set,
    key) per map partition.
    """
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .select("o_orderstatus", "o_orderpriority", "g_status", "g_priority", "n", "sum_price")
    )


def q_explode_words(part: DataFrame) -> DataFrame:
    """Explode/unnest (lateral view): flatten part-name word arrays to
    rows, then aggregate word frequencies — the UNNEST twin of
    q_array_transform's array-side processing.

    Scale: explode is a narrow op (no shuffle); the only exchange is
    the final groupBy on the word, with map-side partial counts so the
    shuffle is bounded by vocabulary size, not corpus size.
    """
    words = part.select(
        "p_partkey", F.explode(F.split(F.col("p_name"), " ")).alias("word")
    )
    return words.groupBy("word").agg(
        F.count("*").alias("n"),
        F.countDistinct("p_partkey").alias("n_parts"),
    )


def q_percentiles(lineitem: DataFrame) -> DataFrame:
    """Exact interpolated percentiles (p25/p50/p75/p95) of extended
    price per return flag — matches DuckDB ``quantile_cont``.

    Scale note: exact percentiles buffer each group's values; at 100 TB
    swap in ``approx_percentile`` (t-digest sketch, fixed memory,
    mergeable map-side) — same call shape, documented divergence. The
    declared query stays exact because the oracle hash-compares values.
    """
    pct = F.percentile("l_extendedprice", F.array(*[F.lit(x) for x in (0.25, 0.5, 0.75, 0.95)]))
    agg = lineitem.groupBy("l_returnflag").agg(pct.alias("p"))
    return agg.select(
        "l_returnflag",
        *[F.round(F.col("p")[i], 4).alias(name) for i, name in enumerate(["p25", "p50", "p75", "p95"])],
    )


def q_distinct_agg(orders: DataFrame) -> DataFrame:
    """Exact distinct-count aggregation: customers and order-date days
    per priority (COUNT(DISTINCT) — expand + two-phase aggregate).

    Scale: Catalyst plans multi-distinct via Expand (one row per
    distinct-column per input row) then partial/final aggs; the shuffle
    carries (priority, custkey) / (priority, day) pairs. At 100 TB the
    approx twin below (HLL sketch, constant memory) is the default.
    """
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderdate").alias("n_days"),
        F.count("*").alias("n_orders"),
    )


def approx_distinct_sketch(orders: DataFrame) -> DataFrame:
    """HyperLogLog++ approximate distinct counts per priority —
    the 100 TB path for cardinality: constant-memory mergeable sketch,
    shuffle carries one sketch per group per partition instead of every
    distinct key. Raw estimates are engine-specific (not oracle-able)."""
    return orders.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", rsd=0.01).alias("approx_customers"),
        F.approx_count_distinct("o_orderdate", rsd=0.01).alias("approx_days"),
    )


def q_approx_distinct(orders: DataFrame) -> DataFrame:
    """Declared query: HLL++ sketch VALIDATION form — exact distinct
    counts per priority plus booleans asserting the sketch estimate
    landed within 5% relative error of exact.

    The sketch estimate itself is engine-specific, so the
    deterministic-hashable contract is (exact, within-bound?): the
    oracle states the exact counts and `TRUE` bounds, and the query
    only hashes equal if Spark's sketch actually met the bound — the
    error guarantee becomes the checked value. This deliberately pays
    the exact-count cost next to the sketch; the pure 100 TB sketch
    path (no exact twin) is ``approx_distinct_sketch`` above.

    Plan shape: exact and approx run as SEPARATE aggregations joined on
    the group key — mixing approx_count_distinct into the same agg as
    two COUNT(DISTINCT)s drags the HLL sketch updates through the
    multi-distinct Expand (3 rows per input row), measured 3.6x slower;
    split, each agg is a clean partial-aggregated single pass and the
    join is 5 rows to 5 rows.
    """
    exact = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderdate").alias("n_days"),
    )
    approx = orders.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", rsd=0.01).alias("ac"),
        F.approx_count_distinct("o_orderdate", rsd=0.01).alias("ad"),
    )
    return exact.join(approx, "o_orderpriority").select(
        "o_orderpriority",
        "n_customers",
        "n_days",
        (F.abs(F.col("ac") - F.col("n_customers")) <= 0.05 * F.col("n_customers")).alias(
            "customers_within_5pct"
        ),
        (F.abs(F.col("ad") - F.col("n_days")) <= 0.05 * F.col("n_days")).alias(
            "days_within_5pct"
        ),
    )


def q_sample_hash(orders: DataFrame) -> DataFrame:
    """Deterministic 10% hash-sample of orders: md5 of the key, first 8
    hex digits mod 100 < 10.

    Unlike ``df.sample`` (partition-order dependent RNG), a key-hash
    sample is stable across runs, partitionings, and engines — the
    property a training-data pipeline needs for reproducible holdouts —
    and it is exactly reproducible in the DuckDB oracle. Scale: pure
    narrow filter, pushed after the scan, no shuffle.
    """
    bucket = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    return orders.filter(bucket < 10).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


def q_unpivot(orders: DataFrame) -> DataFrame:
    """Unpivot/melt (the inverse of q_pivot): per-status order counts
    and price sums as (status, metric, value) long-form rows via
    ``unpivot`` (SQL ``stack``/``UNPIVOT``).

    Scale: unpivot is a narrow Expand (k output rows per input row,
    no shuffle); the only exchange is the small pre-aggregation.
    """
    wide = orders.groupBy("o_orderstatus").agg(
        F.count("*").cast("double").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
    )
    return wide.unpivot(
        ids=["o_orderstatus"],
        values=["n_orders", "sum_price", "avg_price"],
        variableColumnName="metric",
        valueColumnName="value",
    )


def q_shipping_priority(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """TPC-H Q3 shape: 3-way fact join with selective filters on every
    side, revenue aggregation, top-10 by revenue — the canonical join-
    ordering + pushdown + top-k stress query.

    Scale: filters prune each side BEFORE the joins (pushed to scans);
    customer (filtered to one segment) is far smaller than lineitem, so
    Catalyst/AQE broadcast it; the final top-k is TakeOrderedAndProject,
    never a global sort. One shuffle pair for the orders⋈lineitem join
    keyed on orderkey, one for the aggregation.
    """
    cutoff = "1998-06-15"  # mid-range of the fixture's 1995-2001 dates
    c = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = orders.filter(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp")).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    l = lineitem.filter(F.col("l_shipdate") > F.lit(cutoff).cast("timestamp")).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_orderpriority").alias("orderpriority"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("orderkey").asc())
        .limit(10)
    )


def q_collect_agg(orders: DataFrame) -> DataFrame:
    """Collection aggregation: per priority, the sorted distinct set of
    order statuses (collect_set → array_sort → join) and a status
    cardinality — exercises set-valued aggregation buffers.

    Scale: collect_set buffers grow with per-group distinct cardinality
    (3 here); for high-cardinality sets use the salted two-phase
    pattern (functions/skew.py) or a sketch. Output is flattened to a
    CSV string so the oracle comparison is engine-neutral.
    """
    return orders.groupBy("o_orderpriority").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias("statuses"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
    )


def q_window_rank_funcs(customer: DataFrame) -> DataFrame:
    """Ranking-function family over one window spec: rank, dense_rank,
    percent_rank, ntile(4), cume_dist per market segment by balance.

    Scale: all five share a single (partition, order) spec → ONE
    Window operator, ONE exchange; adding functions to a shared spec
    is free.
    """
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return customer.select(
        "c_custkey",
        "c_mktsegment",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


def q_null_safe_join(customer: DataFrame) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): pair
    customers whose nullable "region bucket" matches INCLUDING the
    null==null case, which a plain equi-join silently drops.

    The bucket derives a nullable key (nation 13+ → null) so the
    fixture exercises both arms; the input is restricted to every 10th
    customer because the query's output is pair COUNTS — a self-join's
    pair volume is quadratic per key group and the unrestricted null
    group alone would stream ~26M pairs at sf0.1 for no extra semantic
    coverage. Scale note: eqNullSafe compiles to a regular hash-join
    key (null hashes to a bucket like any value) — same shuffle shape
    as ``=``, no nested loop.
    """
    keyed = customer.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        F.when(F.col("c_nationkey") < 13, F.col("c_nationkey")).alias("bucket"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(
            b,
            F.col("a.bucket").eqNullSafe(F.col("b.bucket"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .groupBy(F.col("a.bucket").alias("bucket"))
        .agg(F.count("*").alias("n_pairs"))
    )


def q_argmax_agg(customer: DataFrame) -> DataFrame:
    """Argmax/argmin aggregation (max_by/min_by): per market segment,
    the customer holding the max and min balance.

    Scale: max_by keeps one (value, arg) pair per group per partition —
    same partial-aggregation shape as plain max, no sort, no window.
    Deterministic under ties: the ordering value folds the key into the
    number (round(acctbal·10⁶) + custkey — exact in doubles up to 2⁵³,
    and DuckDB's arg_max accepts only scalar ordering keys, so a struct
    tiebreak is not portable).
    """
    by = F.round(F.col("c_acctbal") * 1_000_000) + F.col("c_custkey")
    return customer.groupBy("c_mktsegment").agg(
        F.max_by("c_custkey", by).alias("top_custkey"),
        F.round(F.max("c_acctbal"), 2).alias("top_acctbal"),
        F.min_by("c_custkey", by).alias("bottom_custkey"),
        F.round(F.min("c_acctbal"), 2).alias("bottom_acctbal"),
    )


def q_scalar_subquery(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Correlated-subquery pattern: orders priced above their
    customer's average order value. DataFrame form: the per-customer
    aggregate (the decorrelated subquery) joins back to the fact —
    which is exactly how Catalyst decorrelates the SQL form.

    Exactness note: the "above average" comparison runs in integer
    cents (``price·n > Σprices``) and the aggregate is emitted as
    (sum_cents, n_orders), NOT a rounded float average — per-group
    money averages with small denominators land exactly on rounding
    half-way points, where a 1-ulp summation-order difference between
    engines flips the rounded digit (observed at sf0.01).

    Scale: two shuffles on o_custkey (agg + join); AQE may demote the
    small aggregated side to broadcast at runtime.
    """
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    with_cents = orders.withColumn("cents", cents)
    per_cust = with_cents.groupBy("o_custkey").agg(
        F.sum("cents").alias("sum_cents"), F.count("*").alias("n_orders")
    )
    return (
        with_cents.join(per_cust, "o_custkey")
        .filter(F.col("cents") * F.col("n_orders") > F.col("sum_cents"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "sum_cents", "n_orders")
    )


def q_scd2(orders: DataFrame) -> DataFrame:
    """SCD Type-2 history build — the standard warehouse
    slowly-changing-dimension op (Kimball's type-2 versioning): each
    customer's order-status sequence, ordered by (o_orderdate,
    o_orderkey), is compressed into versioned validity ranges — a row
    survives only where the status CHANGES (lag compare), then gets
    version = row_number, valid_to = next change's valid_from (null →
    open/current). The same build pattern turns any CDC change feed
    into a dimension history table.

    Scale: both windows share the o_custkey partitioning — ONE
    shuffle; the change filter between them shrinks the second
    window's frames to the change rows only. Deterministic: same-day
    ties break on o_orderkey.
    """
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    changes = (
        orders.select("o_custkey", "o_orderkey", "o_orderdate", "o_orderstatus")
        .withColumn("_prev", F.lag("o_orderstatus").over(w))
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col("o_orderstatus")))
    )
    return changes.select(
        F.col("o_custkey").alias("custkey"),
        F.row_number().over(w).cast("bigint").alias("version"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").cast("date").alias("valid_from"),
        F.lead(F.col("o_orderdate").cast("date")).over(w).alias("valid_to"),
        F.lead("o_orderdate").over(w).isNull().alias("is_current"),
    )
