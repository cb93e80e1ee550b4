"""Mergeable sketch operators — the approximate-counting tier.

The reference has no sketches (its only aggregate is an array
``length``, server.js:249); this module belongs to the mandated
large-pipeline surface next to ``q_approx_distinct``'s HLL: a
Count-Min sketch (Cormode & Muthukrishnan, "An improved data stream
summary: the count-min sketch and its applications", J. Algorithms
2005) built entirely from DataFrame aggregations.

Scale shape: the sketch IS the point — a d×w counter grid (here 4×64
= 256 cells) summarizes any number of items, partial-aggregates
map-side, and MERGES by cell-wise addition across partitions, days,
or datacenters. Estimation never rescans the stream: probes join the
broadcast counter grid. Hashes are the md5-derived portable family
(operators.dedup.portable_hash64's trick), so a DuckDB oracle rebuilds
the grid bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from node_js_etl_processor_spark.functions import literals

#: Grid geometry: 4 hash rows × 64 columns. ε ≈ e/w ≈ 4.2% of the
#: stream mass per estimate, δ ≈ e^-d ≈ 1.8% failure rate — sized so
#: the fixture (thousands of keys) actually collides and the
#: over-estimate behavior is exercised, not hidden.
CMS_DEPTH = 4
CMS_WIDTH = 64


def _md5_slot(salt: str, key_col: str, n: int) -> str:
    """SQL text of the slot of ``key_col`` under hash ``salt``: low 32
    bits of md5(salt || '|' || key) mod n — engine-neutral (DuckDB:
    ('0x' || substr(md5(...), 9, 8))::UBIGINT % n). The count-min
    columns (salt = row number) and the Bloom bits (salt = 'b<i>')."""
    hx = f"md5(concat('{salt}', '|', CAST({key_col} AS STRING)))"
    return f"CAST(pmod(CAST(conv(substring({hx}, 9, 8), 16, 10) AS BIGINT), {n}) AS BIGINT)"


def _cms_cells(key_col: str, depth: int, width: int) -> Column:
    """The ``depth`` (row, col) counter cells of each key, exploded as
    ``cell`` — one SQL text, so one JVM call to build."""
    cells = ", ".join(
        f"struct(CAST({r} AS INT) AS row, {_md5_slot(str(r), key_col, width)} AS col)"
        for r in range(depth)
    )
    return F.expr(f"explode(array({cells})) AS cell")


def countmin_build(
    items: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Build the (row, col, c) counter grid: one explode to d rows per
    item, ONE keyed aggregation with map-side partials. The output is
    d×w rows regardless of stream size — the mergeable summary."""
    cells = items.select(_cms_cells(key_col, depth, width)).select("cell.row", "cell.col")
    return cells.groupBy("row", "col").agg(
        F.count("*").cast("bigint").alias("c")
    )


def countmin_estimate(
    probes: DataFrame,
    counters: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point estimates for ``probes``: min over the d probed cells.
    The counter grid is d×w rows — broadcast; the probe never rescans
    the stream."""
    probed = probes.select(key_col, _cms_cells(key_col, depth, width)).select(
        key_col, "cell.row", "cell.col"
    )
    return (
        probed.join(F.broadcast(counters), ["row", "col"])
        .groupBy(key_col)
        .agg(F.min("c").cast("bigint").alias("cms_est"))
    )


def q_countmin(orders: DataFrame) -> DataFrame:
    """Declared query: Count-Min over the o_custkey stream —
    build the 4×64 grid, estimate every distinct key, and report the
    estimate against the exact count (the CM guarantee exact ≤ est is
    a tested invariant; the overshoot column makes collision behavior
    visible). Fully oracle-checked: DuckDB rebuilds the same grid from
    the same md5-derived hashes and replays the min-of-cells
    estimate."""
    counters = countmin_build(orders, "o_custkey")
    probes = orders.select("o_custkey").distinct()
    est = countmin_estimate(probes, counters, "o_custkey")
    exact = orders.groupBy("o_custkey").agg(
        F.count("*").cast("bigint").alias("exact_n")
    )
    return exact.join(est, "o_custkey").select(
        "o_custkey",
        "exact_n",
        "cms_est",
        (F.col("cms_est") - F.col("exact_n")).cast("bigint").alias("overshoot"),
    )


#: Bloom geometry: 4 hashes into 2^17 bits. At the sf0.01 fixture's
#: ~10k stored keys the load is kn/m ≈ 0.3 → ~0.5% false-positive
#: rate — small enough to be a real filter, large enough that false
#: positives actually appear in the declared query's output.
BLOOM_K = 4
BLOOM_M = 131072


def _bloom_bits(key_col: str, k: int, m: int) -> Column:
    """The ``k`` bit positions of each key, exploded as ``bit`` — same
    md5-derived family as the count-min columns (DuckDB-replayable)."""
    bits = ", ".join(_md5_slot(f"b{i}", key_col, m) for i in range(k))
    return F.expr(f"explode(array({bits})) AS bit")


def bloom_build(
    items: DataFrame, key_col: str, k: int = BLOOM_K, m: int = BLOOM_M
) -> DataFrame:
    """The set-bit table (bit BIGINT, ≤ m rows): one explode to k bits
    per item + DISTINCT — the row form of the bitmap (at scale the
    same positions OR into an m-bit array; row form keeps the store
    joinable and the oracle trivial). Merges across batches by UNION
    DISTINCT — the Bloom property."""
    return items.select(_bloom_bits(key_col, k, m)).distinct()


def bloom_probe(
    probes: DataFrame,
    bits: DataFrame,
    key_col: str,
    k: int = BLOOM_K,
    m: int = BLOOM_M,
) -> DataFrame:
    """Membership probe: maybe_present ⇔ ALL k bit positions set. No
    false negatives ever (the Bloom guarantee — test-pinned); false
    positives at the designed rate. The bit table joins broadcast
    (≤ m rows of one bigint)."""
    pb = probes.select(key_col, _bloom_bits(key_col, k, m))
    hits = (
        pb.join(F.broadcast(bits.withColumn("_set", F.lit(1))), "bit", "left")
        .groupBy(key_col)
        .agg((F.count("_set") == F.lit(k)).alias("maybe_present"))
    )
    return hits


def q_bloom(orders: DataFrame) -> DataFrame:
    """Declared query: Bloom-filter membership — build the
    set-bit table over the o_orderkey % 3 != 0 slice (the 'accepted'
    set), probe EVERY order key, and report the filter's verdict next
    to true membership. The no-false-negative guarantee and the
    visible false-positive band are both in the output (is_fp), and
    the DuckDB oracle rebuilds the same bits and replays the
    all-k-bits-set probe."""
    stored = orders.filter(F.col("o_orderkey") % 3 != 0)
    bits = bloom_build(stored, "o_orderkey")
    probes = orders.select("o_orderkey").distinct()
    verdicts = bloom_probe(probes, bits, "o_orderkey")
    return verdicts.select(
        "o_orderkey",
        (F.col("o_orderkey") % 3 != 0).alias("actually_stored"),
        "maybe_present",
        (F.col("maybe_present") & (F.col("o_orderkey") % 3 == 0)).alias("is_fp"),
    )


# ------------------------------------------------------------- HyperLogLog

#: HLL geometry: p = 9 index bits → m = 512 registers; the remaining
#: 23 hash bits feed the leading-zero rank, so registers are ≤ 24.
HLL_P = 9
HLL_M = 1 << HLL_P  # 512
_HLL_W_BITS = 32 - HLL_P  # 23
#: Fixed RATIONAL alpha so the bias-corrected estimate is exact
#: integer arithmetic in every engine: alpha_m = 0.7213/(1+1.079/m)
#: ≈ 0.719783 for m = 512, scaled by 1e6.
HLL_ALPHA_SCALED = 719783
#: Precomputed integer numerator alpha_scaled · m² · 2^24 (the
#: harmonic sum is scaled by 2^24 so empty registers contribute 2^24
#: and reg=24 registers contribute 1 — still exact integers).
_HLL_EST_NUM = HLL_ALPHA_SCALED * HLL_M * HLL_M * (1 << 24)
#: Raw-estimate threshold below which linear counting applies (the
#: standard 5/2·m small-range rule from the HLL paper).
HLL_LC_THRESHOLD = (5 * HLL_M) // 2


def hll_lc_table() -> "list[int]":
    """Linear counting m·ln(m/V) has only m possible inputs (V =
    number of EMPTY registers, 1..m), so the float never crosses an
    engine boundary: both the Spark plan and the DuckDB oracle embed
    this same precomputed integer table (index V), keeping the
    small-range-corrected estimate exact integer arithmetic
    end-to-end."""
    import math

    return [round(HLL_M * math.log(HLL_M / v)) for v in range(1, HLL_M + 1)]


def hll_hash32(key: Column) -> Column:
    """Portable 32-bit integer finalizer (the public-domain
    multiply-xorshift a.k.a. "lowbias32" family: two rounds of
    h = (h ^ h>>16) · 0x45d9f3b mod 2³², then a final fold). The
    multiplier is < 2³¹ so every intermediate fits in a signed 64-bit
    product — safe under Spark 4's ANSI overflow checking — and the
    same expression runs verbatim in DuckDB, which is what makes the
    ENTIRE sketch (not just its error bound) oracle-checkable."""
    m1 = F.lit(0x45D9F3B).cast("long")
    mask = F.lit((1 << 32) - 1).cast("long")
    h = key.cast("long").bitwiseAND(mask)
    for _ in range(2):
        h = (F.shiftright(h, 16).bitwiseXOR(h) * m1).bitwiseAND(mask)
    return F.shiftright(h, 16).bitwiseXOR(h)


def hll_registers(df: DataFrame, group_col: str, key_col: str) -> DataFrame:
    """Per-group HLL register file: bucket = top p hash bits, rho =
    leading-zero rank of the low 23 bits (24 when they are all zero),
    register = MAX(rho) per bucket. This is the mergeable state —
    sketches union by cell-wise MAX, exactly like countmin merges by
    cell-wise SUM — emitted as (group, bucket, reg) rows.

    Scale: one narrow projection + one partial-aggregated groupBy;
    the shuffle carries ≤ m rows per group per partition regardless
    of input size — the constant-memory cardinality path."""
    h = hll_hash32(F.col(key_col))
    w = h.bitwiseAND(F.lit((1 << _HLL_W_BITS) - 1).cast("long"))
    rho = (
        F.when(w == 0, F.lit(_HLL_W_BITS + 1))
        .otherwise(F.lit(_HLL_W_BITS) - F.floor(F.log2(w)))
        .cast("long")
    )
    return (
        df.select(
            F.col(group_col),
            F.shiftright(h, _HLL_W_BITS).alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy(group_col, "bucket")
        .agg(F.max("rho").alias("reg"))
    )


def hll_estimate(regs: DataFrame, group_col: str) -> DataFrame:
    """Fold a register file into the bias-corrected HLL estimate,
    entirely in exact integer arithmetic: the harmonic sum Σ 2^(-reg)
    over all m registers is scaled by 2^24 (empty registers contribute
    2^24 each, reg=24 registers contribute 1 — still exact), and the
    estimate alpha·m²/Σ2^(-reg) becomes one integer division. Emits
    the register-file summary alongside so the oracle compares the
    sketch STATE, not only the final number."""
    pow2 = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({_HLL_W_BITS + 1} - reg AS INT))")
    per_group = regs.groupBy(group_col).agg(
        F.count("*").alias("n_buckets_hit"),
        F.sum("reg").alias("sum_reg"),
        F.max("reg").alias("max_reg"),
        F.sum(pow2).alias("harmonic_hit"),
    )
    harmonic = (
        F.col("harmonic_hit")
        + (F.lit(HLL_M) - F.col("n_buckets_hit")) * F.lit(1 << (_HLL_W_BITS + 1))
    ).cast("long")
    lc = hll_lc_table()
    # The division MUST be integer DIV: `/` on bigints yields a double,
    # and the 62-bit numerator does not fit a 53-bit mantissa.
    raw = (
        f"CAST({_HLL_EST_NUM} AS BIGINT)"
        " DIV (CAST(1000000 AS BIGINT) * harmonic_scaled)"
    )
    n_zero = f"({HLL_M} - n_buckets_hit)"
    lc_arr = f"cast({literals.sql(lc)} as array<bigint>)"
    return per_group.select(
        F.col(group_col),
        F.lit(HLL_M).cast("long").alias("m"),
        F.col("n_buckets_hit").cast("long").alias("n_buckets_hit"),
        F.col("sum_reg").cast("long").alias("sum_reg"),
        F.col("max_reg").cast("long").alias("max_reg"),
        harmonic.alias("harmonic_scaled"),
    ).withColumn(
        "hll_customers",
        F.expr(
            f"CASE WHEN {n_zero} > 0 AND ({raw}) <= {HLL_LC_THRESHOLD}"
            f" THEN element_at({lc_arr},"
            f" CAST(greatest({n_zero}, 1) AS INT))"
            f" ELSE ({raw}) END"
        ),
    )


def q_hll_distinct(orders: DataFrame) -> DataFrame:
    """Declared query: distinct customers per order priority via
    an ORACLE-CHECKABLE HyperLogLog (Flajolet et al., AofA 2007) —
    unlike ``q_approx_distinct`` (which validates Spark's built-in
    engine-specific HLL++ against a bound), every stage here is
    engine-neutral and DuckDB replays it bit-for-bit: the
    multiply-xorshift hash, the bucket/rank split, the register MAX,
    the scaled harmonic sum, the integer-arithmetic alpha correction,
    AND the small-range linear-counting branch (precomputed as a
    shared m-entry integer table — see hll_lc_table — so no float
    ever crosses the engine boundary). The exact distinct count rides
    alongside, so the result row IS the accuracy statement.

    Scale: two partial-aggregated shuffles of ≤ m rows per group (the
    sketch) plus one COUNT DISTINCT (the exact twin, present only for
    the oracle contract; the pure 100 TB path is hll_registers →
    hll_estimate with no exact pass, merging stores by register MAX)."""
    regs = hll_registers(orders, "o_orderpriority", "o_custkey")
    est = hll_estimate(regs, "o_orderpriority")
    exact = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_customers")
    )
    return exact.join(est, "o_orderpriority").select(
        "o_orderpriority", "exact_customers", "m", "n_buckets_hit",
        "sum_reg", "max_reg", "harmonic_scaled", "hll_customers",
    )


# ------------------------------------------- HDR-style quantile histogram

#: Sub-bucket resolution bits: relative bucket width ≤ 2^-(s-1) ≈ 3%.
HDR_SUB_BITS = 6
_HDR_SUB = 1 << HDR_SUB_BITS


def hdr_bucket_expr(value_col: str) -> "Column":
    """Log-linear (HDR-histogram-style) bucket index of a positive
    BIGINT column: values < 2^s map to themselves (exact buckets);
    larger values split their binary decade into 2^(s-1) sub-buckets
    — idx = (e << s) | (v >> e) with e = floor(log2(v)) - (s-1). Pure
    integer arithmetic both engines replay exactly (floor∘log2 is
    boundary-exact for v < 2^40 in both — pinned by test); the index
    decodes back to a bucket lower bound (m << e), so quantile
    estimates are deterministic integers with bounded relative
    error."""
    s = HDR_SUB_BITS
    return F.expr(
        f"CASE WHEN {value_col} < {_HDR_SUB} THEN CAST({value_col} AS BIGINT)"
        f" ELSE (shiftleft(CAST(floor(log2({value_col})) AS BIGINT) - {s - 1}, {s}))"
        f"      + shiftright({value_col},"
        f"          CAST(floor(log2({value_col})) AS INT) - {s - 1})"
        f" END"
    )


def hdr_sketch(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group log-linear histogram: (group, idx, cnt) rows —
    mergeable by cell-wise SUM (countmin's merge law, HLL merges by
    MAX; together the three cover counts, cardinalities and
    quantiles). The only data-sized shuffle is this partial-aggregated
    groupBy; everything downstream operates on ≤ ~1.3k buckets per
    group regardless of input size."""
    return (
        df.select(F.col(group_col), hdr_bucket_expr(value_col).alias("idx"))
        .groupBy(group_col, "idx")
        .agg(F.count("*").alias("cnt"))
    )


def hdr_quantiles(sketch: DataFrame, group_col: str) -> DataFrame:
    """Fold a histogram sketch into deterministic quantile estimates:
    cumulative counts over ascending bucket index, thresholds as
    exact integer ceilings (p50 = ceil(n/2), p95 = ceil(19n/20), p99
    = ceil(99n/100)), estimate = the LOWER BOUND of the first bucket
    whose cumulative count reaches the threshold — an integer both
    engines compute identically, within one bucket width (≤ 2^-(s-1)
    relative) of the exact order statistic."""
    from pyspark.sql import Window

    s = HDR_SUB_BITS
    w_cum = (
        Window.partitionBy(group_col)
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(group_col)
    lb = F.expr(
        f"CASE WHEN idx < {_HDR_SUB} THEN idx"
        f" ELSE shiftleft(idx & {_HDR_SUB - 1},"
        f"                CAST(shiftright(idx, {s}) AS INT)) END"
    )
    enriched = sketch.select(
        F.col(group_col),
        F.col("idx"),
        F.col("cnt"),
        lb.alias("lb"),
    ).select(
        F.col(group_col),
        "idx",
        "cnt",
        "lb",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("total"),
    )
    def pick(num: int, den: int, name: str):
        thr = F.expr(f"({num} * total + {num}) DIV {den}")
        return F.min(F.when(F.col("cum") >= thr, F.col("lb"))).alias(name)

    return enriched.groupBy(group_col).agg(
        F.max("total").alias("n_values"),
        F.count("*").alias("n_buckets"),
        pick(1, 2, "p50_lb"),
        pick(19, 20, "p95_lb"),
        pick(99, 100, "p99_lb"),
    )


def q_hdr_quantiles(lineitem: DataFrame) -> DataFrame:
    """Declared query: price quantiles per return flag via an
    ORACLE-CHECKABLE mergeable histogram — the quantile member of the
    deterministic-sketch family (countmin = counts, HLL =
    cardinality, HDR = order statistics). Prices become cents via
    ROUND(price·100) — the column is a DOUBLE carrying 2-decimal
    values, so price·100 is within 1e-6 of an integer and rounding is
    engine-identical, where truncation would disagree across engines
    on ~5% of rows (the 1330959.9999999998 class) — then the
    log-linear bucket index, cumulative fold and
    integer-ceiling thresholds are all replayed by DuckDB, so the
    estimate is compared bit-for-bit, not bounded. Unlike
    percentile_approx (engine-specific GK sketch), this sketch's
    state is portable across engines AND mergeable by cell-sum —
    1000 executors histogram independently, union by (group, idx)."""
    cents = lineitem.select(
        F.col("l_returnflag"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    return hdr_quantiles(
        hdr_sketch(cents, "l_returnflag", "cents"), "l_returnflag"
    )


def q_hll_rollup(orders: DataFrame) -> DataFrame:
    """Declared query: the ALGEBRAIC ROLLUP property of the HLL
    register file as a query — per-priority sketches AND the global
    sketch, where the global registers are NOT a rescan but the
    cell-wise MAX of the per-priority register files (exactly how a
    100 TB pipeline gets per-month cardinalities from stored per-day
    sketches for free). Emits one row per priority plus one 'ALL'
    row; every column is the exact-integer sketch state, so the
    DuckDB oracle replays both levels and the rollup law itself is
    under the driver's gate.

    Scale: ONE data-sized pass builds the per-group registers; the
    rollup works on ≤ m·groups rows. The exact twin rides along per
    level for the accuracy statement."""
    # (a ``barrier.cut`` on regs was measured SLOWER here — the build
    # is one cheap agg over orders and only two references duplicate
    # it; the barrier cost exceeds the re-scan.
    # q_hll_intersect, with 12 references, is left uncut too.)
    regs = hll_registers(orders, "o_orderpriority", "o_custkey")
    global_regs = (
        regs.groupBy("bucket")
        .agg(F.max("reg").alias("reg"))
        .withColumn("o_orderpriority", F.lit("ALL"))
    )
    all_regs = regs.unionByName(global_regs.select(*regs.columns))
    est = hll_estimate(all_regs, "o_orderpriority")
    exact = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_customers")
    ).unionByName(
        orders.agg(
            F.countDistinct("o_custkey").alias("exact_customers")
        ).select(F.lit("ALL").alias("o_orderpriority"), "exact_customers")
    )
    return exact.join(est, "o_orderpriority").select(
        "o_orderpriority", "exact_customers", "m", "n_buckets_hit",
        "sum_reg", "max_reg", "harmonic_scaled", "hll_customers",
    )


def q_hll_intersect(orders: DataFrame) -> DataFrame:
    """Declared query: sketch SET ALGEBRA — estimated customer
    overlap between every pair of order priorities by
    inclusion-exclusion over HLL register files: |A∩B| ≈ est(A) +
    est(B) − est(A∪B), where est(A∪B) comes from merging the two
    stored register files by cell-wise MAX (no rescan — the union law
    again, now powering a derived statistic). Exact pair overlaps
    ride alongside; every estimate is the exact-integer estimator, so
    DuckDB replays all three levels and the inclusion-exclusion
    arithmetic bit-for-bit.

    Scale: ONE data-sized pass builds per-group registers; the 10
    pair unions and 15 estimates all fold ≤ m-row frames. The exact
    twin is one distinct-pairs self-join at group granularity —
    present only for the oracle contract."""
    # (a ``barrier.cut`` on regs — the final plan
    # re-evaluates the build per reference, 12 orders scans / 36
    # exchanges — was A/B-measured SLOWER at sf0.1 across 7 gated
    # pairs (med 1.93 vs 1.51 s): the build is one cheap partial agg
    # and the barrier + lost pipelining cost more than the re-scans.
    # At warehouse scale the register file comes from the sketch
    # STORE (streaming/sketches.py), not a per-query rebuild, so the
    # batch-query rescan is not the 100 TB path either. Left re-run.)
    regs = hll_registers(orders, "o_orderpriority", "o_custkey")
    # union registers per pair: union-all the two sides' register
    # files and MAX per bucket — NOT a bucket-inner join, which would
    # drop buckets hit by only one side
    labels = regs.select("o_orderpriority").distinct()
    pair_labels = (
        labels.select(F.col("o_orderpriority").alias("pri_a"))
        .crossJoin(labels.select(F.col("o_orderpriority").alias("pri_b")))
        .where(F.col("pri_a") < F.col("pri_b"))
    )
    union_regs = (
        pair_labels.join(
            regs.select(
                F.col("o_orderpriority").alias("pri_a"), "bucket", "reg"
            ),
            "pri_a",
        )
        .unionByName(
            pair_labels.join(
                regs.select(
                    F.col("o_orderpriority").alias("pri_b"), "bucket", "reg"
                ),
                "pri_b",
            ).select("pri_a", "pri_b", "bucket", "reg")
        )
        .groupBy("pri_a", "pri_b", "bucket")
        .agg(F.max("reg").alias("reg"))
    )
    union_regs = union_regs.withColumn(
        "pair", F.concat_ws("|", "pri_a", "pri_b")
    )
    est_union = hll_estimate(union_regs, "pair").select(
        "pair", F.col("hll_customers").alias("hll_union")
    )
    est_side = hll_estimate(regs, "o_orderpriority")
    ea = est_side.select(
        F.col("o_orderpriority").alias("pri_a"),
        F.col("hll_customers").alias("hll_a"),
    )
    eb = est_side.select(
        F.col("o_orderpriority").alias("pri_b"),
        F.col("hll_customers").alias("hll_b"),
    )
    exact = (
        orders.select("o_orderpriority", "o_custkey")
        .distinct()
        .alias("x")
        .join(
            orders.select("o_orderpriority", "o_custkey").distinct().alias("y"),
            ["o_custkey"],
        )
        .where(F.col("x.o_orderpriority") < F.col("y.o_orderpriority"))
        .groupBy(
            F.col("x.o_orderpriority").alias("pri_a"),
            F.col("y.o_orderpriority").alias("pri_b"),
        )
        .agg(F.countDistinct("o_custkey").alias("exact_overlap"))
    )
    out = (
        pair_labels.withColumn("pair", F.concat_ws("|", "pri_a", "pri_b"))
        .join(est_union, "pair")
        .join(ea, "pri_a")
        .join(eb, "pri_b")
        .join(exact, ["pri_a", "pri_b"], "left")
    )
    return out.select(
        "pri_a",
        "pri_b",
        F.coalesce("exact_overlap", F.lit(0)).cast("long").alias("exact_overlap"),
        F.col("hll_a").cast("long").alias("hll_a"),
        F.col("hll_b").cast("long").alias("hll_b"),
        F.col("hll_union").cast("long").alias("hll_union"),
        (F.col("hll_a") + F.col("hll_b") - F.col("hll_union"))
        .cast("long")
        .alias("hll_overlap"),
    )


def q_hll_timeline(events: DataFrame) -> DataFrame:
    """Declared query: TIME-ROLLED cardinality — distinct users
    per DAY via HLL register files, with the MONTH level computed by
    cell-wise MAX over the stored day registers (NOT a rescan: the
    operational pattern where per-day sketches persist and any
    coarser period folds for free — the temporal twin of
    q_hll_rollup's 'ALL' fold). Exact distinct counts ride along per
    level; every estimate is the shared exact-integer estimator, so
    DuckDB replays both levels bit-for-bit.

    Scale: ONE data-sized pass builds the day registers; the month
    fold and all estimates operate on ≤ m·days rows. Day buckets are
    wall-clock date strings via date_trunc (tz-stable, the
    q_date_buckets convention)."""
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    # (a ``barrier.cut`` on regs_day measured slower, as
    # in q_hll_rollup — two references of a cheap build; left re-run.)
    regs_day = hll_registers(
        events.select(day.alias("period"), "user_id"), "period", "user_id"
    )
    regs_month = (
        regs_day.withColumn("period", F.substring("period", 1, 7))
        .groupBy("period", "bucket")
        .agg(F.max("reg").alias("reg"))
    )
    est = hll_estimate(regs_day, "period").withColumn(
        "level", F.lit("day")
    ).unionByName(
        hll_estimate(regs_month, "period").withColumn("level", F.lit("month"))
    )
    exact = (
        events.groupBy(day.alias("period"))
        .agg(F.countDistinct("user_id").alias("exact_users"))
        .withColumn("level", F.lit("day"))
        .unionByName(
            events.groupBy(
                F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM")
                .alias("period")
            )
            .agg(F.countDistinct("user_id").alias("exact_users"))
            .withColumn("level", F.lit("month"))
        )
    )
    return exact.join(est, ["period", "level"]).select(
        "period", "level", "exact_users", "m", "n_buckets_hit",
        "sum_reg", "max_reg", "harmonic_scaled",
        F.col("hll_customers").alias("hll_users"),
    )
