"""KMV / bottom-k theta sketch: mergeable distinct-count synopses with
EXACT set algebra (union / intersection estimates), the capability the
HLL family (``operators/sketch.py``) cannot provide losslessly — HLL
union is native but intersection must go through inclusion-exclusion,
whose error compounds; a theta sketch intersects by literally
intersecting its retained hash sets (Beyer, Haas, Reinwald, Sismanis
& Gemulla, SIGMOD 2007, "On Synopses for Distinct Value Estimation
Under Multiset Operations"; the theta-union/intersection framing
follows the Dasgupta, Lang, Rhodes & Thaler 2016 theta-sketch
framework paper).

Parity note: the reference (reference server.js:1-302) is a 302-line
Node ETL service with no sketch surface at all; this module extends
the engine's r10+ sketch family (SURVEY.md §2b) with the
set-algebraic tier.

Portability contract (the r3 minhash discipline): every hash is the
first 12 hex chars of md5 over the key's string form — 48 bits, so
``(n_entries · 2^48) div theta`` stays inside BIGINT for any
plausible ``k`` (63·2^48 ≈ 1.8e16 ≪ 2^63) and BOTH engines evaluate
the estimator in pure integer arithmetic: the DuckDB oracle rebuilds
every sketch, theta and estimate bit-for-bit, no float tolerance.

Estimator: with the k smallest distinct hash values of a set and
``theta`` = the k-th smallest (or 2^48 when the set has fewer than k
distinct members), the retained entries are the hashes STRICTLY below
theta and ``est = n_entries · 2^48 div theta`` — the classic unbiased
(k-1)/U_(k) form when saturated, and EXACT (theta = 2^48 ⇒ est =
n_entries) when not. Union and intersection first clamp both operand
sketches to ``theta_u = min(theta_a, theta_b)``, then count the
union / intersection of the retained hashes below ``theta_u`` and
apply the same ``n · 2^48 div theta_u`` estimator.

Scale shape: the only corpus-sized work is one distinct over
(group, hash-of-key) — a keyed shuffle with map-side partial
aggregation. Bottom-k per group is then taken in TWO phases so no
single task ever sorts a whole group: a salted window
(partitionBy(group, hash % SALTS)) keeps the k smallest per salt
slice, and the final window sorts only the ≤ k·SALTS survivors per
group. Sketches are k-row objects; all set algebra downstream of the
sketch build runs on frames of at most a few hundred rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from node_js_etl_processor_spark.functions import barrier

#: sketch capacity — 64 keeps the estimator's relative error
#: ~ 1/sqrt(k-1) ≈ 13 % while the full sketch is one shuffle page
KMV_K = 64

#: 12 hex chars of md5 = 48 bits; 2^48 as the integer "1.0"
KMV_SCALE = 1 << 48

#: salt fan-out for the two-phase bottom-k (phase-1 window partitions)
_SALTS = 16


def kmv_hash(col: Column) -> Column:
    """48-bit md5-derived hash of a key's string form — the portable
    hash the DuckDB oracle rebuilds as
    ``('0x' || substr(md5(CAST(x AS VARCHAR)), 1, 12))::BIGINT``."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 12), 16, 10).cast(
        "long"
    )


def kmv_bottom_k(hashed: DataFrame, k: int = KMV_K) -> DataFrame:
    """Bottom-k per group over a (g, h) frame of DISTINCT hashes:
    returns (g, h, rn) with rn in 1..k ascending by h. Two-phase so
    no single task ever sorts a whole group (the q_window_topk
    discipline applied to sketch building): a salted window
    (partitionBy(g, h % SALTS)) keeps k per salt slice, then the
    final window sorts only the ≤ k·SALTS survivors per group."""
    pre = Window.partitionBy("g", F.col("h") % _SALTS).orderBy("h")
    survivors = (
        hashed.withColumn("prn", F.row_number().over(pre))
        .filter(F.col("prn") <= k)
        .drop("prn")
    )
    final = Window.partitionBy("g").orderBy("h")
    return (
        survivors.withColumn("rn", F.row_number().over(final))
        .filter(F.col("rn") <= k)
    )


def kmv_sketch(df: DataFrame, grp_col: str, key_col: str, k: int = KMV_K) -> DataFrame:
    """Per-group KMV sketch: the k smallest distinct 48-bit hashes of
    ``key_col`` within each ``grp_col`` group, ranked ascending.

    NULL keys are dropped up front (the r14 heavy.py lesson applied
    proactively): md5(NULL) is NULL, and a NULL hash would sort FIRST
    in Spark's ascending window but LAST under DuckDB's default —
    cardinality sketches count non-null keys, in both engines."""
    hashed = (
        df.select(F.col(grp_col).alias("g"), kmv_hash(F.col(key_col)).alias("h"))
        .filter(F.col("h").isNotNull())
        .distinct()
    )
    return kmv_bottom_k(hashed, k)


def kmv_theta(sketch: DataFrame, k: int = KMV_K) -> DataFrame:
    """Per-group theta: the k-th smallest hash when the sketch
    saturated, else 2^48 (the whole hash space ⇒ estimates are
    exact). Returns (g, theta)."""
    return sketch.groupBy("g").agg(
        F.when(F.max("rn") == k, F.max("h"))
        .otherwise(F.lit(KMV_SCALE))
        .cast("long")
        .alias("theta")
    )


def kmv_entries(sketch: DataFrame, theta: DataFrame) -> DataFrame:
    """Retained entries: hashes STRICTLY below the group's theta —
    (k-1) rows for a saturated sketch, every row otherwise."""
    return sketch.join(theta, "g").filter(F.col("h") < F.col("theta")).select(
        "g", "h"
    )


def _estimate() -> Column:
    """``n_entries · 2^48 div theta`` over the frame's columns —
    BIGINT arithmetic end to end (n·2^48 reaches ~3.5e16, past the
    53-bit double mantissa, so float division would be off-by-ulp;
    ``div`` keeps both engines exact). ``greatest(theta, 1)`` guards
    the measure-zero h=0 corner so the operator stays total."""
    return F.expr(
        f"CAST(n_entries AS BIGINT) * {KMV_SCALE} div greatest(theta, 1)"
    ).alias("est_distinct")


def kmv_estimates(
    sketch: DataFrame,
    k: int = KMV_K,
    theta: "DataFrame | None" = None,
    entries: "DataFrame | None" = None,
) -> DataFrame:
    """(g, n_entries, theta, est_distinct) for every group of a
    (g, h, rn) sketch — the shared read path used by the batch query
    and by the streamed sketch store (streaming/theta.py). Callers
    that already derived the theta / entries frames pass them in so
    the plan does not rebuild the window subtrees."""
    th = kmv_theta(sketch, k) if theta is None else theta
    ent = kmv_entries(sketch, th) if entries is None else entries
    # r16 (advice item): start from the theta frame and LEFT-join the
    # entry counts — a group whose retained-entry set is empty (the
    # degenerate k=1 saturated sketch, or the theta=0 corner the
    # greatest() guard anticipates) must still yield its row with
    # n_entries=0, since k is a caller parameter and the per-group
    # contract is "one row per sketched group".
    counts = ent.groupBy("g").agg(F.count("*").cast("long").alias("n_entries"))
    return (
        th.join(counts, "g", "left")
        .select(
            "g",
            F.coalesce("n_entries", F.lit(0).cast("long")).alias("n_entries"),
            "theta",
        )
        .select("g", "n_entries", "theta", _estimate())
    )


def q_kmv_distinct(orders: DataFrame) -> DataFrame:
    """Declared query: KMV distinct-count sketches with set algebra
    over orders.

    Rows (set_name, n_entries, theta, est_distinct):
      * ``cust:<status>`` — distinct o_custkey per o_orderstatus; at
        every test SF each status has ≫ k distinct customers, so
        these exercise the SATURATED (k-1)/U_(k) estimator branch;
      * ``prio:<status>`` — distinct o_orderpriority per status (5 ≪
        k), the UNSATURATED branch where theta = 2^48 and the
        estimate is provably exact;
      * ``cust:F|O`` / ``cust:F&O`` — theta-union and
        theta-intersection of the F and O customer sketches (clamp
        both to min theta, then count union / intersection of the
        retained hashes below it).

    Everything after the one corpus-sized distinct runs on k-row
    frames. The DuckDB oracle rebuilds hashes, ranks, thetas and the
    integer estimator bit-for-bit — including both algebra rows.
    """
    # Both sketch families ride ONE corpus scan: the two keys are
    # exploded into tagged (g, h) rows up front, so the distinct and
    # the bottom-k windows each run once over the union instead of
    # once per key. The tag is folded into the group column itself
    # ("cust:<status>" / "prio:<status>"), which is also the output
    # set_name.
    hashed = (
        orders.select(
            F.explode(
                F.array(
                    F.struct(
                        F.concat(
                            F.lit("cust:"), F.col("o_orderstatus")
                        ).alias("g"),
                        kmv_hash(F.col("o_custkey")).alias("h"),
                    ),
                    F.struct(
                        F.concat(
                            F.lit("prio:"), F.col("o_orderstatus")
                        ).alias("g"),
                        kmv_hash(F.col("o_orderpriority")).alias("h"),
                    ),
                )
            ).alias("x")
        )
        .select("x.g", "x.h")
        .filter(F.col("h").isNotNull())  # same null-key rule as kmv_sketch
        .distinct()
    )
    # the sketch IS the synopsis — k rows per group. Without the cut
    # every downstream consumer (theta, entries, both
    # algebra branches) re-expands the corpus-sized distinct+window
    # subtree; with it the heavy scan runs once and all set algebra
    # reuses the materialized k-row frames.
    sk = barrier.cut(kmv_bottom_k(hashed), "kmv.q_kmv_distinct")
    th_c = kmv_theta(sk)
    ent_c = kmv_entries(sk, th_c)
    singles_df = kmv_estimates(sk, theta=th_c, entries=ent_c).withColumnRenamed(
        "g", "set_name"
    )

    # theta-union / intersection of the F and O customer sketches:
    # every frame below is ≤ k rows — the joins are broadcast-sized
    # by construction, and Spark's AQE converts them accordingly.
    ent_f = ent_c.filter(F.col("g") == "cust:F").select("h")
    ent_o = ent_c.filter(F.col("g") == "cust:O").select("h")
    th_u = (
        th_c.filter(F.col("g").isin("cust:F", "cust:O"))
        .agg(F.min("theta").cast("long").alias("theta"))
    )
    union_n = (
        ent_f.union(ent_o)
        .distinct()
        .crossJoin(th_u)
        .filter(F.col("h") < F.col("theta"))
        .agg(F.count("*").cast("long").alias("n_entries"))
    )
    inter_n = (
        ent_f.join(ent_o, "h")
        .crossJoin(th_u)
        .filter(F.col("h") < F.col("theta"))
        .agg(F.count("*").cast("long").alias("n_entries"))
    )

    def algebra(n_df: DataFrame, name: str) -> DataFrame:
        return n_df.crossJoin(th_u).select(
            F.lit(name).alias("set_name"),
            "n_entries",
            "theta",
            _estimate(),
        )

    return (
        singles_df
        .unionByName(algebra(union_n, "cust:F|O"))
        .unionByName(algebra(inter_n, "cust:F&O"))
    )


def q_kmv_difference(orders: DataFrame) -> DataFrame:
    """DECLARED in r16 (built + pytest-oracle-verified in r15): theta
    set-DIFFERENCE over the same customer sketches — |F \\ O| and
    |O \\ F| estimated by clamping both operand sketches to
    theta_u = min(theta_F, theta_O) and counting retained F-hashes
    with no O-partner (and vice versa), then the same
    ``n · 2^48 div theta_u`` integer estimator. Completes the
    theta-sketch algebra (union / intersection shipped in
    q_kmv_distinct): A \\ B is the piece inclusion-exclusion cannot
    deliver without compounding two subtraction errors.

    Output rows: ``cust:F-O`` and ``cust:O-F`` with the same
    (set_name, n_entries, theta, est_distinct) schema as
    q_kmv_distinct. All arithmetic BIGINT; the oracle rebuilds both
    rows bit-for-bit.
    """
    sk = barrier.cut(
        kmv_sketch(orders, "o_orderstatus", "o_custkey"), "kmv.q_kmv_difference"
    )
    return kmv_set_difference(sk, "F", "O", "cust:F-O", "cust:O-F")


def kmv_set_difference(
    sketch: DataFrame,
    g_a: str,
    g_b: str,
    name_ab: str,
    name_ba: str,
    k: int = KMV_K,
) -> DataFrame:
    """Theta set-difference over ANY (g, h, rn) sketch frame — the
    shared algebra path used by the batch query above and by the
    STREAMED theta store (``streaming/theta.py::read_kmv_sketch``
    yields exactly this shape), so stored per-group sketches answer
    difference questions without rescanning the corpus. Returns the
    two (set_name, n_entries, theta, est_distinct) rows for A\\B and
    B\\A clamped to theta_u = min(theta_a, theta_b).

    Raises if either group is ABSENT from the sketch frame (r16
    review #3): silently treating a typo'd or not-yet-ingested group
    as the empty set would emit plausible-looking rows asserting it
    is a strict subset of the other. The check collects the ≤ 2
    filtered theta rows — parameter-sized by construction."""
    th = kmv_theta(sketch, k)
    present = {
        r["g"] for r in th.filter(F.col("g").isin(g_a, g_b)).collect()
    }
    absent = sorted({g_a, g_b} - present)
    if absent:
        raise ValueError(
            f"kmv_set_difference: group(s) {absent} absent from the "
            "sketch frame — difference against a nonexistent sketch is "
            "not the empty-set difference"
        )
    ent = kmv_entries(sketch, th)
    ent_a = ent.filter(F.col("g") == g_a).select("h")
    ent_b = ent.filter(F.col("g") == g_b).select("h")
    th_u = (
        th.filter(F.col("g").isin(g_a, g_b))
        .agg(F.min("theta").cast("long").alias("theta"))
    )

    def diff(a: DataFrame, b: DataFrame, name: str) -> DataFrame:
        n = (
            a.join(b, "h", "left_anti")
            .crossJoin(th_u)
            .filter(F.col("h") < F.col("theta"))
            .agg(F.count("*").cast("long").alias("n_entries"))
        )
        return n.crossJoin(th_u).select(
            F.lit(name).alias("set_name"),
            "n_entries",
            "theta",
            _estimate(),
        )

    return diff(ent_a, ent_b, name_ab).unionByName(
        diff(ent_b, ent_a, name_ba)
    )


def kmv_oracle_cte(tag: str, key_sql: str) -> str:
    """The DuckDB sketch-rebuild CTE chain for one key family —
    hashes → ranks → bottom-64 → theta → entries, with the SAME
    null-key drop as the engine (md5(NULL) would rank NULLS LAST in
    DuckDB but FIRST in Spark's ascending window). Shared by every
    KMV oracle so the sketch definition lives in exactly one place."""
    return f"""h{tag} AS (
      SELECT DISTINCT o_orderstatus AS g,
             ('0x' || substr(md5(CAST({key_sql} AS VARCHAR)), 1, 12))::BIGINT AS h
      FROM orders WHERE {key_sql} IS NOT NULL
    ), r{tag} AS (
      SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
      FROM h{tag}
    ), sk{tag} AS (SELECT * FROM r{tag} WHERE rn <= 64),
    th{tag} AS (
      SELECT g, CAST(CASE WHEN max(rn) = 64 THEN max(h)
                          ELSE 281474976710656 END AS BIGINT) AS theta
      FROM sk{tag} GROUP BY g
    ), ent{tag} AS (
      SELECT s.g, s.h FROM sk{tag} s JOIN th{tag} t USING (g)
      WHERE s.h < t.theta
    )"""


#: the DuckDB twin for q_kmv_difference, registry-wired in r16
#: registry wiring — r15 tests run it through the driver's compare
KMV_DIFFERENCE_ORACLE = "WITH " + kmv_oracle_cte("c", "o_custkey") + """, thu AS (
      SELECT CAST(min(theta) AS BIGINT) AS theta FROM thc WHERE g IN ('F', 'O')
    ), fo AS (
      SELECT CAST(count(*) AS BIGINT) AS n
      FROM entc a, thu
      WHERE a.g = 'F' AND a.h < thu.theta
        AND NOT EXISTS (SELECT 1 FROM entc b WHERE b.g = 'O' AND b.h = a.h)
    ), of AS (
      SELECT CAST(count(*) AS BIGINT) AS n
      FROM entc a, thu
      WHERE a.g = 'O' AND a.h < thu.theta
        AND NOT EXISTS (SELECT 1 FROM entc b WHERE b.g = 'F' AND b.h = a.h)
    )
    SELECT 'cust:F-O' AS set_name, fo.n AS n_entries, thu.theta AS theta,
           fo.n * 281474976710656 // greatest(thu.theta, 1) AS est_distinct
    FROM fo, thu
    UNION ALL
    SELECT 'cust:O-F', of.n, thu.theta,
           of.n * 281474976710656 // greatest(thu.theta, 1)
    FROM of, thu
"""
