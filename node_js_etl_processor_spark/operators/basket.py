"""Market-basket co-occurrence: the candidate-pair pass of A-Priori (Agrawal
& Srikant, VLDB 1994, "Fast Algorithms for Mining Association Rules") over
the orders/lineitem star — every unordered part pair co-ordered in at least
``min_support`` baskets, with the exact integer sufficient statistics (pair
support, each part's basket count, total baskets) from which
support/confidence/lift all derive. The SET-co-occurrence complement to the
collocation miner (``colloc.py`` counts SEQUENTIAL token bigrams; this
counts unordered co-membership).

Determinism contract: baskets are the DISTINCT part sets per order,
pairs are generated with a < b from the sorted basket array, and
every emitted column is an exact BIGINT count — no ratios, no floats,
nothing to round. Lift for a pair is
``n_both · n_baskets / (n_a · n_b)`` — left to the consumer exactly
as the PMI statistics are.

Scale shape: one keyed aggregation builds baskets (collect_set is
bounded by basket size — single-digit for order data, never
corpus-sized); the pair explode is Σ|B|² with |B| bounded, i.e.
linear in lineitem with a small constant; pair support is a second
keyed aggregation (map-side combined), and the ``min_support``
filter collapses the pair frame BEFORE it joins the
vocabulary-sized per-part basket counts. The A-Priori downward-
closure argument is exactly this plan's shape at 100 TB: the support
filter is what keeps the joined frame candidate-sized.

The quadratic corner is the BASKET SIZE: one pathological basket of
10k distinct items pays |B|²/2 ≈ 50M pairs on its own. The
``max_basket`` cap (the ``q_fuzzy_match`` key_cap discipline applied
to baskets) DROPS oversized baskets outright — standard market-basket
practice, since a mega-basket carries no per-pair signal — with the
recall contract stated on the parameter: pair supports count only
capped baskets. Default None = exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from node_js_etl_processor_spark.functions import barrier

#: minimum number of baskets a pair must co-occur in
MIN_SUPPORT = 2


def order_baskets(
    lineitem: DataFrame, max_basket: "int | None" = None
) -> DataFrame:
    """(l_orderkey, parts) — each order's sorted DISTINCT part set.
    collect_set is bounded by basket size, never corpus-sized. NULL
    part keys are dropped EXPLICITLY (Spark's collect_set would drop
    them silently while DuckDB's list(DISTINCT) keeps a NULL member —
    a cross-engine null-drop; the oracle carries
    the same WHERE). With ``max_basket`` set, baskets LARGER than the
    cap are dropped whole — the graceful-degradation lever for
    templated/mega-basket corpora where the pair explode would go
    quadratic (see the module docstring's recall contract)."""
    baskets = (
        lineitem.filter(F.col("l_partkey").isNotNull())
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )
    if max_basket is not None:
        baskets = baskets.filter(F.size("parts") <= max_basket)
    return baskets


def basket_pairs(baskets: DataFrame) -> DataFrame:
    """(a, b) rows — one per unordered part pair per basket, a < b
    from the sorted basket array."""
    return baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (x, i) ->"
                " transform(slice(parts, i + 2, size(parts)),"
                " y -> struct(x AS a, y AS b))))"
            )
        ).alias("p")
    ).select("p.a", "p.b")


def q_itemset_pairs(
    lineitem: DataFrame,
    min_support: int = MIN_SUPPORT,
    max_basket: "int | None" = None,
) -> DataFrame:
    """Declared query: co-ordered part pairs with support ≥
    min_support and their exact counting statistics
    (part_a, part_b, n_both, n_a, n_b, n_baskets). ``max_basket``
    opts into the mega-basket cap (default exact); when capped, every
    statistic counts only the surviving baskets — internally
    consistent, documented recall."""
    # baskets feed THREE consumers (pairs, per-part counts, the total)
    # — without the cut the corpus aggregation re-runs per branch (the
    # double-built-subtree class)
    baskets = barrier.cut(order_baskets(lineitem, max_basket), "basket.baskets")
    pairs = basket_pairs(baskets)
    support = (
        pairs.groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("n_both"))
        .filter(F.col("n_both") >= min_support)
    )
    per_part = (
        baskets.select(F.explode("parts").alias("part"))
        .groupBy("part")
        .agg(F.count("*").cast("long").alias("n"))
    )
    n_baskets = baskets.agg(F.count("*").cast("long").alias("n_baskets"))
    return (
        support.join(
            per_part.withColumnRenamed("part", "a").withColumnRenamed(
                "n", "n_a"
            ),
            "a",
        )
        .join(
            per_part.withColumnRenamed("part", "b").withColumnRenamed(
                "n", "n_b"
            ),
            "b",
        )
        .crossJoin(n_baskets)
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            "n_both",
            "n_a",
            "n_b",
            "n_baskets",
        )
    )


#: the DuckDB twin — the support threshold is interpolated from MIN_SUPPORT
#: so the oracle can never drift from the engine default
ITEMSET_PAIRS_ORACLE = f"""
    WITH b AS (
      SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
      FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1
    ), p AS (
      SELECT parts[i.g] AS a, parts[j.g] AS b
      FROM b,
           UNNEST(generate_series(1, len(parts))) i(g),
           UNNEST(generate_series(1, len(parts))) j(g)
      WHERE i.g < j.g
    ), sup AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS n_both
      FROM p GROUP BY a, b HAVING count(*) >= {MIN_SUPPORT}
    ), per_part AS (
      SELECT part, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest(parts) AS part FROM b) GROUP BY part
    ), nb AS (
      SELECT CAST(count(*) AS BIGINT) AS n_baskets FROM b
    )
    SELECT s.a AS part_a, s.b AS part_b, s.n_both,
           pa.n AS n_a, pb.n AS n_b, nb.n_baskets
    FROM sup s
    JOIN per_part pa ON pa.part = s.a
    JOIN per_part pb ON pb.part = s.b, nb
"""
