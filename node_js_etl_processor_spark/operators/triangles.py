"""Exact triangle counting over the co-purchase graph: the
degree-ordered edge orientation algorithm (Schank & Wagner, WEA 2005,
"Finding, Counting and Listing All Triangles in Large Graphs"; the
MapReduce formulation is Suri & Vassilvitskii, WWW 2011's MR-B), the
third graph operator beside PageRank and the link graph — triangle
participation is the standard local-clustering / community signal a
link-spam or template-cluster detector reads.

Graph: the A-Priori co-purchase edges (``operators/basket.py``) —
nodes are parts, an undirected edge joins parts co-ordered in
≥ MIN_SUPPORT baskets (a < b canonical). Output: (part, n_triangles)
for every part in at least one triangle, exact BIGINT counts.

The rewrite the oracle checks: a naive triangle join is three-way
quadratic on hub nodes. Degree orientation fixes it — direct every
edge from its lower-(degree, id) endpoint to the higher one; then
every triangle has exactly ONE node with two out-edges (the "pivot",
its lowest-ordered corner), so wedges = pairs of out-edges per pivot
and a wedge is a triangle iff its two tips are themselves an oriented
edge. Out-degrees are bounded by O(sqrt(m)) on ANY graph (a node of
orientation-degree d has d neighbors of degree ≥ d, so d(d-1)/2 ≤ m),
which bounds the wedge set by O(m^1.5) WITHOUT hub blow-up — the hot
part that co-occurs with everything never pivots.

Scale shape: degree = one keyed agg over the edge list; orientation =
a projection; wedges = one self-join on the pivot (out-degree-bounded
fan-out); the closing check = one equi-join of wedges against the
oriented edge list on the (tip_a, tip_b) composite key; per-node
counts = explode the 3 corners of each found triangle + one keyed
agg. Every join is a keyed equi-join on ids; no windows, no
collects.

The DuckDB oracle deliberately does NOT orient: it brute-forces the
id-canonical 3-way join (e1.a<e1.b, same a joined twice, third edge
closing the pair), so the orientation rewrite's exactness — each
triangle found exactly once, none missed — is what the compare
checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from node_js_etl_processor_spark.functions import barrier

from .basket import MIN_SUPPORT, order_baskets, basket_pairs


def copurchase_edges(
    lineitem: DataFrame,
    min_support: int = MIN_SUPPORT,
    max_basket: "int | None" = None,
) -> DataFrame:
    """Undirected (a, b) edges, a < b canonical: part pairs co-ordered
    in ≥ min_support baskets (the q_itemset_pairs support gate without
    the per-part statistics). ``max_basket`` passes through to the
    mega-basket cap (the |B|² graceful-degradation lever
    must stay reachable from every consumer of the pair explode)."""
    baskets = order_baskets(lineitem, max_basket)
    return (
        basket_pairs(baskets)
        .groupBy("a", "b")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_support)
        .select("a", "b")
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """(part, n_triangles) over an undirected (a, b), a < b edge list
    — the degree-orientation algorithm (module docstring). ``edges``
    must be duplicate-free with a < b; every id participates in the
    total order (degree, id), so orientation is deterministic."""
    # the edge frame (corpus-sized basket build + pair explode +
    # support agg upstream) feeds THREE consumers — both unionAll
    # branches of the degree count and the orientation join — the
    # repo's multi-consumer cut discipline rather than relying on
    # exchange reuse
    edges = barrier.cut(edges, "triangles.edges")
    ends = edges.select(F.col("a").alias("v")).unionAll(
        edges.select(F.col("b").alias("v"))
    )
    deg = ends.groupBy("v").agg(F.count("*").cast("bigint").alias("deg"))
    e = (
        edges.join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), "b")
    )
    # orient from lower (deg, id) to higher (deg, id)
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = barrier.cut(
        e.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
            F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("ddst"),
        ),
        "triangles.oriented",
    )
    # wedges at each pivot: unordered pairs of out-neighbors, ordered
    # by the SAME (deg, id) total order so each wedge appears once and
    # the closing edge's orientation is known (lower tip -> higher tip)
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    tip_order = (F.col("w1.ddst") < F.col("w2.ddst")) | (
        (F.col("w1.ddst") == F.col("w2.ddst"))
        & (F.col("w1.dst") < F.col("w2.dst"))
    )
    wedges = w1.join(
        w2, (F.col("w1.src") == F.col("w2.src")) & tip_order
    ).select(
        F.col("w1.src").alias("pivot"),
        F.col("w1.dst").alias("t1"),
        F.col("w2.dst").alias("t2"),
    )
    closing = oriented.select(
        F.col("src").alias("t1"), F.col("dst").alias("t2")
    )
    tris = wedges.join(closing, ["t1", "t2"])
    # ONE evaluation of the wedge+closing join: the former 3-branch
    # unionAll duplicated the whole join subtree per corner in the
    # physical plan (Union over three
    # BroadcastHashJoin copies); exploding the corner array emits the
    # same 3 rows per triangle from a single join pass.
    corners = tris.select(
        F.explode(F.array("pivot", "t1", "t2")).alias("part")
    )
    return corners.groupBy("part").agg(
        F.count("*").cast("bigint").alias("n_triangles")
    )


def q_triangles(lineitem: DataFrame) -> DataFrame:
    """Declared query: per-part triangle participation in
    the co-purchase graph. The oracle brute-forces the id-canonical
    3-way edge join with NO orientation — the rewrite's exactness is
    the thing checked."""
    return triangle_counts(copurchase_edges(lineitem))


#: the DuckDB twin — support threshold interpolated from MIN_SUPPORT;
#: deliberately the UNORIENTED brute-force 3-way join
TRIANGLES_ORACLE = f"""
    WITH b AS (
      SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
      FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1
    ), p AS (
      SELECT parts[i.g] AS a, parts[j.g] AS b
      FROM b,
           UNNEST(generate_series(1, len(parts))) i(g),
           UNNEST(generate_series(1, len(parts))) j(g)
      WHERE i.g < j.g
    ), e AS (
      SELECT a, b FROM p GROUP BY a, b HAVING count(*) >= {MIN_SUPPORT}
    ), t AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
      JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
    ), corners AS (
      SELECT x AS part FROM t
      UNION ALL SELECT y FROM t
      UNION ALL SELECT z FROM t
    )
    SELECT part, CAST(count(*) AS BIGINT) AS n_triangles
    FROM corners GROUP BY part
"""
