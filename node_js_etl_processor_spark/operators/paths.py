"""Multi-source k-hop BFS with shortest-path counts over the domain
link graph — DECLARED in r17 (built + staged-oracle-
verified in r16): bounded breadth-first reachability (the Pregel/
Pipelined-BFS pattern — Malewicz et al., SIGMOD 2010) from a fixed
seed set, annotating every reached domain with its hop distance AND
the number of distinct shortest paths from the seed set (the σ_s(v)
counts of Brandes' betweenness algorithm, J. Math. Sociology 2001 —
the BFS DAG statistic crawl-frontier and link-spam analyses read).
Completes the graph family: q_link_graph builds the edges,
q_pagerank scores global centrality, this measures seed-relative
reachability.

Semantics: edges are the DISTINCT (src_domain, dst_domain) pairs of
graph.link_graph_edges (multiplicity ignored — unweighted BFS;
graph.py:140 builds them, and the staged oracle rebuilds the same
edge set with the LINK_GRAPH_ORACLE construction). dist(v) = the
minimum hop count from ANY seed (multi-source BFS), capped at
K_HOPS; n_paths(v) = Σ over predecessors u with dist(u) = dist(v)−1
of n_paths(u) — exact BIGINT path counting in the BFS DAG, seeds at
(dist 0, n_paths 1). Everything is integer, so the compare is
bitwise.

Scale shape: K_HOPS unrolled rounds, each ONE keyed join (frontier ⋈
edges on src — at scale the frontier is the small side and AQE
broadcasts it) + ONE keyed aggregation + ONE left-anti dedup against
the visited set. No driver-side iteration state beyond the loop
counter, no collect anywhere; the visited frame is bounded by the
reachable vertex set (domains — many orders of magnitude smaller
than the document corpus that generated the edges). Each hop's
frontier is cut (``bfs_hops_over_edges`` says why), so the lineage
stays one hop deep at any K.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from node_js_etl_processor_spark.functions import barrier
from node_js_etl_processor_spark.operators.graph import link_graph_edges

#: fixed seed domains + hop budget — interpolated into the staged
#: oracle so engine and oracle can never drift.
SEEDS = ("d0.example", "d7.example")
K_HOPS = 3


def bfs_hops_over_edges(edges: DataFrame, k_hops: int = K_HOPS) -> DataFrame:
    """The BFS core over any (src, dst) edge frame — q_bfs_hops feeds
    it the batch link extraction; ``bfs_hops_from_store`` feeds it the
    streamed edge store, so the ingest-day graph tier answers the same
    reachability questions as the batch operator (the theta-store
    difference-read discipline).

    Each hop's frontier is cut (``barrier.cut``). Two reasons, both
    measured. (1) Without it the final union of layers
    RE-EVALUATES every earlier hop's subtree once per later layer —
    the K=3 plan carried 24 join operators for the 6 the recurrence
    defines (Catalyst does not share common subtrees across union
    branches), tripling hop-1's work. (2) A derived frontier's size
    is unknown at planning time, so AQE's broadcast-vs-SMJ choice for
    the next hop's join flips run to run (a 2.1× run-to-run spread in
    q_bfs_hops' time); a cut frontier has
    EXACT size statistics, so the choice is deterministic (and, the
    frontier being domain-bounded, lands on broadcast without an
    unconditional ``F.broadcast`` pin that would break at web scale
    where a frontier can exceed the broadcast table limit).
    The cut costs one job per hop over a domain-sized frame."""
    # the edge frame feeds one join PER HOP, and without the cut each
    # hop re-runs the upstream edge construction (the colloc.py
    # multi-consumer fan-out discipline). The frame is
    # domain-pair-sized — thousands of times smaller than the corpus.
    edges = barrier.cut(edges.select("src", "dst").distinct(), "paths.bfs_edges")
    spark = edges.sparkSession
    visited = spark.createDataFrame(
        [(s, 0, 1) for s in SEEDS], "domain string, dist int, n_paths long"
    ).select(
        "domain",
        F.col("dist").cast("bigint").alias("dist"),
        F.col("n_paths").cast("bigint").alias("n_paths"),
    )
    frontier = visited
    layers = [visited]
    for hop in range(1, k_hops + 1):
        nxt = (
            frontier.select(F.col("domain").alias("src"), "n_paths")
            .join(edges, "src")
            .groupBy("dst")
            .agg(F.sum("n_paths").cast("bigint").alias("n_paths"))
            .select(
                F.col("dst").alias("domain"),
                F.lit(hop).cast("bigint").alias("dist"),
                "n_paths",
            )
            .join(visited, "domain", "left_anti")
            .select("domain", "dist", "n_paths")
        )
        nxt = barrier.cut(nxt, "paths.bfs_hop")
        # exhausted frontier ⇒ every remaining hop is provably empty
        # (BFS layer recurrence) — stop unrolling instead of running k
        # more join+agg+anti jobs over an empty frame. Identical
        # output: an empty layer contributes no rows to the union. The
        # check is one take(1) over the already-cut partitions (cheap).
        if nxt.isEmpty():
            break
        layers.append(nxt)
        frontier = nxt
        visited = visited.unionByName(nxt.select("domain", "dist", "n_paths"))
    return reduce(lambda a, b: a.unionByName(b), layers)


def q_bfs_hops(documents: DataFrame, k_hops: int = K_HOPS) -> DataFrame:
    """Declared query (r17): (domain, dist, n_paths) for every
    domain within k_hops of the seed set over the distinct link-graph
    edges — exact BIGINT shortest-path counts (module docstring has
    the BFS-DAG semantics)."""
    return bfs_hops_over_edges(
        link_graph_edges(documents).select(
            F.col("src_domain").alias("src"), F.col("dst_domain").alias("dst")
        ),
        k_hops,
    )


def bfs_hops_from_store(spark, store_path: str, k_hops: int = K_HOPS) -> DataFrame:
    """BFS reachability answered by the STREAMED link-graph edge
    store (sources/graph_store.py — the ingest-day graph tier):
    identical output to q_bfs_hops over the same corpus, pinned by
    test. The store read aggregates the append log to the same
    (src, dst) edge set the batch extraction produces; multiplicity
    is irrelevant to the unweighted BFS, so log partials vs compacted
    generations cannot change the answer."""
    from node_js_etl_processor_spark.sources.graph_store import read_edge_graph

    return bfs_hops_over_edges(
        read_edge_graph(spark, store_path).select(
            F.col("src_domain").alias("src"), F.col("dst_domain").alias("dst")
        ),
        k_hops,
    )


#: the DuckDB twin, registry-wired in r17 — the edge
#: CTE mirrors LINK_GRAPH_ORACLE (__spark_entry__.py) / the
#: graph.py:140 builder: 3 deterministic hrefs per doc, escaped body,
#: self-links dropped, then DISTINCT pairs; the BFS layers unroll to
#: K_HOPS with NOT-IN visited guards and sum()-merged path counts.
BFS_HOPS_ORACLE = f"""
    WITH pages AS (
      SELECT doc_id,
             'd' || CAST(doc_id % 20 AS VARCHAR) || '.example' AS src_domain,
             '<html><body>'
             || '<a href="https://d' || CAST((doc_id * 3) % 20 AS VARCHAR)
               || '.example/p' || CAST(doc_id % 7 AS VARCHAR) || '">l</a>'
             || '<a href="https://d' || CAST((doc_id * 7) % 20 AS VARCHAR)
               || '.example/p' || CAST(doc_id % 7 AS VARCHAR) || '">l</a>'
             || '<a href="https://d' || CAST((doc_id * 11) % 20 AS VARCHAR)
               || '.example/p' || CAST(doc_id % 7 AS VARCHAR) || '">l</a>'
             || '<p>' || replace(replace(replace(text, '&', '&amp;'),
                                         '<', '&lt;'), '>', '&gt;')
             || '</p></body></html>' AS html
      FROM documents
    ),
    links AS (
      SELECT src_domain,
             unnest(regexp_extract_all(html, '<a href="([^"]+)">', 1)) AS url
      FROM pages
    ),
    edges AS (
      SELECT DISTINCT src_domain AS src,
             regexp_extract(url, '^https?://([^/]+)', 1) AS dst
      FROM links
      WHERE src_domain <> regexp_extract(url, '^https?://([^/]+)', 1)
    ),
    p0 AS (
      SELECT domain, CAST(0 AS BIGINT) AS dist, CAST(1 AS BIGINT) AS n_paths
      FROM (VALUES {", ".join(f"('{s}')" for s in SEEDS)}) AS seeds(domain)
    ),
    p1 AS (
      SELECT e.dst AS domain, CAST(1 AS BIGINT) AS dist,
             CAST(sum(p.n_paths) AS BIGINT) AS n_paths
      FROM p0 p JOIN edges e ON e.src = p.domain
      WHERE e.dst NOT IN (SELECT domain FROM p0)
      GROUP BY e.dst
    ),
    p2 AS (
      SELECT e.dst AS domain, CAST(2 AS BIGINT) AS dist,
             CAST(sum(p.n_paths) AS BIGINT) AS n_paths
      FROM p1 p JOIN edges e ON e.src = p.domain
      WHERE e.dst NOT IN (SELECT domain FROM p0)
        AND e.dst NOT IN (SELECT domain FROM p1)
      GROUP BY e.dst
    ),
    p3 AS (
      SELECT e.dst AS domain, CAST(3 AS BIGINT) AS dist,
             CAST(sum(p.n_paths) AS BIGINT) AS n_paths
      FROM p2 p JOIN edges e ON e.src = p.domain
      WHERE e.dst NOT IN (SELECT domain FROM p0)
        AND e.dst NOT IN (SELECT domain FROM p1)
        AND e.dst NOT IN (SELECT domain FROM p2)
      GROUP BY e.dst
    )
    SELECT * FROM p0 UNION ALL SELECT * FROM p1
    UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3
"""
