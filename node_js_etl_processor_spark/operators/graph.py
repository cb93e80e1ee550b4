"""Graph analytics on DataFrames — the iterative-algorithm tier next
to dedup's connected components.

The reference has no graph surface (server.js is a linear ETL); this
module belongs to the mandated large-pipeline extension: weighted
PageRank (Page, Brin, Motwani & Winograd 1999) expressed as unrolled
DataFrame iterations, each iteration one keyed join + aggregation —
the standard Pregel-free form. With a FIXED iteration count the whole
computation is SQL-expressible, so unlike most iterative algorithms it
carries a full DuckDB oracle (3 unrolled CTE steps), not a rows-only
check.

Scale shape: the edge aggregation is the only corpus-sized shuffle;
each iteration shuffles the rank vector keyed by node — O(V) rows —
and joins it to the transition table keyed by src. On entity graphs
(nations, domains, publishers) the rank vector broadcasts; on web-
scale node sets both sides partition on the node key and AQE handles
the power-law skew (the same argument as dedup.q_dedup_clusters'
star contraction, which owns the unbounded-iteration variant).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from node_js_etl_processor_spark.functions import barrier

#: Standard damping factor.
PR_DAMPING = 0.85


def trade_edges(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
) -> DataFrame:
    """The nation-level trade graph: one edge (src customer nation →
    dst supplier nation) per lineitem, weight = lineitem count.
    Dimension sides broadcast; the fact-side join output collapses to
    ≤ 25×25 weighted edges in one aggregation."""
    return (
        lineitem.select("l_orderkey", "l_suppkey")
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count("*").cast("bigint").alias("w"))
    )


def pagerank(
    edges: DataFrame, iterations: int = 3, damping: float = PR_DAMPING
) -> DataFrame:
    """Weighted PageRank, ``iterations`` unrolled DataFrame steps.

    r_{i+1}(v) = (1−d)/N + d·Σ_u r_i(u)·w(u,v)/out(u), nodes = src ∪
    dst, uniform start 1/N. Dangling mass (nodes with no out-edges)
    is dropped each step — the simple form, replayed identically by
    the oracle. Returns (node, pagerank rounded 6, rank by score desc
    / node asc)."""
    from pyspark.sql.window import Window

    # cut the aggregated edge frame once. Catalyst shares no common
    # subtrees, so WITHOUT this the edge-build subtree (a fact-table
    # join for the declared query) re-evaluated at every reference —
    # 14 lineitem scans / 56 exchanges in the unrolled q_pagerank
    # plan; the cut frame is the post-aggregation edge list
    # (entity-graph sized, ≤ |V|² rows — the same frame every
    # iteration shuffles anyway). trans/nodes are cut too, exactly
    # pagerank_until's discipline, so each unrolled iteration replans
    # from O(V)-row in-memory frames.
    edges = barrier.cut(edges, "graph.pagerank_edges")
    out = edges.groupBy("src").agg(F.sum("w").alias("outw"))
    trans = barrier.cut(
        edges.join(out, "src")
        .select("src", "dst", (F.col("w") / F.col("outw")).alias("p")),
        "graph.pagerank_trans",
    )
    nodes = barrier.cut(
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct(),
        "graph.pagerank_nodes",
    )
    n = nodes.count()  # node count: a parameter (entity-graph sized
    # here; the 1-row-frame lazy form lives in pagerank_until, which
    # is the composition-grade variant — this unrolled form stays
    # eager so its empty-graph guard raises at build time and its
    # float-op order matches the oracle literally)
    if n == 0:
        raise ValueError("pagerank: empty edge set (no nodes)")
    base = (1.0 - damping) / n
    ranks = nodes.select("node", F.lit(1.0 / n).alias("r"))
    # (explicit F.broadcast hints on ranks/contrib were
    # measured SLOWER here — 2.4-2.9 s vs 2.0-2.4 s solo — each hint
    # forces a driver-serialized broadcast build per iteration, while
    # AQE's runtime conversion of these tiny joins pipelines better.)
    for _ in range(iterations):
        contrib = (
            trans.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("r") * F.col("p")).alias("inflow"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
            ).alias("r"),
        )
    w = Window.orderBy(F.col("pagerank").desc(), F.col("node").asc())
    return ranks.select(
        "node", F.round(F.col("r"), 6).alias("pagerank")
    ).withColumn("rank", F.row_number().over(w).cast("bigint"))


def wrap_html_with_links(doc_id: Column, text: Column) -> Column:
    """A deterministic page per document carrying three anchor tags
    whose target domains are closed-form in doc_id (reserved
    ``.example`` TLD), around the escaped text — the link-graph twin
    of text.wrap_html's build-then-extract trick: the page is built
    and mined in the SAME query, so the extraction chain is provable
    end to end."""
    from node_js_etl_processor_spark.operators.text import html_escape

    def dom(mult: int) -> Column:
        return F.concat(
            F.lit('<a href="https://d'),
            ((doc_id * mult) % 20).cast("string"),
            F.lit(".example/p"),
            (doc_id % 7).cast("string"),
            F.lit('">l</a>'),
        )

    return F.concat(
        F.lit("<html><body>"),
        dom(3),
        dom(7),
        dom(11),
        F.lit("<p>"),
        html_escape(text),
        F.lit("</p></body></html>"),
    )


def link_graph_edges(documents: DataFrame) -> DataFrame:
    """UNORDERED weighted (src_domain, dst_domain, n_links) edges —
    the composable form (no sort): pages built per document
    (``wrap_html_with_links``), hrefs mined with one
    ``regexp_extract_all`` + explode, self-links dropped, ONE keyed
    aggregation. Codegen regexp/string work — scan-bandwidth at
    corpus scale."""
    html = wrap_html_with_links(F.col("doc_id"), F.col("text"))
    hrefs = F.regexp_extract_all(html, F.lit(r'<a href="([^"]+)">'), 1)
    src = F.concat(
        F.lit("d"), (F.col("doc_id") % 20).cast("string"), F.lit(".example")
    )
    return (
        documents.select(src.alias("src_domain"), F.explode(hrefs).alias("url"))
        .select(
            "src_domain",
            F.regexp_extract(F.col("url"), r"^https?://([^/]+)", 1).alias(
                "dst_domain"
            ),
        )
        .filter(F.col("src_domain") != F.col("dst_domain"))
        .groupBy("src_domain", "dst_domain")
        .agg(F.count("*").cast("bigint").alias("n_links"))
    )


def q_link_graph(documents: DataFrame) -> DataFrame:
    """r10-candidate declared query (NOT in the r9 registry): the
    outlink/domain graph builder — the curation op that feeds domain-
    level quality signals (link spam, hub detection, domain PageRank
    via ``pagerank_until``). The orderBy lives ONLY in this declared
    wrapper (presentation); compositions take ``link_graph_edges``
    and skip the sort. Oracle parity is pinned by pytest ahead of
    declaration (DuckDB rebuilds the page and replays the extraction
    regex, not just the closed form)."""
    return link_graph_edges(documents).orderBy("src_domain", "dst_domain")


def domain_pagerank(documents: DataFrame, **kwargs) -> DataFrame:
    """Domain quality scores: the link graph fed through the
    convergence PageRank — the composed curation signal (rank joins
    back to documents by source domain as a quality feature). Built
    on the unordered edge form, so no sort/range exchange rides in
    front of PageRank's own keyed shuffles."""
    edges = link_graph_edges(documents).select(
        F.col("src_domain").alias("src"),
        F.col("dst_domain").alias("dst"),
        F.col("n_links").alias("w"),
    )
    return pagerank_until(edges, **kwargs)


def pagerank_until(
    edges: DataFrame,
    eps: float = 1e-6,
    max_iter: int = 40,
    damping: float = PR_DAMPING,
    require_convergence: bool = True,
    stats: dict | None = None,
    check_every: int = 3,
) -> DataFrame:
    """Fixed-point weighted PageRank (r9) — the production-grade twin
    of the oracle-grade unrolled ``pagerank``, with the same
    convergence discipline as ``dedup.connected_components`` (iterate
    with a per-round cut, STOP on a structural signal,
    refuse to return wrong answers on non-convergence):

    - **dangling-mass redistribution**: rank sitting on nodes with no
      out-edges is redistributed uniformly each round (the standard
      correction — Page et al. 1999 §2.5), so total rank stays 1.0
      instead of leaking, which the simple form tolerates only
      because its oracle replays the same leak;
    - **node count as a 1-row frame** cross-joined into the plan — no
      eager driver ``count()``, so the operator stays lazily
      composable until its own convergence actions run;
    - **L1 convergence**: stop when Σ|r_i − r_{i−1}| < eps; raise on
      hitting ``max_iter`` unconverged (``require_convergence=False``
      turns the cap into fixed-iteration mode — eps=0 there runs
      EXACTLY max_iter rounds, which is what pins this form equal to
      the unrolled ``pagerank`` in tests).

    Each round is one keyed join + aggregation over O(V) cut rows;
    the scalar L1 aggregate (a driver action) runs only every
    ``check_every`` rounds and on the final round (r10 — the per-round
    action was pure overhead: PageRank deltas shrink geometrically, so
    checking at round k, k+1, k+2 almost never stops earlier than
    checking at k+3, while each skipped check saves a full rank-join
    action). ``check_every=1`` restores the per-round check; results
    are identical either way up to at most ``check_every - 1`` extra
    refinement rounds past the crossing point (fixed-iteration mode —
    eps=0 — is bit-identical, since no check ever stops it early).
    ``stats`` (optional dict) gets {"iterations", "delta"} for
    observability.
    """
    from pyspark.sql.window import Window

    if max_iter < 1:
        raise ValueError(f"pagerank_until: max_iter must be >= 1, got {max_iter}")
    if check_every < 1:
        raise ValueError(
            f"pagerank_until: check_every must be >= 1, got {check_every}"
        )
    out = edges.groupBy("src").agg(F.sum("w").alias("outw"))
    trans = barrier.cut(
        edges.join(out, "src")
        .select("src", "dst", (F.col("w") / F.col("outw")).alias("p")),
        "graph.pagerank_until_trans",
    )
    nodes = barrier.cut(
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct(),
        "graph.pagerank_until_nodes",
    )
    ncount = nodes.agg(F.count("*").cast("double").alias("n_nodes"))
    ranks = barrier.cut(
        nodes.crossJoin(ncount)
        .select("node", (F.lit(1.0) / F.col("n_nodes")).alias("r")),
        "graph.pagerank_until_init",
    )
    src_nodes = out.select(F.col("src").alias("node"))

    delta = None
    iters = 0
    for iters in range(1, max_iter + 1):
        contrib = (
            trans.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("r") * F.col("p")).alias("inflow"))
        )
        dangling = ranks.join(src_nodes, "node", "left_anti").agg(
            F.coalesce(F.sum("r"), F.lit(0.0)).alias("dmass")
        )
        new_ranks = barrier.cut(
            nodes.join(contrib, "node", "left")
            .crossJoin(ncount)
            .crossJoin(dangling)
            .select(
                "node",
                (
                    (F.lit(1.0) - F.lit(damping)) / F.col("n_nodes")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("inflow"), F.lit(0.0))
                        + F.col("dmass") / F.col("n_nodes")
                    )
                ).alias("r"),
            ),
            "graph.pagerank_until_round",
        )
        check = iters % check_every == 0 or iters == max_iter
        if check:
            row = (
                new_ranks.join(
                    ranks.withColumnRenamed("r", "r_prev"), "node"
                )
                .agg(F.sum(F.abs(F.col("r") - F.col("r_prev"))).alias("d"))
                .first()
            )
            delta = row["d"]
            if delta is None:
                raise ValueError("pagerank_until: empty edge set (no nodes)")
        ranks = new_ranks
        if check and delta < eps:
            break
    else:
        if require_convergence:
            raise RuntimeError(
                f"pagerank_until did not converge in {max_iter} rounds "
                f"(last L1 delta {delta:.3e} >= eps {eps:.3e}) — raise "
                "max_iter (returning unconverged ranks silently would "
                "be wrong, not approximate)"
            )
    if stats is not None:
        stats["iterations"] = iters
        stats["delta"] = delta
    w = Window.orderBy(F.col("pagerank").desc(), F.col("node").asc())
    return ranks.select(
        "node", F.round(F.col("r"), 6).alias("pagerank")
    ).withColumn("rank", F.row_number().over(w).cast("bigint"))


def q_pagerank(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
) -> DataFrame:
    """Declared query (r8): 3-iteration weighted PageRank over the
    nation trade graph. Fully oracle-checked — the DuckDB SQL rebuilds
    the edge weights, the transition probabilities and all three
    iterations as unrolled CTEs in the same float-op order."""
    return pagerank(trade_edges(lineitem, orders, customer, supplier))
