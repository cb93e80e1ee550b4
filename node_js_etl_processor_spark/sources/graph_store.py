"""The link-graph edge tier of the partials store.

``operators.graph.link_graph_edges`` mines (src_domain, dst_domain,
n_links) from a document batch; at corpus scale the graph is built
INCREMENTALLY — every crawl drop adds its edges — and consumed by
``pagerank_until`` / domain-quality joins. Edge counts SUM-merge per
pair, so ``EDGES`` keeps them in the generation-log store of
``sources/partials_store.py`` (write / append / compact / applier).
Partials are bucketed by a 32-way src-domain hash so per-domain
outlink probes prune the file listing, the BM25 term-bucket
discipline.

This module holds only the graph reads: the aggregated graph, one
domain's outlinks, and ``domain_pagerank_from_store`` — the stored
form of ``graph.domain_pagerank``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from node_js_etl_processor_spark.operators.graph import link_graph_edges
from node_js_etl_processor_spark.sources.partials_store import (
    PartialsSpec,
    probe_partials,
    read_partials,
)

EDGES = PartialsSpec(
    name="edge",
    build=link_graph_edges,
    keys=("src_domain", "dst_domain"),
    value="n_links",
    bucket_key="src_domain",
    n_buckets=32,
)


def read_edge_graph(spark: SparkSession, path: str) -> DataFrame:
    """The aggregated graph: SUM the stored partials per (src, dst) —
    identical output to ``link_graph_edges`` over the full ingested
    corpus (test-pinned)."""
    return read_partials(spark, EDGES, path)


def domain_outlinks(spark: SparkSession, path: str, domain: str) -> DataFrame:
    """One domain's aggregated outlinks — the probe shape the bucket
    partitioning exists for (1 of 32 directories listed)."""
    return probe_partials(spark, EDGES, path, domain)


def domain_pagerank_from_store(
    spark: SparkSession, path: str, **kwargs
) -> DataFrame:
    """The stored form of ``graph.domain_pagerank``: feed the
    aggregated edge graph to the convergence PageRank. Rank-identical
    to the batch composition over the same ingested corpus
    (test-pinned)."""
    from node_js_etl_processor_spark.operators.graph import pagerank_until

    edges = read_edge_graph(spark, path).select(
        F.col("src_domain").alias("src"),
        F.col("dst_domain").alias("dst"),
        F.col("n_links").alias("w"),
    )
    return pagerank_until(edges, **kwargs)
