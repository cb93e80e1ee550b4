"""Incremental link-graph edge store: mergeable partials + compaction.

``operators.graph.link_graph_edges`` mines (src_domain, dst_domain,
n_links) from a document batch; at corpus scale the graph is built
INCREMENTALLY — every crawl drop adds its edges — and consumed by
``pagerank_until`` / domain-quality joins. Edge counts are mergeable
partials (SUM per pair — the BM25-df trick applied to graphs), so the
store is log-structured:

    <store>/gen_<tag>/bucket=K/<batchtag>-*.parquet  -- partial rows
    <store>/_CURRENT                                 -- generation ptr
    <store>/_batches/, _staging/                     -- markers protocol

- ``write_edge_store`` bootstraps generation 0 from a corpus;
- ``append_edge_store`` publishes one batch's per-pair partials into
  the CURRENT generation via ``markers.stage_and_publish`` —
  O(|batch|) work, the store is never read, crash-recoverable;
- ``read_edge_graph`` aggregates the current generation (SUM over
  partials per pair) — probe cost is one pruned scan + one keyed agg;
- ``compact_edge_store`` folds all partials into ONE file set in a
  FRESH generation and atomically switches the pointer (the
  ``markers`` versioned-pointer protocol): appends make file count
  grow linearly with batches, and at web scale an uncompacted log is
  a file-listing bomb — compaction caps it at O(buckets) while the
  pointer switch keeps readers consistent (they resolve a whole
  generation or its complete successor, never a mix). Single-writer
  discipline: run compaction between batches (the ingest loop's
  ``compact_every`` does exactly that); a crash mid-compaction leaves
  the pointer on the old generation, which still holds everything.

``streaming/graphs.py::link_graph_ingest_stream`` is the foreachBatch
twin; ``domain_pagerank_from_store`` feeds the aggregated graph to the
convergence PageRank — the stored form of ``graph.domain_pagerank``.

Edge partials are Hive-partitioned by a 32-way src-domain hash bucket
so per-domain outlink probes prune the file listing, same discipline
as the BM25 term buckets.
"""

from __future__ import annotations

import posixpath
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from node_js_etl_processor_spark.operators.graph import link_graph_edges
from node_js_etl_processor_spark.streaming.markers import (
    _delete,
    _exists,
    _listdir,
    cleanup_staging,
    current_version,
    recover_partial,
    set_current_version,
    stage_and_publish,
)

N_SRC_BUCKETS = 32

EDGE_COLS = ["src_domain", "dst_domain", "n_links"]


def _src_bucket(col: str = "src_domain") -> F.Column:
    from node_js_etl_processor_spark.functions.bucketing import hash_bucket

    return hash_bucket(col, N_SRC_BUCKETS)


def _batch_partials(documents: DataFrame) -> DataFrame:
    return link_graph_edges(documents).withColumn("bucket", _src_bucket())


def _gen_dir(path: str) -> str:
    cur = current_version(path)
    if cur is None:
        raise ValueError(
            f"no committed edge store at {path!r} (missing _CURRENT "
            "generation pointer) — bootstrap with write_edge_store"
        )
    return posixpath.join(path, cur)


def write_edge_store(
    documents: DataFrame, path: str, batch_tag: str | None = None
) -> None:
    """Bootstrap the store: generation 0 holds the corpus's edge
    partials. Idempotent per ``batch_tag`` (re-running the same tag
    republishes into the same uncommitted generation before the
    pointer names it)."""
    tag = batch_tag or uuid.uuid4().hex[:12]
    gen = f"gen_{tag}"
    gen_path = posixpath.join(path, gen)
    _batch_partials(documents).repartition("bucket").write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(gen_path)
    set_current_version(path, gen)
    _gc_generations(path, keep=gen)


def append_edge_store(
    documents: DataFrame, path: str, batch_tag: str | None = None
) -> None:
    """Publish one batch's edge partials into the current generation:
    staged rename, batch-tagged files, the store is never read.
    Ingest loops pass their (checkpoint, batch_id) tag and recover on
    re-delivery; ad-hoc callers get a random tag and repair crashes
    with ``markers.recover_all_partial`` on the GENERATION dir."""
    ad_hoc = batch_tag is None
    tag = batch_tag or uuid.uuid4().hex[:12]
    gen_path = _gen_dir(path)
    stage_and_publish(gen_path, tag, {"": (_batch_partials(documents), "bucket")})
    if ad_hoc:
        cleanup_staging(gen_path, tag)


def read_edge_graph(spark: SparkSession, path: str) -> DataFrame:
    """The aggregated graph: SUM the stored partials per (src, dst).
    One pruned-to-the-generation scan + one keyed agg with map-side
    partials — identical output to ``link_graph_edges`` over the
    full ingested corpus (test-pinned)."""
    return (
        spark.read.parquet(_gen_dir(path))
        .groupBy("src_domain", "dst_domain")
        .agg(F.sum("n_links").cast("bigint").alias("n_links"))
    )


def domain_outlinks(spark: SparkSession, path: str, domain: str) -> DataFrame:
    """One domain's aggregated outlinks — the probe shape the bucket
    partitioning exists for: the domain's bucket becomes a partition
    filter, so the scan lists 1 of 32 directories."""
    b = (
        spark.createDataFrame([(domain,)], "src_domain string")
        .select(_src_bucket().alias("b"))
        .first()["b"]
    )
    return (
        spark.read.parquet(_gen_dir(path))
        .filter((F.col("bucket") == b) & (F.col("src_domain") == domain))
        .groupBy("src_domain", "dst_domain")
        .agg(F.sum("n_links").cast("bigint").alias("n_links"))
    )


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


def compact_edge_store(spark: SparkSession, path: str) -> "tuple[int, int]":
    """Fold every stored partial into one aggregated file set in a
    FRESH generation, then atomically switch the pointer — the
    log-structured store's compaction step. Returns (files_before,
    files_after). Crash-safe by the versioned-pointer argument: the
    old generation is live until the switch, and stale generations
    are GC'd on the next commit. Must not run concurrently with an
    append (single-writer — the ingest loop's ``compact_every`` slot
    satisfies this).

    In-flight-publish guard (the vocab/span-store
    discipline): a batch whose ``stage_and_publish`` into this
    generation crashed BEFORE its applied marker has some of its
    ``<tag>-*`` files already renamed into the live tree. Folding
    them would put them beyond ``recover_partial``'s reach — the
    old generation (with the ``_PUBLISHING`` manifest the recovery
    needs) is GC'd after the pointer switch, and the re-delivered
    batch would then republish on top of its own folded rows,
    double-counting every edge. So before reading the generation,
    every staged tag with a live ``_PUBLISHING`` manifest but NO
    applied marker is purged via ``recover_partial`` (its rows
    return whole when the stream re-delivers the batch against the
    fresh generation). A staged tag WITH its marker is a completed
    batch whose ``cleanup_staging`` crashed — its rows are final and
    fold normally; the stale staging tree dies with the old
    generation's GC. A staging dir with NO manifest is a mid-stage
    crash: nothing of it reached the live tree, so the fold is
    already clean. A crashed AD-HOC append (random tag, no marker
    protocol) is purged like any unmarked tag — the documented
    ``recover_all_partial`` contract: its caller must re-run it."""
    old_gen = _gen_dir(path)
    staging = posixpath.join(old_gen, "_staging")
    for name, is_dir in _listdir(staging) if _exists(staging) else []:
        if not is_dir or not _exists(
            posixpath.join(staging, name, "_PUBLISHING")
        ):
            continue
        if not _exists(posixpath.join(path, "_batches", name)):
            recover_partial(old_gen, name)
    folded = (
        spark.read.parquet(old_gen)
        .groupBy("src_domain", "dst_domain")
        .agg(F.sum("n_links").cast("bigint").alias("n_links"))
        .withColumn("bucket", _src_bucket())
    )
    new = f"gen_{uuid.uuid4().hex[:12]}"
    new_path = posixpath.join(path, new)
    folded.repartition("bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(new_path)
    before = _count_files(old_gen)
    set_current_version(path, new)
    _gc_generations(path, keep=new)
    return before, _count_files(new_path)


def _count_files(gen_path: str) -> int:
    from node_js_etl_processor_spark.streaming.markers import _walk_files

    return len(_walk_files(gen_path))


def _gc_generations(path: str, keep: str) -> None:
    for name, is_dir in _listdir(path):
        if is_dir and name.startswith("gen_") and name != keep:
            _delete(posixpath.join(path, name))
