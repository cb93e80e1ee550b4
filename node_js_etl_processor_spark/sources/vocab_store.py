"""Incremental vocabulary-count store: mergeable partials + compaction.

``operators.diversity.vocab_counts`` mines (source, token, count)
from a document batch; at corpus scale the vocabulary is built
INCREMENTALLY — every crawl drop adds its token counts — and consumed
by the lexical-diversity statistics (``q_simpson_diversity``) and
per-token frequency probes. Token counts are SUM-mergeable partials
(the BM25-df / edge-store law), so the store is log-structured with
exactly the graph_store layout:

    <store>/gen_<tag>/bucket=K/<batchtag>-*.parquet  -- partial rows
    <store>/_CURRENT                                 -- generation ptr
    <store>/_batches/, _staging/                     -- markers protocol

- ``write_vocab_store`` bootstraps generation 0 from a corpus;
- ``append_vocab_store`` publishes one batch's per-(source, token)
  partials into the CURRENT generation via
  ``markers.stage_and_publish`` — O(|batch vocabulary|) work, the
  store is never read, crash-recoverable;
- ``read_vocab_counts`` aggregates the current generation (SUM over
  partials per (source, token)) — one pruned scan + one keyed agg;
- ``diversity_from_store`` feeds the aggregated counts to the SAME
  per-source reduce the batch operator uses
  (``diversity.diversity_from_counts``), so stored diversity
  statistics equal ``q_simpson_diversity`` over the ingested corpus
  (test-pinned);
- ``token_counts_probe`` answers one token's per-source counts with
  a partition-pruned scan (1 of 64 bucket directories — the BM25
  term-probe shape);
- ``compact_vocab_store`` folds the partial log into ONE file set in
  a FRESH generation behind the versioned-pointer switch — the same
  file-listing-bomb cap graph_store documents. Single-writer: run it
  between batches (the ingest loop's ``compact_every`` slot).

Partials are Hive-partitioned by a 64-way token hash bucket (the
BM25 fan-out — vocabularies are bigger than domain sets) so
per-token probes prune the listing; the per-SOURCE diversity read
scans all buckets but aggregates map-side, which is the honest cost
of a corpus-level statistic.
"""

from __future__ import annotations

import posixpath
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from node_js_etl_processor_spark.operators.diversity import (
    diversity_from_counts,
    vocab_counts,
)
from node_js_etl_processor_spark.streaming.markers import (
    _delete,
    _listdir,
    cleanup_staging,
    current_version,
    set_current_version,
    stage_and_publish,
)

N_TOKEN_BUCKETS = 64

VOCAB_COLS = ["source", "w", "c"]


def _token_bucket(col: str = "w") -> F.Column:
    from node_js_etl_processor_spark.functions.bucketing import hash_bucket

    return hash_bucket(col, N_TOKEN_BUCKETS)


def _batch_partials(documents: DataFrame) -> DataFrame:
    return vocab_counts(documents).withColumn("bucket", _token_bucket())


def _gen_dir(path: str) -> str:
    cur = current_version(path)
    if cur is None:
        raise ValueError(
            f"no committed vocab store at {path!r} (missing _CURRENT "
            "generation pointer) — bootstrap with write_vocab_store"
        )
    return posixpath.join(path, cur)


def write_vocab_store(
    documents: DataFrame, path: str, batch_tag: str | None = None
) -> None:
    """Bootstrap the store: generation 0 holds the corpus's
    vocabulary partials. Idempotent per ``batch_tag``."""
    tag = batch_tag or uuid.uuid4().hex[:12]
    gen = f"gen_{tag}"
    gen_path = posixpath.join(path, gen)
    _batch_partials(documents).repartition("bucket").write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(gen_path)
    set_current_version(path, gen)
    _gc_generations(path, keep=gen)


def append_vocab_store(
    documents: DataFrame, path: str, batch_tag: str | None = None
) -> None:
    """Publish one batch's vocabulary partials into the current
    generation: staged rename, batch-tagged files, the store is never
    read (graph_store's append contract verbatim)."""
    ad_hoc = batch_tag is None
    tag = batch_tag or uuid.uuid4().hex[:12]
    gen_path = _gen_dir(path)
    stage_and_publish(gen_path, tag, {"": (_batch_partials(documents), "bucket")})
    if ad_hoc:
        cleanup_staging(gen_path, tag)


def read_vocab_counts(spark: SparkSession, path: str) -> DataFrame:
    """The aggregated vocabulary: SUM the stored partials per
    (source, token) — identical output to ``vocab_counts`` over the
    full ingested corpus (test-pinned)."""
    return (
        spark.read.parquet(_gen_dir(path))
        .groupBy("source", "w")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )


def diversity_from_store(spark: SparkSession, path: str) -> DataFrame:
    """The stored form of ``q_simpson_diversity``: the aggregated
    counts through the SAME per-source reduce the batch operator
    uses — statistics identical over the same ingested corpus
    (test-pinned)."""
    return diversity_from_counts(read_vocab_counts(spark, path))


def token_counts_probe(spark: SparkSession, path: str, token: str) -> DataFrame:
    """One token's aggregated per-source counts — the probe shape the
    bucket partitioning exists for: the token's bucket becomes a
    partition filter, so the scan lists 1 of 64 directories."""
    b = (
        spark.createDataFrame([(token,)], "w string")
        .select(_token_bucket().alias("b"))
        .first()["b"]
    )
    return (
        spark.read.parquet(_gen_dir(path))
        .filter((F.col("bucket") == b) & (F.col("w") == token))
        .groupBy("source", "w")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )


def compact_vocab_store(spark: SparkSession, path: str) -> "tuple[int, int]":
    """Fold every stored partial into one aggregated file set in a
    FRESH generation, then atomically switch the pointer. Returns
    (files_before, files_after); crash-safety and the single-writer
    rule are graph_store.compact_edge_store's argument verbatim.

    Crashed-append hygiene first (as in the span store): a batch that
    crashed mid-publish left ``tag-*`` files and a live
    ``_staging/<tag>/_PUBLISHING`` manifest under the generation. Folding
    those rows into the new generation would put them beyond
    ``recover_partial``'s reach — the re-delivered batch would then publish
    them AGAIN and the sums double-count. So: a staged tag WITHOUT its
    applied marker is a crashed partial — purge it exactly the way the
    re-delivery would; a staged tag WITH its marker is a completed batch
    whose ``cleanup_staging`` crashed — fold its rows, drop only the stale
    staging tree."""
    from node_js_etl_processor_spark.streaming.markers import (
        _exists,
        recover_partial,
    )

    old_gen = _gen_dir(path)
    staging = posixpath.join(old_gen, "_staging")
    for tag, is_dir in _listdir(staging) if _exists(staging) else []:
        # Require the _PUBLISHING manifest, mirroring
        # the span/edge stores — a staging dir WITHOUT it is a
        # mid-stage crash whose files never reached the live tree, so
        # there is nothing to purge and the fold is already clean
        # (the tree dies with the old generation's GC either way)
        if not is_dir or not _exists(
            posixpath.join(staging, tag, "_PUBLISHING")
        ):
            continue
        if _exists(posixpath.join(path, "_batches", tag)):
            cleanup_staging(old_gen, tag)
        else:
            recover_partial(old_gen, tag)
    folded = (
        spark.read.parquet(old_gen)
        .groupBy("source", "w")
        .agg(F.sum("c").cast("bigint").alias("c"))
        .withColumn("bucket", _token_bucket())
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
