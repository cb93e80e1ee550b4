"""Generation-log store of SUM-mergeable partials, with compaction.

A per-key count over a corpus is the SUM of its counts over any split
of the corpus (mergeable partials — the BM25-df law). The link-graph
edge tier (``sources/graph_store.py``) and the vocabulary tier
(``sources/vocab_store.py``) are such counts, built INCREMENTALLY as
crawl drops arrive, and both live in this one log-structured store,
parameterized by a ``PartialsSpec``:

    <store>/gen_<tag>/bucket=K/<batchtag>-*.parquet  -- partial rows
    <store>/_CURRENT                                 -- generation ptr
    <store>/_batches/, gen_<tag>/_staging/           -- markers protocol

- ``write_partials`` bootstraps a generation from a corpus;
- ``append_partials`` publishes one batch's partials into the CURRENT
  generation via ``markers.stage_and_publish`` — O(|batch|) work, the
  store is never read, crash-recoverable;
- ``read_partials`` / ``probe_partials`` SUM the partials per key
  (one pruned scan + one keyed agg; the probe lists 1 bucket dir);
- ``compact_partials`` folds the log into ONE file set in a FRESH
  generation and atomically switches the pointer: appends grow the
  file count linearly with batches, and at web scale an uncompacted
  log is a file-listing bomb. Readers resolve a whole generation or
  its complete successor, never a mix;
- ``partials_applier`` is the foreachBatch body with the full
  ``streaming.markers`` exactly-once protocol and the
  ``compact_every`` slot.

Stream == batch is test-pinned per tier (tests/test_graph_store.py,
tests/test_vocab_store.py): drops through the applier aggregate to
exactly the batch builder over the union corpus, through compactions
and injected crashes.
"""

from __future__ import annotations

import posixpath
import uuid
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.bucketing import hash_bucket
from ..streaming.markers import (
    _delete,
    _exists,
    _listdir,
    _walk_files,
    batch_already_applied,
    cleanup_staging,
    current_version,
    mark_batch_applied,
    marker_id,
    recover_partial,
    set_current_version,
    stage_and_publish,
)


@dataclass(frozen=True)
class PartialsSpec:
    """One tier of the store: ``build`` maps documents to partial rows
    keyed by ``keys`` with the SUM column ``value``; rows are
    Hive-partitioned by ``hash_bucket(bucket_key, n_buckets)`` so a
    per-``bucket_key`` probe prunes the listing to one directory."""

    name: str
    build: Callable[[DataFrame], DataFrame]
    keys: tuple[str, ...]
    value: str
    bucket_key: str
    n_buckets: int

    def bucket(self) -> Column:
        return hash_bucket(self.bucket_key, self.n_buckets)


def _gen_dir(spec: PartialsSpec, path: str) -> str:
    cur = current_version(path)
    if cur is None:
        raise ValueError(
            f"no committed {spec.name} store at {path!r} (missing "
            "_CURRENT generation pointer) — bootstrap with write_partials"
        )
    return posixpath.join(path, cur)


def _batch_partials(spec: PartialsSpec, documents: DataFrame) -> DataFrame:
    return spec.build(documents).withColumn("bucket", spec.bucket())


def _write_generation(rows: DataFrame, path: str, gen: str) -> None:
    """Write ``rows`` as generation ``gen``, switch the pointer to it
    and GC every other generation."""
    rows.repartition("bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(posixpath.join(path, gen))
    set_current_version(path, gen)
    _gc_generations(path, keep=gen)


def write_partials(
    spec: PartialsSpec,
    documents: DataFrame,
    path: str,
    batch_tag: str | None = None,
) -> None:
    """Bootstrap the store: a new generation holds the corpus's
    partials. Idempotent per ``batch_tag`` (re-running the same tag
    rewrites the same generation before the pointer names it)."""
    tag = batch_tag or uuid.uuid4().hex[:12]
    _write_generation(_batch_partials(spec, documents), path, f"gen_{tag}")


def append_partials(
    spec: PartialsSpec,
    documents: DataFrame,
    path: str,
    batch_tag: str | None = None,
) -> None:
    """Publish one batch's partials into the current generation:
    staged rename, batch-tagged files, the store is never read.
    Ingest loops pass their (checkpoint, batch_id) tag and recover on
    re-delivery; ad-hoc callers get a random tag and repair crashes
    with ``markers.recover_all_partial`` on the GENERATION dir."""
    ad_hoc = batch_tag is None
    tag = batch_tag or uuid.uuid4().hex[:12]
    gen_path = _gen_dir(spec, path)
    stage_and_publish(
        gen_path, tag, {"": (_batch_partials(spec, documents), "bucket")}
    )
    if ad_hoc:
        cleanup_staging(gen_path, tag)


def _aggregate(spec: PartialsSpec, rows: DataFrame) -> DataFrame:
    total = F.sum(spec.value).cast("bigint").alias(spec.value)
    return rows.groupBy(*spec.keys).agg(total)


def read_partials(spark: SparkSession, spec: PartialsSpec, path: str) -> DataFrame:
    """The aggregated statistic: SUM the stored partials per key —
    identical output to ``spec.build`` over the full ingested corpus
    (test-pinned per tier)."""
    return _aggregate(spec, spark.read.parquet(_gen_dir(spec, path)))


def probe_partials(
    spark: SparkSession, spec: PartialsSpec, path: str, key: str
) -> DataFrame:
    """The aggregated rows whose ``bucket_key`` equals ``key``: the
    key's bucket becomes a partition filter, so the scan lists 1 of
    ``n_buckets`` directories."""
    b = (
        spark.createDataFrame([(key,)], f"{spec.bucket_key} string")
        .select(spec.bucket().alias("b"))
        .first()["b"]
    )
    rows = spark.read.parquet(_gen_dir(spec, path)).filter(
        (F.col("bucket") == b) & (F.col(spec.bucket_key) == key)
    )
    return _aggregate(spec, rows)


def compact_partials(
    spark: SparkSession, spec: PartialsSpec, path: str
) -> "tuple[int, int]":
    """Fold every stored partial into one aggregated file set in a
    FRESH generation, then atomically switch the pointer. Returns
    (files_before, files_after); a generation with no batch-tagged
    file is returned as is. Crash-safe by the versioned-pointer
    argument: the old generation is live until the switch, and stale
    generations are GC'd on the commit. Single-writer: must not run
    concurrently with an append (the applier's ``compact_every`` slot
    satisfies this).

    Crashed-publish hygiene, one rule: a staged tag with a live
    ``_PUBLISHING`` manifest and NO applied marker is a batch whose
    ``stage_and_publish`` crashed after renaming some ``<tag>-*``
    files into the live tree. Folding them would put them beyond
    ``recover_partial``'s reach (the manifest dies with the old
    generation), and the re-delivered batch would then publish them
    again and double-count. So such a tag is purged first, exactly as
    its re-delivery would; its rows return whole when the stream
    re-delivers the batch against the fresh generation. Every other
    staged tag folds: one WITH its marker is a completed batch whose
    ``cleanup_staging`` crashed, and one without a manifest never
    reached the live tree. Their staging trees go with the old
    generation's GC. A crashed AD-HOC append (random tag, no marker)
    is purged like any unmarked tag — the ``recover_all_partial``
    contract: its caller must re-run it."""
    old_gen = _gen_dir(spec, path)
    staging = posixpath.join(old_gen, "_staging")
    for tag, is_dir in _listdir(staging) if _exists(staging) else []:
        if (
            is_dir
            and _exists(posixpath.join(staging, tag, "_PUBLISHING"))
            and not _exists(posixpath.join(path, "_batches", tag))
        ):
            recover_partial(old_gen, tag)
    files = _walk_files(old_gen)
    if all(name.startswith("part-") for _, name in files):
        # no batch-tagged (<tag>-*) file: the generation is one file
        # set already — a bootstrap, or the fold a replayed batch's
        # first delivery made — so there is nothing to fold
        return len(files), len(files)
    folded = _aggregate(spec, spark.read.parquet(old_gen)).withColumn(
        "bucket", spec.bucket()
    )
    new = f"gen_{uuid.uuid4().hex[:12]}"
    _write_generation(folded, path, new)
    return len(files), len(_walk_files(posixpath.join(path, new)))


def _gc_generations(path: str, keep: str) -> None:
    for name, is_dir in _listdir(path):
        if is_dir and name.startswith("gen_") and name != keep:
            _delete(posixpath.join(path, name))


def partials_applier(
    spec: PartialsSpec,
    store_path: str,
    checkpoint: str,
    compact_every: int = 0,
):
    """The per-batch foreachBatch body: the first batch bootstraps a
    generation, later batches append their partials, every batch is
    exactly-once under the ``streaming.markers`` protocol:

    - marker hit → drop any stale staging of this tag, no-op;
    - empty batch, or pointer already at this batch's bootstrap
      generation (crash between the switch and the marker) → mark;
    - otherwise recover this tag's partial publish from the current
      generation, (re)publish, mark, then drop the staging (the
      marker goes FIRST: the staged manifest is what a crash
      recovery needs to purge a partial publish).

    ``compact_every=N`` folds the log every N deliveries (0 = never),
    AFTER marking — the single-writer slot where no unmarked partials
    of this loop exist. The slot counts ``batch_id + 1`` so it also
    fires under the one-batch-per-checkpoint pattern (batch_id always
    0), and replays and empty batches reach it too, so a boundary
    landing on either does not defer the fold a full cycle; a replay
    whose first delivery already folded finds no batch-tagged file
    and leaves the generation as it is."""

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        tag = marker_id(checkpoint, batch_id)
        cur = current_version(store_path)
        if batch_already_applied(store_path, checkpoint, batch_id):
            if cur:
                cleanup_staging(posixpath.join(store_path, cur), tag)
        elif batch_df.isEmpty() or cur == f"gen_{tag}":
            mark_batch_applied(store_path, checkpoint, batch_id)
        elif cur is None:
            write_partials(spec, batch_df, store_path, batch_tag=tag)
            mark_batch_applied(store_path, checkpoint, batch_id)
        else:
            gen_path = posixpath.join(store_path, cur)
            recover_partial(gen_path, tag)
            append_partials(spec, batch_df, store_path, batch_tag=tag)
            mark_batch_applied(store_path, checkpoint, batch_id)
            cleanup_staging(gen_path, tag)
        if (
            compact_every
            and (batch_id + 1) % compact_every == 0
            and current_version(store_path) is not None
        ):
            compact_partials(batch_df.sparkSession, spec, store_path)

    return _ingest
