"""Streaming vocabulary maintenance: the diversity-tier ingest loop.

``sources/vocab_store.py`` made per-(source, token) counts
incrementally maintainable (SUM-mergeable partials in a
log-structured, generation-compacted store — the graph_store law on
the vocabulary axis); this loop lands each crawl drop's token counts
per micro-batch, so the lexical-diversity statistics
(``diversity_from_store`` == batch ``q_simpson_diversity``) stay
current without ever re-tokenizing the corpus. Same
``streaming.markers`` exactly-once protocol as the graph tier:

- marker hit → no-op;
- pointer already at this batch's bootstrap generation → the
  bootstrap committed, just mark;
- otherwise recover this tag's partial publish from the current
  generation, (re)publish, mark;
- every ``compact_every`` batches, fold the partial log into a fresh
  generation AFTER marking (the single-writer slot — the
  graphs.py soundness argument verbatim).

Stream == batch is test-pinned (tests/test_vocab_store.py): drops
through the loop aggregate to exactly ``vocab_counts`` over the
union corpus, through compactions and injected crashes.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame

from .markers import (
    batch_already_applied,
    cleanup_staging,
    current_version,
    mark_batch_applied,
    marker_id,
    recover_partial,
)


def vocab_applier(
    store_path: str,
    checkpoint: str,
    compact_every: int = 0,
):
    """The per-batch body of ``vocab_ingest_stream`` as a reusable
    applier (for the composed ingest-day loop): first batch
    bootstraps generation 0, later batches append their partials;
    ``compact_every=N`` folds the log every N batches (0 = never)."""
    from ..sources.vocab_store import (
        append_vocab_store,
        compact_vocab_store,
        write_vocab_store,
    )

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        tag = marker_id(checkpoint, batch_id)
        cur = current_version(store_path)
        if batch_already_applied(store_path, checkpoint, batch_id):
            if cur:
                cleanup_staging(posixpath.join(store_path, cur), tag)
            # compaction slot before the replay return:
            # a boundary landing on a re-delivered batch must not
            # defer the fold a full cycle
            if compact_every and (batch_id + 1) % compact_every == 0 and cur:
                compact_vocab_store(batch_df.sparkSession, store_path)
            return
        if batch_df.isEmpty():
            # empty batches still commit (markers protocol) and still
            # reach the compaction slot — graphs.py's argument
            mark_batch_applied(store_path, checkpoint, batch_id)
        elif cur == f"gen_{tag}":
            # crash between the bootstrap's pointer switch and the
            # marker: the generation is live — just commit
            mark_batch_applied(store_path, checkpoint, batch_id)
        elif cur is None:
            write_vocab_store(batch_df, store_path, batch_tag=tag)
            mark_batch_applied(store_path, checkpoint, batch_id)
        else:
            gen_path = posixpath.join(store_path, cur)
            recover_partial(gen_path, tag)
            append_vocab_store(batch_df, store_path, batch_tag=tag)
            # marker BEFORE staging cleanup (graphs.py: the staged
            # manifest is what crash recovery needs)
            mark_batch_applied(store_path, checkpoint, batch_id)
            cleanup_staging(gen_path, tag)
        if (
            compact_every
            and (batch_id + 1) % compact_every == 0
            and current_version(store_path) is not None
        ):
            compact_vocab_store(batch_df.sparkSession, store_path)

    return _ingest


def vocab_ingest_stream(
    docs_stream: DataFrame,
    store_path: str,
    checkpoint: str,
    compact_every: int = 0,
):
    """Maintain the vocabulary store from a document stream: see
    ``vocab_applier`` for the per-batch semantics. availableNow
    trigger; returns the started query."""
    return (
        docs_stream.writeStream.foreachBatch(
            vocab_applier(store_path, checkpoint, compact_every)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
