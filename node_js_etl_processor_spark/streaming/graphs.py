"""Streaming graph maintenance: the link-graph ingest loop.

``sources/graph_store.py`` made the edge graph incrementally
maintainable (per-pair counts as mergeable partials in a
log-structured, generation-compacted store); this loop lands each
crawl drop's edges per micro-batch — the graph-tier member of the
foreachBatch ingest family, with the full ``streaming.markers``
exactly-once protocol:

- marker hit → no-op;
- pointer already at this batch's bootstrap generation → the
  bootstrap committed, just mark;
- otherwise recover this tag's partial publish from the current
  generation, (re)publish, mark;
- every ``compact_every`` batches, fold the partial log into a fresh
  generation AFTER marking — the single-writer slot where no
  unmarked partials can exist, which is what makes compacting a
  log with in-flight crash recovery sound.

Stream == batch is test-pinned (tests/test_graph_store.py): drops
through the loop aggregate to exactly ``link_graph_edges`` over the
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


def link_graph_applier(
    store_path: str,
    checkpoint: str,
    compact_every: int = 0,
):
    """The per-batch body of ``link_graph_ingest_stream`` as a
    reusable applier (for the composed ingest-day loop): first batch
    bootstraps generation 0, later batches append their partials;
    ``compact_every=N`` folds the log every N batches (0 = never)."""
    from ..sources.graph_store import (
        append_edge_store,
        compact_edge_store,
        write_edge_store,
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
                compact_edge_store(batch_df.sparkSession, store_path)
            return
        if batch_df.isEmpty():
            # empty batches still commit (markers protocol) and still
            # reach the compaction slot — an empty delivery must not
            # silently defer a scheduled fold
            mark_batch_applied(store_path, checkpoint, batch_id)
        elif cur == f"gen_{tag}":
            # crash landed between the bootstrap's pointer switch and
            # the marker: the generation is live — just commit
            mark_batch_applied(store_path, checkpoint, batch_id)
        elif cur is None:
            write_edge_store(batch_df, store_path, batch_tag=tag)
            mark_batch_applied(store_path, checkpoint, batch_id)
        else:
            gen_path = posixpath.join(store_path, cur)
            recover_partial(gen_path, tag)
            append_edge_store(batch_df, store_path, batch_tag=tag)
            # marker BEFORE staging cleanup: the staged manifest is
            # what a crash recovery needs to purge a partial publish
            mark_batch_applied(store_path, checkpoint, batch_id)
            cleanup_staging(gen_path, tag)
        # (batch_id + 1): "every N batches" counts deliveries, so the
        # knob also fires under the one-batch-per-checkpoint pattern
        # (batch_id always 0) instead of never
        if (
            compact_every
            and (batch_id + 1) % compact_every == 0
            and current_version(store_path) is not None
        ):
            compact_edge_store(batch_df.sparkSession, store_path)

    return _ingest


def link_graph_ingest_stream(
    docs_stream: DataFrame,
    store_path: str,
    checkpoint: str,
    compact_every: int = 0,
):
    """Maintain the edge store from a document stream: see
    ``link_graph_applier`` for the per-batch semantics. availableNow
    trigger; returns the started query."""
    return (
        docs_stream.writeStream.foreachBatch(
            link_graph_applier(store_path, checkpoint, compact_every)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
