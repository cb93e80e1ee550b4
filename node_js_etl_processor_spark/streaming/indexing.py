"""Streaming index maintenance: the BM25 ingest loop.

``sources/bm25_index.py`` made the lexical index incrementally
maintainable (df/stats as mergeable partials); this module closes the
family the same way the dedup stores and the SCD2 dimension were
closed — the per-micro-batch foreachBatch loop. An append is three
O(|batch|) writes that never read the store, and no cross-batch
executor state exists: the index on disk IS the state.

Replay safety (the full ``streaming.markers`` protocol): a
re-delivered (checkpoint, batch_id) whose marker exists is a no-op; a
re-delivered BOOTSTRAP batch (store built, marker missing) re-runs
the overwrite build instead of appending a copy of itself (bootstrap
sentinel); a re-delivered append first purges any files a crashed
earlier attempt already renamed into the live tree
(``recover_partial``), then re-publishes — so every delivery
completes or no-ops, never double-counts.

Stream == batch is test-pinned (tests/test_bm25_index.py): a corpus
landed as three drops scores identically to the one-shot index, and
a replayed batch leaves the index untouched; the crash-mid-append and
crash-mid-bootstrap recoveries are pinned in tests/test_markers.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .markers import (
    batch_already_applied,
    bootstrap_pending,
    cleanup_staging,
    mark_batch_applied,
    marker_id,
    record_bootstrap,
    recover_partial,
    start_ingest,
    store_has_data,
)


def bm25_applier(index_path: str, checkpoint: str):
    """The per-batch body of ``bm25_index_stream`` as a reusable
    applier (for the composed ingest-day loop): first batch
    bootstraps the layout, every later batch appends its postings +
    df/stats partials; re-delivered batches recover per the markers
    protocol. Upstream must feed docs whose doc_ids are new to the
    index (the dedup ingest loops' output contract)."""
    from ..sources.bm25_index import append_bm25_index, write_bm25_index

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        tag = marker_id(checkpoint, batch_id)
        if batch_already_applied(index_path, checkpoint, batch_id):
            cleanup_staging(index_path, tag)  # crash-after-mark GC
            return
        if batch_df.isEmpty():
            return
        if not store_has_data(index_path, "postings") or bootstrap_pending(
            index_path, checkpoint, batch_id
        ):
            record_bootstrap(index_path, checkpoint, batch_id)
            write_bm25_index(batch_df, index_path)
        else:
            recover_partial(index_path, tag)
            append_bm25_index(batch_df, index_path, batch_tag=tag)
        mark_batch_applied(index_path, checkpoint, batch_id)
        cleanup_staging(index_path, tag)

    return _ingest


def bm25_index_stream(
    docs_stream: DataFrame,
    index_path: str,
    checkpoint: str,
):
    """Maintain a BM25 postings index from a document stream: see
    ``bm25_applier`` for the per-batch semantics and the exactly-once
    protocol. availableNow trigger — the same drain-the-source twin
    as every ingest loop here. Returns the started query."""
    return start_ingest(
        docs_stream,
        bm25_applier(index_path, checkpoint),
        checkpoint,
    )
