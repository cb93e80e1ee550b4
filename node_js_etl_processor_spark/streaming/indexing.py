"""Streaming index maintenance: the BM25 ingest loop.

``sources/bm25_index.py`` made the lexical index incrementally
maintainable (df/stats as mergeable partials); this module closes the
family the same way the dedup stores and the SCD2 dimension were
closed — the per-micro-batch foreachBatch loop. An append is three
O(|batch|) writes that never read the store, and no cross-batch
executor state exists: the index on disk IS the state.

Replay safety is ``streaming.markers.staged_applier``: a re-delivered
(checkpoint, batch_id) whose marker exists is a no-op; any other
delivery — the first batch included, which publishes into the empty
store like every later one — first purges the files a crashed earlier
attempt already renamed into the live tree (``recover_partial``),
then re-publishes, so every delivery completes or no-ops, never
double-counts.

Stream == batch is test-pinned (tests/test_bm25_index.py): a corpus
landed as three drops scores identically to the one-shot index, and
a replayed batch leaves the index untouched; the crash-mid-append and
crash-mid-bootstrap recoveries are pinned in tests/test_markers.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .markers import staged_applier, start_ingest


def bm25_applier(index_path: str, checkpoint: str):
    """The per-batch body of ``bm25_index_stream`` as a reusable
    applier (for the composed ingest-day loop): every batch appends
    its postings + df/stats partials (``bm25_index._batch_parts``,
    the layout ``append_bm25_index`` publishes) and passes through
    whole. Upstream must feed docs whose doc_ids are new to the index
    (the dedup ingest loops' output contract)."""
    from ..sources.bm25_index import _batch_parts

    return staged_applier(
        index_path, checkpoint, lambda batch: (batch, _batch_parts(batch))
    )


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
