"""Streaming warehouse maintenance: the SCD2 CDC loop as a stream.

``sources/scd2_store.py`` merges one CDC batch into the stored type-2
dimension; this module runs that merge per micro-batch — the
warehouse-tier member of the foreachBatch ingest-loop family
(streaming/dedup.py's exact/near-dup/countmin loops). foreachBatch is
the right tool for the same reason as there: each batch needs a BATCH
join against an existing store plus a batch-scoped commit, and the
store IS the cross-batch state — unbounded-history-sized on disk,
not in executor memory, which no stateful-operator watermark could
bound (a dimension never forgets its history).

Stream == batch is test-pinned (tests/test_scd2_store.py): feeding the
fact table in date-ordered micro-batches leaves exactly the history
the one-shot ``q_scd2`` rebuild produces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .markers import start_ingest


def scd2_applier(
    store_path: str,
    checkpoint: str,
    n_buckets: int = 32,
):
    """The per-batch body of ``scd2_cdc_stream`` as a reusable applier
    (for the composed ingest-day loop): the first batch bootstraps
    the store (full build — the batch is the whole known history at
    that point), every later batch merges via ``scd2_apply_delta``
    (touched buckets only).

    The CDC contract is inherited: arrival order must respect the
    per-key (o_orderdate, o_orderkey) order, the standard assumption
    for a change-data feed.

    Exactly-once (the store's manifest commit does the heavy
    lifting): a marker-hit re-delivery is a no-op; a crashed attempt's
    data/manifest are invisible until the pointer switch, so its
    re-delivery recomputes against the still-live old manifest and
    rewrites the same batch-tagged dir; and a pointer already naming
    THIS batch's manifest (``scd2_committed_tag``) means the merge
    committed — just mark. An uncommitted bootstrap leaves the
    pointer absent, so the re-delivery correctly re-bootstraps. A dynamic partition overwrite
    would leave a crash window; the manifest layout closes it."""
    from ..sources.scd2_store import (
        scd2_apply_delta,
        scd2_committed_tag,
        write_scd2_store,
    )
    from .markers import batch_already_applied, mark_batch_applied, marker_id

    # markers live BESIDE the store (kept from the overwrite era —
    # the store root is now manifest-managed and never wiped, but a
    # separate meta root keeps marker listings out of the GC sweep)
    meta_path = store_path.rstrip("/") + "_meta"

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_already_applied(meta_path, checkpoint, batch_id):
            return
        if batch_df.isEmpty():
            return
        tag = marker_id(checkpoint, batch_id)
        if scd2_committed_tag(store_path) == tag:
            # crash landed between the pointer switch and the marker
            mark_batch_applied(meta_path, checkpoint, batch_id)
            return
        if scd2_committed_tag(store_path) is None:
            # a populated older flat-layout store has bucket= dirs
            # but no manifest pointer: re-bootstrapping from this
            # batch would silently truncate the dimension's history
            from .markers import _listdir

            if any(
                is_dir and name.startswith("bucket=")
                for name, is_dir in _listdir(store_path)
            ):
                raise ValueError(
                    f"SCD2 store at {store_path!r} uses an older "
                    "flat layout (bucket= dirs, no _CURRENT manifest); "
                    "rebuild it with write_scd2_store before resuming "
                    "the CDC stream — bootstrapping from this batch "
                    "would silently drop the stored history"
                )
            write_scd2_store(
                batch_df, store_path, n_buckets=n_buckets, batch_tag=tag
            )
        else:
            scd2_apply_delta(
                batch_df.sparkSession,
                batch_df,
                store_path,
                n_buckets=n_buckets,
                batch_tag=tag,
            )
        mark_batch_applied(meta_path, checkpoint, batch_id)

    return _apply


def scd2_cdc_stream(
    facts_stream: DataFrame,
    store_path: str,
    checkpoint: str,
    n_buckets: int = 32,
):
    """Apply an orders-shaped CDC stream to the stored dimension: see
    ``scd2_applier`` for the per-batch semantics and the exactly-once
    protocol. availableNow trigger — the same drain-the-source twin
    as every ingest loop here. Returns the started query."""
    return start_ingest(
        facts_stream,
        scd2_applier(store_path, checkpoint, n_buckets),
        checkpoint,
    )
