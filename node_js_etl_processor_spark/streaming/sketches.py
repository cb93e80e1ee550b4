"""Sketch-store maintenance streams: the versioned-pointer merge loop
generalized over the deterministic-sketch family's merge laws.

``countmin_ingest_stream`` (streaming/dedup.py, r8/r10) proved the
shape: per micro-batch, build the batch's parameter-sized sketch, fold
it into the stored one under the batch's merge law, publish the merged
state as a NEW ``v_<tag>`` directory and atomically repoint
``_CURRENT`` — exactly-once because a crash either leaves the old
pointer live (re-delivery re-merges from it) or leaves the pointer
already naming this batch's version (detected, just marked). This
module extracts that protocol as ``sketch_merge_ingest_stream`` and
instantiates it for the two r10-continuation sketches:

* **HLL registers** (operators/sketch.py::hll_registers) merge by
  cell-wise **MAX** — HLL's union law: the register file of a stream
  union is the element-wise max of the register files, exactly.
* **HDR histogram** (operators/sketch.py::hdr_sketch) merges by
  cell-wise **SUM** — histogram counts of a union add, exactly.

With countmin's cell-SUM grid, all three deterministic sketches now
have incremental exactly-once maintenance: counts, cardinalities and
order statistics over an unbounded stream, each readable at any time
through the committed pointer, each equal cell-for-cell to the
one-shot batch sketch (test-pinned, crash-injected at every point).

Scale: every store is parameter-sized (countmin d×w cells, HLL ≤
m·groups registers, HDR ≤ ~1.3k·groups buckets), so the per-batch
full-rewrite merge costs O(sketch), never O(stream) — the same
argument countmin's loop makes, now shared.
"""

from __future__ import annotations

import posixpath
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession

from ..functions import barrier


def sketch_merge_applier(
    store_path: str,
    checkpoint: str,
    build_batch: Callable[[DataFrame], DataFrame],
    merge_keys: Sequence[str],
    merge_agg: Callable[[], Column],
):
    """The per-batch body of ``sketch_merge_ingest_stream`` as a
    reusable applier (for the composed ingest-day loop).
    ``build_batch`` maps
    a micro-batch to its sketch rows; the stored and batch sketches
    union and re-aggregate by ``merge_keys`` with ``merge_agg()`` (a
    fresh aggregate Column per call — MAX for HLL, SUM for counts).
    Exactly-once via the markers protocol exactly as
    ``countmin_ingest_stream`` documents: replay guard → pointer
    self-check → merge → new version dir → atomic pointer switch →
    marker → GC."""
    from .markers import (
        batch_already_applied,
        current_version,
        gc_versions,
        mark_batch_applied,
        marker_id,
        set_current_version,
    )

    meta_path = store_path.rstrip("/") + "_meta"

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_already_applied(meta_path, checkpoint, batch_id):
            return
        vname = f"v_{marker_id(checkpoint, batch_id)}"
        cur = current_version(store_path)
        if cur == vname:
            # crash between pointer switch and marker: the live store
            # IS this batch's merge — just commit it
            mark_batch_applied(meta_path, checkpoint, batch_id)
            gc_versions(store_path, keep=vname)
            return
        sketch = build_batch(batch_df)
        if cur is not None:
            stored = spark.read.parquet(posixpath.join(store_path, cur))
            sketch = (
                sketch.unionByName(stored)
                .groupBy(*merge_keys)
                .agg(merge_agg())
            )
        merged = barrier.cut(sketch, "streaming.sketches.merged")
        merged.coalesce(1).write.mode("overwrite").parquet(
            posixpath.join(store_path, vname)
        )
        set_current_version(store_path, vname)
        mark_batch_applied(meta_path, checkpoint, batch_id)
        gc_versions(store_path, keep=vname)

    return _ingest


def sketch_merge_ingest_stream(
    items_stream: DataFrame,
    store_path: str,
    checkpoint: str,
    build_batch: Callable[[DataFrame], DataFrame],
    merge_keys: Sequence[str],
    merge_agg: Callable[[], Column],
):
    """The generic versioned-pointer merge loop as a stream: see
    ``sketch_merge_applier`` for the per-batch protocol (replay guard
    → pointer self-check → merge → new version dir → atomic pointer
    switch → marker → GC). Returns the started query (availableNow)."""
    return (
        items_stream.writeStream.foreachBatch(
            sketch_merge_applier(
                store_path, checkpoint, build_batch, merge_keys, merge_agg
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_sketch_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Resolve a sketch store to its CURRENT committed state (the
    shared reader: countmin_read_store's pointer resolution, reused
    by the HLL and HDR stores)."""
    from .markers import current_version

    cur = current_version(store_path)
    if cur is None:
        raise ValueError(
            f"no committed sketch at {store_path!r} (missing _CURRENT "
            "pointer) — run the ingest stream first"
        )
    return spark.read.parquet(posixpath.join(store_path, cur))


def hll_ingest_stream(
    items_stream: DataFrame,
    group_col: str,
    key_col: str,
    store_path: str,
    checkpoint: str,
):
    """Incremental cardinality: maintain the per-group HLL register
    file across micro-batches by cell-wise MAX. The streamed store
    equals the one-shot ``hll_registers`` of the whole history
    (test-pinned), so ``hll_estimate(read_sketch_store(...))`` is
    always the full-history estimate at O(m·groups) state."""
    from pyspark.sql import functions as F

    from ..operators.sketch import hll_registers

    return sketch_merge_ingest_stream(
        items_stream,
        store_path,
        checkpoint,
        build_batch=lambda b: hll_registers(b, group_col, key_col),
        merge_keys=(group_col, "bucket"),
        merge_agg=lambda: F.max("reg").alias("reg"),
    )


def hdr_ingest_stream(
    items_stream: DataFrame,
    group_col: str,
    value_col: str,
    store_path: str,
    checkpoint: str,
):
    """Incremental quantiles: maintain the per-group log-linear
    histogram across micro-batches by cell-wise SUM. The streamed
    store equals the one-shot ``hdr_sketch`` of the whole history
    (test-pinned), so ``hdr_quantiles(read_sketch_store(...))`` is
    always the full-history p50/p95/p99 at O(buckets·groups) state."""
    from pyspark.sql import functions as F

    from ..operators.sketch import hdr_sketch

    return sketch_merge_ingest_stream(
        items_stream,
        store_path,
        checkpoint,
        build_batch=lambda b: hdr_sketch(b, group_col, value_col),
        merge_keys=(group_col, "idx"),
        merge_agg=lambda: F.sum("cnt").cast("bigint").alias("cnt"),
    )
