"""Incremental KMV / theta-sketch store: maintain per-group
bottom-k hash sets across micro-batches with the SAME generic
versioned-pointer merge loop as the HLL/HDR/countmin stores
(``streaming/sketches.py`` — replay guard → pointer self-check →
merge → new version dir → atomic pointer switch → marker → GC).

KMV's merge law is union-then-bottom-k, which is not a per-CELL
aggregate like HLL's register MAX — but it IS a per-GROUP aggregate
once the sketch is packed as one row per group: store rows are
``(g, hs)`` with ``hs`` the sorted array of the group's ≤ k smallest
distinct hashes, and the merge is

    slice(array_sort(array_distinct(flatten(collect_list(hs)))), 1, k)

over the ≤ 2 rows per group the union produces (stored + batch) —
bounded exactly like the register merges, so the generic loop applies
UNCHANGED. Mergeability (Beyer et al. SIGMOD 2007):
``bottom_k(A ∪ B) == bottom_k(bottom_k(A) ∪ bottom_k(B))`` makes the
streamed store EXACTLY the one-shot ``kmv_sketch`` of the whole
history (test-pinned), and — like HLL's MAX — the law is idempotent,
so a replayed merge is invisible; the markers protocol still guards
pointer/GC consistency. State is one row per group, ≤ k longs each.

Read path: ``read_kmv_sketch`` explodes the committed arrays back to
the (g, h, rn) shape ``operators.kmv.kmv_sketch`` produces, so
``kmv_estimates`` and the whole theta algebra (union / intersection /
difference) run on the streamed store unchanged — incremental
maintenance invisible to consumers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.kmv import KMV_K, kmv_bottom_k, kmv_sketch
from .markers import start_ingest


def _pack(sketch: DataFrame) -> DataFrame:
    """(g, h, rn) sketch rows → one (g, hs) row per group, hashes
    sorted ascending (deterministic store bytes)."""
    return sketch.groupBy("g").agg(
        F.array_sort(F.collect_list("h")).alias("hs")
    )


def _merge_hs(k: int) -> Column:
    """The per-group merge aggregate: union the ≤ 2 packed rows,
    dedup shared hashes, keep the k smallest."""
    return F.slice(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("hs")))),
        1,
        k,
    ).alias("hs")


def kmv_merge_applier(
    store_path: str,
    checkpoint: str,
    group_col: str,
    key_col: str,
    k: int = KMV_K,
):
    """Per-batch KMV store maintenance as an applier (for the
    composed ingest-day loop) — the generic sketch merge loop
    instantiated with the packed bottom-k law."""
    from .sketches import sketch_merge_applier

    return sketch_merge_applier(
        store_path,
        checkpoint,
        build_batch=lambda b: _pack(kmv_sketch(b, group_col, key_col, k)),
        merge_keys=("g",),
        merge_agg=lambda: _merge_hs(k),
    )


def kmv_ingest_stream(
    items_stream: DataFrame,
    group_col: str,
    key_col: str,
    store_path: str,
    checkpoint: str,
    k: int = KMV_K,
):
    """Incremental per-group KMV sketches as a stream (availableNow):
    see the module docstring for the merge-law argument."""
    return start_ingest(
        items_stream,
        kmv_merge_applier(store_path, checkpoint, group_col, key_col, k),
        checkpoint,
    )


def read_kmv_sketch(
    spark: SparkSession, store_path: str, k: int = KMV_K
) -> DataFrame:
    """Resolve a KMV store to its committed (g, h, rn) sketch — the
    pointer read plus an explode + re-rank, so consumers get the
    exact shape ``operators.kmv.kmv_sketch`` produces."""
    from .sketches import read_sketch_store

    packed = read_sketch_store(spark, store_path)
    return kmv_bottom_k(
        packed.select("g", F.explode("hs").alias("h")), k
    )
