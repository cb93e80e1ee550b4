"""Incremental exact SET-COLLAPSE dedup (r16): the twelfth ingest-day
store tier — the ``exact_dedup_applier`` store shape keyed on the
set-similarity family's SET KEY (md5 over the sorted DISTINCT token
set, ``operators/setsim.py::packed_sets``) instead of the whole-text
fingerprint. A document whose token SET has been seen before — even
with the tokens reordered, repeated or differently whitespaced — is
dropped; the batch query it must agree with is the template collapse
(``setsim.exact_set_reps``) that fronts q_setsim_join and
q_containment_decon, so the streamed store makes that collapse
INCREMENTAL: a day's drops maintain the representative set without
ever re-tokenizing the corpus.

Store layout: one parquet tree of 16-byte ``set_key`` rows (the seen
distinct sets), append-only through the markers protocol — every
batch lands via ``stage_and_publish`` (batch-tagged renames), a
marker hit replays the batch's PUBLISHED survivors, and a crashed
publish is purged tag-first (``recover_partial``) before recompute —
the exactly-once contract every other tier carries, pinned by the
composed crash-matrix test (tests/test_ingest_day.py).

Keeper rule: min-doc_id per set_key (in-batch), drop-if-seen
(cross-batch) — with doc_id-ordered drops this equals the one-shot
``exact_set_reps`` representatives over the concatenated history
(stream == batch pinned in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import barrier


def set_collapse_applier(store_path: str, out_path: str, checkpoint: str):
    """Per-batch set-key collapse as an idempotent applier (see the
    module docstring). Returns the batch's surviving documents (or
    the published survivors on a marker hit), like the other dedup
    appliers, so a composed loop can chain it."""
    from ..operators.setsim import packed_sets
    from .markers import (
        batch_already_applied,
        cleanup_staging,
        mark_batch_applied,
        marker_id,
        read_batch_output,
        recover_partial,
        stage_and_publish,
        store_has_data,
    )

    def _ingest(batch_df: DataFrame, batch_id: int) -> "DataFrame | None":
        from pyspark.sql.window import Window

        spark = batch_df.sparkSession
        tag = marker_id(checkpoint, batch_id)
        if batch_already_applied(store_path, checkpoint, batch_id):
            cleanup_staging(store_path, tag)
            cleanup_staging(out_path, tag)
            return read_batch_output(spark, out_path, tag)
        recover_partial(store_path, tag)
        recover_partial(out_path, tag)
        keyed = batch_df.join(
            packed_sets(batch_df).select("doc_id", "set_key"), "doc_id"
        )
        if store_has_data(store_path):
            # left_anti on the 16-byte key — the dedup_exact_delta
            # shape: the probe shuffles digests, never text, and the
            # store side is never broadcast (it is corpus-sized over
            # the stream's lifetime)
            seen = spark.read.parquet(store_path).select("set_key")
            keyed = keyed.join(seen, "set_key", "left_anti")
        w = Window.partitionBy("set_key").orderBy(F.col("doc_id").asc())
        # the kept frame feeds BOTH publishes (docs out, keys to the
        # store) — and the keys come from the column already computed,
        # never a re-tokenization
        kept = barrier.cut(
            keyed.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn"),
            "streaming.setkey.kept",
        )
        survivors = kept.drop("set_key")
        stage_and_publish(out_path, tag, {"": (survivors, None)})
        # kept is unique per set_key by construction (row_number()==1
        # over the set_key window) — no distinct needed
        keys = kept.select("set_key")
        stage_and_publish(store_path, tag, {"": (keys, None)})
        mark_batch_applied(store_path, checkpoint, batch_id)
        cleanup_staging(store_path, tag)
        cleanup_staging(out_path, tag)
        return survivors

    return _ingest
