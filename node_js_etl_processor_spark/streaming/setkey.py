"""Incremental exact SET-COLLAPSE dedup: the twelfth ingest-day
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
distinct sets), append-only through ``markers.staged_applier`` —
every batch lands via batch-tagged staged renames, a marker hit
replays the batch's PUBLISHED survivors, and a crashed publish is
purged tag-first before recompute — the exactly-once contract every
other tier carries, pinned by the composed crash-matrix test
(tests/test_ingest_day.py).

Keeper rule: min-doc_id per set_key (in-batch), drop-if-seen
(cross-batch) — ``first_per_key`` with the store as its seen keys — with doc_id-ordered drops this equals the one-shot
``exact_set_reps`` representatives over the concatenated history
(stream == batch pinned in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions import barrier


def set_collapse_applier(store_path: str, out_path: str, checkpoint: str):
    """Per-batch set-key collapse as an idempotent applier (see the
    module docstring). Returns the batch's surviving documents (or
    the published survivors on a marker hit), like the other dedup
    appliers, so a composed loop can chain it."""
    from ..operators.dedup import first_per_key
    from ..operators.setsim import packed_sets
    from .markers import staged_applier, store_has_data

    def step(batch_df: DataFrame):
        keyed = batch_df.join(
            packed_sets(batch_df).select("doc_id", "set_key"), "doc_id"
        )
        # left_anti on the 16-byte key: the probe shuffles digests,
        # never text, and the store side is never broadcast (it is
        # corpus-sized over the stream's lifetime)
        seen = None
        if store_has_data(store_path):
            seen = batch_df.sparkSession.read.parquet(store_path)
        # the kept frame feeds BOTH publishes (docs out, keys to the
        # store) — and the keys come from the column already computed,
        # never a re-tokenization; one row per set_key by construction
        kept = barrier.cut(
            first_per_key(keyed, "set_key", seen=seen), "streaming.setkey.kept"
        )
        return kept.drop("set_key"), {"": (kept.select("set_key"), None)}

    return staged_applier(store_path, checkpoint, step, out_path)
