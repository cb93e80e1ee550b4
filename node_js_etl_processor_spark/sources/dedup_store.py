"""Incremental LSH delta probes: one per near-dup store family.

The batch near-dup family (operators/dedup.py) self-joins the whole
corpus — correct for a one-shot sweep, but a production pipeline at
100 TB receives CRAWL DROPS: a new batch that must be deduped against
everything already accepted WITHOUT re-hashing (or even re-reading the
text of) the accepted corpus. This module is that incremental shape:
the probe of a new batch's band postings against a store of the
accepted corpus's postings.

- ``dedup_minhash_delta`` probes the (band, bucket, doc_id) postings
  of ``operators.dedup.minhash_band_postings`` — the same banding the
  batch self-join uses, so batch and delta agree on candidates
  bit-for-bit. ``streaming.dedup.near_dup_applier`` persists them
  (Hive-partitioned by band) and verifies the candidates in
  signature space.
- ``dedup_simhash_delta`` probes the (band, chunk, doc_id, sig)
  postings of ``operators.dedup.simhash_band_postings_from_sigs``
  with the Hamming verify fused in; ``streaming.dedup.simhash_applier``
  persists them.

Each probe takes the batch's postings, which the applier also
publishes as its store part, so a batch is hashed once. The NEW side
is broadcast into the join against the store, whose scan reads only
the posting columns — the accepted corpus's text is never touched.
A store with no published data (the bootstrap batch) is not read:
the probe returns the new-new pairs alone.

Cost at 100 TB: per crawl drop, O(|drop|) hashing + one broadcast
join against O(corpus) postings (3 narrow columns, ~20 bytes/row ×
bands) — vs the full self-join's O(corpus) re-hash of raw text. The
equivalence tests pin delta == full-corpus pairs restricted to pairs
touching the new batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from node_js_etl_processor_spark.streaming.markers import store_has_data


def _delta(newb: DataFrame, path: str, key: str, *cols, verify=None):
    """Pairs of ``newb`` postings sharing (band, ``key``) with a stored
    or a batch posting: (doc_a, doc_b, *cols, pair_type), doc_a the
    new doc in new-old rows, doc_a < doc_b in new-new rows. ``cols``
    and ``verify`` read the two sides as ``a`` (new) and ``b``;
    ``verify`` is part of the join condition, so it runs on the
    collision rows before the pair distinct."""
    verify = F.lit(True) if verify is None else verify

    def pairs(new: DataFrame, other: DataFrame, pair_type: str, same) -> DataFrame:
        a, b = new.alias("a"), other.alias("b")
        return a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & same(F.col("a.doc_id"), F.col("b.doc_id"))
            & verify,
        ).select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *cols,
            F.lit(pair_type).alias("pair_type"),
        )

    found = pairs(newb, newb, "new-new", lambda x, y: x < y)
    if store_has_data(path):
        store = newb.sparkSession.read.parquet(path)
        new_old = pairs(F.broadcast(newb), store, "new-old", lambda x, y: x != y)
        found = new_old.unionByName(found)
    return found.distinct()


def dedup_minhash_delta(new_postings: DataFrame, path: str) -> DataFrame:
    """Candidate near-dup pairs for a NEW batch's (band, bucket,
    doc_id) postings against the posting store at ``path`` and
    against themselves: (doc_a, doc_b, pair_type) with pair_type ∈
    {'new-old', 'new-new'}, unverified (the caller verifies). The
    store side reads (bucket, doc_id [+ band from directories])."""
    return _delta(new_postings, path, "bucket")


def dedup_simhash_delta(
    new_postings: DataFrame, path: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup pairs for a NEW batch's (band, chunk, doc_id,
    sig) postings against the band store at ``path`` and against
    themselves: (doc_a, doc_b, hamming, pair_type), Hamming-verified
    on the collision rows (hamming ≤ ``max_hamming``), so the pair
    shuffle carries true near-dups, not raw band collisions. The store
    side reads (chunk, doc_id, sig [+ band from directories])."""
    hamming = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).cast("bigint")
    return _delta(
        new_postings,
        path,
        "chunk",
        hamming.alias("hamming"),
        verify=hamming <= max_hamming,
    )
