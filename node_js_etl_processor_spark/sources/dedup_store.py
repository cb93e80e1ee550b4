"""Ingest-time LSH posting stores + incremental delta dedup.

The batch near-dup family (operators/dedup.py) self-joins the whole
corpus — correct for a one-shot sweep, but a production pipeline at
100 TB receives CRAWL DROPS: a new batch that must be deduped against
everything already accepted WITHOUT re-hashing (or even re-reading the
text of) the accepted corpus. This module is that incremental shape:

- ``write_minhash_store`` persists the corpus's (band, bucket, doc_id)
  LSH postings (``operators.dedup.minhash_band_postings`` — the same
  expression the batch self-join uses, so batch and delta agree on
  candidates bit-for-bit), Hive-partitioned by band;
- ``dedup_minhash_delta`` hashes ONLY the new batch, broadcasts its
  postings into a join against the stored postings (new-old pairs)
  and self-joins the new postings (new-new pairs). The store side is
  a columnar read of three small columns — the accepted corpus's TEXT
  is never touched;
- ``append_minhash_store`` adds an accepted batch's postings, closing
  the ingest loop.

The exact-fingerprint and SimHash band stores follow the same
write / append / delta shape.

Cost at 100 TB: per crawl drop, O(|drop|) hashing + one broadcast
join against O(corpus) postings (3 narrow columns, ~20 bytes/row ×
bands) — vs the full self-join's O(corpus) re-hash of raw text. The
equivalence test pins delta == full-corpus candidates restricted to
pairs touching the new batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from node_js_etl_processor_spark.functions import barrier
from node_js_etl_processor_spark.operators.dedup import minhash_band_postings


def write_minhash_store(
    documents: DataFrame,
    path: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> None:
    """Materialize the corpus's LSH postings under ``path``,
    partitioned by band (xxhash64 family — the perf path; the store
    never needs the portable oracle family because delta candidates
    are verified against the batch form by test, not by SQL).

    ``repartition("band")`` before ``partitionBy("band")``: one file
    per band directory per shuffle partition (similarity_layout's
    small-file discipline)."""
    postings = minhash_band_postings(documents, num_hashes, bands, shingle_n)
    postings.repartition("band").write.mode("overwrite").partitionBy("band").parquet(
        path
    )


def append_minhash_store(
    documents: DataFrame,
    path: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> None:
    """Append an ACCEPTED batch's postings to the store (the ingest
    loop's closing step: dedup the drop, keep the survivors, append
    their postings so the next drop sees them)."""
    postings = minhash_band_postings(documents, num_hashes, bands, shingle_n)
    postings.repartition("band").write.mode("append").partitionBy("band").parquet(path)


def dedup_minhash_delta(
    spark: SparkSession,
    new_docs: DataFrame,
    path: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs for a NEW batch against the store and
    itself: (doc_a, doc_b, pair_type) with pair_type ∈ {'new-old',
    'new-new'}, doc_a < doc_b within new-new, doc_a = the new doc in
    new-old rows. Only the new batch is hashed; the store side reads
    (band, bucket, doc_id) and its text never loads. The NEW side is
    explicitly broadcast — a crawl drop is orders of magnitude smaller
    than the accepted corpus, and without the hint Catalyst's
    post-explode estimates can shuffle the store instead."""
    newb = minhash_band_postings(new_docs, num_hashes, bands, shingle_n)
    store = spark.read.parquet(path)
    new_old = (
        store.join(
            F.broadcast(newb.withColumnRenamed("doc_id", "new_id")),
            ["band", "bucket"],
        )
        .filter(F.col("new_id") != F.col("doc_id"))
        .select(
            F.col("new_id").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
            F.lit("new-old").alias("pair_type"),
        )
    )
    a = newb.alias("a")
    b = newb.alias("b")
    new_new = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.lit("new-new").alias("pair_type"),
        )
    )
    return new_old.unionByName(new_new).distinct()


# ------------------------------------------------ exact-fingerprint store


def write_fingerprint_store(documents: DataFrame, path: str) -> None:
    """Persist the corpus's exact-dedup fingerprints (the md5 of
    normalized text — ``operators.dedup.fingerprint``, the same
    expression q_dedup_docs groups on). 16 bytes/doc; the store IS the
    dedup state, the corpus text never needs re-reading."""
    from node_js_etl_processor_spark.operators.dedup import fingerprint

    documents.select(
        fingerprint(F.col("text")).alias("fp")
    ).distinct().write.mode("overwrite").parquet(path)


def append_fingerprint_store(documents: DataFrame, path: str) -> None:
    """Append an accepted batch's fingerprints (dedup survivors)."""
    from node_js_etl_processor_spark.operators.dedup import fingerprint

    documents.select(fingerprint(F.col("text")).alias("fp")).distinct().write.mode(
        "append"
    ).parquet(path)


def dedup_exact_delta(
    spark: SparkSession, new_docs: DataFrame, path: str
) -> DataFrame:
    """Exact-dedup a new batch incrementally: drop any doc whose
    fingerprint is already in the store (left_anti — the 100 TB form:
    the probe shuffles 16-byte digests, never text), then keep one doc
    per fingerprint WITHIN the batch (min doc_id, q_dedup_docs's
    keeper rule). Returns the surviving rows of ``new_docs``; append
    their fingerprints via ``append_fingerprint_store`` to close the
    loop."""
    from node_js_etl_processor_spark.operators.dedup import (
        fingerprint,
        first_per_key,
    )

    keyed = new_docs.withColumn("_fp", fingerprint(F.col("text")))
    seen = spark.read.parquet(path).withColumnRenamed("fp", "_fp")
    return first_per_key(keyed, "_fp", seen=seen).drop("_fp")


# ------------------------------------------------- simhash band store


def write_simhash_store(documents: DataFrame, path: str) -> None:
    """Materialize the corpus's simhash band postings (band, chunk,
    doc_id, sig — ``operators.dedup.simhash_band_postings_from_sigs``
    over the numpy-kernel signatures, xxhash64 perf family),
    Hive-partitioned by band. 4 rows/doc × ~24 bytes: the store IS the
    near-dup state; the corpus text never needs re-reading. Same
    banding as the batch self-join, so batch and delta agree on
    candidates bit-for-bit (test-pinned)."""
    from node_js_etl_processor_spark.operators.dedup import (
        simhash_band_postings_from_sigs,
        simhash_signatures_numpy,
    )

    sigs = simhash_signatures_numpy(documents, drop_tokenless=True)
    postings = simhash_band_postings_from_sigs(sigs)
    postings.repartition("band").write.mode("overwrite").partitionBy("band").parquet(
        path
    )


def append_simhash_store(documents: DataFrame, path: str) -> None:
    """Append an accepted batch's band postings (ingest-loop close)."""
    from node_js_etl_processor_spark.operators.dedup import (
        simhash_band_postings_from_sigs,
        simhash_signatures_numpy,
    )

    sigs = simhash_signatures_numpy(documents, drop_tokenless=True)
    postings = simhash_band_postings_from_sigs(sigs)
    postings.repartition("band").write.mode("append").partitionBy("band").parquet(path)


def dedup_simhash_delta(
    spark: SparkSession,
    new_docs: DataFrame,
    path: str,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs for a NEW batch against the store and
    itself: (doc_a, doc_b, hamming, pair_type) with pair_type ∈
    {'new-old', 'new-new'}; doc_a is the new doc in new-old rows,
    doc_a < doc_b within new-new. Only the new batch is hashed
    (signatures computed once, postings derived from them); the store
    side reads (chunk, doc_id, sig [+ band from directories]) — the
    accepted corpus's text never loads. The NEW side is explicitly
    broadcast (crawl drops are orders of magnitude smaller than the
    corpus). The Hamming verify runs ON the collision rows before the
    pair distinct, so the shuffle carries true near-dups, not raw
    band collisions (the batch form's ordering argument)."""
    from node_js_etl_processor_spark.operators.dedup import (
        simhash_band_postings_from_sigs,
        simhash_signatures_numpy,
    )

    sigs = barrier.cut(
        simhash_signatures_numpy(new_docs, drop_tokenless=True),
        "sources.dedup_store.simhash_delta_sigs",
    )
    newb = simhash_band_postings_from_sigs(sigs)
    store = spark.read.parquet(path)
    new_old = (
        store.join(
            F.broadcast(
                newb.withColumnRenamed("doc_id", "new_id").withColumnRenamed(
                    "sig", "new_sig"
                )
            ),
            ["band", "chunk"],
        )
        .filter(F.col("new_id") != F.col("doc_id"))
        .select(
            F.col("new_id").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
            F.bit_count(F.col("new_sig").bitwiseXOR(F.col("sig")))
            .cast("bigint")
            .alias("hamming"),
            F.lit("new-old").alias("pair_type"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    a, b = newb.alias("a"), newb.alias("b")
    new_new = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
            .cast("bigint")
            .alias("hamming"),
            F.lit("new-new").alias("pair_type"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    return new_old.unionByName(new_new).distinct()

