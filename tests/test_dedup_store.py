"""Incremental dedup stores, built through the ingest appliers that
production runs: the exact-fingerprint store keeps one doc per text
across batches, and the MinHash and SimHash delta probes
(``sources/dedup_store.py``) must agree with the full-corpus batch
forms, hash only the new batch, never read the stored text and
broadcast the new side. ``near_dup_applier`` and its batch reference
``minhash_near_dup_keepers`` hash each batch once."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from node_js_etl_processor_spark.catalog import load_table
from node_js_etl_processor_spark.operators import dedup as odedup
from node_js_etl_processor_spark.operators.dedup import (
    minhash_band_postings,
    minhash_candidates,
    simhash_band_postings_from_sigs,
    simhash_signatures_numpy,
)
from node_js_etl_processor_spark.sources.dedup_store import (
    dedup_minhash_delta,
    dedup_simhash_delta,
)
from node_js_etl_processor_spark.streaming.dedup import (
    exact_dedup_applier,
    near_dup_applier,
    simhash_applier,
)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _store(tmp_path, applier, name: str, *batches) -> str:
    """Ingest ``batches`` (batch ids 0, 1, ...) through ``applier`` into
    a fresh store under ``tmp_path``; returns the store path."""
    store = str(tmp_path / name)
    apply = applier(
        store, str(tmp_path / f"{name}_out"), str(tmp_path / f"{name}_ckpt")
    )
    for batch_id, batch in enumerate(batches):
        apply(batch, batch_id)
    return store


def _simhash_postings(docs):
    return simhash_band_postings_from_sigs(
        simhash_signatures_numpy(docs, drop_tokenless=True)
    )


def test_delta_equals_full_corpus_candidates(spark, sf_dir, tmp_path):
    """delta(new | store(old)) must produce EXACTLY the full-corpus
    candidate pairs that touch the new batch — same hash family, same
    banding, so batch and incremental dedup can never disagree."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    path = _store(tmp_path, near_dup_applier, "mh_store", old) + "/postings"

    got = {
        (min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]))
        for r in dedup_minhash_delta(minhash_band_postings(new), path).collect()
    }
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    full = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_candidates(docs).collect()
        if r["doc_a"] in new_ids or r["doc_b"] in new_ids
    }
    assert got == full and len(got) > 0


def test_delta_never_reads_old_text_and_broadcasts_drop(spark, sf_dir, tmp_path):
    """Scale contract: the store side reads only (bucket, doc_id [+
    band from directories]) — the accepted corpus's text column never
    appears in any ReadSchema of the store scan — and the join against
    the store is a BroadcastHashJoin with the NEW side as the build
    side."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    path = _store(tmp_path, near_dup_applier, "mh_store", old) + "/postings"
    new = docs.filter(F.col("doc_id") % 5 == 0)

    plan = _plan(dedup_minhash_delta(minhash_band_postings(new), path))
    store_scans = [
        seg.split("\n")[0]
        for seg in plan.split("ReadSchema:")[1:]
        if "bucket" in seg.split("\n")[0]
    ]
    assert store_scans and all("text" not in s for s in store_scans)
    assert "BroadcastHashJoin" in plan


def test_append_closes_the_ingest_loop(spark, sf_dir, tmp_path):
    """After appending the accepted batch, the next delta sees it:
    probing the SAME batch again yields its pairs as new-old hits."""
    docs = load_table(spark, sf_dir, "documents")
    batch1 = docs.filter(F.col("doc_id") < 100)
    batch2 = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200))
    path = _store(tmp_path, near_dup_applier, "mh_store", batch1, batch2)
    path += "/postings"

    # re-probing batch2 now collides with its own stored postings
    probe = dedup_minhash_delta(minhash_band_postings(batch2.limit(5)), path)
    types = {r["pair_type"] for r in probe.collect()}
    # every stored doc collides with itself via identical buckets —
    # but self-pairs are filtered, so only true cross-doc pairs remain
    assert types <= {"new-old", "new-new"}
    n_store_bands = spark.read.parquet(path).select("band").distinct().count()
    assert n_store_bands == 8


def test_exact_delta_store_roundtrip(spark, sf_dir, tmp_path):
    """Exact incremental dedup: docs whose text is already stored are
    dropped, in-batch duplicates keep min doc_id, survivors' schema is
    the input schema, and after appending survivors a re-probe of the
    same batch drops everything."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "fp_store")
    apply = exact_dedup_applier(
        path, str(tmp_path / "fp_out"), str(tmp_path / "fp_ckpt")
    )
    apply(old, 0)

    survivors = apply(new, 1)
    assert survivors.columns == docs.columns

    # reference: full-corpus exact dedup keepers that are new-batch docs
    # AND not text-duplicates of any old doc
    from node_js_etl_processor_spark.operators.dedup import fingerprint

    old_fps = {r["fp"] for r in old.select(fingerprint(F.col("text")).alias("fp")).collect()}
    by_fp = {}
    for r in new.select("doc_id", fingerprint(F.col("text")).alias("fp")).collect():
        if r["fp"] not in old_fps:
            by_fp.setdefault(r["fp"], []).append(r["doc_id"])
    want = {min(v) for v in by_fp.values()}
    got = {r["doc_id"] for r in survivors.collect()}
    assert got == want and len(got) > 0

    # batch 1 appended its survivors' fingerprints
    assert apply(new, 2).count() == 0


def test_simhash_delta_equals_full_corpus_pairs(spark, sf_dir, tmp_path):
    """The simhash band store's delta probe must produce EXACTLY
    the batch form's verified pairs that touch the new batch — same
    numpy signature kernel, same 4x16-bit banding, same Hamming
    verify, so batch and incremental near-dup can never disagree."""
    from node_js_etl_processor_spark.operators.dedup import simhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    path = _store(tmp_path, simhash_applier, "sh_store", old)

    got = {
        (min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]), r["hamming"])
        for r in dedup_simhash_delta(_simhash_postings(new), path).collect()
    }
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    full = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_pairs(docs, portable=False).collect()
        if r["doc_a"] in new_ids or r["doc_b"] in new_ids
    }
    assert got == full and len(got) > 0


def test_simhash_delta_never_reads_old_text_and_broadcasts_drop(
    spark, sf_dir, tmp_path
):
    """Scale contract, simhash twin: the store scan reads only
    (chunk, doc_id, sig [+ band from directories]) — never text — and
    the store join builds on the broadcast NEW side."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    path = _store(tmp_path, simhash_applier, "sh_store", old)
    new = docs.filter(F.col("doc_id") % 5 == 0)

    plan = _plan(dedup_simhash_delta(_simhash_postings(new), path))
    store_scans = [
        seg.split("\n")[0]
        for seg in plan.split("ReadSchema:")[1:]
        if "chunk" in seg.split("\n")[0]
    ]
    assert store_scans and all("text" not in s for s in store_scans)
    assert "BroadcastHashJoin" in plan


def test_simhash_append_closes_the_ingest_loop(spark, sf_dir, tmp_path):
    """After appending a batch, re-probing it yields its own pairs as
    new-old hits; the store keeps its 4-band layout."""
    docs = load_table(spark, sf_dir, "documents")
    batch1 = docs.filter(F.col("doc_id") < 100)
    batch2 = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200))
    path = _store(tmp_path, simhash_applier, "sh_store", batch1, batch2)

    probe = dedup_simhash_delta(_simhash_postings(batch2.limit(5)), path)
    rows = probe.collect()
    assert {r["pair_type"] for r in rows} <= {"new-old", "new-new"}
    assert all(r["hamming"] <= 3 for r in rows)
    n_store_bands = spark.read.parquet(path).select("band").distinct().count()
    assert n_store_bands == 4


def _count_signature_calls(monkeypatch) -> list:
    """Record each ``operators.dedup.minhash_signatures`` call."""
    calls = []
    real = odedup.minhash_signatures

    def counted(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(odedup, "minhash_signatures", counted)
    return calls


def test_near_dup_applier_hashes_each_batch_once(spark, sf_dir, tmp_path, monkeypatch):
    """The applier bands the signatures it keeps for verification: one
    ``minhash_signatures`` call per batch, not a second from
    ``minhash_band_postings``."""
    calls = _count_signature_calls(monkeypatch)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    _store(tmp_path, near_dup_applier, "mh_store", docs)
    assert len(calls) == 1


def test_near_dup_keepers_hash_each_batch_once(spark, sf_dir, monkeypatch):
    """The batch keeper rule bands the signatures it cuts for
    verification: one ``minhash_signatures`` call, not a second from
    ``minhash_band_postings``."""
    calls = _count_signature_calls(monkeypatch)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    odedup.minhash_near_dup_keepers(docs).count()
    assert len(calls) == 1
