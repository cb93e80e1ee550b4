"""The markers protocol: filesystem-agnostic replay guards and
staged publish (crash-mid-append recovery).

A marker short-circuit alone covers only crash-AFTER-commit
re-delivery; these tests pin the two other windows:
a crash BETWEEN a batch's writes and its marker (append loops must
recover, never double-count) and a crashed BOOTSTRAP batch (must
land exactly once, not append a copy of itself). Crash
injection = monkeypatching ``mark_batch_applied`` to raise, so the
foreachBatch commit genuinely never happens and the restart genuinely
re-delivers through the real checkpoint machinery.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from node_js_etl_processor_spark.catalog import load_table
from node_js_etl_processor_spark.streaming import markers


def _roots(tmp_path):
    plain = str(tmp_path / "plain_store")
    uri = "file://" + str(tmp_path / "uri_store")
    return {"plain": plain, "file_uri": uri}


@pytest.mark.parametrize("kind", ["plain", "file_uri"])
def test_marker_and_sentinel_roundtrip_any_filesystem(spark, tmp_path, kind):
    """Markers and store_has_data must behave
    identically for scheme-less paths (os fast path) and URI store
    paths (Hadoop FileSystem API — exercised via file:, the same code
    path s3a:/hdfs: URIs take)."""
    root = _roots(tmp_path)[kind]
    ckpt = str(tmp_path / "ckpt")

    assert not markers.batch_already_applied(root, ckpt, 0)
    markers.mark_batch_applied(root, ckpt, 0)
    assert markers.batch_already_applied(root, ckpt, 0)
    assert not markers.batch_already_applied(root, ckpt, 1)
    assert not markers.batch_already_applied(root, ckpt + "x", 0)

    # metadata never counts as store data
    assert not markers.store_has_data(root)
    assert not markers.store_has_data(root, "postings")


@pytest.mark.parametrize("kind", ["plain", "file_uri"])
def test_stage_publish_recover_roundtrip(spark, tmp_path, kind):
    """stage_and_publish renames batch-tagged files into the live
    tree; recover_partial purges a crashed attempt's partial publish
    (manifest-bounded) without touching other batches' files."""
    root = _roots(tmp_path)[kind]
    d1 = spark.range(0, 10).select(
        F.col("id"), (F.col("id") % 3).cast("int").alias("part")
    )
    d2 = spark.range(10, 25).select(
        F.col("id"), (F.col("id") % 3).cast("int").alias("part")
    )

    markers.stage_and_publish(root, "t1", {"sub": (d1, "part")})
    markers.cleanup_staging(root, "t1")
    assert markers.store_has_data(root, "sub")
    got = {r["id"] for r in spark.read.parquet(f"{root}/sub").collect()}
    assert got == set(range(10))

    # batch t2 publishes fully but "crashes" before cleanup/marker;
    # make it PARTIAL by deleting one of its published files
    markers.stage_and_publish(root, "t2", {"sub": (d2, "part")})
    local_sub = (root[len("file://"):] if kind == "file_uri" else root) + "/sub"
    t2_files = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(local_sub)
        for f in fs
        if f.startswith("t2-")
    ]
    assert t2_files  # publish really happened
    os.remove(t2_files[0])

    # re-delivery: recover, then re-publish — exactly-once result
    markers.recover_partial(root, "t2")
    left = {r["id"] for r in spark.read.parquet(f"{root}/sub").collect()}
    assert left == set(range(10))  # t1 intact, every t2 row purged
    markers.stage_and_publish(root, "t2", {"sub": (d2, "part")})
    markers.cleanup_staging(root, "t2")
    got = {r["id"] for r in spark.read.parquet(f"{root}/sub").collect()}
    assert got == set(range(25))
    # recovery of a tag that never staged is a safe no-op
    markers.recover_partial(root, "t3")
    assert {r["id"] for r in spark.read.parquet(f"{root}/sub").collect()} == got


def _crash_once(monkeypatch, module, calls):
    """Patch module.mark_batch_applied to raise (the crash window:
    writes done, marker not); restores on monkeypatch teardown."""

    def boom(*a, **k):
        calls.append(a)
        raise RuntimeError("injected crash before marker")

    monkeypatch.setattr(module, "mark_batch_applied", boom)


def test_bm25_stream_recovers_crash_between_append_and_marker(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Kill-between-write-and-marker: the batch's
    postings/df/stats publish, the marker never lands, the restart
    re-delivers — the final index must equal the one-shot build
    (recover_partial purged the orphan publish; no double counts)."""
    from node_js_etl_processor_spark.sources.bm25_index import (
        bm25_from_index,
        write_bm25_index,
    )
    from node_js_etl_processor_spark.streaming import indexing

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = tmp_path / "landing"
    src.mkdir()
    docs.filter("doc_id < 200").coalesce(1).write.json(str(src / "b1"))
    docs.filter("doc_id >= 200").coalesce(1).write.json(str(src / "b2"))
    idx = str(tmp_path / "idx")
    schema = "doc_id long, text string"

    q = indexing.bm25_index_stream(
        spark.readStream.schema(schema).json(str(src / "b1")),
        idx,
        str(tmp_path / "ck1"),
    )
    q.awaitTermination(120)

    calls: list = []
    _crash_once(monkeypatch, markers, calls)
    q = indexing.bm25_index_stream(
        spark.readStream.schema(schema).json(str(src / "b2")),
        idx,
        str(tmp_path / "ck2"),
    )
    with pytest.raises(Exception):
        q.awaitTermination(120)
    assert calls  # the append really published before the "crash"
    monkeypatch.undo()

    q = indexing.bm25_index_stream(
        spark.readStream.schema(schema).json(str(src / "b2")),
        idx,
        str(tmp_path / "ck2"),
    )
    q.awaitTermination(120)

    full = str(tmp_path / "full")
    write_bm25_index(docs, full)
    terms = ("data", "learning", "the")
    got = {
        r["doc_id"]: r["bm25"]
        for r in bm25_from_index(spark, idx, terms).collect()
    }
    want = {
        r["doc_id"]: r["bm25"]
        for r in bm25_from_index(spark, full, terms).collect()
    }
    assert got == want and len(got) > 0


def test_bm25_stream_recovers_crashed_bootstrap(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A crash after the bootstrap publish but before its
    marker must NOT leave the re-delivered first batch appending on
    top of its own rows — it publishes into the empty store like any
    append, so recover_partial purges the crashed attempt first."""
    from node_js_etl_processor_spark.sources.bm25_index import (
        bm25_from_index,
        write_bm25_index,
    )
    from node_js_etl_processor_spark.streaming import indexing

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.filter("doc_id < 200")
    src = tmp_path / "landing"
    src.mkdir()
    batch.coalesce(1).write.json(str(src / "b1"))
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    calls: list = []
    _crash_once(monkeypatch, markers, calls)
    q = indexing.bm25_index_stream(
        spark.readStream.schema(schema).json(str(src / "b1")), idx, ckpt
    )
    with pytest.raises(Exception):
        q.awaitTermination(120)
    assert calls and os.path.isdir(f"{idx}/postings")  # store built, unmarked
    monkeypatch.undo()

    q = indexing.bm25_index_stream(
        spark.readStream.schema(schema).json(str(src / "b1")), idx, ckpt
    )
    q.awaitTermination(120)

    full = str(tmp_path / "full")
    write_bm25_index(batch, full)
    terms = ("data", "learning", "the")
    got = {
        r["doc_id"]: r["bm25"]
        for r in bm25_from_index(spark, idx, terms).collect()
    }
    want = {
        r["doc_id"]: r["bm25"]
        for r in bm25_from_index(spark, full, terms).collect()
    }
    assert got == want and len(got) > 0


def test_scd2_stream_recovers_crashed_bootstrap(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The SCD2 twin of the crashed-bootstrap case: a re-delivered
    first CDC batch re-runs the full build instead of merging against
    its own history and minting phantom versions."""
    from node_js_etl_processor_spark.operators.relational import q_scd2
    from node_js_etl_processor_spark.sources.scd2_store import read_scd2_store
    from node_js_etl_processor_spark.streaming import warehouse

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"
    )
    batch = orders.filter("o_custkey < 500")
    src = tmp_path / "cdc"
    src.mkdir()
    batch.coalesce(1).write.json(str(src / "b1"))
    store = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")
    schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_orderdate date"
    )

    calls: list = []
    _crash_once(monkeypatch, markers, calls)
    q = warehouse.scd2_cdc_stream(
        spark.readStream.schema(schema).json(str(src / "b1")), store, ckpt
    )
    with pytest.raises(Exception):
        q.awaitTermination(120)
    assert calls
    monkeypatch.undo()

    q = warehouse.scd2_cdc_stream(
        spark.readStream.schema(schema).json(str(src / "b1")), store, ckpt
    )
    q.awaitTermination(120)

    got = read_scd2_store(spark, store)
    want = q_scd2(batch)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_exact_dedup_stream_recovers_crashed_bootstrap(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The output-side half of the window: survivors must land in
    out_path exactly once across the crash + re-delivery (a plain
    append would double them)."""
    from node_js_etl_processor_spark.streaming import dedup as sdedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.filter("doc_id < 300")
    src = tmp_path / "landing"
    src.mkdir()
    batch.coalesce(1).write.json(str(src / "b1"))
    store = str(tmp_path / "fps")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    calls: list = []
    _crash_once(monkeypatch, markers, calls)
    q = sdedup.exact_dedup_ingest_stream(
        spark.readStream.schema(schema).json(str(src / "b1")), store, out, ckpt
    )
    with pytest.raises(Exception):
        q.awaitTermination(120)
    assert calls
    monkeypatch.undo()

    q = sdedup.exact_dedup_ingest_stream(
        spark.readStream.schema(schema).json(str(src / "b1")), store, out, ckpt
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    from node_js_etl_processor_spark.operators.dedup import fingerprint

    n_unique = (
        batch.select(fingerprint(F.col("text")).alias("fp")).distinct().count()
    )
    assert got.count() == n_unique  # exactly once — not doubled
    assert got.select("doc_id").distinct().count() == got.count()
    assert spark.read.parquet(store).count() == n_unique


def _countmin_setup(spark, sf_dir, tmp_path):
    from node_js_etl_processor_spark.catalog import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    src = tmp_path / "landing"
    src.mkdir()
    orders.filter("o_orderkey % 2 = 0").coalesce(1).write.json(str(src / "b1"))
    orders.filter("o_orderkey % 2 = 1").coalesce(1).write.json(str(src / "b2"))
    return orders, src


@pytest.mark.parametrize("crash_point", ["before_pointer", "after_pointer"])
def test_countmin_stream_exactly_once_across_merge_crash(
    spark, sf_dir, tmp_path, monkeypatch, crash_point
):
    """The versioned-pointer protocol: a crash around the grid
    merge — either after the new version is written but before the
    pointer switch, or after the switch but before the marker — must
    leave the re-delivered batch merging exactly once (a markerless
    loop would lose the grid or double-count every touched cell)."""
    from node_js_etl_processor_spark.operators.sketch import countmin_build
    from node_js_etl_processor_spark.streaming.dedup import countmin_ingest_stream
    from node_js_etl_processor_spark.streaming.sketches import read_sketch_store

    orders, src = _countmin_setup(spark, sf_dir, tmp_path)
    store = str(tmp_path / "cms")
    schema = "o_orderkey long, o_custkey long"

    q = countmin_ingest_stream(
        spark.readStream.schema(schema).json(str(src / "b1")),
        "o_custkey", store, str(tmp_path / "ck1"),
    )
    q.awaitTermination(120)

    calls: list = []
    if crash_point == "after_pointer":
        _crash_once(monkeypatch, markers, calls)
    else:

        def boom(*a, **k):
            calls.append(a)
            raise RuntimeError("injected crash before pointer switch")

        monkeypatch.setattr(markers, "set_current_version", boom)
    q = countmin_ingest_stream(
        spark.readStream.schema(schema).json(str(src / "b2")),
        "o_custkey", store, str(tmp_path / "ck2"),
    )
    with pytest.raises(Exception):
        q.awaitTermination(120)
    assert calls
    monkeypatch.undo()

    q = countmin_ingest_stream(
        spark.readStream.schema(schema).json(str(src / "b2")),
        "o_custkey", store, str(tmp_path / "ck2"),
    )
    q.awaitTermination(120)

    streamed = {
        (r["row"], r["col"]): r["c"]
        for r in read_sketch_store(spark, store).collect()
    }
    batch = {
        (r["row"], r["col"]): r["c"]
        for r in countmin_build(orders, "o_custkey").collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_scd2_stream_exactly_once_across_merge_crash(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Manifest commit: a crash after a CDC batch's merge
    committed its pointer (or anywhere mid-merge) but before the
    marker must not mint phantom versions on re-delivery — the
    history equals the one-shot rebuild. This was the ONE loop the
    staged-publish protocol could not cover; the store's manifest
    layout closes it."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.relational import q_scd2
    from node_js_etl_processor_spark.sources.scd2_store import read_scd2_store
    from node_js_etl_processor_spark.streaming import warehouse

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"
    )
    src = tmp_path / "cdc"
    src.mkdir()
    orders.filter("o_orderdate < '1999-01-01'").coalesce(1).write.json(
        str(src / "b1")
    )
    orders.filter("o_orderdate >= '1999-01-01'").coalesce(1).write.json(
        str(src / "b2")
    )
    store = str(tmp_path / "dim")
    schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_orderdate date"
    )

    q = warehouse.scd2_cdc_stream(
        spark.readStream.schema(schema).json(str(src / "b1")),
        store, str(tmp_path / "ck1"),
    )
    q.awaitTermination(180)

    calls: list = []
    _crash_once(monkeypatch, markers, calls)
    q = warehouse.scd2_cdc_stream(
        spark.readStream.schema(schema).json(str(src / "b2")),
        store, str(tmp_path / "ck2"),
    )
    with pytest.raises(Exception):
        q.awaitTermination(180)
    assert calls  # merge committed its pointer before the "crash"
    monkeypatch.undo()

    q = warehouse.scd2_cdc_stream(
        spark.readStream.schema(schema).json(str(src / "b2")),
        store, str(tmp_path / "ck2"),
    )
    q.awaitTermination(180)

    got = read_scd2_store(spark, store)
    want = q_scd2(orders)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_embedding_stream_recovers_crash_between_append_and_marker(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The ANN half of the kill-between-write-and-marker case
    (completing the crash matrix):
    batch 2's survivors + layout rows publish, the marker never
    lands, the restart re-delivers — the recovery purge must run
    BEFORE the delta probe reads the store (a batch matching its own
    partial rows would flip keeper decisions), and the final kept set
    must equal the batch keeper rule exactly."""
    from node_js_etl_processor_spark.operators.similarity import (
        embedding_near_dup_keepers,
    )
    from node_js_etl_processor_spark.streaming import dedup as sdedup

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    src = tmp_path / "landing"
    src.mkdir()
    emb.filter("vec_id < 250").coalesce(1).write.parquet(str(src / "b1"))
    emb.filter("vec_id >= 250").coalesce(1).write.parquet(str(src / "b2"))
    out = str(tmp_path / "accepted")
    store = str(tmp_path / "ann")
    schema = emb.schema

    q = sdedup.embedding_ingest_stream(
        spark.readStream.schema(schema).parquet(str(src / "b1")),
        store, out, str(tmp_path / "ck1"),
    )
    q.awaitTermination(180)

    calls: list = []
    _crash_once(monkeypatch, markers, calls)
    q = sdedup.embedding_ingest_stream(
        spark.readStream.schema(schema).parquet(str(src / "b2")),
        store, out, str(tmp_path / "ck2"),
    )
    with pytest.raises(Exception):
        q.awaitTermination(180)
    assert calls
    monkeypatch.undo()

    q = sdedup.embedding_ingest_stream(
        spark.readStream.schema(schema).parquet(str(src / "b2")),
        store, out, str(tmp_path / "ck2"),
    )
    q.awaitTermination(180)

    got = sorted(r["vec_id"] for r in spark.read.parquet(out).collect())
    want = sorted(
        r["vec_id"] for r in embedding_near_dup_keepers(emb).collect()
    )
    assert got == want  # exactly once: sorted-with-duplicates compare


def test_bm25_stream_end_to_end_over_file_uri_store(spark, sf_dir, tmp_path):
    """The whole ingest loop — markers, staged publish, recovery —
    against a ``file:`` URI store path, driving the Hadoop FileSystem
    code path end to end (the same one hdfs:/s3a: stores take)."""
    from node_js_etl_processor_spark.sources.bm25_index import (
        bm25_from_index,
        write_bm25_index,
    )
    from node_js_etl_processor_spark.streaming import indexing

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = tmp_path / "landing"
    src.mkdir()
    docs.filter("doc_id < 300").coalesce(1).write.json(str(src / "b1"))
    docs.filter("doc_id >= 300").coalesce(1).write.json(str(src / "b2"))
    idx = "file://" + str(tmp_path / "idx")
    schema = "doc_id long, text string"

    for b in ("b1", "b2"):
        q = indexing.bm25_index_stream(
            spark.readStream.schema(schema).json(str(src / b)),
            idx,
            str(tmp_path / ("ck" + b)),
        )
        q.awaitTermination(120)

    full = str(tmp_path / "full")
    write_bm25_index(docs, full)
    terms = ("data", "learning", "the")
    got = {
        r["doc_id"]: r["bm25"]
        for r in bm25_from_index(spark, idx, terms).collect()
    }
    want = {
        r["doc_id"]: r["bm25"]
        for r in bm25_from_index(spark, full, terms).collect()
    }
    assert got == want and len(got) > 0


def test_near_dup_stream_recovers_crashed_bootstrap(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The minhash loop's FIRST batch crashes after
    its staged publish — recovery purges the files but leaves empty
    band= partition dirs, and store_has_data must not count those as
    a live store (it would wedge every restart into reading an empty
    postings dir). The re-delivered batch must land exactly once."""
    from node_js_etl_processor_spark.operators.dedup import (
        minhash_near_dup_keepers,
    )
    from node_js_etl_processor_spark.streaming import dedup as sdedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.filter("doc_id < 200")
    src = tmp_path / "landing"
    src.mkdir()
    batch.coalesce(1).write.json(str(src / "b1"))
    store = str(tmp_path / "mh")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    calls: list = []
    _crash_once(monkeypatch, markers, calls)
    q = sdedup.near_dup_ingest_stream(
        spark.readStream.schema(schema).json(str(src / "b1")),
        store, out, ckpt,
    )
    with pytest.raises(Exception):
        q.awaitTermination(180)
    assert calls
    monkeypatch.undo()

    q = sdedup.near_dup_ingest_stream(
        spark.readStream.schema(schema).json(str(src / "b1")),
        store, out, ckpt,
    )
    q.awaitTermination(180)

    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    want = sorted(r["doc_id"] for r in minhash_near_dup_keepers(batch).collect())
    assert got == want  # exactly once, decision-identical to batch
    # postings/sigs hold the whole batch exactly once
    assert spark.read.parquet(f"{store}/sigs").count() == batch.count()


def test_recover_all_partial_repairs_adhoc_crash(spark, sf_dir, tmp_path):
    """An ad-hoc append's crash leaves a random-tag
    staging tree nobody can name — recover_all_partial sweeps every
    staged tag, restoring the store to its pre-append state."""
    from node_js_etl_processor_spark.sources.bm25_index import (
        bm25_from_index,
        write_bm25_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.filter("doc_id < 300")
    idx = str(tmp_path / "idx")
    write_bm25_index(old, idx)
    terms = ("data", "learning", "the")
    before = {
        r["doc_id"]: r["bm25"]
        for r in bm25_from_index(spark, idx, terms).collect()
    }

    # simulate a crashed ad-hoc append: publish under an unknown uuid
    # tag with staging (and so the manifest) left behind, then delete
    # one published file to make it partial
    import os as _os

    from node_js_etl_processor_spark.sources.bm25_index import _batch_layout
    from node_js_etl_processor_spark.streaming.markers import stage_and_publish

    batch = docs.filter("doc_id >= 300")
    p, d, st = _batch_layout(batch)
    stage_and_publish(
        idx, "deadbeef0123",
        {"postings": (p, "term_bucket"), "df": (d, "term_bucket"), "stats": (st, None)},
    )
    published = [
        _os.path.join(r, f)
        for r, _dd, fs in _os.walk(idx)
        for f in fs
        if f.startswith("deadbeef0123-") and "_staging" not in r
    ]
    assert published
    _os.remove(published[0])

    recovered = markers.recover_all_partial(idx)
    assert "deadbeef0123" in recovered
    after = {
        r["doc_id"]: r["bm25"]
        for r in bm25_from_index(spark, idx, terms).collect()
    }
    assert after == before  # pre-append state restored exactly


def test_scd2_stream_refuses_legacy_flat_store(spark, sf_dir, tmp_path):
    """A populated older flat-layout store (bucket=
    dirs, no manifest pointer) must make the CDC stream FAIL loudly
    instead of silently re-bootstrapping the dimension from one batch
    (which would truncate the stored history)."""
    from node_js_etl_processor_spark.streaming import warehouse

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"
    )
    store = str(tmp_path / "dim")
    # fabricate the legacy layout: bucket= dirs at the store root
    orders.limit(50).withColumn("bucket", (F.col("o_custkey") % 4).cast("int")) \
        .write.partitionBy("bucket").parquet(store)

    src = tmp_path / "cdc"
    src.mkdir()
    orders.limit(20).coalesce(1).write.json(str(src / "b1"))
    schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_orderdate date"
    )
    q = warehouse.scd2_cdc_stream(
        spark.readStream.schema(schema).json(str(src / "b1")),
        store, str(tmp_path / "ckpt"),
    )
    with pytest.raises(Exception, match="flat layout|StreamingQuery"):
        q.awaitTermination(120)


@pytest.mark.parametrize("family", ["hll", "hdr", "kmv"])
@pytest.mark.parametrize("crash_point", ["before_pointer", "after_pointer"])
def test_sketch_streams_exactly_once_across_merge_crash(
    spark, sf_dir, tmp_path, monkeypatch, family, crash_point
):
    """The generic versioned-pointer merge loop
    (streaming/sketches.py — countmin's protocol generalized over
    merge laws) is exactly-once for BOTH new sketch families under
    both crash windows. After batch-1 commit + batch-2 crash +
    restart, the streamed store equals the one-shot batch sketch
    cell-for-cell: a replayed HLL merge would be invisible (MAX is
    idempotent — so the HDR SUM family is the sharp one) and a
    replayed HDR merge would double every touched bucket count."""
    from node_js_etl_processor_spark.operators.sketch import (
        hdr_sketch,
        hll_registers,
    )
    from node_js_etl_processor_spark.operators.kmv import kmv_sketch
    from node_js_etl_processor_spark.streaming.sketches import (
        hdr_ingest_stream,
        hll_ingest_stream,
        read_sketch_store,
    )
    from node_js_etl_processor_spark.streaming.theta import (
        kmv_ingest_stream,
        read_kmv_sketch,
    )

    store = str(tmp_path / f"{family}_store")
    schema = "o_orderkey long, o_custkey long"

    def start(batch_dir, ck):
        stream = spark.readStream.schema(schema).json(str(src / batch_dir))
        if family == "hll":
            return hll_ingest_stream(
                stream, "o_orderkey", "o_custkey", store, str(tmp_path / ck)
            )
        if family == "kmv":
            return kmv_ingest_stream(
                stream, "o_orderkey", "o_custkey", store, str(tmp_path / ck)
            )
        stream = stream.withColumn("v", F.col("o_custkey") + 1)
        return hdr_ingest_stream(
            stream, "o_orderkey", "v", store, str(tmp_path / ck)
        )

    # group on o_orderkey % 7 so the sketch has a handful of groups
    src = tmp_path / "landing"
    src.mkdir()
    base = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 7).alias("o_orderkey"), "o_custkey"
    )
    base.filter("o_custkey % 2 = 0").coalesce(1).write.json(str(src / "b1"))
    base.filter("o_custkey % 2 = 1").coalesce(1).write.json(str(src / "b2"))

    q = start("b1", "ck1")
    q.awaitTermination(120)

    calls: list = []
    if crash_point == "after_pointer":
        _crash_once(monkeypatch, markers, calls)
    else:

        def boom(*a, **k):
            calls.append(a)
            raise RuntimeError("injected crash before pointer switch")

        monkeypatch.setattr(markers, "set_current_version", boom)
    q = start("b2", "ck2")
    with pytest.raises(Exception):
        q.awaitTermination(120)
    assert calls
    monkeypatch.undo()

    q = start("b2", "ck2")
    q.awaitTermination(120)

    if family == "kmv":
        got = read_kmv_sketch(spark, store)
    else:
        got = read_sketch_store(spark, store)
    if family == "hll":
        want = hll_registers(base, "o_orderkey", "o_custkey")
    elif family == "kmv":
        want = kmv_sketch(base, "o_orderkey", "o_custkey")
    else:
        want = hdr_sketch(
            base.withColumn("v", F.col("o_custkey") + 1), "o_orderkey", "v"
        )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() > 0


def test_sketch_stream_estimates_match_batch_query(spark, sf_dir, tmp_path):
    """The read path composes: hll_estimate / hdr_quantiles over the
    streamed stores equal the same folds over one-shot batch sketches
    — incremental maintenance is invisible to consumers."""
    from node_js_etl_processor_spark.operators.sketch import (
        hdr_quantiles,
        hdr_sketch,
        hll_estimate,
        hll_registers,
    )
    from node_js_etl_processor_spark.streaming.sketches import (
        hdr_ingest_stream,
        hll_ingest_stream,
        read_sketch_store,
    )

    orders = load_table(spark, sf_dir, "orders")
    src = tmp_path / "landing2"
    src.mkdir()
    pri = orders.select("o_orderpriority", "o_custkey")
    pri.filter("o_custkey % 3 != 0").coalesce(1).write.json(str(src / "b1"))
    pri.filter("o_custkey % 3 = 0").coalesce(1).write.json(str(src / "b2"))
    schema = "o_orderpriority string, o_custkey long"

    hll_store = str(tmp_path / "hll2")
    hdr_store = str(tmp_path / "hdr2")
    for b, ck in (("b1", "h1"), ("b2", "h2")):
        q = hll_ingest_stream(
            spark.readStream.schema(schema).json(str(src / b)),
            "o_orderpriority", "o_custkey", hll_store, str(tmp_path / ck),
        )
        q.awaitTermination(120)
    for b, ck in (("b1", "d1"), ("b2", "d2")):
        stream = spark.readStream.schema(schema).json(str(src / b))
        q = hdr_ingest_stream(
            stream.withColumn("v", F.col("o_custkey") + 1),
            "o_orderpriority", "v", hdr_store, str(tmp_path / ck),
        )
        q.awaitTermination(120)

    streamed_est = {
        tuple(r)
        for r in hll_estimate(
            read_sketch_store(spark, hll_store), "o_orderpriority"
        ).collect()
    }
    batch_est = {
        tuple(r)
        for r in hll_estimate(
            hll_registers(pri, "o_orderpriority", "o_custkey"),
            "o_orderpriority",
        ).collect()
    }
    assert streamed_est == batch_est and len(streamed_est) == 5

    vals = pri.withColumn("v", F.col("o_custkey") + 1)
    streamed_q = {
        tuple(r)
        for r in hdr_quantiles(
            read_sketch_store(spark, hdr_store), "o_orderpriority"
        ).collect()
    }
    batch_q = {
        tuple(r)
        for r in hdr_quantiles(
            hdr_sketch(vals, "o_orderpriority", "v"), "o_orderpriority"
        ).collect()
    }
    assert streamed_q == batch_q and len(streamed_q) == 5


def test_kmv_store_read_answers_difference_query(spark, sf_dir, tmp_path):
    """Store-read equality pin: the theta
    set-DIFFERENCE computed over the STREAMED theta store — two
    micro-batches merged under the union-then-bottom-k law, read back
    through read_kmv_sketch — equals the batch q_kmv_difference over
    the same orders rows EXACTLY (set_name, n_entries, theta,
    est_distinct all BIGINT, so equality is bitwise). Stored
    per-group sketches answer difference questions with no corpus
    rescan."""
    from node_js_etl_processor_spark.operators.kmv import (
        kmv_set_difference,
        q_kmv_difference,
    )
    from node_js_etl_processor_spark.streaming.theta import (
        kmv_ingest_stream,
        read_kmv_sketch,
    )

    orders = load_table(spark, sf_dir, "orders")
    src = tmp_path / "landing_diff"
    src.mkdir()
    feed = orders.select("o_orderstatus", "o_custkey")
    feed.filter("o_custkey % 2 = 0").coalesce(1).write.json(str(src / "b1"))
    feed.filter("o_custkey % 2 = 1").coalesce(1).write.json(str(src / "b2"))
    schema = "o_orderstatus string, o_custkey long"
    store = str(tmp_path / "theta_store")
    for b, ck in (("b1", "tc1"), ("b2", "tc2")):
        q = kmv_ingest_stream(
            spark.readStream.schema(schema).json(str(src / b)),
            "o_orderstatus", "o_custkey", store, str(tmp_path / ck),
        )
        q.awaitTermination(120)

    from_store = {
        tuple(r)
        for r in kmv_set_difference(
            read_kmv_sketch(spark, store), "F", "O", "cust:F-O", "cust:O-F"
        ).collect()
    }
    from_batch = {tuple(r) for r in q_kmv_difference(orders).collect()}
    assert from_store == from_batch and len(from_store) == 2


def test_kmv_stream_saturation_transition(spark, tmp_path):
    """A group that is UNSATURATED after batch 1 (theta = 2^48, exact
    estimates) and crosses k after batch 2 must land exactly on the
    one-shot sketch — the union-then-bottom-k merge law through the
    regime change, where a wrong merge (e.g. keeping stale ranks or
    capping before the union) would freeze theta or lose hashes."""
    import json

    from node_js_etl_processor_spark.operators.kmv import (
        KMV_SCALE,
        kmv_estimates,
        kmv_sketch,
    )
    from node_js_etl_processor_spark.streaming.theta import (
        kmv_ingest_stream,
        read_kmv_sketch,
    )

    src = tmp_path / "landing"
    src.mkdir()
    b1 = [{"g": "a", "key": f"k{i}"} for i in range(40)]  # < k = 64
    b2 = [{"g": "a", "key": f"k{i}"} for i in range(30, 140)]  # pushes past
    (src / "b1").mkdir(); (src / "b2").mkdir()
    (src / "b1" / "rows.json").write_text(
        "\n".join(json.dumps(r) for r in b1)
    )
    (src / "b2" / "rows.json").write_text(
        "\n".join(json.dumps(r) for r in b2)
    )
    store = str(tmp_path / "kmv_store")
    schema = "g string, key string"
    for b, ck in (("b1", "c1"), ("b2", "c2")):
        q = kmv_ingest_stream(
            spark.readStream.schema(schema).json(str(src / b)),
            "g", "key", store, str(tmp_path / ck),
        )
        q.awaitTermination(120)
        # after batch 1 the sketch is UNSATURATED: exact estimate 40
        if b == "b1":
            est1 = kmv_estimates(read_kmv_sketch(spark, store)).first()
            assert est1["theta"] == KMV_SCALE and est1["est_distinct"] == 40

    whole = spark.createDataFrame(
        [(r["g"], r["key"]) for r in b1 + b2], schema
    )
    want_sk = kmv_sketch(whole, "g", "key")
    got_sk = read_kmv_sketch(spark, store)
    assert got_sk.exceptAll(want_sk).count() == 0
    assert want_sk.exceptAll(got_sk).count() == 0
    # saturated now: theta is the 64th smallest of the 140 distinct
    est2 = kmv_estimates(got_sk).first()
    assert est2["theta"] < KMV_SCALE and est2["n_entries"] == 63
    assert est2["est_distinct"] == kmv_estimates(want_sk).first()["est_distinct"]


@pytest.mark.parametrize("crash_point", ["before_pointer", "after_pointer"])
def test_trend_stats_stream_exactly_once_matches_batch(
    spark, sf_dir, tmp_path, monkeypatch, crash_point
):
    """The OLS sufficient-statistics lane — the FIRST
    multi-column instantiation of the generic versioned-pointer merge
    loop — is exactly-once under both crash windows, and
    ols_from_store equals the one-shot q_ols_trend over the union
    feed bit-for-bit. SUM is the sharp idempotence law here exactly
    as in the HDR family: a replayed merge would double every
    statistic, so a crash-recovery bug cannot hide."""
    from node_js_etl_processor_spark.operators.trend import q_ols_trend
    from node_js_etl_processor_spark.streaming.trendstore import (
        ols_from_store,
        ols_trend_ingest_stream,
    )

    store = str(tmp_path / "trend_store")
    schema = (
        "o_orderkey long, o_orderpriority string, o_totalprice double, "
        "o_orderdate date"
    )
    src = tmp_path / "landing"
    src.mkdir()
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
    )
    base.filter("o_orderkey % 2 = 0").coalesce(1).write.json(str(src / "b1"))
    base.filter("o_orderkey % 2 = 1").coalesce(1).write.json(str(src / "b2"))

    def start(batch_dir, ck):
        stream = spark.readStream.schema(schema).json(str(src / batch_dir))
        return ols_trend_ingest_stream(stream, store, str(tmp_path / ck))

    q = start("b1", "ck1")
    q.awaitTermination(120)

    calls: list = []
    if crash_point == "after_pointer":
        _crash_once(monkeypatch, markers, calls)
    else:

        def boom(*a, **k):
            calls.append(a)
            raise RuntimeError("injected crash before pointer switch")

        monkeypatch.setattr(markers, "set_current_version", boom)
    q = start("b2", "ck2")
    with pytest.raises(Exception):
        q.awaitTermination(120)
    assert calls
    monkeypatch.undo()

    q = start("b2", "ck2")
    q.awaitTermination(120)

    got = ols_from_store(spark, store)
    want = q_ols_trend(base)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() > 0


#: the nine staged-append tiers that share ``markers.staged_applier``
STAGED_TIERS = (
    "exact", "near_dup", "simhash", "embedding", "image", "setkey",
    "span_postings", "novelty", "bm25",
)


def _staged_tier(spark, sf_dir, tmp_path, tier):
    """(applier, batch, id column, roots) for one staged-append tier
    over a small slice of the sf0.001 fixture."""
    from node_js_etl_processor_spark.streaming import dedup as sdedup
    from node_js_etl_processor_spark.streaming import spanstore
    from node_js_etl_processor_spark.streaming.indexing import bm25_applier
    from node_js_etl_processor_spark.streaming.setkey import (
        set_collapse_applier,
    )

    store, out, ckpt = (str(tmp_path / n) for n in ("store", "out", "ckpt"))
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).filter("doc_id < 40")
    with_out = {
        "exact": sdedup.exact_dedup_applier,
        "near_dup": sdedup.near_dup_applier,
        "simhash": sdedup.simhash_applier,
        "setkey": set_collapse_applier,
        "novelty": spanstore.novelty_gated_ingest_applier,
    }
    if tier in with_out:
        return with_out[tier](store, out, ckpt), docs, "doc_id", (store, out)
    if tier == "span_postings":
        apply = spanstore.span_postings_applier(store, ckpt)
        return apply, docs, "doc_id", (store,)
    if tier == "bm25":
        return bm25_applier(store, ckpt), docs, "doc_id", (store,)
    if tier == "embedding":
        embs = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        ).filter("vec_id < 40")
        apply = sdedup.embedding_applier(store, out, ckpt)
        return apply, embs, "vec_id", (store, out)
    from node_js_etl_processor_spark.operators.phash import synth_phash_media

    media = synth_phash_media(docs).select("media_id", "payload")
    apply = sdedup.image_dedup_applier(store, out, ckpt)
    return apply, media, "media_id", (store, out)


def _tree(roots):
    """Every file and directory under the roots, with file sizes."""
    got = set()
    for root in roots:
        for d, dirs, files in os.walk(root):
            got |= {(os.path.relpath(os.path.join(d, n), root), -1) for n in dirs}
            got |= {
                (os.path.relpath(os.path.join(d, n), root),
                 os.path.getsize(os.path.join(d, n)))
                for n in files
            }
    return got


@pytest.mark.parametrize("tier", STAGED_TIERS)
def test_staged_applier_contract(spark, sf_dir, tmp_path, tier):
    """One exactly-once rule for every staged-append tier: an empty
    batch is marked and returns an empty frame; the bootstrap batch
    (the first non-empty one, into an empty store) returns its
    survivors; a replay of the marked batch returns the same
    survivors and changes nothing in the store or the output."""
    apply, batch, key, roots = _staged_tier(spark, sf_dir, tmp_path, tier)
    store, ckpt = roots[0], str(tmp_path / "ckpt")

    empty = apply(batch.limit(0), 0)
    assert empty is not None and empty.count() == 0
    assert markers.batch_already_applied(store, ckpt, 0)

    first = apply(batch, 1)
    want = sorted(r[key] for r in first.select(key).collect())
    assert want, "the bootstrap batch returned no survivors"
    before = _tree(roots)

    again = apply(batch, 1)
    assert sorted(r[key] for r in again.select(key).collect()) == want
    assert _tree(roots) == before
