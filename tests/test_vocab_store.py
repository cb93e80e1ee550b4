"""The log-structured vocabulary store: SUM-mergeable
per-(source, token) count partials, generational compaction, the
diversity-tier ingest loop — stream == batch for both the raw counts
and the derived lexical-diversity statistics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from node_js_etl_processor_spark.catalog import load_table
from node_js_etl_processor_spark.operators.diversity import (
    q_simpson_diversity,
    vocab_counts,
)
from node_js_etl_processor_spark.sources.partials_store import (
    append_partials,
    compact_partials,
    write_partials,
)
from node_js_etl_processor_spark.sources.vocab_store import (
    VOCAB,
    diversity_from_store,
    read_vocab_counts,
    token_counts_probe,
)


def _counts_set(df):
    return {(r["source"], r["w"], r["c"]) for r in df.collect()}


def _rows(df):
    cols = sorted(df.columns)
    return {tuple(str(r[c]) for c in cols) for r in df.select(*cols).collect()}


def test_write_append_compact_equals_one_shot(spark, sf_dir, tmp_path):
    """write(old) + append(new) must aggregate to vocab_counts over
    old ∪ new — and the derived diversity statistics must equal the
    batch operator bit-for-bit (identical integer sums feed the
    identical fixed-shape Yule's K expression). Compaction preserves
    the aggregate while folding the partial log."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter("doc_id % 3 != 0")
    new = docs.filter("doc_id % 3 = 0")
    store = str(tmp_path / "vocab")

    write_partials(VOCAB, old, store)
    append_partials(VOCAB, new, store)
    assert _counts_set(read_vocab_counts(spark, store)) == _counts_set(
        vocab_counts(docs)
    )
    want_div = _rows(q_simpson_diversity(docs))
    assert _rows(diversity_from_store(spark, store)) == want_div

    before, after = compact_partials(spark, VOCAB, store)
    assert after < before  # the log really folded
    assert _rows(diversity_from_store(spark, store)) == want_div


def test_token_probe_prunes_to_one_bucket(spark, sf_dir, tmp_path):
    """The per-token probe must carry its bucket as a partition
    filter (1 of 64 directories listed) and return the aggregated
    per-source counts of exactly that token."""
    docs = load_table(spark, sf_dir, "documents")
    store = str(tmp_path / "vocab")
    write_partials(VOCAB, docs, store)

    token = vocab_counts(docs).orderBy(F.desc("c")).first()["w"]
    got = token_counts_probe(spark, store, token)
    rows = got.collect()
    assert rows and all(r["w"] == token for r in rows)
    want = {
        (r["source"], r["c"])
        for r in vocab_counts(docs).filter(F.col("w") == token).collect()
    }
    assert {(r["source"], r["c"]) for r in rows} == want

    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain("formatted")
    plan = buf.getvalue()
    pf = (
        plan.split("PartitionFilters")[1].split("\n")[0]
        if "PartitionFilters" in plan
        else ""
    )
    assert "bucket" in pf, plan


def test_ingest_stream_with_compaction_matches_batch(spark, sf_dir, tmp_path):
    """One stream, one checkpoint, three micro-batches
    (maxFilesPerTrigger=1) with compact_every=2: compaction fires
    mid-stream, and the final counts AND diversity statistics equal
    the one-shot build over the union corpus."""
    import shutil

    from node_js_etl_processor_spark.sources.partials_store import (
        partials_applier,
    )
    from node_js_etl_processor_spark.streaming.markers import start_ingest

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    src = tmp_path / "landing"
    src.mkdir()
    store = str(tmp_path / "vocab")
    for i, pred in enumerate(
        ("doc_id % 3 = 0", "doc_id % 3 = 1", "doc_id % 3 = 2")
    ):
        docs.filter(pred).coalesce(1).write.json(str(src / "f" / f"b{i}"))
    flat = src / "flat"
    flat.mkdir()
    for i in range(3):
        for f in (src / "f" / f"b{i}").glob("part-*.json"):
            shutil.copy(f, flat / f"{i}-{f.name}")

    schema = "doc_id long, text string, source string"
    q = start_ingest(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(flat)),
        partials_applier(VOCAB, store, str(tmp_path / "ck"), compact_every=2),
        str(tmp_path / "ck"),
    )
    q.awaitTermination(180)

    assert _counts_set(read_vocab_counts(spark, store)) == _counts_set(
        vocab_counts(docs)
    )
    assert _rows(diversity_from_store(spark, store)) == _rows(
        q_simpson_diversity(docs)
    )


def test_compaction_purges_crashed_append_no_double_count(
    spark, sf_dir, tmp_path
):
    """As in the span store, a batch that
    crashed mid-publish (tag-* files renamed into the generation, NO
    applied marker) must be PURGED by compaction, not folded — folding
    would seal its rows beyond recover_partial's reach and the
    re-delivered batch would double-count them. And the stale-staging
    twin: a tag WITH its marker (crash between marker and
    cleanup_staging) is a completed batch — its rows fold, only the
    staging tree is dropped."""
    import posixpath

    from node_js_etl_processor_spark.sources.partials_store import (
        _batch_partials,
        _gen_dir,
        partials_applier,
    )
    from node_js_etl_processor_spark.streaming import markers

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter("doc_id % 3 = 0")
    crashed = docs.filter("doc_id % 3 = 1")
    store, ckpt = str(tmp_path / "vstore"), str(tmp_path / "vckpt")
    apply = partials_applier(VOCAB, store, ckpt, compact_every=0)
    apply(base, 0)
    want_base = _counts_set(vocab_counts(base))
    assert _counts_set(read_vocab_counts(spark, store)) == want_base

    # batch 1 crashes after its renames, before its marker: publish
    # via stage_and_publish into the live generation, skip the marker
    tag = markers.marker_id(ckpt, 1)
    gen = _gen_dir(VOCAB, store)
    markers.stage_and_publish(
        gen, tag, {"": (_batch_partials(VOCAB, crashed), "bucket")}
    )

    compact_partials(spark, VOCAB, store)
    # the crashed partial is gone, not folded
    assert _counts_set(read_vocab_counts(spark, store)) == want_base

    # the stream restarts and re-delivers batch 1 through the applier
    apply(crashed, 1)
    want_all = _counts_set(vocab_counts(base.unionByName(crashed)))
    assert _counts_set(read_vocab_counts(spark, store)) == want_all

    # stale-staging twin: batch 2 completed (marker set) but its
    # cleanup crashed — compaction folds its rows and drops the tree
    extra = docs.filter("doc_id % 3 = 2")
    tag2 = markers.marker_id(ckpt, 2)
    gen2 = _gen_dir(VOCAB, store)
    markers.stage_and_publish(
        gen2, tag2, {"": (_batch_partials(VOCAB, extra), "bucket")}
    )
    markers.mark_batch_applied(store, ckpt, 2)
    compact_partials(spark, VOCAB, store)
    want_full = _counts_set(vocab_counts(docs))
    assert _counts_set(read_vocab_counts(spark, store)) == want_full
    staging = posixpath.join(_gen_dir(VOCAB, store), "_staging")
    assert not markers._exists(posixpath.join(staging, tag2))


def test_replay_on_compaction_boundary_does_not_refold(
    spark, sf_dir, tmp_path
):
    """A re-delivered batch whose marker is set and whose batch_id
    lands on a ``compact_every`` boundary reaches the compaction slot
    again, but its first delivery already folded the log: the replay
    must leave the generation pointer (and so every file) as it is,
    not rewrite the whole generation for nothing."""
    from node_js_etl_processor_spark.sources.partials_store import (
        partials_applier,
    )
    from node_js_etl_processor_spark.streaming import markers

    docs = load_table(spark, sf_dir, "documents").limit(60)
    store, ckpt = str(tmp_path / "vstore"), str(tmp_path / "vckpt")
    apply = partials_applier(VOCAB, store, ckpt, compact_every=2)
    apply(docs.filter("doc_id % 2 = 0"), 0)
    apply(docs.filter("doc_id % 2 = 1"), 1)  # appends, then folds
    folded = markers.current_version(store)
    assert folded is not None and folded != f"gen_{markers.marker_id(ckpt, 0)}"

    apply(docs.filter("doc_id % 2 = 1"), 1)  # the replay
    assert markers.current_version(store) == folded
    assert _counts_set(read_vocab_counts(spark, store)) == _counts_set(
        vocab_counts(docs)
    )
