"""The log-structured edge store: mergeable edge partials,
generational compaction, the graph-tier ingest loop, and the stored
PageRank composition — stream == batch through compactions and
injected crashes."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from node_js_etl_processor_spark.catalog import load_table
from node_js_etl_processor_spark.operators.graph import (
    domain_pagerank,
    link_graph_edges,
)
from node_js_etl_processor_spark.sources.graph_store import (
    EDGES,
    domain_outlinks,
    domain_pagerank_from_store,
    read_edge_graph,
)
from node_js_etl_processor_spark.sources.partials_store import (
    append_partials,
    compact_partials,
    write_partials,
)


def _edges_set(df):
    return {
        (r["src_domain"], r["dst_domain"], r["n_links"]) for r in df.collect()
    }


def test_write_append_compact_equals_one_shot(spark, sf_dir, tmp_path):
    """write(old) + append(new) must aggregate to link_graph_edges
    over old ∪ new; compaction preserves the aggregate exactly while
    folding the partial log into fewer files."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter("doc_id % 3 != 0")
    new = docs.filter("doc_id % 3 = 0")
    store = str(tmp_path / "edges")

    write_partials(EDGES, old, store)
    append_partials(EDGES, new, store)
    want = _edges_set(link_graph_edges(docs))
    assert _edges_set(read_edge_graph(spark, store)) == want

    n_parquet_before = sum(
        1 for _r, _d, fs in os.walk(store) for f in fs if f.endswith(".parquet")
    )
    before, after = compact_partials(spark, EDGES, store)
    assert after < before  # the log really folded
    assert _edges_set(read_edge_graph(spark, store)) == want
    n_parquet_after = sum(
        1 for _r, _d, fs in os.walk(store) for f in fs if f.endswith(".parquet")
    )
    assert n_parquet_after < n_parquet_before

    # further appends after compaction keep aggregating correctly —
    # iterate the UNION of expected pairs so a dropped pair fails
    append_partials(EDGES, new, store)
    got = {
        (s, d): n for s, d, n in _edges_set(read_edge_graph(spark, store))
    }
    base = {(a, b): c for a, b, c in want}
    extra = {
        (s, d): n for s, d, n in _edges_set(link_graph_edges(new))
    }
    assert set(got) == set(base) | set(extra)
    for pair in set(base) | set(extra):
        assert got[pair] == base.get(pair, 0) + extra.get(pair, 0), pair


def test_domain_outlinks_prunes_to_one_bucket(spark, sf_dir, tmp_path):
    """The per-domain probe must carry its bucket as a partition
    filter (1 of 32 directories listed) and return the aggregated
    outlinks of exactly that domain."""
    docs = load_table(spark, sf_dir, "documents")
    store = str(tmp_path / "edges")
    write_partials(EDGES, docs, store)

    got = domain_outlinks(spark, store, "d1.example")
    rows = got.collect()
    assert rows and all(r["src_domain"] == "d1.example" for r in rows)
    want = {
        (r["dst_domain"], r["n_links"])
        for r in link_graph_edges(docs)
        .filter(F.col("src_domain") == "d1.example")
        .collect()
    }
    assert {(r["dst_domain"], r["n_links"]) for r in rows} == want

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
    (maxFilesPerTrigger=1) with compact_every=2: compaction must
    ACTUALLY fire mid-stream (generation changes, file count stays
    bounded), the final graph must equal the one-shot build, and the
    stored PageRank must rank-match the batch composition."""
    from node_js_etl_processor_spark.sources.partials_store import (
        _gen_dir,
        partials_applier,
    )
    from node_js_etl_processor_spark.streaming.markers import start_ingest

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = tmp_path / "landing"
    src.mkdir()
    store = str(tmp_path / "edges")
    # one file per batch under ONE source dir -> batch ids 0, 1, 2
    docs.filter("doc_id % 3 = 0").coalesce(1).write.json(str(src / "f" / "b1"))
    docs.filter("doc_id % 3 = 1").coalesce(1).write.json(str(src / "f" / "b2"))
    docs.filter("doc_id % 3 = 2").coalesce(1).write.json(str(src / "f" / "b3"))
    import shutil

    flat = src / "flat"
    flat.mkdir()
    for i, sub in enumerate(("b1", "b2", "b3")):
        for f in (src / "f" / sub).glob("part-*.json"):
            shutil.copy(f, flat / f"{i}-{f.name}")

    schema = "doc_id long, text string"
    q = start_ingest(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(flat)),
        partials_applier(EDGES, store, str(tmp_path / "ck"), compact_every=2),
        str(tmp_path / "ck"),
    )
    q.awaitTermination(180)

    want = _edges_set(link_graph_edges(docs))
    assert _edges_set(read_edge_graph(spark, store)) == want
    # compaction really ran: batch 1 folded generations, so the live
    # generation is NOT the bootstrap generation, and the live file
    # count is bounded by O(buckets) + the post-fold appends
    gen = _gen_dir(EDGES, store)
    assert "gen_" in gen
    from node_js_etl_processor_spark.streaming.markers import _walk_files

    tags = {f.split("-")[0] for _rel, f in _walk_files(gen) if "-" in f}
    # the bootstrap batch's tag must have been folded away
    from node_js_etl_processor_spark.streaming.markers import marker_id

    assert marker_id(str(tmp_path / "ck"), 0) not in tags

    got = {
        (r["node"], r["pagerank"], r["rank"])
        for r in domain_pagerank_from_store(
            spark, store, eps=1e-8, max_iter=100
        ).collect()
    }
    wantpr = {
        (r["node"], r["pagerank"], r["rank"])
        for r in domain_pagerank(docs, eps=1e-8, max_iter=100).collect()
    }
    assert got == wantpr and len(got) > 0


def test_ingest_stream_recovers_append_crash(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Crash between an append's publish and its marker: re-delivery
    purges the partial publish and republishes — edge counts land
    exactly once (a replay under a plain append would have
    doubled every pair the batch touched)."""
    from node_js_etl_processor_spark.sources import partials_store
    from node_js_etl_processor_spark.streaming.markers import start_ingest

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = tmp_path / "landing"
    src.mkdir()
    store = str(tmp_path / "edges")
    docs.filter("doc_id < 250").coalesce(1).write.json(str(src / "b1"))
    docs.filter("doc_id >= 250").coalesce(1).write.json(str(src / "b2"))
    schema = "doc_id long, text string"

    q = start_ingest(
        spark.readStream.schema(schema).json(str(src / "b1")),
        partials_store.partials_applier(EDGES, store, str(tmp_path / "ck1")),
        str(tmp_path / "ck1"),
    )
    q.awaitTermination(120)

    calls: list = []

    def boom(*a, **k):
        calls.append(a)
        raise RuntimeError("injected crash before marker")

    monkeypatch.setattr(partials_store, "mark_batch_applied", boom)
    q = start_ingest(
        spark.readStream.schema(schema).json(str(src / "b2")),
        partials_store.partials_applier(EDGES, store, str(tmp_path / "ck2")),
        str(tmp_path / "ck2"),
    )
    with pytest.raises(Exception):
        q.awaitTermination(120)
    assert calls
    monkeypatch.undo()

    q = start_ingest(
        spark.readStream.schema(schema).json(str(src / "b2")),
        partials_store.partials_applier(EDGES, store, str(tmp_path / "ck2")),
        str(tmp_path / "ck2"),
    )
    q.awaitTermination(120)

    assert _edges_set(read_edge_graph(spark, store)) == _edges_set(
        link_graph_edges(docs)
    )


def test_bfs_hops_from_store_equals_batch(spark, sf_dir, tmp_path):
    """The streamed edge store answers the BFS read
    identically to the batch operator over the same corpus — through
    an append AND a compaction (edge multiplicity differs between a
    partial log and a folded generation, which must be invisible to
    the unweighted BFS)."""
    from node_js_etl_processor_spark.operators.paths import (
        bfs_hops_from_store,
        q_bfs_hops,
    )

    docs = load_table(spark, sf_dir, "documents")
    store = str(tmp_path / "edges")
    write_partials(EDGES, docs.filter("doc_id % 3 != 0"), store)
    append_partials(EDGES, docs.filter("doc_id % 3 = 0"), store)

    want = sorted(tuple(r) for r in q_bfs_hops(docs).collect())
    got = sorted(
        tuple(r) for r in bfs_hops_from_store(spark, store).collect()
    )
    assert got == want and len(want) > 0

    compact_partials(spark, EDGES, store)
    got2 = sorted(
        tuple(r) for r in bfs_hops_from_store(spark, store).collect()
    )
    assert got2 == want


def test_edge_store_compaction_purges_inflight_publish(
    spark, sf_dir, tmp_path
):
    """Guard (the span/vocab-store discipline applied to the
    edge store): a batch that crashed AFTER renaming its partials
    into the live generation but BEFORE its applied marker leaves a
    live _staging/<tag>/_PUBLISHING manifest inside that generation.
    Compaction must NOT fold those rows — the fold copies them into
    an anonymous file in a FRESH generation and then GC's the old one
    (manifest included), putting them beyond recover_partial's reach;
    the re-delivered batch would republish on top and double-count
    every edge it touched. The guard purges the unmarked tag before
    the fold, the re-delivery then lands the batch exactly once, and
    a marked-but-staging-left twin (crash between marker and cleanup)
    still folds its rows, so a batch the stream never re-delivers
    cannot sit unfolded forever."""
    import posixpath

    from node_js_etl_processor_spark.sources import partials_store
    from node_js_etl_processor_spark.streaming import markers

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    a_docs = docs.filter("doc_id % 2 = 0")
    b_docs = docs.filter("doc_id % 2 = 1")
    store, ckpt = str(tmp_path / "edges"), str(tmp_path / "ckpt")
    apply_batch = partials_store.partials_applier(EDGES, store, ckpt)
    apply_batch(a_docs, 0)

    # batch 1 crashes between its last rename and its marker
    tag = markers.marker_id(ckpt, 1)
    gen_path = posixpath.join(store, markers.current_version(store))
    markers.stage_and_publish(
        gen_path,
        tag,
        {"": (partials_store._batch_partials(EDGES, b_docs), "bucket")},
    )
    # the partial rows ARE in the live generation pre-compaction
    assert _edges_set(read_edge_graph(spark, store)) == _edges_set(
        link_graph_edges(docs)
    )

    before, _after = compact_partials(spark, EDGES, store)
    # the unmarked batch's rows were purged, not folded
    want_a = _edges_set(link_graph_edges(a_docs))
    assert _edges_set(read_edge_graph(spark, store)) == want_a

    # the stream restarts and re-delivers batch 1: exactly once
    apply_batch(b_docs, 1)
    want_all = _edges_set(link_graph_edges(docs))
    assert _edges_set(read_edge_graph(spark, store)) == want_all
    compact_partials(spark, EDGES, store)
    assert _edges_set(read_edge_graph(spark, store)) == want_all

    # marked-but-staging-left twin: a COMPLETED batch whose
    # cleanup_staging crashed must still fold (rows are final)
    c_docs = a_docs.limit(9).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    tag2 = markers.marker_id(ckpt, 2)
    gen_path2 = posixpath.join(store, markers.current_version(store))
    markers.stage_and_publish(
        gen_path2,
        tag2,
        {"": (partials_store._batch_partials(EDGES, c_docs), "bucket")},
    )
    markers.mark_batch_applied(store, ckpt, 2)
    compact_partials(spark, EDGES, store)
    got = {(s, d): n for s, d, n in _edges_set(read_edge_graph(spark, store))}
    base = {(s, d): n for s, d, n in want_all}
    extra = {(s, d): n for s, d, n in _edges_set(link_graph_edges(c_docs))}
    assert set(got) == set(base) | set(extra)
    for pair in got:
        assert got[pair] == base.get(pair, 0) + extra.get(pair, 0), pair
    # the old generation (and with it the stale staging) was GC'd
    assert not markers._exists(posixpath.join(gen_path2, "_staging", tag2))
