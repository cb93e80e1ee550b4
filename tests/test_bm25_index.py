"""BM25 postings index: stored-form scoring must equal the on-the-fly
ranker, prune the scan to the query terms' buckets, and never read
text."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from node_js_etl_processor_spark.catalog import load_table
from node_js_etl_processor_spark.operators.text import BM25_QUERY_TERMS, bm25_scores
from node_js_etl_processor_spark.sources.bm25_index import (
    N_TERM_BUCKETS,
    bm25_from_index,
    write_bm25_index,
)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_index_scores_equal_on_the_fly(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "bm25")
    write_bm25_index(docs, path)

    got = {
        r["doc_id"]: r["bm25"]
        for r in bm25_from_index(spark, path, BM25_QUERY_TERMS).collect()
    }
    want = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(docs, BM25_QUERY_TERMS).collect()
    }
    assert got == want and len(got) > 0

    # a different term set works off the same index
    got2 = bm25_from_index(spark, path, ("the", "data")).count()
    want2 = bm25_scores(docs, ("the", "data")).count()
    assert got2 == want2


def test_index_probe_prunes_and_reads_no_text(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "bm25")
    write_bm25_index(docs, path)

    df = bm25_from_index(spark, path, BM25_QUERY_TERMS)
    plan = _plan(df)
    # bucket pruning reaches the postings scan as a PartitionFilters
    # entry, and no scan in the plan reads a text column
    pf_segments = [seg.split("\n")[0] for seg in plan.split("PartitionFilters:")[1:]]
    assert any("term_bucket" in seg for seg in pf_segments)
    for seg in plan.split("ReadSchema:")[1:]:
        assert "text" not in seg.split("\n")[0]

    # the layout fans out to at most N_TERM_BUCKETS directories
    import glob

    dirs = glob.glob(f"{path}/postings/term_bucket=*")
    assert 1 < len(dirs) <= N_TERM_BUCKETS


def test_hybrid_search_from_stores_matches_exact_form(spark, sf_dir, tmp_path):
    """The claimed 100 TB retrieval shape, executed end to end —
    bm25_from_index ⊕ ivfpq_probe(rescore) fused through rrf_fuse,
    compared against the declared exact form q_hybrid_search on the
    same fixture. Sparse fidelity is EXACT (same bm25 per doc, pinned
    here on the fused rows and separately by
    test_index_scores_equal_on_the_fly); dense divergence is the ANN
    approximation only, gated as overlap@k (measured number recorded
    in SCALE.md)."""
    from node_js_etl_processor_spark.operators import retrieval
    from node_js_etl_processor_spark.operators.similarity import _probe_vector
    from node_js_etl_processor_spark.sources.similarity_layout import (
        write_ann_layout,
    )

    docs = load_table(spark, sf_dir, "documents")
    embs = load_table(spark, sf_dir, "embeddings")
    bm25_path = str(tmp_path / "bm25")
    ann_path = str(tmp_path / "ann")
    write_bm25_index(docs, bm25_path)
    write_ann_layout(embs, ann_path)
    probe = _probe_vector(embs, 0)

    exact = retrieval.q_hybrid_search(docs, embs).collect()
    stores = retrieval.hybrid_search_from_stores(
        spark, bm25_path, ann_path, probe, exclude_vec_id=0
    ).collect()
    assert [r["doc_id"] for r in exact] and [r["doc_id"] for r in stores]
    assert len(stores) == len(exact) == 10

    # sparse branch fidelity: wherever BOTH forms rank a doc on the
    # bm25 side, the scores are identical to the 4-decimal store form
    e_bm25 = {r["doc_id"]: r["bm25"] for r in exact if r["bm25"] is not None}
    s_bm25 = {r["doc_id"]: r["bm25"] for r in stores if r["bm25"] is not None}
    shared = set(e_bm25) & set(s_bm25)
    assert shared, "no bm25-ranked docs shared between the two forms"
    assert all(e_bm25[d] == s_bm25[d] for d in shared)

    # dense branch: ANN approximation gated by fused-top-k overlap
    overlap = len({r["doc_id"] for r in exact} & {r["doc_id"] for r in stores})
    print(f"HYBRID_STORES_OVERLAP@10 = {overlap}/10")
    assert overlap >= 6, overlap


def test_append_equals_rebuild_and_touches_nothing(spark, sf_dir, tmp_path):
    """Write(old) + append(new) must score EXACTLY like a fresh
    index over old ∪ new (df/stats partials merge in the reader), and
    the append must leave every pre-existing parquet file untouched
    (name AND mtime) — maintenance is O(|batch|), never a rewrite."""
    import os

    from node_js_etl_processor_spark.sources.bm25_index import append_bm25_index

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 4 != 0)
    new = docs.filter(F.col("doc_id") % 4 == 0)

    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    write_bm25_index(old, inc)

    before = {}
    for root, _d, files in os.walk(inc):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                before[p] = os.path.getmtime(p)

    append_bm25_index(new, inc)
    write_bm25_index(docs, full)

    for p, m in before.items():
        assert os.path.exists(p) and os.path.getmtime(p) == m, p

    for terms in (BM25_QUERY_TERMS, ("the", "data")):
        got = {
            r["doc_id"]: r["bm25"]
            for r in bm25_from_index(spark, inc, terms).collect()
        }
        want = {
            r["doc_id"]: r["bm25"]
            for r in bm25_from_index(spark, full, terms).collect()
        }
        assert got == want and len(got) > 0
    # and still equal to the on-the-fly ranker over the union
    exact = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(docs, BM25_QUERY_TERMS).collect()
    }
    got = {
        r["doc_id"]: r["bm25"]
        for r in bm25_from_index(spark, inc, BM25_QUERY_TERMS).collect()
    }
    assert got == exact


def test_bm25_index_stream_matches_batch(spark, sf_dir, tmp_path):
    """Three streamed drops through bm25_index_stream must leave
    an index scoring identically to the one-shot build (stream ==
    batch for the retrieval tier's ingest loop)."""
    from node_js_etl_processor_spark.streaming.indexing import bm25_index_stream

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = tmp_path / "landing"
    src.mkdir()
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")

    docs.filter("doc_id < 150").coalesce(1).write.json(str(src / "b1"))
    docs.filter("doc_id >= 150 AND doc_id < 300").coalesce(1).write.json(
        str(src / "b2")
    )
    docs.filter("doc_id >= 300").coalesce(1).write.json(str(src / "b3"))

    schema = "doc_id long, text string"
    for batch in ("b1", "b2", "b3"):
        q = bm25_index_stream(
            spark.readStream.schema(schema).json(str(src / batch)),
            idx,
            ckpt + batch,
        )
        q.awaitTermination(120)

    full = str(tmp_path / "full")
    write_bm25_index(docs, full)
    got = {
        r["doc_id"]: r["bm25"]
        for r in bm25_from_index(spark, idx, BM25_QUERY_TERMS).collect()
    }
    want = {
        r["doc_id"]: r["bm25"]
        for r in bm25_from_index(spark, full, BM25_QUERY_TERMS).collect()
    }
    assert got == want and len(got) > 0


def test_hybrid_from_incrementally_built_stores_equals_one_shot(
    spark, sf_dir, tmp_path
):
    """The end-to-end retrieval surface over stores built
    INCREMENTALLY (bm25 write+append, ANN layout write+append) must
    return exactly the result of the same probe over one-shot
    stores — the composition guarantee that makes the ingest loops
    safe to run under a live retrieval tier."""
    from node_js_etl_processor_spark.operators import retrieval
    from node_js_etl_processor_spark.operators.similarity import _probe_vector
    from node_js_etl_processor_spark.sources.bm25_index import append_bm25_index
    from node_js_etl_processor_spark.sources.similarity_layout import (
        append_ann_layout,
        write_ann_layout,
    )

    docs = load_table(spark, sf_dir, "documents")
    embs = load_table(spark, sf_dir, "embeddings")
    probe = _probe_vector(embs, 0)

    inc_bm, inc_ann = str(tmp_path / "ibm"), str(tmp_path / "iann")
    one_bm, one_ann = str(tmp_path / "obm"), str(tmp_path / "oann")
    write_bm25_index(docs.filter(F.col("doc_id") % 3 != 0), inc_bm)
    append_bm25_index(docs.filter(F.col("doc_id") % 3 == 0), inc_bm)
    write_ann_layout(embs.filter(F.col("vec_id") % 3 != 0), inc_ann)
    append_ann_layout(embs.filter(F.col("vec_id") % 3 == 0), inc_ann)
    write_bm25_index(docs, one_bm)
    write_ann_layout(embs, one_ann)

    got = [
        tuple(r)
        for r in retrieval.hybrid_search_from_stores(
            spark, inc_bm, inc_ann, probe, exclude_vec_id=0
        ).collect()
    ]
    want = [
        tuple(r)
        for r in retrieval.hybrid_search_from_stores(
            spark, one_bm, one_ann, probe, exclude_vec_id=0
        ).collect()
    ]
    assert got == want and len(got) == 10


def test_reader_rejects_pre_partials_stats_layout(spark, sf_dir, tmp_path):
    """An index whose stats were written by the
    older layout — (n_docs, avgdl) finals instead of mergeable
    (n_docs, sum_dl) partials — must fail with an actionable
    rebuild-the-index error, not an unresolved-column analysis
    exception."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "stale")
    write_bm25_index(docs, idx)
    # devolve the stats dir to the pre-partials layout
    stale = spark.read.parquet(f"{idx}/stats").select(
        "n_docs", (F.col("sum_dl") / F.col("n_docs")).alias("avgdl")
    ).localCheckpoint(eager=True)
    stale.write.mode("overwrite").parquet(f"{idx}/stats")
    with _pytest.raises(ValueError, match="rebuild the index"):
        bm25_from_index(spark, idx, BM25_QUERY_TERMS)


def test_compaction_is_score_identical_and_folds_files(spark, sf_dir, tmp_path):
    """Write + 2 appends -> compact must score identically to
    the appended store AND to the on-the-fly ranker, with the file
    count reset (df/stats partials folded, postings coalesced)."""
    import os

    from node_js_etl_processor_spark.sources.bm25_index import (
        append_bm25_index,
        compact_bm25_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    src = str(tmp_path / "log")
    dst = str(tmp_path / "compact")
    write_bm25_index(docs.filter("doc_id % 3 = 0"), src)
    append_bm25_index(docs.filter("doc_id % 3 = 1"), src)
    append_bm25_index(docs.filter("doc_id % 3 = 2"), src)

    def n_files(p):
        return sum(
            1 for _r, _d, fs in os.walk(p) for f in fs if f.endswith(".parquet")
        )

    compact_bm25_index(spark, src, dst)
    for terms in (BM25_QUERY_TERMS, ("the", "data")):
        got = {
            r["doc_id"]: r["bm25"]
            for r in bm25_from_index(spark, dst, terms).collect()
        }
        want = {
            r["doc_id"]: r["bm25"]
            for r in bm25_from_index(spark, src, terms).collect()
        }
        assert got == want and len(got) > 0
    exact = {
        r["doc_id"]: r["bm25"] for r in bm25_scores(docs, BM25_QUERY_TERMS).collect()
    }
    assert {
        r["doc_id"]: r["bm25"]
        for r in bm25_from_index(spark, dst, BM25_QUERY_TERMS).collect()
    } == exact
    # stats partials really folded: 3 rows -> 1; file count shrank
    assert spark.read.parquet(f"{dst}/stats").count() == 1
    assert spark.read.parquet(f"{src}/stats").count() == 3
    assert n_files(dst) < n_files(src)
