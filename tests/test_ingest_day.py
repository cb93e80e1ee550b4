"""The composed ingest-day scenario: ONE
foreachBatch session runs three multiplexed crawl/CDC drops through
fingerprint dedup → minhash near-dup → simhash near-dup → ANN layout →
BM25 index → link-graph edge store → HLL/HDR sketch stores → SCD2 CDC,
with an injected crash in the MIDDLE drop (inside the BM25 tier's
marker step — after earlier tiers committed, before later tiers ran),
and after restart EVERY store must equal its one-shot batch rebuild.
This is the composition each individually-crash-tested tier exists
for: the crash proves per-tier markers + published-survivor read-back
make the whole day's pipeline re-deliverable, not just each loop in
isolation."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from node_js_etl_processor_spark.catalog import load_table

FEED_SCHEMA = (
    "kind string, doc_id long, text string, lang string, source string, "
    "n_chars long, o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_orderdate date, media_id long, payload_b64 string"
)
SPLIT1, SPLIT2 = "1997-01-01", "1999-06-01"
DOC_SPLITS = (170, 340)
BM25_TERMS = ("spark", "data", "query")


def _null(name: str, typ: str):
    return F.lit(None).cast(typ).alias(name)


def _write_drop(docs, orders, media, dst: str, mtime: int) -> None:
    """One multiplexed drop: doc rows + CDC rows + media rows
    (payloads base64-encoded for the json wire) in one json file with
    a controlled mtime (the file source orders batches by timestamp)."""
    feed = docs.select(
        F.lit("doc").alias("kind"),
        "doc_id", "text", "lang", "source", "n_chars",
        _null("o_orderkey", "long"), _null("o_custkey", "long"),
        _null("o_orderstatus", "string"), _null("o_orderdate", "date"),
        _null("media_id", "long"), _null("payload_b64", "string"),
    ).unionByName(
        orders.select(
            F.lit("order").alias("kind"),
            _null("doc_id", "long"), _null("text", "string"),
            _null("lang", "string"), _null("source", "string"),
            _null("n_chars", "long"),
            "o_orderkey", "o_custkey", "o_orderstatus",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            _null("media_id", "long"), _null("payload_b64", "string"),
        )
    ).unionByName(
        media.select(
            F.lit("image").alias("kind"),
            _null("doc_id", "long"), _null("text", "string"),
            _null("lang", "string"), _null("source", "string"),
            _null("n_chars", "long"),
            _null("o_orderkey", "long"), _null("o_custkey", "long"),
            _null("o_orderstatus", "string"), _null("o_orderdate", "date"),
            "media_id",
            F.base64(F.col("payload")).alias("payload_b64"),
        )
    )
    feed.coalesce(1).write.json(dst)
    for f in os.listdir(dst):
        os.utime(os.path.join(dst, f), (mtime, mtime))


def _store_paths(tmp_path) -> dict:
    return {
        k: str(tmp_path / k)
        for k in (
            "fp_store", "fp_out", "mh_store", "mh_out", "sh_store",
            "sh_out", "ann_store", "ann_out", "img_store", "img_out",
            "bm25", "edges", "hll", "hdr", "kmv", "setkey_store",
            "setkey_out", "spanstore", "vocab", "scd2",
        )
    }


def _ids(df, col: str) -> set:
    return {r[col] for r in df.select(col).collect()}


def _rows(df) -> set:
    cols = sorted(df.columns)
    return {tuple(str(r[c]) for c in cols) for r in df.select(*cols).collect()}


def test_ingest_day_missing_store_root_named_upfront(spark, tmp_path):
    """A caller holding a path dict without a 'kmv'
    root gets a ValueError NAMING the missing store root at applier
    build time, not a bare KeyError mid-construction."""
    from node_js_etl_processor_spark.streaming.ingest_day import (
        ingest_day_applier,
    )

    paths = _store_paths(tmp_path)
    del paths["kmv"]
    embs = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match=r"missing required store root.*'kmv'"):
        ingest_day_applier(paths, str(tmp_path / "ckpt"), embs)


def test_ingest_day_with_midchain_crash_equals_one_shot(
    spark, sf_dir, tmp_path, monkeypatch
):
    from node_js_etl_processor_spark.operators.dedup import (
        fingerprint,
        minhash_near_dup_keepers,
        q_dedup_docs,
        simhash_band_postings_from_sigs,
        simhash_pairs,
        simhash_signatures_numpy,
    )
    from node_js_etl_processor_spark.operators.graph import link_graph_edges
    from node_js_etl_processor_spark.operators.relational import q_scd2
    from node_js_etl_processor_spark.operators.similarity import (
        embedding_near_dup_keepers,
    )
    from node_js_etl_processor_spark.operators.sketch import (
        hdr_sketch,
        hll_registers,
    )
    from node_js_etl_processor_spark.sources.bm25_index import (
        bm25_from_index,
        write_bm25_index,
    )
    from node_js_etl_processor_spark.sources.graph_store import read_edge_graph
    from node_js_etl_processor_spark.sources.scd2_store import read_scd2_store
    from node_js_etl_processor_spark.sources.similarity_layout import (
        ann_probe,
        write_ann_layout,
    )
    from node_js_etl_processor_spark.streaming import markers
    from node_js_etl_processor_spark.streaming.ingest_day import ingest_day_stream
    from node_js_etl_processor_spark.streaming.sketches import read_sketch_store

    from node_js_etl_processor_spark.operators.phash import (
        image_dhash,
        synth_phash_media,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"
    )
    embs = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # media lane feed: the mixed-format perceptual-dedup synth
    # (planted cross-format trios + WebP refusals), media_id == doc_id
    media = (
        synth_phash_media(load_table(spark, sf_dir, "documents"))
        .select("media_id", "payload")
        .localCheckpoint(eager=True)
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    doc_slices = (
        docs.filter(F.col("doc_id") < DOC_SPLITS[0]),
        docs.filter(
            (F.col("doc_id") >= DOC_SPLITS[0]) & (F.col("doc_id") < DOC_SPLITS[1])
        ),
        docs.filter(F.col("doc_id") >= DOC_SPLITS[1]),
    )
    cdc_slices = (
        orders.filter(F.col("o_orderdate") < SPLIT1),
        orders.filter(
            (F.col("o_orderdate") >= SPLIT1) & (F.col("o_orderdate") < SPLIT2)
        ),
        orders.filter(F.col("o_orderdate") >= SPLIT2),
    )
    media_slices = (
        media.filter(F.col("media_id") < DOC_SPLITS[0]),
        media.filter(
            (F.col("media_id") >= DOC_SPLITS[0])
            & (F.col("media_id") < DOC_SPLITS[1])
        ),
        media.filter(F.col("media_id") >= DOC_SPLITS[1]),
    )
    for i, (d, o, m) in enumerate(zip(doc_slices, cdc_slices, media_slices)):
        _write_drop(d, o, m, str(landing / f"drop{i}"), mtime=1_000_000 + i * 1000)

    paths = _store_paths(tmp_path)
    ckpt = str(tmp_path / "ckpt")

    def feed():
        return (
            spark.readStream.schema(FEED_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(landing) + "/*")
        )

    # ---- run with a crash injected in drop 2's BM25 tier: the batch's
    # earlier tiers (dedup chain + ANN) commit, BM25 publishes but dies
    # before its marker, the later tiers never run this delivery
    real_mark = markers.mark_batch_applied
    crashes: list = []

    def boom(path, checkpoint, batch_id):
        # every staged-append tier marks through markers; only the
        # bm25 store's marker crashes, so the dedup chain commits first
        if batch_id == 1 and path == paths["bm25"]:
            crashes.append(batch_id)
            raise RuntimeError("injected crash in bm25 tier, drop 2")
        return real_mark(path, checkpoint, batch_id)

    monkeypatch.setattr(markers, "mark_batch_applied", boom)
    # count compactions across BOTH runs with a SEPARATE MonkeyPatch
    # instance (the bm25 crash's monkeypatch.undo() must not remove
    # the counters): the vocab lane compacts at batch 1 of the first
    # run (its tier commits before the bm25 crash; the marker-hit
    # replay reaches compact_partials, which returns early because the
    # generation holds no batch-tagged file, so that is its only fold),
    # the edges tier applies batch 1 fresh on restart and folds there
    from _pytest.monkeypatch import MonkeyPatch

    from node_js_etl_processor_spark.sources import partials_store

    folds = {"vocab": 0, "edges": 0}
    lanes = {paths["vocab"]: "vocab", paths["edges"]: "edges"}
    real_compact = partials_store.compact_partials

    def count_compact(spark_, spec_, path_):
        folds[lanes[path_]] += 1
        return real_compact(spark_, spec_, path_)

    mp_folds = MonkeyPatch()
    mp_folds.setattr(partials_store, "compact_partials", count_compact)

    try:
        # compact_every=2: the composed loop must reach
        # the vocab lane's compaction slot — previously never plumbed,
        # so the highest-fan-out partial log grew without bound
        q = ingest_day_stream(feed(), paths, ckpt, embs, compact_every=2)
        with pytest.raises(Exception):
            q.awaitTermination(600)
        assert crashes, "the injected crash never fired"
        monkeypatch.undo()

        # ---- restart the SAME checkpoint: drop 2 re-delivers (dedup
        # tiers return their published survivors, BM25 recovers its
        # partial publish and re-applies, the later tiers apply
        # fresh), drop 3 runs
        q = ingest_day_stream(feed(), paths, ckpt, embs, compact_every=2)
        q.awaitTermination(600)
        assert folds["vocab"] >= 1 and folds["edges"] >= 1, folds
    finally:
        mp_folds.undo()

    # ---- one-shot rebuild of the whole day
    exact_ids = _ids(q_dedup_docs(docs), "doc_id")
    e_docs = docs.filter(F.col("doc_id").isin(exact_ids)).localCheckpoint(
        eager=True
    )
    m_docs = minhash_near_dup_keepers(e_docs).localCheckpoint(eager=True)
    sim_drop = {
        max(r["doc_a"], r["doc_b"])
        for r in simhash_pairs(m_docs, portable=False).collect()
    }
    s_docs = m_docs.filter(~F.col("doc_id").isin(sim_drop)).localCheckpoint(
        eager=True
    )
    e_embs = embs.join(
        e_docs.select(F.col("doc_id").alias("vec_id")), "vec_id"
    ).localCheckpoint(eager=True)

    # survivor outputs tier by tier
    assert _ids(spark.read.parquet(paths["fp_out"]), "doc_id") == exact_ids
    assert _ids(spark.read.parquet(paths["mh_out"]), "doc_id") == _ids(
        m_docs, "doc_id"
    )
    got_s = _ids(spark.read.parquet(paths["sh_out"]), "doc_id")
    assert got_s == _ids(s_docs, "doc_id") and len(got_s) > 0
    assert _ids(spark.read.parquet(paths["ann_out"]), "vec_id") == _ids(
        embedding_near_dup_keepers(e_embs), "vec_id"
    )
    # media lane: streamed survivors == the one-shot perceptual
    # keepers (min-media_id per dHash group) + refused pass-throughs,
    # and the dHash store holds every ok key SEEN — arrival in
    # media_id order makes the stream decision-identical to the batch
    from pyspark.sql.window import Window as _Window

    hashed_all = image_dhash(media).localCheckpoint(eager=True)
    ok_all = hashed_all.filter(F.col("ok") == "true")
    w_img = _Window.partitionBy("dhash")
    img_keep = ok_all.withColumn(
        "_min", F.min("media_id").over(w_img)
    ).filter(F.col("media_id") == F.col("_min"))
    want_img = _ids(img_keep, "media_id") | _ids(
        hashed_all.filter(F.col("ok") != "true"), "media_id"
    )
    got_img = _ids(spark.read.parquet(paths["img_out"]), "media_id")
    assert got_img == want_img and len(got_img) > 0
    img_store = spark.read.parquet(paths["img_store"])
    assert _rows(
        img_store.filter(F.col("kind") == "dhash").select("key")
    ) == _rows(ok_all.select(F.col("dhash").alias("key")).distinct())
    assert _ids(
        img_store.filter(F.col("kind") == "refused").select(
            F.col("key").cast("long").alias("media_id")
        ),
        "media_id",
    ) == _ids(hashed_all.filter(F.col("ok") != "true"), "media_id")
    # the planted trios actually deduped across drops: survivors are
    # a strict subset of the ok rows
    assert len(got_img) < media.count()

    # stores equal their one-shot builds
    assert _rows(spark.read.parquet(paths["fp_store"])) == _rows(
        e_docs.select(fingerprint(F.col("text")).alias("fp")).distinct()
    )
    # near-dup stores hold everything SEEN (all exact survivors /
    # all minhash survivors), not just their own keepers
    assert _rows(
        spark.read.parquet(paths["sh_store"]).select(
            "band", "chunk", "doc_id", "sig"
        )
    ) == _rows(
        simhash_band_postings_from_sigs(
            simhash_signatures_numpy(m_docs, drop_tokenless=True)
        )
    )
    probe_vec = [float(x) for x in embs.orderBy("vec_id").first()["embedding"]]
    one_ann = str(tmp_path / "one_ann")
    write_ann_layout(e_embs, one_ann, n_planes=8, n_cells=8)
    got_knn = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in ann_probe(spark, paths["ann_store"], probe_vec, k=10).collect()
    ]
    want_knn = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in ann_probe(spark, one_ann, probe_vec, k=10).collect()
    ]
    assert got_knn == want_knn and len(got_knn) == 10

    one_bm25 = str(tmp_path / "one_bm25")
    write_bm25_index(s_docs, one_bm25)
    got_scores = {
        (r["doc_id"], round(r["bm25"], 9))
        for r in bm25_from_index(spark, paths["bm25"], BM25_TERMS).collect()
    }
    want_scores = {
        (r["doc_id"], round(r["bm25"], 9))
        for r in bm25_from_index(spark, one_bm25, BM25_TERMS).collect()
    }
    assert got_scores == want_scores and len(got_scores) > 0

    assert _rows(read_edge_graph(spark, paths["edges"])) == _rows(
        link_graph_edges(s_docs)
    )
    assert _rows(read_sketch_store(spark, paths["hll"])) == _rows(
        hll_registers(s_docs, "lang", "doc_id")
    )
    assert _rows(read_sketch_store(spark, paths["hdr"])) == _rows(
        hdr_sketch(s_docs, "lang", "n_chars")
    )
    # the theta-sketch tier — streamed (g, h) store equals the
    # one-shot KMV sketch of the day's survivors, and the estimates
    # read path composes on top unchanged
    from node_js_etl_processor_spark.operators.kmv import (
        kmv_estimates,
        kmv_sketch,
    )
    from node_js_etl_processor_spark.streaming.theta import (
        _pack,
        read_kmv_sketch,
    )

    want_sk = kmv_sketch(s_docs, "source", "doc_id")
    assert _rows(read_sketch_store(spark, paths["kmv"])) == _rows(
        _pack(want_sk)
    )
    assert _rows(kmv_estimates(read_kmv_sketch(spark, paths["kmv"]))) == _rows(
        kmv_estimates(want_sk)
    )
    # the set-key collapse tier — streamed survivors equal the
    # one-shot template-collapse representatives (min doc_id per
    # DISTINCT token set; doc_id-ordered drops make the stream
    # decision-identical), and the store holds every distinct set_key
    from node_js_etl_processor_spark.operators.setsim import (
        exact_set_reps,
        packed_sets,
    )

    sets_all = packed_sets(docs)
    reps_all = exact_set_reps(sets_all)
    got_sk = _ids(spark.read.parquet(paths["setkey_out"]), "doc_id")
    assert got_sk == _ids(reps_all, "doc_id") and len(got_sk) > 0
    # the collapse actually collapsed something (templated corpus)
    assert len(got_sk) < docs.count()
    assert _rows(spark.read.parquet(paths["setkey_store"])) == _rows(
        sets_all.select("set_key").distinct()
    )
    # the shingle-postings tier — extents read from the streamed
    # store equal the one-shot span query over the whole corpus
    from node_js_etl_processor_spark.operators.spans import q_span_extents
    from node_js_etl_processor_spark.streaming.spanstore import (
        read_span_extents,
    )

    got_sp = _rows(read_span_extents(spark, paths["spanstore"]))
    assert got_sp == _rows(q_span_extents(docs)) and len(got_sp) > 0
    # the vocabulary tier — diversity statistics read from the
    # streamed store equal the one-shot operator over the whole corpus
    # (raw doc lane, like the set-key and span tiers)
    from node_js_etl_processor_spark.operators.diversity import (
        q_simpson_diversity,
    )
    from node_js_etl_processor_spark.sources.vocab_store import (
        diversity_from_store,
    )

    got_dv = _rows(diversity_from_store(spark, paths["vocab"]))
    assert got_dv == _rows(q_simpson_diversity(docs)) and len(got_dv) > 0
    assert _rows(read_scd2_store(spark, paths["scd2"])) == _rows(q_scd2(orders))
