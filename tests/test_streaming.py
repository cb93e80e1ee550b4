"""Structured Streaming end-to-end tests (file source → memory/parquet
sink, availableNow trigger so every query terminates)."""

from __future__ import annotations

import json

import pytest

from node_js_etl_processor_spark.catalog import load_table
from node_js_etl_processor_spark.streaming.refresh import file_stream_refresh
from node_js_etl_processor_spark.streaming.sessions import (
    session_windows,
    windowed_counts,
)


@pytest.fixture()
def events_stream(spark, sf_dir, tmp_path):
    """Replay the events fixture as a file stream with the same schema."""
    src = str(tmp_path / "events_src")
    batch = load_table(spark, sf_dir, "events")
    batch.write.mode("overwrite").parquet(src)
    return spark.readStream.schema(batch.schema).parquet(src), batch


def _run_to_memory(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_windowed_counts_matches_batch(spark, events_stream):
    stream_df, batch = events_stream
    _run_to_memory(windowed_counts(stream_df), "win_counts")
    got = spark.sql("SELECT sum(n_events) AS n FROM win_counts").first()["n"]
    assert got == batch.count()


def test_session_windows_state_bounded(spark, events_stream):
    stream_df, batch = events_stream
    _run_to_memory(session_windows(stream_df), "sess")
    out = spark.table("sess")
    assert out.count() > 0
    # every event lands in exactly one session
    got = spark.sql("SELECT sum(n_events) AS n FROM sess").first()["n"]
    assert got == batch.count()


def test_file_stream_refresh_incremental(spark, tmp_path):
    """availableNow refresh: first run picks up file 1; second run
    processes ONLY the newly-landed file (checkpoint-tracked)."""
    src = tmp_path / "landing"
    out = str(tmp_path / "staged")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    row1 = {"name": "A U", "country": "X", "web_pages": ["w"], "domains": ["d"]}
    row2 = {"name": "B U", "country": "Y", "web_pages": ["w2"], "domains": []}
    (src / "batch1.json").write_text(json.dumps(row1) + "\n")

    q = file_stream_refresh(spark, str(src), out, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 1

    (src / "batch2.json").write_text(json.dumps(row2) + "\n")
    q = file_stream_refresh(spark, str(src), out, ckpt)
    q.awaitTermination(120)
    staged = spark.read.parquet(out)
    assert staged.count() == 2  # incremental: batch1 not reprocessed
    assert {r["name"] for r in staged.collect()} == {"A U", "B U"}


def test_stateful_profiles_persist_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-user state must carry over between
    micro-batches (run 1 seeds state, run 2 on new files continues from
    the checkpointed totals, not from zero)."""
    import datetime as dt

    from node_js_etl_processor_spark.streaming.stateful import running_user_profiles

    src = tmp_path / "ev_src"
    out = str(tmp_path / "ev_out")
    ckpt = str(tmp_path / "ev_ckpt")
    src.mkdir()
    schema = "user_id long, ts timestamp, value double"

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
            str(src)
        )

    t0 = dt.datetime(2024, 1, 1)
    land([(1, t0, 10.0), (1, t0 + dt.timedelta(minutes=1), 5.0), (2, t0, 1.0)])

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            running_user_profiles(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # current snapshot = latest emission per user
        rows = spark.read.parquet(out).collect()
        best = {}
        for r in rows:
            if r["user_id"] not in best or r["lifetime_events"] > best[r["user_id"]]["lifetime_events"]:
                best[r["user_id"]] = r
        return best, len(rows)

    got, n_rows = run()
    assert got[1]["lifetime_events"] == 2 and got[1]["lifetime_value"] == 15.0
    assert got[2]["lifetime_events"] == 1

    land([(1, t0 + dt.timedelta(hours=1), 2.5)])
    got, n_rows2 = run()
    # cumulative across batches via checkpointed state, not batch-local
    assert got[1]["lifetime_events"] == 3 and got[1]["lifetime_value"] == 17.5
    assert got[2]["lifetime_events"] == 1
    assert n_rows2 == n_rows + 1  # only user 1 re-emitted in batch 2


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Stream-stream attribution join must equal the equivalent batch
    join over the same data."""
    import datetime as dt

    from node_js_etl_processor_spark.streaming.joins import clicks_to_purchases

    schema = "user_id long, ts timestamp, event_id long"
    t0 = dt.datetime(2024, 1, 1)
    m = dt.timedelta(minutes=1)
    clicks = [(1, t0, 100), (1, t0 + 40 * m, 101), (2, t0, 102)]
    purchases = [(1, t0 + 50 * m, 200), (2, t0 + 31 * m, 201)]
    # expected: click 101 -> purchase 200 (10 min gap); click 100 is 50
    # min before 200 (outside 30-min window); user 2's click is 31 min
    # before purchase 201 (outside); so exactly ONE attributed pair.
    c_src, p_src = str(tmp_path / "c"), str(tmp_path / "p")
    spark.createDataFrame(clicks, schema).write.parquet(c_src)
    spark.createDataFrame(purchases, schema).write.parquet(p_src)

    joined = clicks_to_purchases(
        spark.readStream.schema(schema).parquet(c_src),
        spark.readStream.schema(schema).parquet(p_src),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [(r["purchase_id"], r["click_id"]) for r in spark.table("attrib").collect()]
    assert got == [(200, 101)]


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Duplicate event_ids landing within the watermark window must be
    emitted exactly once."""
    import datetime as dt

    from node_js_etl_processor_spark.streaming.dedup import dedup_events_stream

    schema = "event_id long, ts timestamp, user_id long, value double"
    t0 = dt.datetime(2024, 1, 1)
    m = dt.timedelta(minutes=1)
    rows = [
        (1, t0, 7, 1.0),
        (1, t0 + 2 * m, 7, 1.0),   # duplicate (retry 2 min later)
        (2, t0 + 1 * m, 7, 2.0),
        (2, t0 + 1 * m, 7, 2.0),   # exact duplicate
        (3, t0 + 5 * m, 8, 3.0),
    ]
    src = str(tmp_path / "dup_src")
    spark.createDataFrame(rows, schema).write.parquet(src)

    q = (
        dedup_events_stream(spark.readStream.schema(schema).parquet(src))
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["event_id"] for r in spark.table("dedup_stream").collect())
    assert got == [1, 2, 3]


def test_dedup_exact_stream_drops_all_duplicates(spark, tmp_path):
    """dedup_exact_stream: duplicates are dropped regardless of how far
    apart they arrive (unbounded state — the documented trade)."""
    from node_js_etl_processor_spark.streaming.dedup import dedup_exact_stream

    src = str(tmp_path / "dupes_src")
    rows = [(i % 5, f"2024-01-01 00:0{i % 5}:00") for i in range(20)]
    batch = spark.createDataFrame(rows, "event_id long, ts_s string").selectExpr(
        "event_id", "CAST(ts_s AS TIMESTAMP) AS ts"
    )
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        dedup_exact_stream(stream)
        .writeStream.format("memory")
        .queryName("exact_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.table("exact_dedup").count() == 5


def test_stream_stream_join_matches_batch_on_events(spark, sf_dir, tmp_path):
    """Differential: clicks_to_purchases over the events fixture must
    attribute exactly the same (purchase, click) pairs as the
    equivalent batch join with the same key + time-range predicate."""
    from pyspark.sql import functions as F

    from node_js_etl_processor_spark.streaming.joins import clicks_to_purchases

    events = load_table(spark, sf_dir, "events")
    c_src, p_src = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    cols = ["user_id", "ts", "event_id"]
    events.filter(F.col("event_type") == "click").select(cols).write.parquet(c_src)
    events.filter(F.col("event_type") == "purchase").select(cols).write.parquet(p_src)
    schema = "user_id long, ts timestamp, event_id long"

    q = (
        clicks_to_purchases(
            spark.readStream.schema(schema).parquet(c_src),
            spark.readStream.schema(schema).parquet(p_src),
        )
        .writeStream.format("memory")
        .queryName("attrib_events")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["purchase_id"], r["click_id"]) for r in spark.table("attrib_events").collect()
    )

    cb = spark.read.parquet(c_src).selectExpr(
        "user_id AS c_user", "ts AS click_ts", "event_id AS click_id"
    )
    pb = spark.read.parquet(p_src).selectExpr(
        "user_id AS p_user", "ts AS purchase_ts", "event_id AS purchase_id"
    )
    expected = sorted(
        (r["purchase_id"], r["click_id"])
        for r in cb.join(
            pb,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 minutes")),
        ).collect()
    )
    assert len(got) > 0
    assert got == expected


def test_running_profiles_match_batch_aggregate(spark, sf_dir, tmp_path):
    """Differential: the applyInPandasWithState running profiles, taken
    at their final per-user emission (max lifetime_events — the
    documented snapshot rule), must equal the plain batch aggregate
    over the same events."""
    from pyspark.sql import functions as F

    from node_js_etl_processor_spark.functions.timeutil import epoch_us_fn
    from node_js_etl_processor_spark.streaming.stateful import running_user_profiles

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "ev_profiles")
    events.select("user_id", "ts", "value").write.parquet(src)
    stream = spark.readStream.schema("user_id long, ts timestamp, value double").parquet(
        src
    )
    q = (
        running_user_profiles(stream)
        .writeStream.format("memory")
        .queryName("profiles_events")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    snap = {
        r["user_id"]: (r["latest"]["lifetime_events"], r["latest"]["lifetime_value"], r["latest"]["last_seen_us"])
        for r in spark.table("profiles_events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.struct("lifetime_events", "lifetime_value", "last_seen_us")
            ).alias("latest")
        )
        .collect()
    }
    expected = {
        r["user_id"]: (r["n"], r["total"], r["last_us"])
        for r in events.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
            F.max(epoch_us_fn(events)("ts")).alias("last_us"),
        )
        .collect()
    }
    assert set(snap) == set(expected)
    for uid in expected:
        assert snap[uid][0] == expected[uid][0], uid
        assert abs(snap[uid][1] - expected[uid][1]) < 1e-6, uid
        assert snap[uid][2] == expected[uid][2], uid


def test_curation_chunk_stream_matches_batch_prefix(spark, sf_dir, tmp_path):
    """The streaming curation prefix (gate → chunk → fingerprint) must
    emit exactly the rows the batch capstone's prefix produces on the
    same documents — stateless ops are batch/stream invariant."""
    from pyspark.sql import functions as F

    from node_js_etl_processor_spark.operators.text import (
        chunk_documents,
        curation_keep,
    )
    from node_js_etl_processor_spark.streaming.curation import curation_chunk_stream

    docs = load_table(spark, sf_dir, "documents")
    src = str(tmp_path / "docs_src")
    docs.write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)

    q = (
        curation_chunk_stream(stream)
        .writeStream.format("memory")
        .queryName("curation_chunks")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(tuple(r) for r in spark.table("curation_chunks").collect())
    batch = chunk_documents(
        docs.filter(curation_keep(F.col("text"), F.col("lang"))).select(
            "doc_id", "text"
        )
    ).withColumn("chunk_fp", F.md5(F.col("chunk_text")))
    want = sorted(tuple(r) for r in batch.collect())
    assert got == want and len(got) > 0


def test_compact_landing_zone_equals_batch_capstone(spark, sf_dir, tmp_path):
    """Incremental-ingest / batch-compact split, end to end: stream the
    documents through the curation chunk prefix into a parquet landing
    zone, then compact_landing_zone must reproduce q_curation_pipeline
    on the same documents exactly (shared suffix + stateless prefix =>
    only a lossy sink could diverge)."""
    from pyspark.sql import functions as F

    from node_js_etl_processor_spark.operators.text import q_curation_pipeline
    from node_js_etl_processor_spark.streaming.curation import (
        compact_landing_zone,
        curation_chunk_stream,
    )

    docs = load_table(spark, sf_dir, "documents")
    src = str(tmp_path / "docs_src")
    zone = str(tmp_path / "landing_zone")
    ckpt = str(tmp_path / "ckpt")
    docs.write.parquet(src)

    q = (
        curation_chunk_stream(spark.readStream.schema(docs.schema).parquet(src))
        .writeStream.format("parquet")
        .option("path", zone)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(tuple(r) for r in compact_landing_zone(spark, zone).collect())
    want = sorted(tuple(r) for r in q_curation_pipeline(docs).collect())
    assert got == want and len(got) > 0

    # compaction's dedup shuffle never carries chunk_text (the dominant
    # bytes): column pruning must drop it from the landing-zone scan
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        compact_landing_zone(spark, zone).explain("formatted")
    plan = buf.getvalue()
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "chunk_text" not in read_schema


def test_url_frontier_stream_dedups_on_canonical_key(spark, tmp_path):
    """The streaming crawl frontier must collapse messy URL VARIANTS
    (scheme case, www, tracking params, fragments) to one emission per
    canonical key — the same normalize_url expression as the batch
    q_url_dedup, so stream and batch agree on the key — while distinct
    canonical pages all pass."""
    import datetime as dt

    from node_js_etl_processor_spark.streaming.dedup import url_frontier_stream

    t0 = dt.datetime(2024, 1, 1)
    m = dt.timedelta(minutes=1)
    rows = [
        (1, "https://news.example.com/a", t0),
        (2, "HTTP://WWW.News.Example.com/a?utm_source=x", t0 + 1 * m),  # dup of 1
        (3, "https://news.example.com/a#frag", t0 + 2 * m),             # dup of 1
        (4, "https://news.example.com/b", t0 + 1 * m),
        (5, "https://web.example.com/a", t0 + 3 * m),
    ]
    src = str(tmp_path / "frontier_src")
    spark.createDataFrame(rows, "disc_id long, url string, ts timestamp").write.parquet(
        src
    )
    stream = spark.readStream.schema("disc_id long, url string, ts timestamp").parquet(
        src
    )
    q = (
        url_frontier_stream(stream)
        .writeStream.format("memory")
        .queryName("frontier")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["canonical_url"] for r in spark.table("frontier").collect()}
    assert got == {
        "https://news.example.com/a",
        "https://news.example.com/b",
        "https://web.example.com/a",
    }
    assert spark.table("frontier").count() == 3


def test_exact_dedup_ingest_stream_matches_batch(spark, sf_dir, tmp_path):
    """The fingerprint-store ingest loop as a stream — three
    landed files processed as micro-batches must yield EXACTLY the
    batch q_dedup_docs keepers (arrival order == doc_id order, so
    first-arrival == min doc_id), cross-batch duplicates dropped via
    the store, and the store must end at one fingerprint per distinct
    text."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.dedup import q_dedup_docs
    from node_js_etl_processor_spark.streaming.dedup import (
        exact_dedup_ingest_stream,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = tmp_path / "landing"
    src.mkdir()
    out = str(tmp_path / "accepted")
    store = str(tmp_path / "fp_store")
    ckpt = str(tmp_path / "ckpt")

    # land three doc_id-ordered drops; re-land slice 1 inside drop 3
    # so a CROSS-batch duplicate definitely exists
    docs.filter("doc_id < 150").coalesce(1).write.json(str(src / "b1"))
    docs.filter("doc_id >= 150 AND doc_id < 300").coalesce(1).write.json(
        str(src / "b2")
    )
    docs.filter("doc_id >= 300 OR doc_id < 20").coalesce(1).write.json(
        str(src / "b3")
    )

    schema = "doc_id long, text string"
    for batch in ("b1", "b2", "b3"):
        q = exact_dedup_ingest_stream(
            spark.readStream.schema(schema).json(str(src / batch)),
            store,
            out,
            ckpt + batch,
        )
        q.awaitTermination(120)

    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    # batch reference: min-doc_id keeper per distinct text, EXCEPT the
    # re-landed duplicates (doc_id < 20 rows arrived again in b3 but
    # their fingerprints were already stored, so they must NOT reappear)
    want = {r["doc_id"] for r in q_dedup_docs(docs).collect()}
    assert got == want
    n_fp = spark.read.parquet(store).count()
    assert n_fp == docs.select("text").distinct().count()


def test_near_dup_ingest_stream_matches_batch(spark, sf_dir, tmp_path):
    """The minhash near-dup ingest stream — three doc_id-ordered
    drops must keep EXACTLY the docs the batch signature-space rule
    keeps (minhash_near_dup_keepers: drop iff est-Jaccard >= θ to any
    smaller-doc_id doc), with candidate generation against the stored
    postings and verification against the stored signatures — the
    accepted corpus's text never re-read."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.dedup import (
        minhash_near_dup_keepers,
    )
    from node_js_etl_processor_spark.streaming.dedup import near_dup_ingest_stream

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = tmp_path / "landing"
    src.mkdir()
    out = str(tmp_path / "accepted")
    store = str(tmp_path / "mh")
    ckpt = str(tmp_path / "ckpt")

    docs.filter("doc_id < 150").coalesce(1).write.json(str(src / "b1"))
    docs.filter("doc_id >= 150 AND doc_id < 350").coalesce(1).write.json(
        str(src / "b2")
    )
    docs.filter("doc_id >= 350").coalesce(1).write.json(str(src / "b3"))

    schema = "doc_id long, text string"
    for batch in ("b1", "b2", "b3"):
        q = near_dup_ingest_stream(
            spark.readStream.schema(schema).json(str(src / batch)),
            store,
            out,
            ckpt + batch,
        )
        q.awaitTermination(180)

    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    want = {r["doc_id"] for r in minhash_near_dup_keepers(docs).collect()}
    assert got == want
    # the rule must actually bite on the fixture (planted near-dups)
    assert len(got) < docs.count()


def test_countmin_ingest_stream_merges_exactly(spark, sf_dir, tmp_path):
    """CM sketches of two streams sum to the sketch of their
    union EXACTLY — three streamed order drops must leave the stored
    grid cell-for-cell equal to the one-shot batch grid, and
    estimates from the streamed grid must equal batch estimates."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.sketch import (
        countmin_build,
        countmin_estimate,
    )
    from node_js_etl_processor_spark.streaming.dedup import countmin_ingest_stream
    from node_js_etl_processor_spark.streaming.sketches import read_sketch_store

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    src = tmp_path / "landing"
    src.mkdir()
    store = str(tmp_path / "cms")
    ckpt = str(tmp_path / "ckpt")
    orders.filter("o_orderkey % 3 = 0").coalesce(1).write.json(str(src / "b1"))
    orders.filter("o_orderkey % 3 = 1").coalesce(1).write.json(str(src / "b2"))
    orders.filter("o_orderkey % 3 = 2").coalesce(1).write.json(str(src / "b3"))

    schema = "o_orderkey long, o_custkey long"
    for b in ("b1", "b2", "b3"):
        q = countmin_ingest_stream(
            spark.readStream.schema(schema).json(str(src / b)),
            "o_custkey",
            store,
            ckpt + b,
        )
        q.awaitTermination(120)

    streamed = {
        (r["row"], r["col"]): r["c"]
        for r in read_sketch_store(spark, store).collect()
    }
    batch = {
        (r["row"], r["col"]): r["c"] for r in countmin_build(orders, "o_custkey").collect()
    }
    assert streamed == batch and len(streamed) > 0

    probes = orders.select("o_custkey").distinct().limit(50)
    got = {
        r["o_custkey"]: r["cms_est"]
        for r in countmin_estimate(
            probes, read_sketch_store(spark, store), "o_custkey"
        ).collect()
    }
    want = {
        r["o_custkey"]: r["cms_est"]
        for r in countmin_estimate(
            probes, countmin_build(orders, "o_custkey"), "o_custkey"
        ).collect()
    }
    assert got == want


def test_embedding_ingest_stream_matches_batch(spark, sf_dir, tmp_path):
    """The embedding near-dup ingest stream — three vec_id-ordered
    drops must keep EXACTLY the vectors the batch keeper rule keeps
    (embedding_near_dup_keepers: drop iff a sig-blocked pair links it
    at cosine >= threshold to a smaller-vec_id vector), probing the
    stored by_sig layout per batch and appending the whole batch so
    'seen' matches the batch rule."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.similarity import (
        embedding_near_dup_keepers,
    )
    from node_js_etl_processor_spark.streaming.dedup import embedding_ingest_stream

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    src = tmp_path / "landing"
    src.mkdir()
    out = str(tmp_path / "accepted")
    store = str(tmp_path / "ann")
    ckpt = str(tmp_path / "ckpt")

    emb.filter("vec_id < 1000").coalesce(1).write.parquet(str(src / "b1"))
    emb.filter("vec_id >= 1000 AND vec_id < 2000").coalesce(1).write.parquet(
        str(src / "b2")
    )
    emb.filter("vec_id >= 2000").coalesce(1).write.parquet(str(src / "b3"))

    schema = emb.schema
    for batch in ("b1", "b2", "b3"):
        q = embedding_ingest_stream(
            spark.readStream.schema(schema).parquet(str(src / batch)),
            store,
            out,
            ckpt + batch,
        )
        q.awaitTermination(180)

    got = {r["vec_id"] for r in spark.read.parquet(out).collect()}
    want = {r["vec_id"] for r in embedding_near_dup_keepers(emb).collect()}
    assert got == want
    # the rule must actually bite on the fixture
    assert len(got) < emb.count()


def test_ingest_loops_skip_replayed_batches(spark, sf_dir, tmp_path):
    """The foreachBatch replay guard — a (checkpoint, batch_id)
    whose marker already exists must be a NO-OP for the mutating
    ingest loops (re-delivery after a crash-post-commit is the
    at-least-once case the guard exists for), and new batch ids under
    the same checkpoint must still process."""
    import os

    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.streaming.indexing import bm25_index_stream
    from node_js_etl_processor_spark.streaming.markers import (
        batch_already_applied,
        mark_batch_applied,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = tmp_path / "landing"
    src.mkdir()
    docs.filter("doc_id < 100").coalesce(1).write.json(str(src / "b1"))

    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    # simulate re-delivery: this (checkpoint, batch 0) already committed
    mark_batch_applied(idx, ckpt, 0)
    q = bm25_index_stream(
        spark.readStream.schema("doc_id long, text string").json(str(src / "b1")),
        idx,
        ckpt,
    )
    q.awaitTermination(120)
    assert not os.path.isdir(f"{idx}/postings")  # replayed batch was a no-op

    # a different checkpoint (a new stream, not a retry) ingests normally
    ckpt2 = str(tmp_path / "ckpt2")
    q = bm25_index_stream(
        spark.readStream.schema("doc_id long, text string").json(str(src / "b1")),
        idx,
        ckpt2,
    )
    q.awaitTermination(120)
    assert os.path.isdir(f"{idx}/postings")
    assert batch_already_applied(idx, ckpt2, 0)
    assert spark.read.parquet(f"{idx}/postings").count() > 0


def test_image_dedup_ingest_stream_matches_batch(spark, sf_dir, tmp_path):
    """The perceptual-image-dedup ingest loop as a stream (the
    ingest day's media lane standalone) — three media_id-ordered
    parquet drops of the mixed-format synth must keep EXACTLY the
    batch perceptual keepers (min-media_id per dHash group) plus the
    decode-refused pass-throughs, with cross-batch perceptual
    duplicates (trios straddling drop boundaries, re-landed rows)
    dropped via the dHash store; the store must end at one key per
    distinct dHash seen."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.phash import (
        image_dhash,
        synth_phash_media,
    )
    from node_js_etl_processor_spark.streaming.dedup import (
        image_dedup_ingest_stream,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = (
        synth_phash_media(docs)
        .select("media_id", "payload")
        .localCheckpoint(eager=True)
    )
    src = tmp_path / "landing"
    src.mkdir()
    out = str(tmp_path / "kept")
    store = str(tmp_path / "dhash_store")
    ckpt = str(tmp_path / "ckpt")

    # three media_id-ordered drops; re-land slice 1 inside drop 3 so a
    # CROSS-batch exact re-delivery exists on top of the straddling
    # trios (splits off %3 boundaries on purpose); drop 1 additionally
    # repeats media_id<15 WITHIN the batch (at-least-once sources can
    # duplicate inside one drop — both lanes must emit each id once)
    media.filter("media_id < 100").unionByName(
        media.filter("media_id < 15")
    ).coalesce(1).write.parquet(str(src / "b1"))
    media.filter("media_id >= 100 AND media_id < 250").coalesce(1).write.parquet(
        str(src / "b2")
    )
    media.filter("media_id >= 250 OR media_id < 30").coalesce(1).write.parquet(
        str(src / "b3")
    )

    schema = "media_id long, payload binary"
    for batch in ("b1", "b2", "b3"):
        q = image_dedup_ingest_stream(
            spark.readStream.schema(schema).parquet(str(src / batch)),
            store,
            out,
            ckpt + batch,
        )
        q.awaitTermination(120)

    hashed = image_dhash(media).localCheckpoint(eager=True)
    ok = hashed.filter(F.col("ok") == "true")
    w = Window.partitionBy("dhash")
    keep = ok.withColumn("_min", F.min("media_id").over(w)).filter(
        F.col("media_id") == F.col("_min")
    )
    want = {r["media_id"] for r in keep.collect()} | {
        r["media_id"] for r in hashed.filter(F.col("ok") != "true").collect()
    }
    out_rows = [r["media_id"] for r in spark.read.parquet(out).collect()]
    assert set(out_rows) == want and len(out_rows) > 0
    # exactly-once OUTPUT even for refused rows: the re-landed
    # media_id<30 slice contains refused rows (%11==0), which must
    # NOT re-emit (they key the store by identity) — so no media_id
    # appears twice
    assert len(out_rows) == len(set(out_rows))
    store_df = spark.read.parquet(store)
    n_dhash = store_df.filter(F.col("kind") == "dhash").count()
    n_refused = store_df.filter(F.col("kind") == "refused").count()
    assert n_dhash == ok.select("dhash").distinct().count()
    assert n_refused == hashed.filter(F.col("ok") != "true").count()


def test_cusum_alarm_stream_matches_batch_and_carries_state(spark, sf_dir, tmp_path):
    """The stateful CUSUM monitor equals the batch operator over the
    union feed (sf corpus split into two time-ordered deliveries),
    and its per-user statistic genuinely CARRIES across batches: a
    hand alarm fires in batch 2 only because S accumulated in batch 1
    (a state reset would stay under threshold)."""
    import datetime as dt

    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.functions.timeutil import epoch_us_fn
    from node_js_etl_processor_spark.operators.cusum import q_cusum_alarms
    from node_js_etl_processor_spark.streaming.stateful import (
        cusum_alarm_stream,
    )
    from pyspark.sql import functions as F

    def run_stream(src, out, ckpt, **kw):
        schema = "event_id long, ts timestamp, user_id long, value double"
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            cusum_alarm_stream(stream, **kw)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return {
            (r["user_id"], r["ts_us"], r["event_id"], r["x_cents"], r["s_cents"])
            for r in spark.read.parquet(out).collect()
        }

    def batch_set(df, **kw):
        got = q_cusum_alarms(df, **kw)
        return {
            (r["user_id"], r["ts_us"], r["event_id"], r["x_cents"], r["s_cents"])
            for r in got.withColumn("ts_us", epoch_us_fn(df)("ts")).drop("ts")
            .collect()
        }

    # corpus pin: two per-user time-ordered deliveries (a global ts
    # split preserves every user's order)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    us = epoch_us_fn(ev)("ts")
    cut = (
        ev.select(us.alias("_us"))
        .agg(F.percentile("_us", F.lit(0.5)))
        .first()[0]
    )
    src = tmp_path / "cu_src"
    src.mkdir()
    ev.filter(us <= cut).coalesce(1).write.mode("append").parquet(str(src))
    got = run_stream(src, str(tmp_path / "o1"), str(tmp_path / "c1"))
    ev.filter(us > cut).coalesce(1).write.mode("append").parquet(str(src))
    got = run_stream(src, str(tmp_path / "o1"), str(tmp_path / "c1"))
    assert got == batch_set(ev) and len(got) > 0

    # hand pin: alarm exists ONLY via carried state (k=100, h=300:
    # batch1 S = 100, 200; batch2 event x=300 -> S = 400 > 300, but a
    # reset statistic would sit at 200)
    t0 = dt.datetime(2024, 1, 1)
    hand_src = tmp_path / "cu_hand"
    hand_src.mkdir()
    schema = "event_id long, ts timestamp, user_id long, value double"
    spark.createDataFrame(
        [(1, t0, 7, 2.0), (2, t0 + dt.timedelta(hours=1), 7, 2.0)], schema
    ).coalesce(1).write.mode("append").parquet(str(hand_src))
    got_h = run_stream(
        hand_src, str(tmp_path / "o2"), str(tmp_path / "c2"),
        k_cents=100, h_cents=300,
    )
    assert got_h == set()
    spark.createDataFrame(
        [(3, t0 + dt.timedelta(hours=2), 7, 3.0)], schema
    ).coalesce(1).write.mode("append").parquet(str(hand_src))
    got_h = run_stream(
        hand_src, str(tmp_path / "o2"), str(tmp_path / "c2"),
        k_cents=100, h_cents=300,
    )
    t2_us = int((t0 + dt.timedelta(hours=2)).timestamp() * 1_000_000)
    assert got_h == {(7, t2_us, 3, 300, 400)}


def test_cusum_alarm_stream_rejects_out_of_order_delivery(spark, tmp_path):
    """The stream==batch equivalence rests on events
    arriving in per-user time order ACROSS micro-batches; a violation
    must fail loudly (the carried last-seen marker), not silently
    corrupt the running statistic."""
    import datetime as dt

    import pytest
    from pyspark.sql.streaming import StreamingQueryException

    from node_js_etl_processor_spark.streaming.stateful import (
        cusum_alarm_stream,
    )

    schema = "event_id long, ts timestamp, user_id long, value double"
    t0 = dt.datetime(2024, 1, 1)
    src = tmp_path / "cu_bad_src"
    src.mkdir()

    def run_once(tag):
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            cusum_alarm_stream(stream, k_cents=100, h_cents=300)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    # batch 1: user 7 seen up to t0+1h — commits the marker
    spark.createDataFrame(
        [(1, t0 + dt.timedelta(hours=1), 7, 2.0)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    run_once("b1")

    # batch 2 delivers an EARLIER event for the same user: the guard
    # must surface the contract violation with the offending marker
    spark.createDataFrame([(2, t0, 7, 2.0)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    with pytest.raises(StreamingQueryException, match="out-of-order delivery"):
        run_once("b2")


def test_span_store_novelty_reads_equal_batch(spark, sf_dir, tmp_path):
    """The novelty read paths over the
    shingle-postings store. (1) score_drop_novelty — a NEW drop
    scored against the stored corpus BEFORE ingest, only the drop
    tokenized — equals the batch q_doc_novelty over the union corpus
    restricted to the drop's doc_ids; (2) after ingesting the drop,
    read_doc_novelty over the store equals the batch operator over
    the whole corpus (the dedup-store trio's store-read == batch
    discipline on the span family)."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.novelty import q_doc_novelty
    from node_js_etl_processor_spark.streaming.spanstore import (
        read_doc_novelty,
        score_drop_novelty,
        span_postings_ingest_stream,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    drop = docs.filter(F.col("doc_id") % 3 == 0)
    src = tmp_path / "span_src"
    src.mkdir()
    store, ckpt = str(tmp_path / "span_store"), str(tmp_path / "span_ckpt")

    def ingest(df):
        df.coalesce(1).write.mode("append").parquet(str(src))
        stream = spark.readStream.schema(
            "doc_id long, text string, lang string, source string, "
            "n_chars long"
        ).parquet(str(src))
        q = span_postings_ingest_stream(stream, store, ckpt)
        q.awaitTermination(300)

    def rows(df):
        cols = sorted(df.columns)
        return {tuple(str(r[c]) for c in cols) for r in df.select(*cols).collect()}

    ingest(corpus)
    full = q_doc_novelty(docs)
    drop_ids = {r["doc_id"] for r in drop.select("doc_id").collect()}
    want_drop = full.filter(F.col("doc_id").isin(drop_ids))
    got_drop = score_drop_novelty(spark, store, drop)
    assert rows(got_drop) == rows(want_drop) and len(rows(got_drop)) > 0

    ingest(drop)
    got_all = read_doc_novelty(spark, store)
    assert rows(got_all) == rows(full) and len(rows(got_all)) > 0


def test_score_drop_novelty_redelivered_doc_scores_fully_covered(
    spark, sf_dir, tmp_path
):
    """novelty_of_drop's equality with the
    batch operator holds under the new-doc_ids ingest precondition;
    a doc_id that ALREADY has stored postings is scored from its
    drop-side rows only, and its stored twin's identical digests make
    EVERY position duplicated — a re-delivered document scores as
    fully covered (dup_extent_tokens == n_tokens), exactly the cut
    verdict a gate wants for a re-ingest."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.streaming.spanstore import (
        score_drop_novelty,
        span_postings_ingest_stream,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    src = tmp_path / "redeliver_src"
    src.mkdir()
    store, ckpt = str(tmp_path / "rd_store"), str(tmp_path / "rd_ckpt")
    docs.coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).parquet(str(src))
    q = span_postings_ingest_stream(stream, store, ckpt)
    q.awaitTermination(300)

    redelivered = docs.limit(20)
    got = score_drop_novelty(spark, store, redelivered).collect()
    assert len(got) > 0
    for r in got:
        assert r["n_dup_shingles"] == r["n_shingles"], r
        assert r["dup_extent_tokens"] == r["n_tokens"], r


@pytest.mark.parametrize("crash_point", ["before_mark", "after_mark"])
def test_novelty_gated_ingest_matches_sequential_batch_through_crash(
    spark, sf_dir, tmp_path, monkeypatch, crash_point
):
    """The novelty-GATED ingestion loop — score each drop
    against the admitted corpus's postings, cut docs over the
    duplicated-coverage threshold, append only survivors' postings.
    Pinned: (1) the streamed admitted set equals the sequential batch
    simulation (drop 1 gated by q_doc_novelty — the empty-store gate
    IS the batch operator — then drop 2 gated by novelty_of_drop
    against drop 1's surviving postings); (2) the final store equals
    the survivors' one-shot shingling; (3) a crash injected between
    the batch-2 publishes and its marker recovers exactly-once — the
    re-delivery purges the partial publish FIRST, so re-scoring never
    sees the crashed attempt's own postings (which would wrongly cut
    the whole batch as fully duplicated); (4) the gate actually cuts
    (both within-drop and cross-drop)."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.dedup import exact_twin_reps
    from node_js_etl_processor_spark.operators.novelty import (
        novelty_of_drop,
        q_doc_novelty,
    )
    from node_js_etl_processor_spark.operators.spans import shingle_positions
    from node_js_etl_processor_spark.streaming import markers
    from node_js_etl_processor_spark.streaming.spanstore import (
        novelty_gated_ingest_stream,
        read_span_store,
    )
    from pyspark.sql import functions as F

    PCT = 50
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    drop1 = docs.filter(F.col("doc_id") % 3 != 0)
    drop2 = docs.filter(F.col("doc_id") % 3 == 0)
    src = tmp_path / "gate_src"
    src.mkdir()
    store, out, ckpt = (
        str(tmp_path / "gate_store"),
        str(tmp_path / "gate_out"),
        str(tmp_path / "gate_ckpt"),
    )

    def run():
        stream = spark.readStream.schema(
            "doc_id long, text string, lang string, source string, "
            "n_chars long"
        ).parquet(str(src))
        return novelty_gated_ingest_stream(
            stream, store, out, ckpt, max_dup_pct=PCT
        )

    def gate_cut(scores):
        return scores.filter(
            F.lit(100) * F.col("dup_extent_tokens")
            > F.lit(PCT) * F.col("n_tokens")
        ).select("doc_id")

    # sequential batch simulation — keep-one collapse first (the
    # twin rule), then the gate, exactly like the applier
    drop1r = exact_twin_reps(drop1)
    drop2r = exact_twin_reps(drop2)
    cut1 = gate_cut(q_doc_novelty(drop1r))
    s1 = drop1r.join(cut1, "doc_id", "left_anti")
    cut2 = gate_cut(novelty_of_drop(drop2r, shingle_positions(s1)))
    s2 = drop2r.join(cut2, "doc_id", "left_anti")
    want_ids = {r["doc_id"] for r in s1.select("doc_id").collect()} | {
        r["doc_id"] for r in s2.select("doc_id").collect()
    }
    # the pipeline actually cuts in both drops: keep-one removals and
    # gate cuts both count (exact twins now die in the collapse, not
    # the gate; near-dup coverage still dies in the gate)
    n_cut1 = drop1.count() - s1.count()
    n_cut2 = drop2.count() - s2.count()
    assert n_cut1 > 0 and n_cut2 > 0, (n_cut1, n_cut2)

    # batch 1 clean; batch 2 crashes in the selected window:
    # before_mark = publishes done, marker missing (re-delivery must
    # purge + recompute); after_mark = marker set, stream checkpoint
    # not advanced (re-delivery must take the marker-hit read-back
    # path, NOT rescore against a store already holding its postings)
    drop1.coalesce(1).write.mode("append").parquet(str(src))
    q = run()
    q.awaitTermination(300)

    real_mark = markers.mark_batch_applied
    real_cleanup = markers.cleanup_staging
    crashes: list = []

    def boom_mark(path, checkpoint, batch_id):
        if batch_id == 1:
            crashes.append(batch_id)
            raise RuntimeError("injected crash before gate marker")
        return real_mark(path, checkpoint, batch_id)

    def boom_cleanup(root, tag):
        # the applier calls cleanup AFTER its marker on the live
        # path; crash on the first post-mark cleanup of batch 1
        if root == store and not crashes:
            crashes.append(tag)
            raise RuntimeError("injected crash after gate marker")
        return real_cleanup(root, tag)

    if crash_point == "before_mark":
        monkeypatch.setattr(markers, "mark_batch_applied", boom_mark)
    else:
        monkeypatch.setattr(markers, "cleanup_staging", boom_cleanup)
    drop2.coalesce(1).write.mode("append").parquet(str(src))
    q = run()
    import pytest as _pytest

    with _pytest.raises(Exception):
        q.awaitTermination(300)
    assert crashes
    monkeypatch.undo()

    q = run()
    q.awaitTermination(300)

    got_ids = {r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()}
    assert got_ids == want_ids and len(got_ids) > 0
    # store == one-shot shingling of the admitted corpus (multiset)
    survivors = docs.filter(F.col("doc_id").isin(got_ids))
    want_store = shingle_positions(survivors)
    got_store = read_span_store(spark, store)
    assert got_store.exceptAll(want_store).count() == 0
    assert want_store.exceptAll(got_store).count() == 0


def test_novelty_gate_keeps_one_within_drop_twin(spark, tmp_path):
    """Two copies of NEVER-SEEN content in
    one drop must not cut each other — exactly one survives the gate
    (the min-doc_id representative, q_dedup_docs' keeper rule), its
    postings enter the store, and a LATER re-delivery of the same
    text under a fresh doc_id is cut as fully covered. Before the
    keep-one rule both twins died, no postings landed, and the
    re-delivery was wrongly ADMITTED — the admitted corpus depended
    on delivery batching."""
    from node_js_etl_processor_spark.streaming.spanstore import (
        novelty_gated_ingest_applier,
    )

    novel = " ".join(f"tok{i}" for i in range(40))
    other = " ".join(f"alt{i}" for i in range(40))
    schema = "doc_id long, text string"
    store, out, ckpt = (
        str(tmp_path / "s"), str(tmp_path / "o"), str(tmp_path / "c"),
    )
    apply = novelty_gated_ingest_applier(store, out, ckpt, max_dup_pct=50)

    drop1 = spark.createDataFrame(
        [(11, novel), (12, novel), (13, other)], schema
    )
    s1 = {r["doc_id"] for r in apply(drop1, 0).select("doc_id").collect()}
    assert s1 == {11, 13}, s1  # one twin kept, the other collapsed

    # same text re-delivered later under a fresh doc_id: now the
    # store holds doc 11's postings, so the gate cuts it
    drop2 = spark.createDataFrame([(21, novel)], schema)
    s2 = {r["doc_id"] for r in apply(drop2, 1).select("doc_id").collect()}
    assert s2 == set(), s2


def test_span_store_compaction_preserves_reads_and_caps_files(
    spark, sf_dir, tmp_path
):
    """The span store's leveled minor compaction — fold the live
    append log into one sealed segment behind the manifest + pointer
    switch. Pins: (1) the read set is IDENTICAL (multiset) to the
    one-shot shingling before and after compaction, and after further
    appends on top of a sealed segment; (2) the data file count drops
    to ~target_files; (3) a compaction with nothing new to fold is a
    no-op; (4) a second compaction folds only the post-compaction
    log (leveled: sealed segments are never rewritten — their dirs'
    file mtimes/identities are untouched)."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.spans import shingle_positions
    from node_js_etl_processor_spark.streaming import markers
    from node_js_etl_processor_spark.streaming.spanstore import (
        compact_span_store,
        read_span_store,
        span_postings_applier,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    store, ckpt = str(tmp_path / "lv_store"), str(tmp_path / "lv_ckpt")
    apply = span_postings_applier(store, ckpt)
    parts = [docs.filter(F.col("doc_id") % 3 == k) for k in range(3)]
    apply(parts[0], 0)
    apply(parts[1], 1)

    def multiset_equal(a, b):
        return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    want01 = shingle_positions(parts[0].unionByName(parts[1]))
    assert multiset_equal(read_span_store(spark, store), want01)
    folded, after = compact_span_store(spark, store, target_files=2)
    assert folded > 0 and after <= 2 + 1  # one sealed segment, empty log
    assert multiset_equal(read_span_store(spark, store), want01)
    # no-op when nothing new arrived
    assert compact_span_store(spark, store, target_files=2)[0] == 0

    seg_dirs = [
        n for n, d in markers._listdir(store) if d and n.startswith("seg_")
    ]
    assert len(seg_dirs) == 1
    sealed_files = set(markers._walk_files(f"{store}/{seg_dirs[0]}"))

    apply(parts[2], 2)
    want_all = shingle_positions(docs)
    assert multiset_equal(read_span_store(spark, store), want_all)
    folded2, _ = compact_span_store(spark, store, target_files=2)
    assert folded2 > 0
    assert multiset_equal(read_span_store(spark, store), want_all)
    # the first sealed segment was not rewritten (leveled, not full)
    assert set(markers._walk_files(f"{store}/{seg_dirs[0]}")) == sealed_files


def test_span_store_legacy_flat_layout_raises_not_empty(spark, tmp_path):
    """A store holding data files at its ROOT (an
    older flat layout) must raise, not read as an empty corpus —
    silently scoring every drop as novel is the worst failure mode a
    dedup store can have. A genuinely fresh store still reads empty
    (the gated bootstrap contract)."""
    from node_js_etl_processor_spark.streaming.spanstore import (
        read_span_store,
    )

    fresh = str(tmp_path / "fresh_store")
    assert read_span_store(spark, fresh).count() == 0

    legacy = tmp_path / "legacy_store"
    legacy.mkdir()
    (legacy / "abc123-00000-part.parquet").write_bytes(b"PAR1")
    with pytest.raises(ValueError, match="FLAT layout"):
        read_span_store(spark, str(legacy))


def test_span_store_compaction_skips_inflight_publish(spark, sf_dir, tmp_path):
    """Pin (the real crash composition): a batch that
    crashed AFTER renaming its log files but BEFORE its marker leaves
    a live _staging/<tag>/_PUBLISHING manifest; compaction must NOT
    seal those files into a segment — recover_partial purges <tag>-*
    from log/ only, so a sealed copy would survive the purge and the
    re-delivered batch would double-count its own postings. Pinned
    end to end: compact with the manifest live (files stay in log,
    other batches still fold), then recover + re-publish + compact,
    and the final read equals the one-shot shingling exactly once."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.spans import shingle_positions
    from node_js_etl_processor_spark.streaming import markers
    from node_js_etl_processor_spark.streaming.spanstore import (
        compact_span_store,
        read_span_store,
        span_postings_applier,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).limit(120)
    a_docs = docs.filter(F.col("doc_id") % 2 == 0)
    b_docs = docs.filter(F.col("doc_id") % 2 == 1)
    store, ckpt = str(tmp_path / "if_store"), str(tmp_path / "if_ckpt")
    span_postings_applier(store, ckpt)(a_docs, 0)

    # simulate batch 1 crashing between its last rename and its
    # marker: publish via stage_and_publish but skip marker+cleanup
    tag = markers.marker_id(ckpt, 1)
    markers.stage_and_publish(
        store, tag, {"log": (shingle_positions(b_docs), None)}
    )

    folded, _ = compact_span_store(spark, store, target_files=2)
    assert folded > 0  # batch 0's files folded…
    live = [
        n for n, d in markers._listdir(f"{store}/log")
        if not d and n.startswith(f"{tag}-")
    ]
    assert live, "in-flight batch's files must stay in the log"

    # the stream restarts: recover, re-publish, mark — then compact
    markers.recover_partial(store, tag)
    markers.stage_and_publish(
        store, tag, {"log": (shingle_positions(b_docs), None)}
    )
    markers.cleanup_staging(store, tag)
    compact_span_store(spark, store, target_files=2)
    want = shingle_positions(a_docs.unionByName(b_docs))
    got = read_span_store(spark, store)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # the stale-staging twin: a tag WITH its applied marker (crash
    # between marker and cleanup) is a COMPLETED batch — compaction
    # must fold its rows and drop only the staging tree, so a batch
    # the stream never re-delivers cannot sit unfolded forever
    c_docs = docs.limit(0).unionByName(
        a_docs.limit(7).withColumn("doc_id", F.col("doc_id") + 100000)
    )
    tag2 = markers.marker_id(ckpt, 2)
    markers.stage_and_publish(
        store, tag2, {"log": (shingle_positions(c_docs), None)}
    )
    markers.mark_batch_applied(store, ckpt, 2)
    folded3, _ = compact_span_store(spark, store, target_files=2)
    assert folded3 > 0  # the marked batch's files DID fold
    assert not markers._exists(f"{store}/_staging/{tag2}")
    want2 = want.unionByName(shingle_positions(c_docs))
    got2 = read_span_store(spark, store)
    assert got2.exceptAll(want2).count() == 0
    assert want2.exceptAll(got2).count() == 0


@pytest.mark.parametrize("crash_point", ["before_pointer", "in_delete_window"])
def test_span_store_compaction_crash_matrix(
    spark, sf_dir, tmp_path, monkeypatch, crash_point
):
    """The compaction's two crash windows converge. Before the
    pointer switch: the written segment + manifest are orphans nothing
    references — readers still see the full log; the retried
    compaction sweeps the orphans and completes. Inside the delete
    window (pointer switched, folded log files still on disk): readers
    exclude the folded names via the manifest so nothing double-counts,
    and the next compaction's leftover sweep removes them."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.spans import shingle_positions
    from node_js_etl_processor_spark.streaming import markers
    from node_js_etl_processor_spark.streaming.spanstore import (
        compact_span_store,
        read_span_store,
        span_postings_applier,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).limit(200)
    store, ckpt = str(tmp_path / "cr_store"), str(tmp_path / "cr_ckpt")
    span_postings_applier(store, ckpt)(docs, 0)
    want = shingle_positions(docs)

    def multiset_equal(a, b):
        return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    if crash_point == "before_pointer":
        def boom_ptr(path, version):
            raise RuntimeError("injected crash before pointer switch")
        monkeypatch.setattr(markers, "set_current_version", boom_ptr)
    else:
        real_delete = markers._delete

        def boom_del(path):
            if f"/{'log'}/" in path:
                raise RuntimeError("injected crash in delete window")
            return real_delete(path)
        monkeypatch.setattr(markers, "_delete", boom_del)

    with pytest.raises(RuntimeError):
        compact_span_store(spark, store, target_files=2)
    # whichever window crashed, the read set is intact
    assert multiset_equal(read_span_store(spark, store), want)
    monkeypatch.undo()

    compact_span_store(spark, store, target_files=2)
    assert multiset_equal(read_span_store(spark, store), want)
    # converged state: one sealed segment, one manifest, empty log
    names = markers._listdir(store)
    assert len([n for n, d in names if d and n.startswith("seg_")]) == 1
    assert len([n for n, d in names if not d and n.startswith("m_")]) == 1
    log_left = [
        n for n, d in markers._listdir(f"{store}/log")
        if not d and not n.startswith(("_", "."))
    ] if markers._exists(f"{store}/log") else []
    assert log_left == []


def test_span_store_major_compaction_bounds_segments(
    spark, sf_dir, tmp_path
):
    """Minor-only compaction adds
    a sealed segment per run, unbounded in compaction count. With
    ``max_segments`` reached, a run folds segments + log into ONE
    fresh segment: reads stay multiset-identical through the major
    fold, the manifest's segment list collapses to one entry, the old
    segment dirs are GC'd, and subsequent minors build on top
    normally."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.spans import shingle_positions
    from node_js_etl_processor_spark.streaming import markers
    from node_js_etl_processor_spark.streaming.spanstore import (
        _read_manifest,
        compact_span_store,
        read_span_store,
        span_postings_applier,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).limit(150)
    store, ckpt = str(tmp_path / "mj_store"), str(tmp_path / "mj_ckpt")
    apply = span_postings_applier(store, ckpt)
    parts = [docs.filter(F.col("doc_id") % 3 == k) for k in range(3)]

    def multiset_equal(a, b):
        return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # two minors -> two sealed segments
    apply(parts[0], 0)
    compact_span_store(spark, store, target_files=2, max_segments=2)
    apply(parts[1], 1)
    compact_span_store(spark, store, target_files=2, max_segments=2)
    segs, _ = _read_manifest(store)
    assert len(segs) == 2
    want01 = shingle_positions(parts[0].unionByName(parts[1]))
    assert multiset_equal(read_span_store(spark, store), want01)

    # third run hits max_segments: MAJOR fold, one segment remains
    apply(parts[2], 2)
    compact_span_store(spark, store, target_files=2, max_segments=2)
    segs2, _ = _read_manifest(store)
    assert len(segs2) == 1
    assert not set(segs2) & set(segs), "major fold must mint a fresh segment"
    for old in segs:
        assert not markers._exists(f"{store}/{old}"), old
    want_all = shingle_positions(docs)
    assert multiset_equal(read_span_store(spark, store), want_all)

    # a major with an EMPTY log still folds once the cap is hit, and
    # an under-cap empty-log run stays a no-op
    assert compact_span_store(spark, store, target_files=2, max_segments=2)[0] == 0
    segs3, _ = _read_manifest(store)
    assert len(segs3) == 1
    assert multiset_equal(read_span_store(spark, store), want_all)


def test_span_store_replayed_batch_still_compacts_on_boundary(
    spark, sf_dir, tmp_path
):
    """A marker-hit re-delivery that lands on a
    compact_every boundary must still run the fold — the old early
    return deferred it a full cycle. Replay batch 1 (boundary, with
    compact_every=2) after its marker committed: the log folds into a
    segment and reads are unchanged."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.spans import shingle_positions
    from node_js_etl_processor_spark.streaming.spanstore import (
        _read_manifest,
        read_span_store,
        span_postings_applier,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).limit(100)
    store, ckpt = str(tmp_path / "rb_store"), str(tmp_path / "rb_ckpt")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)

    # no compaction configured on the first pass: both batches commit,
    # log only, no segments
    apply_plain = span_postings_applier(store, ckpt)
    apply_plain(a, 0)
    apply_plain(b, 1)
    assert _read_manifest(store) == ([], set())

    # the stream restarts WITH compact_every=2 and re-delivers batch 1
    # (its marker is committed): the boundary fold must run
    apply_c = span_postings_applier(store, ckpt, compact_every=2)
    apply_c(b, 1)
    segs, _ = _read_manifest(store)
    assert len(segs) == 1, "replayed boundary batch must still compact"
    want = shingle_positions(docs)
    got = read_span_store(spark, store)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


@pytest.mark.parametrize(
    "crash_point", ["before_manifest", "before_pointer", "segment_gc_window"]
)
def test_span_store_major_compaction_crash_matrix(
    spark, sf_dir, tmp_path, monkeypatch, crash_point
):
    """The MAJOR fold keeps the minor fold's commit protocol, so
    its three crash windows must converge the same way. Before the
    manifest write: the fresh segment is an orphan nothing names.
    Before the pointer switch: segment + manifest both orphans — the
    entry sweep of the retry removes them (the manifest because it is
    not what _CURRENT names, the segment because the CURRENT manifest
    does not list it). Inside the post-switch GC window (old segments
    partially deleted): readers resolve ONLY the new manifest's
    segment list, so half-deleted old segments are invisible, and the
    next run's sweep finishes the removal."""
    from node_js_etl_processor_spark.catalog import load_table
    from node_js_etl_processor_spark.operators.spans import shingle_positions
    from node_js_etl_processor_spark.streaming import markers
    from node_js_etl_processor_spark.streaming.spanstore import (
        _read_manifest,
        compact_span_store,
        read_span_store,
        span_postings_applier,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).limit(150)
    store, ckpt = str(tmp_path / "mc_store"), str(tmp_path / "mc_ckpt")
    apply = span_postings_applier(store, ckpt)
    parts = [docs.filter(F.col("doc_id") % 3 == k) for k in range(3)]
    # two minors -> two sealed segments; a third batch in the log
    apply(parts[0], 0)
    compact_span_store(spark, store, target_files=2, max_segments=2)
    apply(parts[1], 1)
    compact_span_store(spark, store, target_files=2, max_segments=2)
    apply(parts[2], 2)
    assert len(_read_manifest(store)[0]) == 2
    want = shingle_positions(docs)

    def multiset_equal(a, b):
        return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    if crash_point == "before_manifest":
        def boom_txt(path, text):
            raise RuntimeError("injected crash before manifest write")
        monkeypatch.setattr(markers, "_write_text", boom_txt)
    elif crash_point == "before_pointer":
        def boom_ptr(path, version):
            raise RuntimeError("injected crash before pointer switch")
        monkeypatch.setattr(markers, "set_current_version", boom_ptr)
    else:
        real_delete = markers._delete
        blown = []

        def boom_del(path):
            # let the folded-log deletes through, crash on the FIRST
            # old-segment delete — the post-switch GC window
            if "/seg_" in path and not blown:
                blown.append(path)
                raise RuntimeError("injected crash in segment GC window")
            return real_delete(path)
        monkeypatch.setattr(markers, "_delete", boom_del)

    with pytest.raises(RuntimeError):
        compact_span_store(spark, store, target_files=2, max_segments=2)
    # whichever window crashed, reads are intact (no loss, no double)
    assert multiset_equal(read_span_store(spark, store), want)
    monkeypatch.undo()

    compact_span_store(spark, store, target_files=2, max_segments=2)
    assert multiset_equal(read_span_store(spark, store), want)
    # converged: exactly one sealed segment, one manifest, empty log
    names = markers._listdir(store)
    assert len([n for n, d in names if d and n.startswith("seg_")]) == 1
    assert len([n for n, d in names if not d and n.startswith("m_")]) == 1
    log_left = [
        n for n, d in markers._listdir(f"{store}/log")
        if not d and not n.startswith(("_", "."))
    ] if markers._exists(f"{store}/log") else []
    assert log_left == []
