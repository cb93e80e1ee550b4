"""Ingest-time BM25 postings index — the stored form of the lexical
ranker.

``operators.text.bm25_scores`` documents that at scale the tf/df
tables are computed once at ingest; this module is that store, in the
mold of similarity_layout / dedup_store:

- ``write_bm25_index`` materializes term postings (doc_id, term, tf,
  dl — doc length DENORMALIZED into the posting row so a probe never
  joins the corpus-sized doclen table), Hive-partitioned by a 64-way
  term-hash bucket (a directory per raw term would explode the
  namespace at web vocab sizes); plus the per-term df table (same
  bucketing) and the corpus stats;
- ``append_bm25_index`` ingests a NEW document batch
  incrementally — the maintenance story every other store here
  already had. df and stats are stored as MERGEABLE PARTIALS (the
  Count-Min/HLL trick applied to index statistics): an append writes
  the batch's per-term df rows and one (n_docs, sum_dl) stats row,
  never reading or rewriting existing data; readers aggregate
  (SUM(df) per term, SUM(sum_dl)/SUM(n_docs) for avgdl) over the ≤
  n_terms pruned buckets, so probe cost is unchanged;
- ``bm25_from_index`` scores a query from the store alone: the query
  terms' buckets become PartitionFilters on the postings scan (the
  file listing prunes to ≤ n_terms of 64 directories), the df/stats
  sides are parameter-sized broadcasts, and the corpus TEXT is never
  read — the per-query cost is O(matching postings), the inverted-
  index contract.

Equivalence is test-pinned both ways: index == on-the-fly
``bm25_scores``, and write(old) + append(new) == write(old ∪ new).
Contract: appended batches carry doc_ids not already indexed (the
dedup-store loops upstream guarantee exactly that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from node_js_etl_processor_spark.operators.text import tokens

#: Term-hash fanout of the postings layout.
N_TERM_BUCKETS = 64


def _term_bucket(term: F.Column) -> F.Column:
    from node_js_etl_processor_spark.functions.bucketing import hash_bucket

    return hash_bucket(term, N_TERM_BUCKETS)


def _batch_layout(documents: DataFrame):
    """(postings, df-partials, stats-partial) for one document batch —
    the shared build of write and append. One explode + two keyed
    aggregations, the same ingest cost the bm25_scores docstring
    budgets."""
    from node_js_etl_processor_spark.catalog import spread

    toked = (
        spread(documents)
        .select(
            "doc_id", F.explode_outer(tokens(F.lower(F.col("text")))).alias("term")
        )
        .filter(F.col("term").isNotNull())
    )
    tf = toked.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    doclen = toked.groupBy("doc_id").agg(F.count("*").alias("dl"))
    postings = tf.join(doclen, "doc_id").withColumn(
        "term_bucket", _term_bucket(F.col("term"))
    )
    df = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .withColumn("term_bucket", _term_bucket(F.col("term")))
    )
    stats = doclen.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    return postings, df, stats


def _batch_parts(documents: DataFrame) -> dict:
    """``_batch_layout`` as the ``markers.write_parts`` layout every
    writer of the index shares: the batch build, the ad-hoc append
    and the ingest loop's staged publish."""
    postings, df, stats = _batch_layout(documents)
    return {
        "postings": (postings, "term_bucket"),
        "df": (df, "term_bucket"),
        "stats": (stats, None),
    }


def write_bm25_index(documents: DataFrame, path: str) -> None:
    """Build and persist the postings/df/stats layout under ``path``
    (overwrite)."""
    from ..streaming.markers import write_parts

    write_parts(path, _batch_parts(documents))


def append_bm25_index(documents: DataFrame, path: str) -> None:
    """Ingest a new batch into an existing index: three appends —
    postings rows, per-term df partials, one stats partial row.
    Nothing existing is read or rewritten (df/stats are mergeable
    partials the readers SUM), so index maintenance is O(|batch|)
    regardless of index size — the same access pattern as the
    near-dup stores' appends. Batch doc_ids must be new to the index.

    The append goes through ``markers.stage_and_publish`` under a
    random tag: the batch's rows land in ``<path>/_staging/<tag>``
    first and are then renamed into the live tree under batch-tagged
    names, so a crashed append is recoverable instead of leaving
    half-published postings — ``markers.recover_all_partial`` repairs
    it from the staging tree the dead process left behind. The ingest
    loop (``streaming/indexing.py``) publishes the same parts under
    its deterministic (checkpoint, batch_id) tag instead."""
    import uuid

    from ..streaming.markers import cleanup_staging, stage_and_publish

    tag = uuid.uuid4().hex[:12]
    stage_and_publish(path, tag, _batch_parts(documents))
    cleanup_staging(path, tag)


def bm25_from_index(
    spark: SparkSession,
    path: str,
    query_terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score ``query_terms`` from the stored index: partition-pruned
    postings scan + broadcast idf — no tokenization, no text read, no
    corpus-sized join. Output (doc_id, bm25) identical to
    ``bm25_scores`` on the indexed corpus (test-pinned)."""
    qterms = [t.lower() for t in query_terms]
    # the terms' buckets, computed through the SAME engine expression
    # (xxhash64 has no public Python twin here — a parameter-sized
    # driver round-trip, not a data collect)
    bucket_rows = (
        spark.createDataFrame([(t,) for t in qterms], "term string")
        .select(_term_bucket(F.col("term")).alias("b"))
        .collect()
    )
    buckets = sorted({r["b"] for r in bucket_rows})
    postings = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("term_bucket").isin(buckets))
        .filter(F.col("term").isin(qterms))
    )
    # df and stats are stored as per-batch MERGEABLE PARTIALS (one row
    # per term per appended batch / one stats row per batch): readers
    # aggregate, so appends never rewrite and probes stay pruned
    dft = (
        spark.read.parquet(f"{path}/df")
        .filter(F.col("term_bucket").isin(buckets))
        .filter(F.col("term").isin(qterms))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    stats_raw = spark.read.parquet(f"{path}/stats")
    if "sum_dl" not in stats_raw.columns:
        # layout guard: older indexes stored (n_docs, avgdl)
        # finals instead of mergeable (n_docs, sum_dl) partials; the
        # reader's SUMs cannot reconstruct avgdl from them
        raise ValueError(
            f"BM25 index at {path!r} uses the pre-partials stats layout "
            f"(columns {stats_raw.columns}); this reader needs the "
            "mergeable (n_docs, sum_dl) form introduced with "
            "append_bm25_index — rebuild the index with write_bm25_index"
        )
    stats = stats_raw.agg(
        F.sum("n_docs").alias("n_docs"),
        (F.sum("sum_dl") / F.sum("n_docs")).alias("avgdl"),
    )
    idf = dft.crossJoin(F.broadcast(stats)).select(
        "term",
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        ).alias("idf"),
        "avgdl",
    )
    scored = postings.join(F.broadcast(idf), "term").select(
        "doc_id",
        (
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
        ).alias("term_score"),
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.sum("term_score"), 4).alias("bm25")
    )


def compact_bm25_index(spark: SparkSession, src: str, dst: str) -> None:
    """Fold an append log into a fresh compact index at ``dst``:
    postings rewritten one-file-per-bucket-per-shuffle-partition, df
    partials SUMmed per term, stats partials folded to one row —
    score-identical to the source (the reader aggregates partials, so
    folding them is a no-op algebraically; test-pinned), with file
    count reset to O(buckets) after any number of appended batches.

    Offline blue/green form: compaction writes a NEW store and the
    caller repoints consumers (or swaps paths between ingest runs) —
    the right shape for the inverted index, whose probe paths are
    pinned to ``<path>/postings`` etc.; the generation-pointer form
    the edge and vocabulary stores use (``sources/partials_store.py``)
    trades an extra pointer resolution per probe for in-place
    compaction, which a per-query-latency-sensitive index doesn't
    want.

    Replay safety across the swap: compaction first purges any
    UNMARKED partial publish (``recover_all_partial`` — safe in the
    offline single-writer slot, where nothing can be in flight) so a
    crashed batch's rows are never folded into the new store, then
    carries the applied markers to ``dst`` — a checkpointed ingest
    stream repointed at the compacted store keeps its exactly-once
    re-delivery guards."""
    from ..streaming.markers import _listdir, _mkdirs, recover_all_partial

    recover_all_partial(src)
    postings = spark.read.parquet(f"{src}/postings")
    postings.repartition("term_bucket").write.mode("overwrite").partitionBy(
        "term_bucket"
    ).parquet(f"{dst}/postings")
    df = (
        spark.read.parquet(f"{src}/df")
        .groupBy("term", "term_bucket")
        .agg(F.sum("df").cast("bigint").alias("df"))
    )
    df.repartition("term_bucket").write.mode("overwrite").partitionBy(
        "term_bucket"
    ).parquet(f"{dst}/df")
    spark.read.parquet(f"{src}/stats").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("sum_dl").cast("bigint").alias("sum_dl"),
    ).coalesce(1).write.mode("overwrite").parquet(f"{dst}/stats")
    for name, is_dir in _listdir(f"{src}/_batches"):
        if is_dir:
            _mkdirs(f"{dst}/_batches/{name}")
