"""The composed "ingest day": ONE foreachBatch session running a
multiplexed crawl-drop feed through EVERY store tier the engine
maintains — the end-to-end composition the individual ingest loops
(streaming/dedup.py, indexing.py, graphs.py, sketches.py,
warehouse.py) were built for, exercised as a single pipeline instead
of eight isolated streams.

Feed contract: each micro-batch is one "drop" — a union-schema frame
carrying crawl documents (``kind='doc'``: doc_id, text, lang, source,
n_chars), warehouse CDC facts (``kind='order'``: o_orderkey,
o_custkey, o_orderstatus, o_orderdate) and — since r14 — media blobs
(``kind='image'``: media_id, payload_b64) side by side, the shape a
multiplexed ingest topic delivers. Document drops must arrive in
doc_id order, CDC drops in per-key (o_orderdate, o_orderkey) order
and media drops in media_id order — the same contracts the
individual loops inherit.

Per batch, the document lane runs the curation chain

    exact fingerprint dedup → minhash near-dup → simhash near-dup

with each tier's survivors feeding the next (the store-backed keeper
rules — drop against anything SEEN, not just kept), then the final
survivors feed the derived stores:

    BM25 postings index, link-graph edge store,
    HLL (distinct doc_ids per lang) and HDR (n_chars quantiles per
    lang) sketch stores,

while the exact-survivors' embeddings (joined from the embedding
lookup — the stand-in for an embedding service) maintain the ANN
layout + embedding near-dup tier, the media lane dedups images
against the dHash postings store (``image_dedup_applier`` — the
exact-dedup store shape on the perceptual key), the set-key lane
(r16, ``streaming/setkey.py``) maintains the setsim family's
template-collapse representative store off the raw doc feed, the
shingle-postings lane (r16, ``streaming/spanstore.py``) keeps
ExactSubstr span-extent reads current, the vocabulary lane (r16,
``streaming/vocab.py``) keeps the lexical-diversity statistics
current — both also off the raw feed — and the CDC lane merges into
the SCD2 dimension store.

Exactly-once composition: every tier keeps its OWN (checkpoint,
batch_id) marker, so a crash mid-batch — after some tiers committed,
before others — re-delivers the batch and each tier either no-ops
(marker hit) or recovers + re-applies. The one piece the composition
adds over the individual loops: a tier whose marker is hit cannot
recompute its survivors (its store now contains the batch's own rows,
which would flip every keeper decision), so the dedup appliers return
the batch's PUBLISHED survivors (``markers.read_batch_output`` — the
batch-tagged files in the live output tree), which is exactly what the
original run handed downstream. tests/test_ingest_day.py pins the
whole composition — including a mid-chain injected crash — against
the one-shot batch rebuild of every store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import barrier

#: the multiplexed feed's column split. Media payloads ride the feed
#: base64-encoded (``payload_b64`` — JSON drops cannot carry raw
#: binary); the media lane decodes at ingest.
DOC_COLS = ("doc_id", "text", "lang", "source", "n_chars")
ORDER_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate")
MEDIA_COLS = ("media_id", "payload_b64")


def ingest_day_applier(
    paths: "dict[str, str]",
    checkpoint: str,
    embeddings: DataFrame,
    compact_every: int = 0,
):
    """Build the composed per-batch applier. ``paths`` names every
    store root: fp_store/fp_out, mh_store/mh_out, sh_store/sh_out,
    ann_store/ann_out, img_store/img_out, bm25, edges, hll, hdr,
    kmv, setkey_store/setkey_out, spanstore, vocab, scd2.
    ``embeddings``
    is the static (vec_id, embedding) lookup
    joined to the exact survivors' doc_ids (vec_id == doc_id in the
    fixture corpus). The media lane (r14) is optional: omit
    img_store/img_out from ``paths`` to run a text+CDC-only day.

    ``compact_every=N`` (r16 advice) folds the log-structured partial
    lanes every N batches (0 = never): it reaches the VOCABULARY lane
    — the highest-fan-out append path, O(batch vocabulary) partial
    files per batch across 64 buckets, which previously never
    compacted in the composed loop even though compact_vocab_store
    exists to cap exactly that file-listing growth — the EDGES
    lane, whose applier shares the generation-compaction slot, and
    (r18) the SPAN-POSTINGS lane, whose corpus-sized store takes the
    leveled MINOR compaction (fold only the log into a sealed
    segment, never rewrite the corpus — streaming/spanstore.py)."""
    # r16 (advice item): validate required store roots up front with a
    # message naming what is missing — the kmv theta lane (r15) made a
    # bare ``paths["kmv"]`` KeyError possible for callers holding a
    # pre-r15 path dict. Only the media lane is optional.
    required = {
        "fp_store", "fp_out", "mh_store", "mh_out", "sh_store", "sh_out",
        "ann_store", "ann_out", "bm25", "edges", "hll", "hdr", "kmv",
        "setkey_store", "setkey_out", "spanstore", "vocab", "scd2",
    }
    missing = sorted(required - set(paths))
    if missing:
        raise ValueError(
            "ingest_day_applier: paths is missing required store "
            f"root(s) {missing} — every non-media tier needs its root "
            "(the 'kmv' theta lane is required since r15, the 'vocab' "
            "diversity lane since r16; only img_store/img_out are "
            "optional)"
        )
    from ..operators.sketch import hdr_sketch, hll_registers
    from .dedup import (
        embedding_applier,
        exact_dedup_applier,
        image_dedup_applier,
        near_dup_applier,
        simhash_applier,
    )
    from .graphs import link_graph_applier
    from .indexing import bm25_applier
    from .sketches import sketch_merge_applier
    from .warehouse import scd2_applier

    exact = exact_dedup_applier(paths["fp_store"], paths["fp_out"], checkpoint)
    near = near_dup_applier(paths["mh_store"], paths["mh_out"], checkpoint)
    sim = simhash_applier(paths["sh_store"], paths["sh_out"], checkpoint)
    emb = embedding_applier(paths["ann_store"], paths["ann_out"], checkpoint)
    bm25 = bm25_applier(paths["bm25"], checkpoint)
    edges = link_graph_applier(paths["edges"], checkpoint, compact_every)
    hll = sketch_merge_applier(
        paths["hll"],
        checkpoint,
        build_batch=lambda b: hll_registers(b, "lang", "doc_id"),
        merge_keys=("lang", "bucket"),
        merge_agg=lambda: F.max("reg").alias("reg"),
    )
    hdr = sketch_merge_applier(
        paths["hdr"],
        checkpoint,
        build_batch=lambda b: hdr_sketch(b, "lang", "n_chars"),
        merge_keys=("lang", "idx"),
        merge_agg=lambda: F.sum("cnt").cast("bigint").alias("cnt"),
    )
    # r15: the theta-sketch tier — per-source distinct doc_ids as a
    # packed KMV bottom-k store (streaming/theta.py: the generic merge
    # loop with the union-then-bottom-k law as a per-GROUP aggregate),
    # so the day's stores can answer SET-ALGEBRA cardinality questions
    # (sources' overlap / difference) that the HLL tier cannot
    from .theta import kmv_merge_applier

    kmv = kmv_merge_applier(paths["kmv"], checkpoint, "source", "doc_id")
    # r16: the set-key collapse tier — the setsim family's template
    # collapse (exact_set_reps) maintained incrementally, a parallel
    # curation axis off the raw doc lane (a doc whose DISTINCT token
    # set was seen — reordered or re-whitespaced — is dropped)
    from .setkey import set_collapse_applier

    setk = set_collapse_applier(
        paths["setkey_store"], paths["setkey_out"], checkpoint
    )
    # r16: the shingle-postings tier — ExactSubstr span dedup made
    # incremental (tokenize once at ingest; extents are a read over
    # stored 8-byte digests, streaming/spanstore.py)
    from .spanstore import span_postings_applier

    spanp = span_postings_applier(
        paths["spanstore"], checkpoint, compact_every=compact_every
    )
    # r16: the vocabulary tier — per-(source, token) SUM-mergeable
    # count partials (sources/vocab_store.py), so lexical-diversity
    # statistics (diversity_from_store == batch q_simpson_diversity)
    # stay current without re-tokenizing the corpus; off the RAW doc
    # lane like the set-key and span tiers, so the stored statistics
    # cover the whole feed
    from .vocab import vocab_applier

    voc = vocab_applier(paths["vocab"], checkpoint, compact_every)
    scd2 = scd2_applier(paths["scd2"], checkpoint)
    img_keys = {"img_store", "img_out"} & set(paths)
    if len(img_keys) == 1:
        raise ValueError(
            "ingest_day_applier: the media lane needs BOTH img_store and "
            f"img_out in paths (got only {img_keys.pop()!r}) — omit both "
            "for a text+CDC-only day"
        )
    img = (
        image_dedup_applier(paths["img_store"], paths["img_out"], checkpoint)
        if img_keys
        else None
    )

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = barrier.cut(batch_df, "streaming.ingest_day.batch")
        docs = batch_df.filter(F.col("kind") == "doc").select(*DOC_COLS)
        cdc = batch_df.filter(F.col("kind") == "order").select(*ORDER_COLS)

        # document lane: the chained curation tiers — each applier is
        # individually idempotent, and a marker-hit tier returns its
        # published survivors so the chain survives re-delivery
        s_exact = exact(docs, batch_id)
        if s_exact is None:
            s_exact = docs.limit(0)
        s_near = near(s_exact, batch_id)
        if s_near is None:
            s_near = s_exact.limit(0)
        s_sim = sim(s_near, batch_id)
        if s_sim is None:
            s_sim = s_near.limit(0)

        # embedding tier off the exact survivors (near/sim text dedup
        # and embedding near-dup are parallel curation axes)
        batch_embs = embeddings.join(
            s_exact.select(F.col("doc_id").alias("vec_id")), "vec_id"
        )
        emb(batch_embs, batch_id)

        # set-key collapse tier (r16) — a parallel curation axis off
        # the RAW doc lane: it maintains the setsim template-collapse
        # representative store for the whole feed, independent of the
        # fingerprint chain's keeper decisions
        setk(docs, batch_id)

        # shingle-postings tier (r16) — also off the RAW doc lane, so
        # stored extents equal the batch q_span_extents over the
        # whole corpus
        spanp(docs, batch_id)

        # vocabulary tier (r16) — raw doc lane; stored diversity
        # statistics equal batch q_simpson_diversity over the corpus
        voc(docs, batch_id)

        # media lane (r14): perceptual dHash dedup against the
        # img_store postings tier — a parallel curation axis like the
        # embedding tier, placed BEFORE the derived stores so a crash
        # there exercises this tier's marker-hit read-back on
        # redelivery (the composed test pins it)
        if img is not None:
            media = (
                batch_df.filter(F.col("kind") == "image")
                .select(*MEDIA_COLS)
                .select(
                    "media_id",
                    F.unbase64(F.col("payload_b64")).alias("payload"),
                )
            )
            img(media, batch_id)

        # derived stores off the final text-dedup survivors
        bm25(s_sim, batch_id)
        edges(s_sim, batch_id)
        hll(s_sim, batch_id)
        hdr(s_sim, batch_id)
        kmv(s_sim, batch_id)

        # warehouse lane
        scd2(cdc, batch_id)

    return _ingest


def ingest_day_stream(
    feed_stream: DataFrame,
    paths: "dict[str, str]",
    checkpoint: str,
    embeddings: DataFrame,
    compact_every: int = 0,
):
    """The composed ingest day as ONE started stream (availableNow):
    see ``ingest_day_applier`` for the tier graph, the exactly-once
    composition argument and the ``compact_every`` lane plumbing."""
    return (
        feed_stream.writeStream.foreachBatch(
            ingest_day_applier(paths, checkpoint, embeddings, compact_every)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
