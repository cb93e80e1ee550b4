"""Streaming deduplication with watermark-bounded state.

The streaming twin of the batch dedup family (operators/dedup.py):
incoming events may repeat (at-least-once sources, retried producers),
and the stream must emit each logical event once without keeping
unbounded seen-key state.

- ``dedup_events_stream`` — ``dropDuplicatesWithinWatermark``: state
  for a key is dropped once the watermark passes it, so memory is
  bounded by (watermark lag × event rate) while still absorbing any
  duplicate that arrives within the lag. This is the correct semantics
  for retry-induced duplicates, which arrive close to the original.
- ``dedup_exact_stream`` — plain ``dropDuplicates`` on the key for
  comparison; state grows forever (documented anti-pattern at scale,
  kept for parity with the batch exact-dedup semantics in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions import barrier
from ..functions.timeutil import ensure_instant
from .markers import start_ingest


def dedup_events_stream(
    events_stream: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermark-bounded streaming dedup on ``keys`` (default:
    event_id). Input must be a streaming DataFrame with a ``ts``
    timestamp column."""
    events_stream = ensure_instant(events_stream)
    return events_stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def dedup_exact_stream(
    events_stream: DataFrame,
    keys: list[str] | None = None,
) -> DataFrame:
    """Exact streaming dedup via plain ``dropDuplicates`` on ``keys``
    (default: event_id).

    State-growth warning: without a watermark, the seen-key state grows
    without bound — every key ever observed stays in the state store
    forever. Kept for parity with batch exact-dedup semantics (absorbs
    duplicates arbitrarily far apart); at scale use
    ``dedup_events_stream``, whose state is bounded by watermark lag.
    """
    return events_stream.dropDuplicates(keys or ["event_id"])


def url_frontier_stream(
    urls_stream: DataFrame,
    url_col: str = "url",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming crawl-frontier dedup: canonicalize each discovered
    URL (``operators.text.normalize_url`` — the exact batch
    expression, so stream and batch agree bit-for-bit on the key) and
    keep the first arrival per canonical key within the watermark
    window. The input must carry a ``ts`` discovery-time column; state
    for a canonical URL is dropped once the watermark passes it —
    the right semantics for a frontier, where re-discoveries cluster
    near the first sighting (links propagate fast) and a re-crawl
    after the horizon is usually WANTED (content may have changed).

    At 100 TB-frontier scale the state is bounded by
    (watermark lag × discovery rate), and the canonical key is ~60
    bytes/URL — the batch backstop for the long tail is
    ``operators.text.q_url_dedup`` over the landing zone, the same
    ingest/compact split as the curation pipeline."""
    from pyspark.sql import functions as F

    from ..functions.timeutil import ensure_instant
    from ..operators.text import normalize_url

    canon = ensure_instant(urls_stream).withColumn(
        "canonical_url", normalize_url(F.col(url_col))
    )
    return canon.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["canonical_url"]
    )


def _losers(pairs: DataFrame, kind: str = "doc") -> DataFrame:
    """The batch rows a delta probe's verified pairs drop, as one
    ``<kind>_id`` column: the new side of a new-old pair, the larger
    id of a new-new pair (its smaller-id batch mate is kept)."""
    from pyspark.sql import functions as F

    return pairs.select(
        F.when(F.col("pair_type") == "new-old", F.col(f"{kind}_a"))
        .otherwise(F.col(f"{kind}_b"))
        .alias(f"{kind}_id")
    ).distinct()


def exact_dedup_applier(store_path: str, out_path: str, checkpoint: str):
    """The per-batch body of ``exact_dedup_ingest_stream`` as a
    reusable applier callable — idempotent per (checkpoint, batch_id)
    via ``markers.staged_applier``, so the composed ingest-day loop
    (``streaming/ingest_day.py``) can run it alongside the other
    store tiers inside ONE foreachBatch.

    Per micro-batch, every doc whose text fingerprint is already in
    the store is dropped, and of the rest one doc per fingerprint is
    kept (min doc_id — ``first_per_key``); the survivors go to
    ``out_path`` and their fingerprints to the store. The store IS the
    cross-batch dedup state: unbounded-corpus-sized on DISK (16
    bytes/doc in parquet), not in executor memory — the shape a plain
    ``dropDuplicates`` stream cannot reach, because exact corpus dedup
    must never forget (no watermark can bound it). foreachBatch is
    the right tool precisely because each batch needs a BATCH join
    against an existing table plus two idempotent appends.

    Batch equivalence is test-pinned: streamed batches ==
    q_dedup_docs keepers when arrival order matches doc_id order.
    EVERY batch — bootstrap included — lands via the staged publish
    (the store root is never overwritten, so markers survive), and a
    re-delivery first purges its own partially-published files, so
    the store-missing test correctly re-selects the in-batch-only
    dedup for a crashed first batch."""
    from pyspark.sql import functions as F

    from ..operators.dedup import fingerprint, first_per_key
    from .markers import staged_applier, store_has_data

    def step(batch_df: DataFrame):
        keyed = batch_df.withColumn("fp", fingerprint(F.col("text")))
        seen = None
        if store_has_data(store_path):
            seen = batch_df.sparkSession.read.parquet(store_path)
        kept = barrier.cut(
            first_per_key(keyed, "fp", seen=seen), "streaming.dedup.exact_survivors"
        )
        return kept.drop("fp"), {"": (kept.select("fp"), None)}

    return staged_applier(store_path, checkpoint, step, out_path)


def exact_dedup_ingest_stream(
    docs_stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint: str,
):
    """Exact-dedup ingest as a STREAM:
    see ``exact_dedup_applier`` for the per-batch semantics and the
    exactly-once protocol. Returns the started query (availableNow —
    the same drain-the-source twin as every refresh here). Batch
    equivalence is test-pinned: streamed batches == q_dedup_docs
    keepers when arrival order matches doc_id order."""
    return start_ingest(
        docs_stream,
        exact_dedup_applier(store_path, out_path, checkpoint),
        checkpoint,
    )


def near_dup_applier(
    store_dir: str,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
):
    """The per-batch body of ``near_dup_ingest_stream`` as a reusable
    applier (for the composed ingest-day loop) — the minhash twin of
    ``exact_dedup_ingest_stream``: per micro-batch, the batch is
    hashed once, its band postings are probed against the stored ones
    (``sources.dedup_store.dedup_minhash_delta``) and the candidates
    are VERIFIED in signature space (estimated Jaccard =
    agreeing-minhash fraction against the batch's and the stored
    signatures, Broder 1997), so the accepted corpus's text is never
    read — not even for verification. Docs with an est-Jaccard ≥
    threshold link to anything seen earlier (or to a smaller-doc_id
    batch mate) are dropped; survivors land in ``out_path``; the
    WHOLE batch's postings + signatures are appended (the keeper rule
    is 'drop if near-dup of anything seen', which makes the stream
    decision-identical to the batch
    ``minhash_near_dup_keepers`` — test-pinned).

    State = the store on disk (~260 sig bytes + ~160 posting bytes
    per doc), unbounded-corpus-sized but never in executor memory —
    the exact_dedup_ingest_stream argument, with verification data
    included."""
    import os

    from pyspark.sql import functions as F

    from ..operators.dedup import (
        minhash_band_postings_from_sigs,
        minhash_est_jaccard,
        minhash_signatures,
    )
    from ..sources.dedup_store import dedup_minhash_delta
    from .markers import staged_applier, store_has_data

    post_path = os.path.join(store_dir, "postings")
    sigs_path = os.path.join(store_dir, "sigs")

    def side(frame: DataFrame, name: str, *keep: str) -> DataFrame:
        return frame.select(
            F.col("doc_id").alias(f"doc_{name}"),
            *keep,
            *[F.col(f"h{i}").alias(f"{name}_h{i}") for i in range(num_hashes)],
        )

    # the staged applier runs this only after recovering the batch's
    # own partial publish, so the delta probe never matches it
    def step(batch_df: DataFrame):
        batch_df = barrier.cut(batch_df, "streaming.dedup.near_dup_batch")
        sigs = barrier.cut(
            minhash_signatures(batch_df, num_hashes), "streaming.dedup.near_dup_sigs"
        )
        post = minhash_band_postings_from_sigs(sigs, num_hashes, bands)
        # doc_b is a batch doc in new-new pairs and a stored one in new-old
        b_sigs = sigs.withColumn("pair_type", F.lit("new-new"))
        if store_has_data(sigs_path):
            stored = batch_df.sparkSession.read.parquet(sigs_path)
            b_sigs = b_sigs.unionByName(
                stored.withColumn("pair_type", F.lit("new-old"))
            )
        verified = (
            dedup_minhash_delta(post, post_path)
            .join(side(sigs, "a"), "doc_a")
            .join(side(b_sigs, "b", "pair_type"), ["doc_b", "pair_type"])
            .filter(minhash_est_jaccard("a_", "b_", num_hashes) >= threshold)
        )
        survivors = barrier.cut(
            batch_df.join(_losers(verified), "doc_id", "left_anti"),
            "streaming.dedup.near_dup_survivors",
        )
        # append the WHOLE batch (seen, not just kept) — see docstring
        return survivors, {"postings": (post, "band"), "sigs": (sigs, None)}

    return staged_applier(store_dir, checkpoint, step, out_path)


def near_dup_ingest_stream(
    docs_stream: DataFrame,
    store_dir: str,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
):
    """Near-duplicate ingest as a stream: see
    ``near_dup_applier`` for the per-batch semantics, keeper rule and
    exactly-once protocol. Returns the started query (availableNow)."""
    return start_ingest(
        docs_stream,
        near_dup_applier(
            store_dir, out_path, checkpoint, threshold, num_hashes, bands
        ),
        checkpoint,
    )


def simhash_applier(
    store_dir: str,
    out_path: str,
    checkpoint: str,
    max_hamming: int = 3,
):
    """SimHash near-dup ingest applier (completes the streamed
    dedup trio for the composed ingest-day loop): per batch, the numpy
    signature kernel runs once, and the batch's 4x16-bit band postings
    are probed against the stored ones with the Hamming verify fused
    in (``sources.dedup_store.dedup_simhash_delta`` — the store side
    never re-reads text); a doc is dropped if a verified pair links it
    to anything seen earlier or to a smaller-doc_id batch mate,
    survivors land in ``out_path`` and the WHOLE batch's postings
    append (seen, not just kept — the minhash loop's contract).
    Exactly-once via the same staged-publish + marker protocol as
    ``near_dup_applier``."""
    from ..operators.dedup import (
        simhash_band_postings_from_sigs,
        simhash_signatures_numpy,
    )
    from ..sources.dedup_store import dedup_simhash_delta
    from .markers import staged_applier

    def step(batch_df: DataFrame):
        batch_df = barrier.cut(batch_df, "streaming.dedup.simhash_batch")
        sigs = barrier.cut(
            simhash_signatures_numpy(batch_df, drop_tokenless=True),
            "streaming.dedup.simhash_sigs",
        )
        post = simhash_band_postings_from_sigs(sigs)
        pairs = dedup_simhash_delta(post, store_dir, max_hamming)
        survivors = barrier.cut(
            batch_df.join(_losers(pairs), "doc_id", "left_anti"),
            "streaming.dedup.simhash_survivors",
        )
        return survivors, {"": (post, "band")}

    return staged_applier(store_dir, checkpoint, step, out_path)


def countmin_ingest_stream(
    items_stream: DataFrame,
    key_col: str,
    store_path: str,
    checkpoint: str,
):
    """Count-Min grid maintenance as a stream: per micro-batch,
    build the batch's d×w grid (one keyed agg) and MERGE it into the
    stored grid by cell-wise addition — the property the sketch exists
    for (Cormode & Muthukrishnan 2005: CM sketches of two streams sum
    to the sketch of their union, exactly). State is the 256-cell
    parquet grid, so estimation over the ENTIRE history costs a
    broadcast join against 256 rows no matter how much has streamed
    through. Exactness of the merge (not an approximation — the
    approximation lives only in width-bounded collisions) is
    test-pinned: streamed grid == one-shot batch grid, cell for
    cell.

    Exactly-once (the versioned-pointer protocol, closing the
    merge-loop window the append loops' staged publish cannot): each
    batch writes the merged grid to a NEW ``v_<tag>`` directory and
    atomically repoints ``_CURRENT`` at it. A crash mid-write leaves
    the pointer on the old version (re-delivery re-merges from it); a
    crash between the pointer switch and the marker is detected
    because the pointer already names THIS batch's version (just
    mark); the old grid is never destroyed until its successor is
    live. Affordable precisely because the store is parameter-sized —
    the general partition-rewriting merge (SCD2) still needs a
    transactional table format.

    The protocol body lives ONCE in
    ``streaming/sketches.py::sketch_merge_ingest_stream`` (the loop
    generalized over sketch merge laws — this grid was the precedent
    and now delegates to it, so a future crash-window fix lands in
    every sketch family at once); the grid's law is cell-wise SUM on
    (row, col). Crash tests re-pin the delegated form at both
    windows."""
    from pyspark.sql import functions as F

    from ..operators.sketch import countmin_build
    from .sketches import sketch_merge_ingest_stream

    return sketch_merge_ingest_stream(
        items_stream,
        store_path,
        checkpoint,
        build_batch=lambda b: countmin_build(b, key_col),
        merge_keys=("row", "col"),
        merge_agg=lambda: F.sum("c").cast("bigint").alias("c"),
    )


def embedding_applier(
    store_dir: str,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.30,
    n_planes: int = 8,
    n_cells: int = 8,
):
    """The per-batch body of ``embedding_ingest_stream`` as a reusable
    applier (for the composed ingest-day loop) — the SRP twin of
    ``near_dup_ingest_stream``, closing the embedding tier's loop:
    per micro-batch, ``dedup_embedding_delta`` probes the batch
    against the stored ``by_sig`` layout (drop sigs partition-prune
    the store scan; only the batch is sig-projected), a batch vector
    is dropped if any verified pair links it at cosine ≥ threshold to
    anything stored or to a smaller-vec_id batch mate, survivors land
    in ``out_path`` and the WHOLE batch is appended to the layout —
    the keeper rule is 'drop if near anything SEEN', which makes the
    stream decision-identical to the batch
    ``similarity.embedding_near_dup_keepers`` (test-pinned across
    three vec_id-ordered drops). The append maintains the ANN by_cell
    directories too, so retrieval probes see new vectors the moment
    their batch commits.

    Exactly-once (``markers.staged_applier``): survivors and layout
    rows publish via batch-tagged staged renames — the first batch
    too, into the empty layout, with ``embedding_near_dup_keepers``
    as its in-batch keeper rule; a re-delivery first purges its own
    partial files (BEFORE the delta probe reads the store — a batch
    must never match its own partial rows). The layout rows come from
    ``similarity_layout._ann_parts``, the projection
    ``write_ann_layout`` and ``append_ann_layout`` use."""
    from ..operators.similarity import embedding_near_dup_keepers
    from ..sources.similarity_layout import _ann_parts, dedup_embedding_delta
    from .markers import staged_applier, store_has_data

    def step(batch_df: DataFrame):
        if not store_has_data(store_dir, "by_sig"):
            survivors = embedding_near_dup_keepers(batch_df, threshold)
        else:
            pairs = dedup_embedding_delta(
                batch_df.sparkSession,
                batch_df,
                store_dir,
                threshold=threshold,
                n_planes=n_planes,
            )
            survivors = batch_df.join(_losers(pairs, "vec"), "vec_id", "left_anti")
        survivors = barrier.cut(survivors, "streaming.dedup.embedding_survivors")
        return survivors, _ann_parts(batch_df, n_planes, n_cells, None, None)

    return staged_applier(store_dir, checkpoint, step, out_path)


def embedding_ingest_stream(
    embs_stream: DataFrame,
    store_dir: str,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.30,
    n_planes: int = 8,
    n_cells: int = 8,
):
    """Embedding near-dup ingest as a stream: see
    ``embedding_applier`` for the per-batch semantics, keeper rule and
    exactly-once protocol. Returns the started query (availableNow)."""
    return start_ingest(
        embs_stream,
        embedding_applier(
            store_dir, out_path, checkpoint, threshold, n_planes, n_cells
        ),
        checkpoint,
    )


def image_dedup_applier(store_path: str, out_path: str, checkpoint: str):
    """The MEDIA lane of the ingest day: store-backed dHash perceptual image
    dedup — the exact-dedup store shape (``exact_dedup_applier``) applied to
    the perceptual key, so image dedup is INCREMENTAL and crash-pinned like
    every other tier instead of a batch-only operator.

    Per micro-batch of media rows (media_id, payload): hash every payload
    through the decode_raster format dispatch
    (``operators.phash.image_dhash`` — netpbm/BMP/PNG/JPEG/GIF/TIFF), drop
    any image whose dHash is already in the store (or duplicated within the
    batch — min-media_id keeper), pass decode-refused rows through ONCE (an
    undecodable payload is not perceptually dedupable — same ok=false
    isolation as the batch query — but a re-landed refused row must not
    re-emit, so refused rows key the store by IDENTITY: their media_id),
    publish the surviving MEDIA ROWS to ``out_path`` and the new keys to the
    store. The store IS the cross-batch dedup state — one (kind, key) schema
    holding both the perceptual keys (kind='dhash') and the refused
    identities (kind='refused'); 8–16-byte keys on disk, never pixels — the
    q_image_dedup keeper rule ('drop if the perceptual key was SEEN'),
    streamed, with the refused lane held to the same exactly-once OUTPUT
    contract as the text tiers (a plain pass-through would re-emit refused
    rows on cross-batch re-delivery).

    Exactly-once: ``markers.staged_applier`` (batch-tagged staged
    renames, partial recovery BEFORE the store probe, marker-hit
    read-back of published survivors) — identical to the text tiers,
    which is what lets the composed ingest-day loop chain it."""
    from pyspark.sql import functions as F

    from ..operators.dedup import first_per_key
    from ..operators.phash import image_dhash
    from .markers import staged_applier, store_has_data

    def step(batch_df: DataFrame):
        # identity dedup FIRST: an at-least-once source can repeat a
        # media_id inside one drop; without this both lanes would
        # double-emit through the final media_id join (the keeper
        # window only collapses the hash frame, not the batch rows).
        # The survivor per id is DETERMINISTIC (max payload hash, not
        # dropDuplicates' arbitrary row) so a crash-replay of the same
        # unmarked batch republishes byte-identical output even if the
        # source violated the identical-payload contract.
        batch_df = batch_df.groupBy("media_id").agg(
            F.max_by("payload", F.xxhash64("payload")).alias("payload")
        )
        hashed = barrier.cut(image_dhash(batch_df), "streaming.dedup.image_hashes")
        ok = hashed.filter(F.col("ok") == "true").select("media_id", "dhash")
        refused = hashed.filter(F.col("ok") != "true").select(
            "media_id", F.col("media_id").cast("string").alias("key")
        )
        seen_dhash = None
        if store_has_data(store_path):
            seen = batch_df.sparkSession.read.parquet(store_path)
            seen_dhash = seen.filter(F.col("kind") == "dhash").select(
                F.col("key").alias("dhash")
            )
            refused = refused.join(
                seen.filter(F.col("kind") == "refused").select("key"),
                "key",
                "left_anti",
            )
        keepers = first_per_key(ok, "dhash", "media_id", seen=seen_dhash)
        survivors = barrier.cut(
            batch_df.join(
                keepers.select("media_id").unionByName(refused.select("media_id")),
                "media_id",
            ),
            "streaming.dedup.image_survivors",
        )
        new_keys = keepers.select(
            F.lit("dhash").alias("kind"), F.col("dhash").alias("key")
        ).unionByName(refused.select(F.lit("refused").alias("kind"), "key"))
        return survivors, {"": (new_keys, None)}

    return staged_applier(store_path, checkpoint, step, out_path)


def image_dedup_ingest_stream(
    media_stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint: str,
):
    """Perceptual image dedup as a standalone STREAM: see
    ``image_dedup_applier`` for the per-batch semantics, keeper rule
    and exactly-once protocol. Returns the started query (availableNow
    — the same drain-the-source twin as every refresh here). Batch
    equivalence is test-pinned: streamed survivors == the batch
    q_image_dedup keepers (+ ok=false pass-through rows) when arrival
    order matches media_id order."""
    return start_ingest(
        media_stream,
        image_dedup_applier(store_path, out_path, checkpoint),
        checkpoint,
    )
