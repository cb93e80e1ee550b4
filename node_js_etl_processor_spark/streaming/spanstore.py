"""Incremental shingle-postings store (r16): the thirteenth
ingest-day tier — the ExactSubstr span family's shingling
(``operators/spans.py``) maintained incrementally. Each micro-batch
tokenizes its documents ONCE and appends their (doc_id, pos, h)
w-token shingle digests to an append-only parquet tree through the
markers protocol; duplicated-span extents are then a READ over the
stored 8-byte digests (``read_span_extents`` →
``spans.extents_from_positions``) with no re-tokenization of the
corpus — the ingest/compact split the BM25 and edge stores already
follow.

Why a positions store and not a counts store: extents are positional
(the sweep-line merge needs every duplicated position), and
duplication is RETROACTIVE — a shingle unique today becomes
duplicated when its twin arrives tomorrow, so the read path must see
all positions, not a per-batch verdict. The store row is 24 bytes
(doc_id, pos, h), strictly smaller than the text it replaces, and
the read-side duplication gate is the same one-exchange COUNT window
the batch query runs.

Exactly-once: pure append — every batch lands via
``stage_and_publish`` (batch-tagged renames), a marker hit no-ops,
and a crashed publish is purged tag-first before recompute. The
composed crash-matrix test pins streamed-store extents == the
one-shot ``q_span_extents`` over the whole corpus.

Leveled layout + minor compaction (r18): the store is CORPUS-sized,
so the fold-into-a-fresh-generation compaction the vocab/edge stores
use (rewrite everything each time) is the wrong cost model here —
postings never fold (every (doc_id, pos, h) row is unique), only the
FILE COUNT grows, one file set per ingested batch. The layout is
therefore leveled:

    <store>/log/<batchtag>-*.parquet   -- live append log (one set/batch)
    <store>/seg_<tag>/part-*.parquet   -- sealed segments (never rewritten)
    <store>/m_<tag>                    -- manifest: segment list + folded
                                          log filenames
    <store>/_CURRENT                   -- pointer to the manifest

Appends stay O(batch) and never touch the manifest. A minor
compaction folds ONLY the live log into one new sealed segment —
cost O(new data since the last compaction), never O(store) — then
commits atomically: write the segment, write a new manifest naming
(old segments + new segment, folded log filenames), switch the
pointer, THEN delete the folded log files. The read set is
manifest segments + live log MINUS folded names, so every crash
window converges: a crash before the pointer switch leaves an
orphan segment (invisible — no manifest names it; the next
compaction's GC sweeps it), a crash after the switch but before the
deletes leaves folded log files that every reader already excludes.
Single-writer, like every compaction in this repo: run it from the
ingest loop's ``compact_every`` slot between batches.
"""

from __future__ import annotations

import posixpath
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..functions import barrier
from ..operators.spans import SPAN_W, extents_from_positions, shingle_positions

#: the append-log subdirectory of the leveled layout.
_LOG = "log"

#: schema of the postings rows (read path needs it for an empty log).
_POSTING_SCHEMA = "doc_id long, pos bigint, h bigint"


def _read_manifest(store_path: str) -> "tuple[list[str], set[str]]":
    """(sealed segment dir names, folded log filenames) from the
    manifest the ``_CURRENT`` pointer names; ([], set()) for a store
    that has never compacted."""
    from .markers import _read_text, current_version

    cur = current_version(store_path)
    if cur is None:
        return [], set()
    segs: "list[str]" = []
    folded: "set[str]" = set()
    for line in _read_text(posixpath.join(store_path, cur)).splitlines():
        kind, _, name = line.partition(" ")
        if kind == "seg" and name:
            segs.append(name)
        elif kind == "folded" and name:
            folded.add(name)
    return segs, folded


def _live_log_files(store_path: str, folded: "set[str]") -> "list[str]":
    """Absolute paths of the log files a reader may see — everything
    in ``log/`` minus metadata and minus the manifest's folded names
    (which exist only inside the compaction's delete crash window)."""
    from .markers import _exists, _listdir

    log_dir = posixpath.join(store_path, _LOG)
    if not _exists(log_dir):
        return []
    return [
        posixpath.join(log_dir, name)
        for name, is_dir in _listdir(log_dir)
        if not is_dir and not name.startswith(("_", ".")) and name not in folded
    ]


def read_span_store(spark: SparkSession, store_path: str) -> DataFrame:
    """The stored postings as ONE DataFrame: manifest segments plus
    the live append log (see the module docstring's leveled-layout
    contract). A fresh/never-written store reads as an EMPTY frame
    with the posting schema — the gated applier's bootstrap relies on
    it. A store holding data files at its ROOT (the pre-r18 flat
    layout) raises instead of silently reading empty: the failure is
    a layout mismatch, not an empty corpus (the cusum_alarm_stream
    fail-loudly precedent)."""
    from .markers import _exists, _listdir

    segs, folded = _read_manifest(store_path)
    paths = [posixpath.join(store_path, s) for s in segs]
    paths += _live_log_files(store_path, folded)
    if not paths:
        legacy = [
            name
            for name, is_dir in (
                _listdir(store_path) if _exists(store_path) else []
            )
            if not is_dir
            and not name.startswith(("_", ".", "m_"))
        ]
        if legacy:
            raise ValueError(
                f"span store at {store_path!r} holds root-level data "
                f"files ({legacy[:3]}…) — the pre-r18 FLAT layout. "
                "Re-ingest under the leveled layout (log/ + sealed "
                "segments); reading it as empty would silently score "
                "every drop as novel."
            )
        return spark.createDataFrame([], _POSTING_SCHEMA)
    return spark.read.schema(_POSTING_SCHEMA).parquet(*paths)


def compact_span_store(
    spark: SparkSession,
    store_path: str,
    target_files: int = 8,
    max_segments: int = 16,
) -> "tuple[int, int]":
    """Minor compaction: fold the live append log into ONE new sealed
    segment of ~``target_files`` files and commit it behind the
    manifest + pointer switch (crash windows in the module docstring).
    Returns (log files folded, total data files after). Cost is
    O(data appended since the last compaction) — sealed segments are
    never read or rewritten. Single-writer: call between batches.

    Major compaction (r19 — the r18 advice's unbounded-growth note):
    minor-only compaction adds one sealed segment per run, so the
    manifest and the per-read parquet path list grow linearly with
    compaction count. When the store already holds ``max_segments``
    sealed segments, this run FOLDS THE SEGMENTS TOO — everything
    (segments + live log) rewrites into one fresh segment and the new
    manifest names only it. That run costs O(store), but it happens
    at most once per ``max_segments`` minors, so the amortized cost
    stays O(appended data · (1 + 1/max_segments)) per fold while the
    read path is bounded at ``max_segments`` segment dirs + the live
    log. The commit protocol is unchanged (segment → manifest →
    pointer → deletes), so both crash windows converge exactly as
    for a minor run — old segments become manifest-orphans the next
    run's sweep GCs."""
    from .markers import (
        _delete,
        _exists,
        _listdir,
        _walk_files,
        _write_text,
        current_version,
        set_current_version,
    )

    segs, folded = _read_manifest(store_path)
    # Sweep leftovers of a compaction that crashed inside its delete
    # window first — always safe once the pointer names the manifest
    # that excludes them: folded log files readers already skip,
    # segments and manifests nothing references.
    cur = current_version(store_path)
    for name in folded:
        p = posixpath.join(store_path, _LOG, name)
        if _exists(p):
            _delete(p)
    for name, is_dir in _listdir(store_path):
        if is_dir and name.startswith("seg_") and name not in segs:
            _delete(posixpath.join(store_path, name))
        if not is_dir and name.startswith("m_") and name != cur:
            _delete(posixpath.join(store_path, name))
    log_files = _live_log_files(store_path, folded)
    # Never fold a batch whose publish is in flight or crashed
    # un-recovered (r18 review): a tag with a live _staging/<tag>/
    # _PUBLISHING manifest can still be purged by recover_partial,
    # which deletes <tag>-* files from log/ only — sealing them into a
    # segment would put them beyond the purge, and the re-delivered
    # batch would then double-count its own postings. A staged tag
    # WITH its applied marker is the opposite case — a completed batch
    # whose cleanup_staging crashed: fold its rows (they are final)
    # and drop only the stale staging tree, so the batch cannot sit
    # unfolded forever if the stream never re-delivers it.
    from .markers import cleanup_staging

    staging = posixpath.join(store_path, "_staging")
    live_tags = []
    for name, is_dir in _listdir(staging) if _exists(staging) else []:
        if not is_dir or not _exists(
            posixpath.join(staging, name, "_PUBLISHING")
        ):
            continue
        if _exists(posixpath.join(store_path, "_batches", name)):
            cleanup_staging(store_path, name)
        else:
            live_tags.append(name)
    if live_tags:
        log_files = [
            p
            for p in log_files
            if not any(
                posixpath.basename(p).startswith(f"{t}-") for t in live_tags
            )
        ]
    major = len(segs) >= max(1, int(max_segments))
    if not log_files and not major:
        return 0, sum(
            len(_walk_files(posixpath.join(store_path, s))) for s in segs
        )
    fold_paths = list(log_files)
    if major:
        fold_paths += [posixpath.join(store_path, s) for s in segs]
    tag = uuid.uuid4().hex[:12]
    new_seg = f"seg_{tag}"
    (
        spark.read.schema(_POSTING_SCHEMA)
        .parquet(*fold_paths)
        .repartition(max(1, int(target_files)))
        .write.mode("overwrite")
        .parquet(posixpath.join(store_path, new_seg))
    )
    keep_segs = [new_seg] if major else segs + [new_seg]
    lines = [f"seg {s}" for s in keep_segs]
    lines += [f"folded {posixpath.basename(p)}" for p in log_files]
    manifest = f"m_{tag}"
    _write_text(posixpath.join(store_path, manifest), "\n".join(lines))
    set_current_version(store_path, manifest)
    # GC, all safe AFTER the pointer switch: the folded log files
    # (readers already exclude them), orphan segments no manifest
    # names (crashed earlier compactions), stale manifests.
    for p in log_files:
        _delete(p)
    for name, is_dir in _listdir(store_path):
        if is_dir and name.startswith("seg_") and name not in keep_segs:
            _delete(posixpath.join(store_path, name))
        if not is_dir and name.startswith("m_") and name != manifest:
            _delete(posixpath.join(store_path, name))
    n_after = sum(
        len(_walk_files(posixpath.join(store_path, s))) for s in keep_segs
    ) + len(_live_log_files(store_path, set()))
    return len(log_files), n_after


def span_postings_applier(
    store_path: str,
    checkpoint: str,
    w: int = SPAN_W,
    compact_every: int = 0,
):
    """Per-batch shingle-postings append as an idempotent applier
    (see the module docstring). ``compact_every=N`` runs the minor
    compaction every N batches (0 = never) — AFTER the batch's marker,
    in the single-writer slot, like every other store's loop."""
    from .markers import (
        batch_already_applied,
        cleanup_staging,
        mark_batch_applied,
        marker_id,
        recover_partial,
        stage_and_publish,
    )

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        tag = marker_id(checkpoint, batch_id)
        if batch_already_applied(store_path, checkpoint, batch_id):
            cleanup_staging(store_path, tag)
        else:
            recover_partial(store_path, tag)
            sh = shingle_positions(batch_df, w)
            stage_and_publish(store_path, tag, {_LOG: (sh, None)})
            mark_batch_applied(store_path, checkpoint, batch_id)
            cleanup_staging(store_path, tag)
        # the compaction slot runs on marker-hit re-deliveries too
        # (r18 advice): a replayed batch landing on a compaction
        # boundary must not defer the fold a full cycle — compaction
        # is single-writer-safe here because the batch's marker is
        # committed either way
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_span_store(batch_df.sparkSession, store_path)
        return None

    return _ingest


def span_postings_ingest_stream(
    docs_stream: DataFrame,
    store_path: str,
    checkpoint: str,
    w: int = SPAN_W,
    compact_every: int = 0,
):
    """``span_postings_applier`` as an availableNow stream."""
    return (
        docs_stream.writeStream.foreachBatch(
            span_postings_applier(store_path, checkpoint, w, compact_every)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_span_extents(
    spark: SparkSession, store_path: str, w: int = SPAN_W
) -> DataFrame:
    """Duplicated-span extents over the WHOLE ingested corpus, from
    the stored digests — ``extents_from_positions`` over the postings
    tree, no re-tokenization. ``w`` must match the ingest width (the
    digests are w-specific)."""
    return extents_from_positions(read_span_store(spark, store_path), w)


def read_doc_novelty(
    spark: SparkSession, store_path: str, w: int = SPAN_W
) -> DataFrame:
    """Per-document duplication-coverage scores over the WHOLE
    ingested corpus from the stored digests (r17 — the verdict's
    store-read ask): ``novelty_from_positions`` over the postings
    tree. Totals here are a plain parquet re-read (per-doc posting
    counts), so nothing is ever re-tokenized; equality with the
    batch ``q_doc_novelty`` over the union corpus is test-pinned."""
    from ..operators.novelty import novelty_from_positions

    return novelty_from_positions(read_span_store(spark, store_path), w)


def score_drop_novelty(
    spark: SparkSession,
    store_path: str,
    drop_docs: DataFrame,
    w: int = SPAN_W,
) -> DataFrame:
    """Score a NEW drop's novelty against the stored corpus BEFORE
    admitting it (r17): only the drop is tokenized; the store is
    touched by one broadcast-semi-filtered counting pass (see
    ``novelty.novelty_of_drop``). Equals
    ``q_doc_novelty(corpus ∪ drop)`` restricted to the drop's
    doc_ids — the per-document cut signal a curation gate acts on at
    ingest time, kmv_difference-style."""
    from ..operators.novelty import novelty_of_drop

    return novelty_of_drop(drop_docs, read_span_store(spark, store_path), w)


def exact_twin_reps(docs: DataFrame) -> DataFrame:
    """Keep-one collapse for within-drop EXACT twins (the r17 advice
    fix for the novelty gate): one representative per exact-content
    fingerprint (min doc_id — q_dedup_docs' deterministic-keeper
    rule). Without it, two copies of never-seen content delivered in
    ONE drop cut each other — every position of each twin is
    duplicated by the other's identical digests — so NO copy of the
    content survives, and the admitted corpus depends on delivery
    batching (the same two docs split across two drops admit the
    first). Collapsing twins BEFORE scoring removes the mutual kill:
    the representative is scored with its twins' digests absent (so
    genuinely novel content survives) and the non-representatives are
    dropped as exact duplicates of an admitted doc — the keep-one
    verdict a dedup gate owes them.

    The keeper rule (group by ``text.fingerprint``, keep min doc_id)
    is written out here, in ``dedup.q_dedup_docs`` and in the
    exact-dedup applier's bootstrap; the gate's sequential-simulation
    equality test pins their agreement. Sharing one helper among the
    three is an open consolidation.

    Scale: one window over the 16-byte content fingerprint, batch-
    sized (the drop, never the store)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators.text import fingerprint

    w_fp = Window.partitionBy(fingerprint(F.col("text")))
    return (
        docs.withColumn("_rep", F.min("doc_id").over(w_fp))
        .filter(F.col("doc_id") == F.col("_rep"))
        .drop("_rep")
    )


def novelty_gated_ingest_applier(
    store_path: str,
    out_path: str,
    checkpoint: str,
    max_dup_pct: int = 50,
    w: int = SPAN_W,
    compact_every: int = 0,
):
    """Novelty-GATED ingestion (r17): the end-to-end "score, then
    admit" loop the drop scorer exists for — per micro-batch, score
    the drop's duplication coverage against the CURRENT postings
    store (``novelty.novelty_of_drop`` — only the drop is tokenized),
    CUT every document whose duplicated-coverage share exceeds
    ``max_dup_pct`` percent (the Lee et al. 2022 §5 train-set cut,
    applied at ingest time), publish the survivors to ``out_path``
    and append ONLY the survivors' shingle postings to the store — so
    the store grows with what was admitted, and the next drop is
    scored against exactly the admitted corpus.

    The gate is pure-integer cross-multiplication
    (100·dup_extent_tokens > max_dup_pct·n_tokens cuts), so no float
    boundary can flip a verdict across engines or runs. Documents too
    short to shingle have no coverage row and are KEPT — clean by
    construction, the q_doc_novelty output contract. Feed contract:
    drops carry NEW doc_ids (the doc_id-ordered contract every ingest
    lane documents — also ``novelty_of_drop``'s scoring
    precondition).

    Within-drop EXACT twins take the keep-one rule (r17 advice): the
    drop is collapsed to one representative per exact-content
    fingerprint (``exact_twin_reps``) BEFORE scoring, so two copies
    of never-seen content no longer cut each other (which would admit
    NO copy and make the admitted corpus delivery-batching-dependent);
    the representative is scored twin-free and the other copies are
    dropped as exact duplicates of an admitted doc. NEAR-duplication
    within a drop still cuts through the gate itself, as before.

    Exactly-once: the exact_dedup_applier protocol verbatim — marker
    hit returns the batch's PUBLISHED survivors
    (``read_batch_output``); a re-delivery purges this tag's partial
    publishes FIRST (``recover_partial`` on both roots), which is
    load-bearing here: re-scoring against a store that already
    contained the crashed attempt's postings would see every drop
    position duplicated and wrongly cut the whole batch."""
    from ..operators.novelty import novelty_of_drop
    from .markers import (
        batch_already_applied,
        cleanup_staging,
        mark_batch_applied,
        marker_id,
        read_batch_output,
        recover_partial,
        stage_and_publish,
    )

    def _ingest(batch_df: DataFrame, batch_id: int):
        from pyspark.sql import functions as F

        spark = batch_df.sparkSession
        tag = marker_id(checkpoint, batch_id)
        if batch_already_applied(store_path, checkpoint, batch_id):
            cleanup_staging(store_path, tag)
            cleanup_staging(out_path, tag)
            # compaction slot before the replay return (r18 advice):
            # a boundary landing on a re-delivered batch must not
            # defer the fold a full cycle — single-writer-safe, the
            # marker is committed
            if compact_every and (batch_id + 1) % compact_every == 0:
                compact_span_store(spark, store_path)
            return read_batch_output(spark, out_path, tag)
        recover_partial(store_path, tag)
        recover_partial(out_path, tag)
        # keep-one BEFORE scoring (see the docstring's twin rule)
        batch_df = barrier.cut(
            exact_twin_reps(batch_df), "streaming.spanstore.twin_reps"
        )
        # first drop scores against the empty frame read_span_store
        # returns for a fresh store: only WITHIN-drop duplication cuts
        stored = read_span_store(spark, store_path)
        cut = (
            novelty_of_drop(batch_df, stored, w)
            .filter(
                F.lit(100) * F.col("dup_extent_tokens")
                > F.lit(max_dup_pct) * F.col("n_tokens")
            )
            .select("doc_id")
        )
        survivors = barrier.cut(
            batch_df.join(cut, "doc_id", "left_anti"),
            "streaming.spanstore.survivors",
        )
        stage_and_publish(out_path, tag, {"": (survivors, None)})
        stage_and_publish(
            store_path, tag, {_LOG: (shingle_positions(survivors, w), None)}
        )
        mark_batch_applied(store_path, checkpoint, batch_id)
        cleanup_staging(store_path, tag)
        cleanup_staging(out_path, tag)
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_span_store(spark, store_path)
        return survivors

    return _ingest


def novelty_gated_ingest_stream(
    docs_stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint: str,
    max_dup_pct: int = 50,
    w: int = SPAN_W,
    compact_every: int = 0,
):
    """``novelty_gated_ingest_applier`` as an availableNow stream."""
    return (
        docs_stream.writeStream.foreachBatch(
            novelty_gated_ingest_applier(
                store_path, out_path, checkpoint, max_dup_pct, w, compact_every
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
