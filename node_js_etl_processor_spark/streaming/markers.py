"""Replay/crash guards for the foreachBatch ingest loops.

foreachBatch is at-least-once: if the driver dies after a batch's
side effects commit but before the streaming checkpoint records the
batch, restart re-delivers the SAME batch_id. For loops whose side
effect is a plain append or merge (BM25 postings, ANN layout rows,
Count-Min cell addition, SCD2 version append, survivor output), a
replay silently corrupts the store — duplicated postings inflate
df sums, re-merged grids double counts, re-applied CDC batches mint
phantom dimension versions.

Three cooperating guards, all filesystem-agnostic (scheme-less paths
use ``os`` directly; any ``scheme://`` URI — ``file:``, ``hdfs:``,
``s3a:`` — goes through the Hadoop FileSystem API of the active
SparkSession, the same client Spark's own writers use):

1. **Applied marker** — after a batch's writes complete, the loop
   creates ``<store>/_batches/<md5(checkpoint)[:12]>_<batch_id>``; a
   re-delivered (checkpoint, batch_id) pair short-circuits to a
   no-op. Underscore-prefixed paths are invisible to Spark's file
   index, so markers never pollute reads, and partition-scoped
   overwrites (SCD2's dynamic mode) never touch them.
2. **Staged publish** — for append-style stores (BM25 postings/df/
   stats, ANN by_sig/by_cell, dedup postings/sigs/fingerprints, span
   postings, survivor outputs), ``stage_and_publish`` writes the
   batch's rows under ``<root>/_staging/<tag>/``, records a
   target-directory manifest, then renames every staged file into the
   live tree under a batch-tagged name (``<tag>-<seq>-…``).
   ``recover_partial`` — called whenever the marker is MISSING —
   deletes any ``<tag>-*`` files a crashed earlier attempt already
   renamed (the manifest bounds the listing to the touched
   directories), so the re-delivery recomputes against a store
   provably free of its own partial work, then re-publishes. A first
   batch is no exception: it publishes into the empty store the same
   way, so a crashed bootstrap recovers like any append. The nine
   staged-append tiers run this protocol through ONE body,
   ``staged_applier``; each tier supplies only the step that turns a
   batch into its survivors and its store parts.
3. **Versioned pointer** — for store rewrites, each batch writes its
   output to a fresh batch-tagged location and atomically switches
   the ``_CURRENT`` pointer; the predecessor is never destroyed
   before its successor is live, and a pointer already naming the
   batch's own version tells the re-delivery the merge committed.
   The sketch loops point at whole ``v_<tag>`` grid directories
   (parameter-sized store — a full copy per batch is the merge
   cost); the edge and vocabulary stores point at a generation of
   SUM-mergeable partials (``sources/partials_store.py``); the SCD2
   store points at a bucket→directory MANIFEST file
   (``sources/scd2_store.py``), so only touched buckets get new
   files — a miniature transactional table. These loops keep their
   own appliers: they commit by a pointer switch, not a staged
   append.

Together these close the crash window for EVERY ingest loop: a
re-delivered batch completes, no-ops, or recovers — it never
double-counts, loses a store, or mints phantom rows. Reprocessing
the same source under a NEW checkpoint is a new stream, not a retry,
and intentionally re-ingests.
"""

from __future__ import annotations

import hashlib
import os
import posixpath


def marker_id(checkpoint: str, batch_id: int) -> str:
    """Stable batch tag: short checkpoint digest + batch id. Used as
    the marker name AND the published-file prefix, so a file's batch
    of origin is readable off its name."""
    sid = hashlib.md5(checkpoint.encode()).hexdigest()[:12]
    return f"{sid}_{batch_id}"


def start_ingest(stream, applier, checkpoint: str):
    """Run ``applier(batch_df, batch_id)`` over ``stream`` under
    foreachBatch — the one trigger policy every ingest loop shares:
    availableNow (drain what has landed, then stop) against the
    loop's ``checkpoint``. Returns the started query."""
    return (
        stream.writeStream.foreachBatch(applier)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# filesystem shim: os for scheme-less paths, Hadoop FileSystem for URIs
# ---------------------------------------------------------------------------


def _is_uri(path: str) -> bool:
    return "://" in path or path.startswith("file:")


def _hadoop(path: str):
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            f"no active SparkSession to resolve the Hadoop filesystem of "
            f"{path!r}; markers for URI store paths must run inside a "
            "Spark job (foreachBatch always does)"
        )
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath, jvm


def _exists(path: str) -> bool:
    if not _is_uri(path):
        return os.path.exists(path)
    fs, jpath, _ = _hadoop(path)
    return fs.exists(jpath)


def _mkdirs(path: str) -> None:
    if not _is_uri(path):
        os.makedirs(path, exist_ok=True)
        return
    fs, jpath, _ = _hadoop(path)
    fs.mkdirs(jpath)


def _delete(path: str) -> None:
    if not _is_uri(path):
        if os.path.isdir(path):
            import shutil

            shutil.rmtree(path, ignore_errors=True)
        elif os.path.exists(path):
            os.remove(path)
        return
    fs, jpath, _ = _hadoop(path)
    if fs.exists(jpath):
        fs.delete(jpath, True)


def _rename(src: str, dst: str) -> None:
    if not _is_uri(src):
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.replace(src, dst)
        return
    fs, jsrc, jvm = _hadoop(src)
    jdst = jvm.org.apache.hadoop.fs.Path(dst)
    fs.mkdirs(jdst.getParent())
    if not fs.rename(jsrc, jdst):
        raise IOError(f"rename failed: {src} -> {dst}")


def _listdir(path: str) -> list[tuple[str, bool]]:
    """Children of ``path`` as (name, is_dir); empty if missing."""
    if not _is_uri(path):
        if not os.path.isdir(path):
            return []
        return [(e.name, e.is_dir()) for e in os.scandir(path)]
    fs, jpath, _ = _hadoop(path)
    if not fs.exists(jpath):
        return []
    return [
        (st.getPath().getName(), st.isDirectory())
        for st in fs.listStatus(jpath)
    ]


def _write_text(path: str, text: str) -> None:
    if not _is_uri(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)
        return
    fs, jpath, _ = _hadoop(path)
    out = fs.create(jpath, True)
    out.write(bytearray(text.encode()))
    out.close()


def _read_text(path: str) -> str:
    if not _is_uri(path):
        with open(path) as f:
            return f.read()
    fs, jpath, jvm = _hadoop(path)
    inp = fs.open(jpath)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(inp, "UTF-8")
    finally:
        inp.close()


def _walk_files(path: str, _rel: str = "") -> list[tuple[str, str]]:
    """Recursive (relative_dir, filename) pairs under ``path``,
    skipping metadata files (leading ``_``/``.``) but not descending
    filters — staging trees only contain this batch's files."""
    out: list[tuple[str, str]] = []
    for name, is_dir in _listdir(path):
        if name.startswith(("_", ".")):
            continue
        if is_dir:
            out.extend(
                _walk_files(posixpath.join(path, name), posixpath.join(_rel, name))
            )
        else:
            out.append((_rel, name))
    return out


# ---------------------------------------------------------------------------
# guard 1: applied markers
# ---------------------------------------------------------------------------


def _marker_path(store_path: str, checkpoint: str, batch_id: int) -> str:
    return posixpath.join(
        store_path, "_batches", marker_id(checkpoint, batch_id)
    )


def batch_already_applied(store_path: str, checkpoint: str, batch_id: int) -> bool:
    """True iff this (checkpoint, batch_id) already committed its
    side effects — the re-delivery short-circuit."""
    return _exists(_marker_path(store_path, checkpoint, batch_id))


def mark_batch_applied(store_path: str, checkpoint: str, batch_id: int) -> None:
    """Record a batch's side effects as committed (call LAST, after
    every publish)."""
    _mkdirs(_marker_path(store_path, checkpoint, batch_id))


def _has_any_file(path: str) -> bool:
    """At least one non-metadata FILE anywhere under ``path`` (early
    exit on the first hit, so the listing cost is one or two dirs in
    the common case). Bare directories do NOT count: a recovery purge
    deletes a crashed batch's files but leaves its (empty) partition
    dirs, and an existence check that counted them would wedge the
    loop into reading an empty store forever."""
    for name, is_dir in _listdir(path):
        if name.startswith(("_", ".")):
            continue
        if not is_dir:
            return True
        if _has_any_file(posixpath.join(path, name)):
            return True
    return False


def store_has_data(store_path: str, probe: str | None = None) -> bool:
    """Whether the store holds PUBLISHED data (bootstrap-vs-append
    test). ``probe`` names the layout subpath to look under (e.g.
    ``postings``). Counts actual data FILES (recursively, early-exit)
    — markers, staging and the empty partition dirs a recovery purge
    leaves behind never flip the answer."""
    root = posixpath.join(store_path, probe) if probe is not None else store_path
    return _has_any_file(root)


# ---------------------------------------------------------------------------
# guard 2: staged publish
# ---------------------------------------------------------------------------


def _staging_root(root: str, tag: str) -> str:
    return posixpath.join(root, "_staging", tag)


def _manifest_path(root: str, tag: str) -> str:
    return posixpath.join(_staging_root(root, tag), "_PUBLISHING")


def write_parts(root: str, parts: dict[str, tuple]) -> None:
    """Overwrite each layout part under ``root``: ``parts`` maps a
    subpath (``""`` for ``root`` itself) to ``(df, partition_col)``,
    and ``partition_col`` of None writes flat. ``repartition`` before
    ``partitionBy`` keeps the write at one file per directory per
    shuffle partition. The batch builds (``write_bm25_index``,
    ``write_ann_layout``) and the staging step of
    ``stage_and_publish`` share it."""
    for sub, (df, part_col) in parts.items():
        writer = (df.repartition(part_col) if part_col else df).write.mode(
            "overwrite"
        )
        if part_col:
            writer = writer.partitionBy(part_col)
        writer.parquet(posixpath.join(root, sub) if sub else root)


def stage_and_publish(
    root: str,
    tag: str,
    parts: dict[str, tuple],
) -> None:
    """Exactly-once-able append of one batch into an append-style
    store.

    ``parts`` is a ``write_parts`` layout. Protocol: write every part
    under ``<root>/_staging/<tag>/`` (overwrite — a re-staged attempt
    replaces its predecessor), write the manifest of target
    directories, then rename each staged data file to
    ``<root>/<sub>/<partition dirs>/<tag>-<seq>-<name>``. The manifest
    doubles as the in-publish flag: ``recover_partial`` uses its
    presence + contents to purge a crashed attempt's
    partially-renamed files without listing the whole store.

    Callers re-delivering a batch MUST call ``recover_partial`` first
    (before recomputing anything that reads the store) and
    ``cleanup_staging`` after their applied marker — ``staged_applier``
    does both for the staged-append ingest loops."""
    staging = _staging_root(root, tag)
    write_parts(staging, {sub or "root": part for sub, part in parts.items()})
    # manifest: every live directory the renames will touch
    targets: list[tuple[str, str, str]] = []  # (staged_abs, live_dir, name)
    for sub in parts:
        sdir = posixpath.join(staging, sub or "root")
        live_base = posixpath.join(root, sub) if sub else root
        for rel, name in _walk_files(sdir):
            live_dir = posixpath.join(live_base, rel) if rel else live_base
            targets.append((posixpath.join(sdir, rel, name), live_dir, name))
    manifest_dirs = sorted({t[1] for t in targets})
    _write_text(_manifest_path(root, tag), "\n".join(manifest_dirs))
    for seq, (staged, live_dir, name) in enumerate(targets):
        _rename(staged, posixpath.join(live_dir, f"{tag}-{seq:05d}-{name}"))


def recover_partial(root: str, tag: str) -> None:
    """Undo a crashed earlier attempt of batch ``tag`` against
    ``root``: if the manifest exists, delete every ``<tag>-*`` file in
    the directories it names (whether the crash hit mid-rename or
    after the last rename — either way the re-publish starts clean),
    then drop the staging tree so the re-stage starts from scratch.
    A no-op when the earlier attempt never reached the publish step.

    MUST run before the re-delivered batch recomputes anything that
    READS the store — e.g. the near-dup loops' delta probes — so the
    batch never sees its own partial rows."""
    manifest = _manifest_path(root, tag)
    if _exists(manifest):
        for live_dir in _read_text(manifest).splitlines():
            if not live_dir:
                continue
            for name, is_dir in _listdir(live_dir):
                if not is_dir and name.startswith(f"{tag}-"):
                    _delete(posixpath.join(live_dir, name))
    _delete(_staging_root(root, tag))


def cleanup_staging(root: str, tag: str) -> None:
    """Drop batch ``tag``'s staging tree (call AFTER the applied
    marker: deleting it earlier would erase the manifest a crash
    recovery needs). Safe to call when nothing is staged."""
    _delete(_staging_root(root, tag))


def read_batch_output(spark, root: str, tag: str, schema):
    """Read back exactly the files batch ``tag`` published at the
    ROOT of an output directory (the survivor outputs of the dedup
    ingest loops). This is what lets a COMPOSED ingest loop re-deliver
    a batch whose early tiers already committed: the tier's survivors
    cannot be recomputed (the store now contains the batch's own rows,
    which would flip every keeper decision), but they are sitting in
    the live tree under their batch-tagged names. A batch that
    published nothing reads as an empty frame of ``schema``."""
    files = [
        posixpath.join(root, name)
        for name, is_dir in _listdir(root)
        if not is_dir and name.startswith(f"{tag}-") and name.endswith(".parquet")
    ]
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.parquet(*files)


def staged_applier(
    store: str,
    checkpoint: str,
    step,
    out: str | None = None,
    compact=None,
    compact_every: int = 0,
):
    """The one exactly-once foreachBatch body of the staged-append
    stores. ``step(batch_df)`` returns ``(survivors, parts)``: the
    batch's surviving rows and the store's ``stage_and_publish``
    parts. A tier with an ``out`` root publishes its survivors there;
    a tier without one passes its whole batch through. Per
    (checkpoint, batch_id):

    - marker hit → drop the stale staging of both roots, return the
      survivors the first delivery published (``read_batch_output``);
    - otherwise → ``recover_partial`` on both roots, and only then
      ``step`` (a delta probe reads the store and must never see its
      own batch's partial rows); publish the survivors, then the
      parts; mark; then drop the staging of both roots — after the
      marker, because the staged manifest is what a crash recovery
      needs. An empty batch skips ``step`` and both publishes: it
      recovers, marks and returns itself.

    ``compact(spark, store)`` runs when ``(batch_id + 1)`` is a
    multiple of ``compact_every`` (0 = never), after the marker — the
    single-writer slot — and on replays too, so a boundary that lands
    on a re-delivery does not defer the fold a full cycle."""
    roots = [store] if out is None else [store, out]

    def _ingest(batch_df, batch_id: int):
        spark = batch_df.sparkSession
        tag = marker_id(checkpoint, batch_id)
        survivors = batch_df
        if batch_already_applied(store, checkpoint, batch_id):
            for root in roots:
                cleanup_staging(root, tag)
            if out is not None:
                survivors = read_batch_output(spark, out, tag, batch_df.schema)
        else:
            for root in roots:
                recover_partial(root, tag)
            if not batch_df.isEmpty():
                survivors, parts = step(batch_df)
                if out is not None:
                    stage_and_publish(out, tag, {"": (survivors, None)})
                stage_and_publish(store, tag, parts)
            mark_batch_applied(store, checkpoint, batch_id)
            for root in roots:
                cleanup_staging(root, tag)
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact(spark, store)
        return survivors

    return _ingest


def recover_all_partial(root: str) -> "list[str]":
    """Recover EVERY tag with a staging tree under ``root`` — the
    repair sweep for crashed AD-HOC appends (``append_bm25_index`` /
    ``append_ann_layout``), whose random uuid tag died with the
    crashed process and so can't be passed to ``recover_partial`` by
    hand. Single-writer only: run it
    while no append is in flight, since an in-flight batch's staging
    looks identical to a crashed one. The ingest loops don't need
    this — their tags are deterministic in (checkpoint, batch_id) and
    they recover per batch. Returns the recovered tags."""
    tags = [
        name
        for name, is_dir in _listdir(posixpath.join(root, "_staging"))
        if is_dir
    ]
    for tag in tags:
        recover_partial(root, tag)
    return tags


# ---------------------------------------------------------------------------
# versioned-store pointer: exactly-once for small whole-store rewrites
# ---------------------------------------------------------------------------


def set_current_version(store_path: str, version: str) -> None:
    """Atomically repoint ``<store>/_CURRENT`` at ``version`` (a
    completed ``v_<tag>`` directory): write ``_CURRENT.tmp``, drop the
    old pointer, rename. On a crash between the drop and the rename,
    ``current_version`` falls back to the tmp file — which names the
    NEWEST completed version, so either resolution order converges
    (the re-delivered batch sees its own version and just marks, or
    re-merges from the old one and overwrites)."""
    tmp = posixpath.join(store_path, "_CURRENT.tmp")
    dst = posixpath.join(store_path, "_CURRENT")
    _write_text(tmp, version)
    _delete(dst)
    _rename(tmp, dst)


def current_version(store_path: str) -> str | None:
    """The store's current version directory name, resolved from the
    pointer (``_CURRENT``, else the mid-switch ``_CURRENT.tmp`` — see
    ``set_current_version``); None for an empty/new store."""
    for name in ("_CURRENT", "_CURRENT.tmp"):
        p = posixpath.join(store_path, name)
        if _exists(p):
            v = _read_text(p).strip()
            if v and _exists(posixpath.join(store_path, v)):
                return v
    return None


def gc_versions(store_path: str, keep: str) -> None:
    """Drop every ``v_*`` version directory except ``keep`` (the
    freshly-pointed current). Single-writer loops call this after the
    pointer switch; a reader that resolved the pointer BEFORE the
    switch and is still scanning the old version races this delete —
    the standard compact-while-reading tradeoff, acceptable for the
    parameter-sized stores this pointer protocol is meant for."""
    for name, is_dir in _listdir(store_path):
        if is_dir and name.startswith("v_") and name != keep:
            _delete(posixpath.join(store_path, name))
