"""Incremental SCD Type-2 dimension store: CDC merge without rebuild.

``operators.relational.q_scd2`` builds a type-2 history from the FULL
fact table — correct for a one-shot backfill, but the production
warehouse shape is a stored dimension receiving CDC DROPS: a change
batch must close the affected current rows and append new versions
WITHOUT rereading (or rewriting) the rest of the history. This is the
dedup-store pattern (sources/dedup_store.py) applied to the warehouse
tier, and the same upsert intent as the reference's own design notes
(reference README.md:295-310 — incremental upsert into the serving
store rather than full reload):

- ``write_scd2_store`` materializes the q_scd2 history bucketed by
  ``bucket = pmod(xxhash64(custkey), n_buckets)``;
- ``scd2_apply_delta`` merges a CDC batch: the batch's key set prunes
  the store read to the touched buckets (manifest-level pruning —
  untouched buckets are never listed, read, or rewritten), current
  rows of touched keys are closed, new versions appended, and only
  the touched buckets get new data files;
- ``scd2_cdc_stream`` (streaming/warehouse.py) is the foreachBatch twin.

**Manifest-committed layout** — the store is a miniature
transactional table, closing the crash window a dynamic partition
overwrite leaves open (a crash mid-overwrite leaves some buckets
updated and some not, indistinguishably):

    <store>/data_<tag>/bucket=K/part-*.parquet  -- immutable batch output
    <store>/m_<tag>                             -- manifest FILE:
                                                   bucket -> data dir
    <store>/_CURRENT                            -- atomic pointer
                                                   (markers protocol)

A merge writes the touched buckets' new files into a FRESH
``data_<tag>`` directory (referenced by no manifest — a crashed
attempt is invisible garbage, and its re-delivery recomputes against
the still-live old manifest, provably uncontaminated), writes the new
manifest, then atomically switches the pointer. A pointer already
naming the batch's own manifest tells the re-delivery the merge
committed. Unreferenced bucket dirs are GC'd after the switch.
Readers resolve the pointer at read time.

Because manifests ARE snapshots, the layout gives **time travel for
free**: writers pass ``retain_manifests=N`` to keep the last N
commits' manifests (and every file they reference) alive, and
``read_scd2_store(spark, path, at=<manifest>)`` reads the dimension
exactly as of that commit — ``scd2_snapshots`` lists the catalog,
each manifest carrying a monotone ``seq``. Retention bounds both the
snapshot trail and the GC's compact-while-reading race (a reader is
safe for as long as its manifest stays retained).

CDC contract (the standard type-2 one): every batch event is strictly
later — by (o_orderdate, o_orderkey) — than every stored event of the
same key. Under it, delta == full rebuild is test-pinned
(tests/test_scd2_store.py).

Cost at 100 TB: per CDC batch, O(|batch|) window work + one read of
|touched buckets| ≈ |history| × min(1, |batch keys| / n_buckets) — vs
the full rebuild's window over every fact ever. The driver round-trip
is the ≤ n_buckets-value bucket list and the manifest (parameters,
not data).
"""

from __future__ import annotations

import posixpath
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from node_js_etl_processor_spark.functions import barrier
from node_js_etl_processor_spark.operators.relational import q_scd2
from node_js_etl_processor_spark.streaming.markers import (
    _delete,
    _listdir,
    _read_text,
    _write_text,
    current_version,
    set_current_version,
)

HISTORY_COLS = ["custkey", "version", "status", "valid_from", "valid_to", "is_current"]


def _bucket(col: str, n_buckets: int):
    from node_js_etl_processor_spark.functions.bucketing import hash_bucket

    return hash_bucket(col, n_buckets)


def _parse_manifest(
    path: str, name: str
) -> "tuple[int, int, str | None, dict[int, str]]":
    """(seq, n_buckets, parent_manifest, {bucket: data_dir}) from
    manifest file ``name``. ``parent`` links each commit to its
    predecessor, so the COMMITTED chain is walkable from the pointer
    — an orphan manifest from a crashed commit (written but never
    pointed at) is never on anyone's chain and so is never retained,
    read as a snapshot, or allowed to shadow a real predecessor."""
    lines = _read_text(posixpath.join(path, name)).splitlines()
    head = lines[0].split()
    if head[0] != "scd2_v2":
        raise ValueError(
            f"unrecognized SCD2 manifest header {lines[0]!r} at {path!r}"
        )
    fields = dict(kv.split("=") for kv in head[1:])
    n_buckets = int(fields["n_buckets"])
    seq = int(fields.get("seq", 1))
    parent = fields.get("parent") or None
    mapping = {}
    for line in lines[1:]:
        if line:
            b, d = line.split("\t")
            mapping[int(b)] = d
    return seq, n_buckets, parent, mapping


def _read_manifest(
    path: str,
) -> "tuple[int, int, str | None, dict[int, str]] | None":
    """(seq, n_buckets, parent, {bucket: data_dir}) from the CURRENT
    manifest, or None for an empty/never-committed store."""
    cur = current_version(path)
    if cur is None:
        return None
    return _parse_manifest(path, cur)


def _write_manifest(
    path: str,
    tag: str,
    seq: int,
    n_buckets: int,
    mapping: "dict[int, str]",
    parent: "str | None",
) -> str:
    name = f"m_{tag}"
    body = (
        f"scd2_v2 n_buckets={n_buckets} seq={seq} parent={parent or ''}\n"
        + "\n".join(f"{b}\t{d}" for b, d in sorted(mapping.items()))
    )
    _write_text(posixpath.join(path, name), body)
    return name


def scd2_snapshots(path: str) -> "list[tuple[int, str]]":
    """The store's retained snapshots as (seq, manifest_name),
    ascending — the time-travel catalog, discovered by walking the
    COMMITTED parent chain from the pointer (a manifest file not on
    the chain is a crashed commit's orphan, not a snapshot). The
    highest seq is the current manifest; older entries exist only
    when the writers ran with ``retain_manifests > 1``."""
    cur = current_version(path)
    out = []
    while cur is not None:
        try:
            seq, _nb, parent, _m = _parse_manifest(path, cur)
        except Exception:
            break  # chain ends at a GC'd ancestor
        out.append((seq, cur))
        cur = parent
        if cur is not None and not any(
            n == cur and not d for n, d in _listdir(path)
        ):
            break
    return sorted(out)


def _gc_store(path: str, keep: "list[tuple[str, dict[int, str]]]") -> None:
    """Drop everything the RETAINED manifests no longer reference:
    stale manifests, fully-unreferenced data dirs, and bucket dirs no
    retained manifest maps to. ``keep`` is [(manifest_name, mapping)]
    — the current commit plus however many predecessors the caller's
    ``retain_manifests`` keeps for snapshot reads. Runs AFTER the
    pointer switch, so nothing a retained manifest references is ever
    touched; a reader holding a manifest OLDER than the retention
    window races the delete (the compact-while-reading tradeoff —
    size ``retain_manifests`` to the longest read you need to
    protect). A crash mid-GC just leaves garbage the next batch's GC
    sweeps."""
    keep_names = {name for name, _ in keep}
    live_pairs = {
        (mapping[b], b) for _, mapping in keep for b in mapping
    }
    live_dirs = {d for d, _ in live_pairs}
    for name, is_dir in _listdir(path):
        if is_dir and name.startswith("data_"):
            if name not in live_dirs:
                _delete(posixpath.join(path, name))
                continue
            for child, child_is_dir in _listdir(posixpath.join(path, name)):
                if child_is_dir and child.startswith("bucket="):
                    b = int(child.split("=", 1)[1])
                    if (name, b) not in live_pairs:
                        _delete(posixpath.join(path, name, child))
        elif not is_dir and name.startswith("m_") and name not in keep_names:
            _delete(posixpath.join(path, name))


def _retained(path: str, new_name: str, retain_manifests: int):
    """The manifests to keep after committing ``new_name``: the
    committed chain from the new manifest, ``retain_manifests`` deep,
    each with its parsed mapping (for the GC's live-reference set) —
    never an orphan, since the chain is followed by ``parent``."""
    out = []
    cur = new_name
    while cur is not None and len(out) < retain_manifests:
        try:
            _seq, _nb, parent, mapping = _parse_manifest(path, cur)
        except Exception:
            break
        out.append((cur, mapping))
        cur = parent
    return out


def write_scd2_store(
    orders: DataFrame,
    path: str,
    n_buckets: int = 32,
    batch_tag: str | None = None,
    retain_manifests: int = 1,
) -> None:
    """Materialize the type-2 history of a fact table under ``path``
    (manifest-committed bootstrap). ``repartition("bucket")`` before
    ``partitionBy`` keeps one file per bucket directory per shuffle
    partition (the similarity_layout small-file discipline);
    ``batch_tag`` is the ingest loop's (checkpoint, batch_id) tag —
    re-running the same tag overwrites the same uncommitted data dir,
    so a crashed bootstrap re-delivers cleanly."""
    tag = batch_tag or uuid.uuid4().hex[:12]
    hist = q_scd2(orders).withColumn("bucket", _bucket("custkey", n_buckets))
    data_dir = f"data_{tag}"
    hist.repartition("bucket").write.mode("overwrite").partitionBy("bucket").parquet(
        posixpath.join(path, data_dir)
    )
    # bucket list off the written partition dirs — a parameter-sized
    # listing, not a second corpus-sized q_scd2 evaluation
    buckets = [
        int(name.split("=", 1)[1])
        for name, is_dir in _listdir(posixpath.join(path, data_dir))
        if is_dir and name.startswith("bucket=")
    ]
    prev = _read_manifest(path)
    seq = (prev[0] + 1) if prev is not None else 1
    name = _write_manifest(
        path, tag, seq, n_buckets, {b: data_dir for b in buckets}, parent=None
    )
    set_current_version(path, name)
    _gc_store(path, _retained(path, name, retain_manifests))


def read_scd2_store(
    spark: SparkSession, path: str, at: str | None = None
) -> DataFrame:
    """The stored history in q_scd2's exact column shape (bucket is a
    storage detail, not part of the dimension): resolve the manifest,
    read exactly the referenced bucket directories.

    ``at`` names a RETAINED snapshot manifest (from
    ``scd2_snapshots``) for a time-travel read — the dimension
    exactly as of that commit. Snapshots older than the writers'
    ``retain_manifests`` window are gone (their files were GC'd);
    asking for one raises."""
    if at is not None:
        if not any(name == at for _s, name in scd2_snapshots(path)):
            raise ValueError(
                f"snapshot {at!r} is not retained at {path!r} — "
                f"available: {[n for _s, n in scd2_snapshots(path)]}; "
                "raise retain_manifests on the writers to keep more"
            )
        _seq, _nb, _parent, mapping = _parse_manifest(path, at)
    else:
        man = _read_manifest(path)
        if man is None:
            raise ValueError(
                f"no committed SCD2 store at {path!r} (missing _CURRENT "
                "manifest pointer) — bootstrap with write_scd2_store; "
                "older flat-layout stores must be rebuilt"
            )
        _seq, _nb, _parent, mapping = man
    paths = sorted(
        posixpath.join(path, d, f"bucket={b}") for b, d in mapping.items()
    )
    return spark.read.parquet(*paths).select(*HISTORY_COLS)


def scd2_committed_tag(path: str) -> "str | None":
    """The batch tag of the manifest the pointer currently names —
    lets a re-delivered loop batch detect that its own merge already
    committed (crash between pointer switch and marker)."""
    cur = current_version(path)
    return cur[2:] if cur and cur.startswith("m_") else cur


def scd2_apply_delta(
    spark: SparkSession,
    cdc_batch: DataFrame,
    path: str,
    n_buckets: int = 32,
    batch_tag: str | None = None,
    retain_manifests: int = 1,
) -> None:
    """Merge a CDC batch (orders-shaped fact rows, all strictly later
    than stored events for their keys) into the stored dimension:

    1. the batch is change-compressed alone (the q_scd2 lag window,
       batch-sized);
    2. the store read is pruned to the touched buckets (the manifest
       names their exact directories — untouched buckets are never
       listed) and the touched KEYS' current rows join the batch
       (batch side the small build side);
    3. a leading batch change equal to the key's current status is a
       non-change across the boundary and is dropped — exactly what
       the full rebuild's lag compare would do;
    4. new versions continue the stored numbering (v_max + n), the
       closed current row's valid_to = the first new change's
       valid_from, and only the touched buckets get new data files —
       written to a fresh ``data_<tag>`` dir and committed by the
       manifest + pointer switch (see module docstring), so the merge
       is all-or-nothing; history outside the touched buckets is
       never read or written.

    Keys absent from the store bootstrap at version 1, so the same
    call ingests brand-new dimension members. ``n_buckets`` is taken
    from the store's manifest (the bucketing is a property of the
    store, not the call); a mismatched argument raises.
    """
    man = _read_manifest(path)
    if man is None:
        raise ValueError(
            f"no committed SCD2 store at {path!r} — bootstrap with "
            "write_scd2_store (older flat-layout stores must be rebuilt)"
        )
    seq, store_nb, _parent, mapping = man
    if n_buckets != store_nb:
        raise ValueError(
            f"scd2_apply_delta: store at {path!r} was bucketed with "
            f"n_buckets={store_nb}, not {n_buckets}"
        )
    tag = batch_tag or uuid.uuid4().hex[:12]

    batch = cdc_batch.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_orderdate").cast("date").alias("event_date"),
        F.col("o_orderstatus").alias("status"),
    )

    # ≤ n_buckets values: a parameter-sized driver round-trip that
    # selects the touched buckets' directories from the manifest
    touched_buckets = [
        r["bucket"]
        for r in batch.select(_bucket("custkey", store_nb).alias("bucket"))
        .distinct()
        .collect()
    ]
    touched_paths = [
        posixpath.join(path, mapping[b], f"bucket={b}")
        for b in touched_buckets
        if b in mapping
    ]
    if touched_paths:
        stored = spark.read.parquet(*touched_paths).select(*HISTORY_COLS)
    else:  # every batch key lands in a brand-new bucket
        any_b, any_d = next(iter(mapping.items()))
        stored = (
            spark.read.parquet(posixpath.join(path, any_d, f"bucket={any_b}"))
            .select(*HISTORY_COLS)
            .filter(F.lit(False))
        )
    keys = batch.select("custkey").distinct()
    touched = stored.join(F.broadcast(keys), "custkey", "left_semi")
    bystanders = stored.join(F.broadcast(keys), "custkey", "left_anti")

    cur = touched.filter(F.col("is_current")).select(
        "custkey",
        F.col("version").alias("_v_cur"),
        F.col("status").alias("_s_cur"),
    )

    w = Window.partitionBy("custkey").orderBy(
        F.col("event_date").asc(), F.col("orderkey").asc()
    )
    changes = (
        batch.withColumn("_prev", F.lag("status").over(w))
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col("status")))
        .withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(cur), "custkey", "left")
        # boundary no-change: the first compressed batch change can
        # equal the stored current status (explicit null guard — a
        # brand-new key has no current status and must keep its row)
        .filter(
            (F.col("_rn") != 1)
            | F.col("_s_cur").isNull()
            | (F.col("status") != F.col("_s_cur"))
        )
    )
    new_rows = changes.select(
        "custkey",
        (
            F.coalesce(F.col("_v_cur"), F.lit(0))
            + F.row_number().over(w)
        )
        .cast("bigint")
        .alias("version"),
        "status",
        F.col("event_date").alias("valid_from"),
        F.lead("event_date").over(w).alias("valid_to"),
        F.lead("event_date").over(w).isNull().alias("is_current"),
    )

    first_new = new_rows.groupBy("custkey").agg(
        F.min("valid_from").alias("_new_from")
    )
    closed_or_kept = (
        touched.filter(F.col("is_current"))
        .select(*HISTORY_COLS)
        .join(F.broadcast(first_new), "custkey", "left")
        .select(
            "custkey",
            "version",
            "status",
            "valid_from",
            F.coalesce("valid_to", F.col("_new_from")).alias("valid_to"),
            (F.col("is_current") & F.col("_new_from").isNull()).alias("is_current"),
        )
    )
    # cut BEFORE the write: touched-bucket-sized by construction
    # (|history| x |batch keys| / n_buckets), the same discipline as
    # connected_components. (The manifest layout never overwrites what
    # it reads, but a single evaluation also pins the bucket list
    # collected below.)
    merged = barrier.cut(
        touched.filter(~F.col("is_current"))
        .select(*HISTORY_COLS)
        .unionByName(closed_or_kept)
        .unionByName(new_rows)
        .unionByName(bystanders.select(*HISTORY_COLS))
        .withColumn("bucket", _bucket("custkey", store_nb)),
        "sources.scd2_store.apply_delta_merged",
    )
    data_dir = f"data_{tag}"
    merged.repartition("bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(posixpath.join(path, data_dir))
    out_buckets = [
        r["bucket"] for r in merged.select("bucket").distinct().collect()
    ]
    new_mapping = {**mapping, **{b: data_dir for b in out_buckets}}
    name = _write_manifest(
        path, tag, seq + 1, store_nb, new_mapping, parent=current_version(path)
    )
    set_current_version(path, name)
    _gc_store(path, _retained(path, name, retain_manifests))
