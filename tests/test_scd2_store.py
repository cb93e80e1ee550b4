"""Incremental SCD2: the stored dimension + CDC merge must equal the
one-shot q_scd2 rebuild, touch only the buckets the batch keys hash
to, and close the loop as a stream (the dedup-store trio applied to
the warehouse tier)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from node_js_etl_processor_spark.catalog import load_table
from node_js_etl_processor_spark.operators.relational import q_scd2
from node_js_etl_processor_spark.sources.scd2_store import (
    read_scd2_store,
    scd2_apply_delta,
    write_scd2_store,
)

SPLIT1, SPLIT2 = "1997-01-01", "1999-06-01"


def _hist_set(df):
    return {
        (
            r["custkey"],
            r["version"],
            r["status"],
            str(r["valid_from"]),
            str(r["valid_to"]),
            r["is_current"],
        )
        for r in df.collect()
    }


def _parquet_state(path):
    state = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                state[p] = os.path.getmtime(p)
    return state


def test_scd2_delta_equals_full_rebuild(spark, sf_dir, tmp_path):
    """store(early facts) + delta(mid) + delta(late) must leave
    EXACTLY the history q_scd2 builds from all facts at once —
    including closed valid_to on formerly-current rows, continued
    version numbering, and version-1 bootstraps for keys first seen
    in a delta."""
    orders = load_table(spark, sf_dir, "orders")
    early = orders.filter(F.col("o_orderdate") < SPLIT1)
    mid = orders.filter(
        (F.col("o_orderdate") >= SPLIT1) & (F.col("o_orderdate") < SPLIT2)
    )
    late = orders.filter(F.col("o_orderdate") >= SPLIT2)
    # the bootstrap path must actually fire: some keys first appear mid/late
    early_keys = {r[0] for r in early.select("o_custkey").distinct().collect()}
    later_keys = {r[0] for r in mid.select("o_custkey").distinct().collect()}
    assert later_keys - early_keys

    path = str(tmp_path / "dim")
    write_scd2_store(early, path)
    scd2_apply_delta(spark, mid, path)
    scd2_apply_delta(spark, late, path)

    got = _hist_set(read_scd2_store(spark, path))
    want = _hist_set(q_scd2(orders))
    assert got == want and len(got) > 0


def test_scd2_delta_rewrites_touched_buckets_only(spark, sf_dir, tmp_path):
    """The scale contract: a single-key CDC batch must replace files
    in exactly ONE bucket directory — every other bucket's parquet
    files (names AND mtimes) must be untouched, because the batch's
    bucket set is a partition filter on the read and a dynamic
    overwrite on the write."""
    orders = load_table(spark, sf_dir, "orders")
    early = orders.filter(F.col("o_orderdate") < SPLIT1)
    path = str(tmp_path / "dim")
    write_scd2_store(early, path, n_buckets=8)

    key = early.select("o_custkey").first()[0]
    batch = orders.filter(
        (F.col("o_orderdate") >= SPLIT1) & (F.col("o_custkey") == key)
    )
    assert batch.count() > 0
    expect_bucket = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(key).cast("bigint")), F.lit(8))
        .cast("int")
        .alias("b")
    ).first()["b"]

    before = _parquet_state(path)
    scd2_apply_delta(spark, batch, path, n_buckets=8)
    after = _parquet_state(path)

    changed_dirs = {
        os.path.basename(os.path.dirname(p))
        for p in (set(before) ^ set(after))
        | {p for p in before if p in after and before[p] != after[p]}
    }
    assert changed_dirs == {f"bucket={expect_bucket}"}, changed_dirs

    # and the merged history for that key matches the full rebuild's
    got = _hist_set(
        read_scd2_store(spark, path).filter(F.col("custkey") == key)
    )
    want = _hist_set(
        q_scd2(
            orders.filter(
                (F.col("o_custkey") == key)
                & (
                    (F.col("o_orderdate") < SPLIT1)
                    | (F.col("o_orderdate") >= SPLIT1)
                )
            )
        )
    )
    assert got == want


def test_scd2_cdc_stream_matches_batch(spark, sf_dir, tmp_path):
    """Stream == batch: the fact table landed as three date-ordered
    CDC drops through scd2_cdc_stream must leave exactly the q_scd2
    one-shot history (first drop bootstraps the store, later drops
    merge)."""
    from node_js_etl_processor_spark.streaming.warehouse import scd2_cdc_stream

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"
    )
    src = tmp_path / "landing"
    src.mkdir()
    store = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")

    orders.filter(F.col("o_orderdate") < SPLIT1).coalesce(1).write.json(
        str(src / "b1")
    )
    orders.filter(
        (F.col("o_orderdate") >= SPLIT1) & (F.col("o_orderdate") < SPLIT2)
    ).coalesce(1).write.json(str(src / "b2"))
    orders.filter(F.col("o_orderdate") >= SPLIT2).coalesce(1).write.json(
        str(src / "b3")
    )

    schema = "o_orderkey long, o_custkey long, o_orderstatus string, o_orderdate date"
    for batch in ("b1", "b2", "b3"):
        q = scd2_cdc_stream(
            spark.readStream.schema(schema).json(str(src / batch)),
            store,
            ckpt + batch,
        )
        q.awaitTermination(180)

    got = _hist_set(read_scd2_store(spark, store))
    want = _hist_set(q_scd2(orders))
    assert got == want and len(got) > 0


def test_scd2_time_travel_and_retention(spark, sf_dir, tmp_path):
    """The manifest layout doubles as a snapshot catalog —
    retain_manifests keeps N commits readable as-of
    (read_scd2_store(at=...)), GC drops everything older, and a
    request for a dropped snapshot raises with the retained list."""
    import pytest as _pytest

    from node_js_etl_processor_spark.sources.scd2_store import scd2_snapshots

    orders = load_table(spark, sf_dir, "orders")
    early = orders.filter(F.col("o_orderdate") < SPLIT1)
    mid = orders.filter(
        (F.col("o_orderdate") >= SPLIT1) & (F.col("o_orderdate") < SPLIT2)
    )
    late = orders.filter(F.col("o_orderdate") >= SPLIT2)
    path = str(tmp_path / "dim")

    write_scd2_store(early, path)
    snaps = scd2_snapshots(path)
    assert len(snaps) == 1 and snaps[0][0] == 1
    first = snaps[0][1]

    scd2_apply_delta(spark, mid, path, retain_manifests=2)
    snaps = scd2_snapshots(path)
    assert [s for s, _n in snaps] == [1, 2]
    second = snaps[-1][1]

    # time travel: the first commit is still exactly q_scd2(early)
    got0 = _hist_set(read_scd2_store(spark, path, at=first))
    assert got0 == _hist_set(q_scd2(early))
    assert _hist_set(read_scd2_store(spark, path)) == _hist_set(
        q_scd2(early.unionByName(mid))
    )

    # third commit with retention 2: seq-1 falls out of the window
    scd2_apply_delta(spark, late, path, retain_manifests=2)
    snaps = scd2_snapshots(path)
    assert [s for s, _n in snaps] == [2, 3]
    with _pytest.raises(ValueError, match="not retained"):
        read_scd2_store(spark, path, at=first)
    # the retained middle snapshot still reads exactly as-of
    got1 = _hist_set(read_scd2_store(spark, path, at=second))
    assert got1 == _hist_set(q_scd2(early.unionByName(mid)))
    assert _hist_set(read_scd2_store(spark, path)) == _hist_set(q_scd2(orders))



def test_orphan_manifest_never_shadows_snapshots(spark, sf_dir, tmp_path):
    """A manifest written by a crashed commit (never
    pointed at) must not appear in the snapshot catalog, must not be
    readable as a snapshot, and must not displace a real predecessor
    from the retention window — the catalog walks the committed
    parent chain, not the directory listing."""
    import posixpath

    import pytest as _pytest

    from node_js_etl_processor_spark.sources.scd2_store import (
        _parse_manifest,
        scd2_snapshots,
    )
    from node_js_etl_processor_spark.streaming.markers import (
        _listdir,
        _write_text,
        current_version,
    )

    orders = load_table(spark, sf_dir, "orders")
    early = orders.filter(F.col("o_orderdate") < SPLIT1)
    mid = orders.filter(
        (F.col("o_orderdate") >= SPLIT1) & (F.col("o_orderdate") < SPLIT2)
    )
    late = orders.filter(F.col("o_orderdate") >= SPLIT2)
    path = str(tmp_path / "dim")

    write_scd2_store(early, path)
    scd2_apply_delta(spark, mid, path, retain_manifests=2)
    first_real = [n for _s, n in scd2_snapshots(path)][0]
    cur = current_version(path)

    # simulate the crash window: a manifest lands with a high seq and
    # a valid parent, but the pointer never switches to it
    cur_seq = _parse_manifest(path, cur)[0]
    _write_text(
        posixpath.join(path, "m_orphan"),
        f"scd2_v2 n_buckets=32 seq={cur_seq + 1} parent={cur}\n",
    )

    assert "m_orphan" not in [n for _s, n in scd2_snapshots(path)]
    with _pytest.raises(ValueError, match="not retained"):
        read_scd2_store(spark, path, at="m_orphan")

    # the next real commit retains the TRUE predecessor, and the
    # orphan is GC'd rather than shadowing it
    scd2_apply_delta(spark, late, path, retain_manifests=2)
    names = [n for _s, n in scd2_snapshots(path)]
    assert cur in names and "m_orphan" not in names
    assert not any(n == "m_orphan" for n, _d in _listdir(path))
    got = _hist_set(read_scd2_store(spark, path, at=cur))
    assert got == _hist_set(q_scd2(early.unionByName(mid)))
    assert first_real not in names  # retention window still size 2
