"""``catalog.load_table`` resolves a table once per session.

A resolve lists the file and runs one Spark job (schema inference);
a repeat load from the same session returns the same lazy frame and
runs none, until the path's stat stamp changes.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

from node_js_etl_processor_spark.catalog import load_table


def _load_counting_jobs(spark, sf_dir, name):
    """``load_table`` under a fresh job group: (frame, jobs it ran)."""
    sc = spark.sparkContext
    group = f"load-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        df = load_table(spark, sf_dir, name)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return df, len(jobs)


def _write_region(path, n_rows):
    pq.write_table(
        pa.table({
            "r_regionkey": list(range(n_rows)),
            "r_name": [f"R{i}" for i in range(n_rows)],
        }),
        path,
    )


def test_second_load_is_the_same_frame_and_runs_no_job(spark, tmp_path):
    _write_region(str(tmp_path / "region.parquet"), 3)
    first, first_jobs = _load_counting_jobs(spark, str(tmp_path), "region")
    again, again_jobs = _load_counting_jobs(spark, str(tmp_path), "region")
    assert first_jobs == 1
    assert again is first
    assert again_jobs == 0


def test_replaced_file_loads_the_new_rows(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    _write_region(path, 3)
    before = load_table(spark, str(tmp_path), "region")
    assert before.count() == 3
    staged = str(tmp_path / "region.parquet.tmp")
    _write_region(staged, 5)
    os.replace(staged, path)
    after = load_table(spark, str(tmp_path), "region")
    assert after is not before
    assert after.count() == 5
    assert load_table(spark, str(tmp_path), "region") is after


def test_new_session_gets_its_own_frame(spark, sf_dir):
    other = spark.newSession()
    mine = load_table(spark, sf_dir, "nation")
    theirs = load_table(other, sf_dir, "nation")
    assert theirs is not mine
    assert theirs.sparkSession is other
    assert load_table(other, sf_dir, "nation") is theirs
    assert load_table(spark, sf_dir, "nation") is mine


def test_missing_path_raises_like_a_plain_read_then_loads(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    with pytest.raises(Exception) as plain:
        spark.read.parquet(path)
    with pytest.raises(type(plain.value)):
        load_table(spark, str(tmp_path), "region")
    _write_region(path, 4)
    assert load_table(spark, str(tmp_path), "region").count() == 4


def test_self_join_of_a_shared_frame_matches_two_reads(spark, sf_dir):
    def pairs(left, right):
        return sorted(
            left.alias("l")
            .join(right.alias("r"), F.col("l.n_regionkey") == F.col("r.n_regionkey"))
            .where(F.col("l.n_nationkey") < F.col("r.n_nationkey"))
            .select(F.col("l.n_nationkey"), F.col("r.n_nationkey"))
            .collect()
        )

    shared = load_table(spark, sf_dir, "nation")
    assert load_table(spark, sf_dir, "nation") is shared
    path = os.path.join(sf_dir, "nation.parquet")
    expected = pairs(spark.read.parquet(path), spark.read.parquet(path))
    assert expected
    assert pairs(shared, load_table(spark, sf_dir, "nation")) == expected


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_events_ts_is_a_timestamp_on_miss_and_hit(spark, tmp_path, unit):
    micros = 1_700_000_000_123_456
    pq.write_table(
        pa.table({
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([micros * (1000 if unit == "ns" else 1)], pa.timestamp(unit)),
        }),
        str(tmp_path / "events.parquet"),
    )
    miss, miss_jobs = _load_counting_jobs(spark, str(tmp_path), "events")
    hit, hit_jobs = _load_counting_jobs(spark, str(tmp_path), "events")
    assert (miss_jobs, hit_jobs) == (1, 0)
    assert hit is miss
    for df in (miss, hit):
        assert isinstance(df.schema["ts"].dataType, (TimestampType, TimestampNTZType))
        (row,) = df.select(F.unix_micros(F.to_timestamp("ts")).alias("us")).collect()
        assert row.us == micros
