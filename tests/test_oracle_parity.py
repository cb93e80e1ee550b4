"""Differential tests: every declared query vs its DuckDB oracle.

Row count, column names, and an order-insensitive value comparison at
sf0.001 in the tuned test session, using the comparator of
``scripts/full_verify.py`` (which runs the same check at sf0.01 in a
plain session; the logic is scale-free).
"""

from __future__ import annotations

import math
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

import __spark_entry__ as entrymod  # noqa: E402
import full_verify  # noqa: E402
from full_verify import frame_to_multiset, normalize_cell  # noqa: E402

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

# perfbench/sut.py and perfbench/run.py import the comparator under
# this name from here.
_frame_to_multiset = frame_to_multiset


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_match(spark, sf_dir, duck, name):
    sdf = QUERIES[name](spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    sm = frame_to_multiset(spark_cols, spark_rows)
    dm = frame_to_multiset(duck_cols, duck_rows)
    if sm != dm:
        only_s = [k for k in sm if sm[k] != dm.get(k, 0)][:5]
        only_d = [k for k in dm if dm[k] != sm.get(k, 0)][:5]
        raise AssertionError(
            f"{name}: value mismatch\n spark-only: {only_s}\n duck-only: {only_d}"
        )


def test_every_query_is_oracle_paired():
    # the contract has no rows-only queries: anything declared
    # in queries() must carry a DuckDB oracle (and nothing dangles)
    assert set(QUERIES) == set(ORACLES)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_multiset_ignores_column_and_row_order():
    a = frame_to_multiset(["x", "y"], [(1, "a"), (2, "b")])
    b = frame_to_multiset(["y", "x"], [("b", 2), ("a", 1)])
    assert a == b


def test_multiset_counts_duplicate_rows():
    once = frame_to_multiset(["x"], [(1,)])
    assert frame_to_multiset(["x"], [(1,), (1,)]) != once
    assert frame_to_multiset(["x", "y"], [(1, 2), (1, 2), (3, 4)]) != (
        frame_to_multiset(["x", "y"], [(1, 2), (3, 4), (3, 4)])
    )


def test_floats_round_to_six_places_in_scalars_and_lists():
    assert normalize_cell(0.1 + 0.2) == normalize_cell(0.3)
    assert normalize_cell([0.1 + 0.2, 1.0]) == normalize_cell([0.3, 1.0])
    assert normalize_cell(1.000001) != normalize_cell(1.000002)
    assert normalize_cell([1.000001]) != normalize_cell([1.000002])


def test_nan_is_canonical_and_none_is_not_zero():
    assert normalize_cell(float("nan")) == normalize_cell(-math.nan) == "NaN"
    assert normalize_cell([float("nan")]) == normalize_cell([math.nan])
    assert normalize_cell(None) != normalize_cell(0.0)
    assert normalize_cell([None]) != normalize_cell([0.0])


def test_bytes_compare_as_hex():
    assert normalize_cell(b"\x00\xff") == "00ff"
    assert normalize_cell(b"\x00\xff") != normalize_cell(b"\x00\xfe")


def test_full_verify_script_smoke(spark, sf_dir, tmp_path, monkeypatch):
    # two queries at two table directories, no --out: exit 0, no file
    monkeypatch.chdir(tmp_path)
    argv = ["q_rollup", "q_sort_limit", "--sf-dir", sf_dir, "--sf-dir", sf_dir]
    assert full_verify.main(argv) == 0
    assert os.listdir(tmp_path) == []
