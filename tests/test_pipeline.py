"""Orchestration + sink contract tests (SURVEY.md §2a O1/O2, S3-S5)."""

from __future__ import annotations

import csv
import json
import threading
import uuid

import pytest

from node_js_etl_processor_spark.plans.pipeline import UniversitiesPipeline
from node_js_etl_processor_spark.sources.files import read_json_array
from node_js_etl_processor_spark.sources.http_json import fetch_universities_driver
from tests.test_universities import RAW_ROWS

FIXTURE_BY_COUNTRY = {
    "Costa Rica": [r for r in RAW_ROWS if r["country"] == "Costa Rica"],
    "Colombia": [],
    "USA": [r for r in RAW_ROWS if r["country"] not in ("Costa Rica",)],
}


def fake_fetcher(country):
    if country not in FIXTURE_BY_COUNTRY:
        raise OSError(f"unknown country {country}")
    return FIXTURE_BY_COUNTRY[country]


def failing_fetcher(country):
    if country == "USA":
        raise OSError("upstream 500")
    return FIXTURE_BY_COUNTRY.get(country, [])


def test_run_etl_end_to_end(spark, tmp_path):
    p = UniversitiesPipeline(
        spark,
        json_path=str(tmp_path / "data" / "universities.json"),
        csv_path=str(tmp_path / "data" / "universities.csv"),
        fetcher=fake_fetcher,
    )
    res = p.run()
    assert res.success
    assert res.record_count == 7  # survivor set from the parity fixture
    assert res.as_dict()["recordCount"] == 7

    # S3 contract: single pretty-printed JSON ARRAY file
    with open(tmp_path / "data" / "universities.json", encoding="utf-8") as fh:
        text = fh.read()
    assert text.lstrip().startswith("[")
    data = json.loads(text)
    assert len(data) == 7
    assert set(data[0]) == {
        "name",
        "country",
        "state_province",
        "alpha_two_code",
        "domains",
        "web_pages",
        "primary_domain",
        "primary_website",
        "last_updated",
    }

    # S4 contract: fixed header order, quoted fields, nulls as ''
    with open(tmp_path / "data" / "universities.csv", encoding="utf-8") as fh:
        lines = fh.read().splitlines()
    assert lines[0] == (
        '"name","country","state_province","alpha_two_code",'
        '"primary_domain","primary_website","last_updated"'
    )
    assert len(lines) == 8  # header + 7 rows

    # S5: read-back of the array file
    back = read_json_array(spark, str(tmp_path / "data" / "universities.json"))
    assert back.count() == 7


def test_per_source_error_isolation(spark, tmp_path):
    """O2: a failing source is dropped; the rest still load."""
    df, failed = fetch_universities_driver(
        spark, countries=("Costa Rica", "USA"), fetcher=failing_fetcher
    )
    assert failed == ["USA"]
    assert df.count() == len(FIXTURE_BY_COUNTRY["Costa Rica"])


def test_empty_extract_still_stages(spark, tmp_path):
    """server.js:147: empty input proceeds → empty outputs, success."""
    p = UniversitiesPipeline(
        spark,
        json_path=str(tmp_path / "u.json"),
        csv_path=str(tmp_path / "u.csv"),
        countries=("Colombia",),
        fetcher=fake_fetcher,
    )
    res = p.run()
    assert res.success and res.record_count == 0
    assert json.loads((tmp_path / "u.json").read_text()) == []
    assert (tmp_path / "u.csv").read_text().splitlines()[0].startswith('"name"')


def test_sink_failure_fails_run(spark, tmp_path):
    """server.js:134-135: stage failures propagate to a failed result."""
    # a FILE occupying the parent-directory path makes staging fail even
    # as root (chmod tricks don't bind root)
    target = tmp_path / "blocked"
    target.write_text("i am a file, not a directory")
    p = UniversitiesPipeline(
        spark,
        json_path=str(target / "u.json"),
        csv_path=str(target / "u.csv"),
        fetcher=fake_fetcher,
    )
    res = p.run()
    assert not res.success
    assert res.error


def _staged_rows(json_path, csv_path):
    with open(json_path, encoding="utf-8") as f:
        data = json.load(f)
    with open(csv_path, encoding="utf-8", newline="") as f:
        lines = list(csv.reader(f))
    return data, lines


def test_json_and_csv_of_one_refresh_share_last_updated(spark, tmp_path):
    p = UniversitiesPipeline(
        spark, json_path=str(tmp_path / "u.json"), csv_path=str(tmp_path / "u.csv"),
        fetcher=fake_fetcher,
    )
    assert p.run().success
    data, lines = _staged_rows(p.json_path, p.csv_path)
    stamps = {r["last_updated"] for r in data}
    assert len(stamps) == 1
    assert {row[-1] for row in lines[1:]} == stamps


def test_one_refresh_runs_no_spark_job(spark, tmp_path):
    """The feed reaches Spark as a local relation, so the optimizer folds
    the transform into one LocalTableScan and the refresh's collect
    runs on the driver without a job."""
    p = UniversitiesPipeline(
        spark, json_path=str(tmp_path / "u.json"), csv_path=str(tmp_path / "u.csv"),
        fetcher=fake_fetcher,
    )
    raw, _ = p.extract()
    leaves = raw._jdf.queryExecution().analyzed().collectLeaves()
    assert [leaves.apply(i).nodeName() for i in range(leaves.size())] == ["LocalRelation"]
    sc = spark.sparkContext
    group = f"refresh-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        assert p.run().success
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) == 0


def test_readers_never_see_a_partial_staged_file(spark, tmp_path):
    """Atomic publish: a reader polling both staged files while
    refreshes run always parses a whole file with every row."""
    n_rows = 300
    feed = [
        {"name": f"University {i}", "country": "Testland", "state-province": None,
         "alpha_two_code": "TL", "domains": [f"u{i}.edu"],
         "web_pages": [f"https://u{i}.edu"]}
        for i in range(n_rows)
    ]
    p = UniversitiesPipeline(
        spark, json_path=str(tmp_path / "u.json"), csv_path=str(tmp_path / "u.csv"),
        countries=("Testland",), fetcher=lambda country: feed,
    )
    assert p.run().success
    stop, reads, errors = threading.Event(), [0], []

    def reader():
        while not stop.is_set():
            try:
                data, lines = _staged_rows(p.json_path, p.csv_path)
                assert len(data) == n_rows and len(lines) == n_rows + 1
                reads[0] += 1
            except Exception as exc:  # a torn read: short body or bad JSON
                errors.append(repr(exc)[:200])

    t = threading.Thread(target=reader)
    t.start()
    try:
        results = [p.run() for _ in range(5)]
    finally:
        stop.set()
        t.join(timeout=60)
    assert not t.is_alive()
    assert all(r.success and r.record_count == n_rows for r in results)
    assert errors == []
    assert reads[0] > 0
    # no temporary files are left beside the targets
    assert sorted(f.name for f in tmp_path.iterdir()) == ["u.csv", "u.json"]


def test_js_number_string_matches_node():
    from node_js_etl_processor_spark.sources.http_json import js_number_string

    # String(x) as printed by Node for each value
    for value, text in [
        (1, "1"), (1.0, "1"), (-0.0, "0"), (1.5, "1.5"), (-2.5, "-2.5"),
        (0.1, "0.1"), (123.456, "123.456"), (1e-6, "0.000001"), (1e-7, "1e-7"),
        (1e20, "100000000000000000000"), (1e21, "1e+21"), (1.5e300, "1.5e+300"),
        (12345678901234567890, "12345678901234567000"), (5e-324, "5e-324"),
        (float("nan"), "NaN"), (float("-inf"), "-Infinity"), (10**400, "Infinity"),
    ]:
        assert js_number_string(value) == text, value


def test_malformed_feed_rows_do_not_fail_refresh(spark, tmp_path):
    """Non-array domains/web_pages, non-string scalars and lone UTF-16
    surrogates are coerced at the driver boundary instead of failing
    the Arrow table the refresh hands to Spark."""
    feed = [
        {"name": "Str Domains U", "country": "X", "domains": "a.edu", "web_pages": ["w1"]},
        {"name": "Str Pages U", "country": "X", "web_pages": "https://p.edu"},
        {"name": 42, "country": True, "alpha_two_code": 0, "web_pages": [7, False]},
        {"name": {"k": 1}, "country": "X", "web_pages": ["w3"]},
        {"name": "List State U", "country": "X", "state-province": ["s"],
         "domains": [{"d": 1}, "b.edu"], "web_pages": ["w4"]},
        # lone high, lone low and a reversed pair, as scalars and elements;
        # the valid pair decodes to one code point and stays
        json.loads(
            r'{"name": "Lone \ud800 U", "country": "X", "state-province": "\udc00",'
            r' "alpha_two_code": "\udc00\ud800", "domains": ["\ud800", "a\udc00b",'
            r' "\udc00\ud800", "\ud83d\ude00"], "web_pages": ["w\ud800"]}'
        ),
    ]
    p = UniversitiesPipeline(
        spark, json_path=str(tmp_path / "u.json"), csv_path=str(tmp_path / "u.csv"),
        countries=("X",), fetcher=lambda country: feed,
    )
    res = p.run()
    assert res.success, res.error
    data, _ = _staged_rows(p.json_path, p.csv_path)
    by_name = {r["name"]: r for r in data}
    assert set(by_name) == {"Str Domains U", "42", "List State U", "Lone \ufffd U"}
    assert by_name["Str Domains U"]["domains"] == []
    assert by_name["42"]["country"] == "true"
    assert by_name["42"]["alpha_two_code"] is None  # JS: 0 is falsy
    assert by_name["42"]["web_pages"] == ["7", "false"]
    assert by_name["List State U"]["state_province"] is None
    assert by_name["List State U"]["domains"] == [None, "b.edu"]
    lone = by_name["Lone \ufffd U"]  # one U+FFFD per lone surrogate
    assert lone["state_province"] == "\ufffd"
    assert lone["alpha_two_code"] == "\ufffd\ufffd"
    assert lone["domains"] == ["\ufffd", "a\ufffdb", "\ufffd\ufffd", "\U0001f600"]
    assert lone["web_pages"] == ["w\ufffd"]


def test_every_module_imports_without_spark_session():
    """A module-level
    Column literal requires an active SparkContext at import time
    under Spark 4's classic mode, so a consumer importing operators
    before building its session would crash. Every package module
    must import in a bare interpreter with NO session — run in a
    subprocess because the test session would mask the defect."""
    import pathlib
    import subprocess
    import sys

    root = pathlib.Path(__file__).resolve().parents[1]
    script = (
        "import sys, importlib, pathlib\n"
        f"sys.path.insert(0, {str(root)!r})\n"
        f"pkg = pathlib.Path({str(root)!r}) / 'node_js_etl_processor_spark'\n"
        "for p in sorted(pkg.rglob('*.py')):\n"
        "    mod = '.'.join(p.relative_to(pkg.parent).with_suffix('').parts)\n"
        "    importlib.import_module(mod)\n"
        "print('OK')\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().endswith("OK")
