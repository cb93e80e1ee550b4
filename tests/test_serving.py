"""End-to-end tests for the serving façade (O6/O8), the A2 read
envelope, the S6 CSV passthrough/read-back, and the O9 shutdown hook —
driven through a real socket against an ephemeral server, mirroring how
the reference's Express app is exercised."""

from __future__ import annotations

import json
import threading
import time
import urllib.error
import urllib.request

import pytest

from node_js_etl_processor_spark.plans.pipeline import UniversitiesPipeline
from node_js_etl_processor_spark.schemas import CSV_EXPORT_COLUMNS
from node_js_etl_processor_spark.serving import (
    AVAILABLE_ENDPOINTS,
    json_envelope,
    serve,
)
from tests.test_pipeline import fake_fetcher


def _get(port, path):
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as resp:
            return resp.status, resp.headers, resp.read()
    except urllib.error.HTTPError as e:
        with e:
            return e.code, e.headers, e.read()


def _post(port, path):
    req = urllib.request.Request(f"http://127.0.0.1:{port}{path}", method="POST", data=b"")
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        with e:
            return e.code, e.read()


@pytest.fixture()
def staged(spark, tmp_path):
    json_path = str(tmp_path / "data" / "universities.json")
    csv_path = str(tmp_path / "data" / "universities.csv")
    p = UniversitiesPipeline(
        spark, json_path=json_path, csv_path=csv_path, fetcher=fake_fetcher
    )
    result = p.run()
    assert result.success
    return p, json_path, csv_path


def test_index_and_catalog_404(staged):
    p, json_path, csv_path = staged
    httpd, port = serve(json_path, csv_path)
    try:
        status, _, body = _get(port, "/")
        assert status == 200
        idx = json.loads(body)
        assert idx["message"] == "University ETL API"
        assert "/api/refresh" in idx["endpoints"]

        status, _, body = _get(port, "/api/nope")
        assert status == 404
        assert json.loads(body)["availableEndpoints"] == AVAILABLE_ENDPOINTS
    finally:
        httpd.shutdown()


def test_json_endpoint_serves_a2_envelope(staged):
    p, json_path, csv_path = staged
    httpd, port = serve(json_path, csv_path)
    try:
        status, _, body = _get(port, "/api/universities/json")
        assert status == 200
        env = json.loads(body)
        assert set(env) == {"count", "data", "last_updated"}
        assert env["count"] == len(env["data"]) > 0
        assert env["last_updated"] == env["data"][0]["last_updated"]
    finally:
        httpd.shutdown()


def test_json_endpoint_unparseable_file_gets_404_envelope(staged):
    # reference parity: JSON.parse failure lands in the same catch as
    # a missing file (server.js:200-219) -> 404 {error, suggestion}
    p, json_path, csv_path = staged
    with open(json_path, "w", encoding="utf-8") as fh:
        fh.write("{not json")
    httpd, port = serve(json_path, csv_path)
    try:
        status, _, body = _get(port, "/api/universities/json")
        assert status == 404
        env = json.loads(body)
        assert set(env) == {"error", "suggestion"}
    finally:
        httpd.shutdown()


def test_csv_passthrough_and_missing_404(staged, tmp_path):
    p, json_path, csv_path = staged
    httpd, port = serve(json_path, csv_path)
    try:
        status, headers, body = _get(port, "/api/universities/csv")
        assert status == 200
        assert headers["Content-Type"] == "text/csv"
        assert "universities.csv" in headers["Content-Disposition"]
        # byte-for-byte passthrough of the staged file (S6)
        assert body == open(csv_path, "rb").read()
    finally:
        httpd.shutdown()

    httpd, port = serve(str(tmp_path / "nope.json"), str(tmp_path / "nope.csv"))
    try:
        status, _, body = _get(port, "/api/universities/csv")
        assert status == 404
        err = json.loads(body)
        assert "refresh" in err["suggestion"]
        status, _, body = _get(port, "/api/universities/json")
        assert status == 404
    finally:
        httpd.shutdown()


def test_refresh_endpoint_success_and_failure(spark, tmp_path):
    json_path = str(tmp_path / "d" / "u.json")
    csv_path = str(tmp_path / "d" / "u.csv")
    p = UniversitiesPipeline(
        spark, json_path=json_path, csv_path=csv_path, fetcher=fake_fetcher
    )
    httpd, port = serve(json_path, csv_path, refresh_fn=lambda: p.run().as_dict())
    try:
        status, body = _post(port, "/api/refresh")
        assert status == 200
        out = json.loads(body)
        assert out["message"].startswith("Data refresh completed")
        assert out["recordCount"] > 0
        # staged files now exist → json endpoint serves them
        status, _, body = _get(port, "/api/universities/json")
        assert status == 200 and json.loads(body)["count"] == out["recordCount"]
    finally:
        httpd.shutdown()

    failing = serve(
        json_path, csv_path,
        refresh_fn=lambda: {"success": False, "error": "upstream exploded"},
    )
    httpd, port = failing
    try:
        status, body = _post(port, "/api/refresh")
        assert status == 500
        err = json.loads(body)
        assert err["error"] == "Data refresh failed"
        assert err["details"] == "upstream exploded"
    finally:
        httpd.shutdown()


def test_json_envelope():
    rows = [
        {"id": 1, "name": "a", "last_updated": "2024-01-01T00:00:00.000Z"},
        {"id": 2, "name": None, "last_updated": "2024-01-01T00:00:00.000Z"},
    ]
    env = json_envelope(rows)
    assert env["count"] == 2
    assert env["data"][1]["name"] is None  # explicit nulls, like the sink
    assert env["last_updated"] == "2024-01-01T00:00:00.000Z"
    assert json_envelope([]) == {"count": 0, "data": [], "last_updated": None}


def test_json_body_is_envelope_of_staged_file_bytes(staged):
    p, json_path, csv_path = staged
    httpd, port = serve(json_path, csv_path)
    try:
        for _ in range(2):  # the first read renders, the second is cached
            status, _, body = _get(port, "/api/universities/json")
            assert status == 200
            with open(json_path, encoding="utf-8") as f:
                assert body == json.dumps(json_envelope(json.load(f))).encode()
    finally:
        httpd.shutdown()
        httpd.server_close()


def test_refresh_is_served_and_bad_file_gets_404(staged):
    """The render cache follows the staged file: a refresh (atomic
    replace) and an in-place overwrite are both seen by the next read."""
    p, json_path, csv_path = staged
    httpd, port = serve(json_path, csv_path, refresh_fn=lambda: p.run().as_dict())
    try:
        status, _, body = _get(port, "/api/universities/json")
        assert status == 200
        before = json.loads(body)["last_updated"]
        time.sleep(0.01)  # stamps have millisecond resolution
        assert _post(port, "/api/refresh")[0] == 200
        status, _, body = _get(port, "/api/universities/json")
        assert status == 200
        after = json.loads(body)["last_updated"]
        assert after != before
        with open(json_path, encoding="utf-8") as f:
            assert after == json.load(f)[0]["last_updated"]

        with open(json_path, "w", encoding="utf-8") as fh:
            fh.write("{not json")
        status, _, body = _get(port, "/api/universities/json")
        assert status == 404
        assert set(json.loads(body)) == {"error", "suggestion"}
    finally:
        httpd.shutdown()
        httpd.server_close()


def test_concurrent_refresh_posts_all_succeed(spark, tmp_path):
    """More concurrent POST /api/refresh calls than cores: all succeed,
    the runs take turns (no two extracts overlap) and the final JSON and
    CSV come from one run."""
    import csv
    import sys

    active, overlaps, guard = [0], [], threading.Lock()

    def fetcher(country):
        with guard:
            active[0] += 1
            overlaps.append(active[0])
        time.sleep(0.05)
        with guard:
            active[0] -= 1
        return fake_fetcher(country)

    json_path, csv_path = str(tmp_path / "u.json"), str(tmp_path / "u.csv")
    p = UniversitiesPipeline(
        spark, json_path=json_path, csv_path=csv_path, countries=("USA",), fetcher=fetcher
    )
    httpd, port = serve(json_path, csv_path, refresh_fn=lambda: p.run().as_dict())
    results = []
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [
            threading.Thread(target=lambda: results.append(_post(port, "/api/refresh")))
            for _ in range(6)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(switch)
        httpd.shutdown()
        httpd.server_close()
    assert [status for status, _ in results] == [200] * 6
    assert max(overlaps) == 1
    with open(json_path, encoding="utf-8") as f:
        data = json.load(f)
    with open(csv_path, encoding="utf-8", newline="") as f:
        lines = list(csv.reader(f))
    assert {json.loads(body)["recordCount"] for _, body in results} == {len(data)}
    # both files come from one refresh: the CSV is the JSON's 7 columns
    assert lines[1:] == [
        ["" if r[c] is None else r[c] for c in CSV_EXPORT_COLUMNS] for r in data
    ]


def test_read_csv_export_roundtrip(spark, staged):
    from node_js_etl_processor_spark.sources.files import read_csv_export

    p, json_path, csv_path = staged
    back = read_csv_export(spark, csv_path)
    staged_rows = json.load(open(json_path, encoding="utf-8"))
    assert back.count() == len(staged_rows)
    assert [f.dataType.simpleString() for f in back.schema.fields] == ["string"] * 7
    names = {r["name"] for r in back.select("name").collect()}
    assert {r["name"] for r in staged_rows} == names


def test_register_shutdown_idempotent_stop():
    from node_js_etl_processor_spark.session import register_shutdown

    class FakeSpark:
        stops = 0

        def stop(self):
            FakeSpark.stops += 1

    import signal

    prev_term, prev_int = signal.getsignal(signal.SIGTERM), signal.getsignal(signal.SIGINT)
    fake = FakeSpark()
    try:
        register_shutdown(fake)
        handler = signal.getsignal(signal.SIGTERM)
        assert callable(handler) and handler is not prev_term
        # simulate the signal path twice: stop() must run exactly once
        try:
            handler(signal.SIGTERM, None)
        except SystemExit:
            pass
        assert FakeSpark.stops == 1
    finally:
        signal.signal(signal.SIGTERM, prev_term)
        signal.signal(signal.SIGINT, prev_int)
