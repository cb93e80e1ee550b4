"""Benchmark runner.

    python3 perfbench/run.py --workload <etl_serve|analytics_mix> \\
        --seed N --seconds S --trace <0|1>

Run from the repository root. The runner generates the workload's
inputs from ``--seed`` under a fresh temporary root inside the
checkout, starts the system under test in its own process
(``sut.py``), drives it as the load generator for ``--seconds``,
checks its outputs, stops it and removes the temporary root.

The last stdout line is one JSON object ``{correct, attempted, failed,
metrics}``: the end-to-end metrics of ``BENCHMARK.json`` with
``--trace 0``, its per-layer metrics with ``--trace 1``. A per-layer
metric of a layer the workload does not run reads 0. The lines before
it repeat the end-to-end figures under their per-workload names
(``refresh_p50_s``, ``read_json_p90_ms``, ``mix_best_pass_s`` ...).

``README.md`` in this directory describes the workloads, the metrics
and which layer metric should move which end-to-end metric.
"""

from __future__ import annotations

import argparse
import http.client
import json
import math
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

import gen
from spans import self_times

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.append(ROOT)  # the oracle side of the analytics_mix check

READY_TIMEOUT_S = 120
CALL_TIMEOUT_S = 60

# etl_serve: one client, closed loop: a refresh, then this many reads of
# each endpoint, alternating JSON and CSV
READS_PER_REFRESH = 20

# analytics_mix: the basket and the operator module each query runs in
BASKET = {
    "q_agg_pricing": "relational",
    "q_join_enrich": "relational",
    "q_shipping_priority": "relational",
    "q_window_lag": "relational",
    "q_sessionize": "sessionize",
    "q_percentiles": "relational",
    "q_corpus_pipeline": "text",
    "q_bm25": "text",
    "q_dedup_minhash": "dedup",
    "q_dedup_simhash": "dedup",
    "q_semdedup": "similarity",
    "q_ivfpq_topk": "similarity",
    "q_hll_distinct": "sketch",
    "q_countmin": "sketch",
    "q_pagerank": "graph",
    "q_multimodal_features": "multimodal",
    "q_csv_export_shape": "relational",
}


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (a failed operation enters as ``inf``)."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


# ---------------------------------------------------------------- child process


class Child:
    """The system under test, in its own process group (the JVM and the
    Python workers Spark starts belong to it)."""

    def __init__(self, mode: str, workdir: str, trace: bool) -> None:
        tmp = os.path.join(workdir, "tmp")
        os.makedirs(tmp)
        env = dict(
            os.environ,
            PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            SPARK_LOCAL_DIRS=os.path.join(workdir, "spark-local"),
            TMPDIR=tmp,
            JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        )
        self.workdir = workdir
        self.log = open(os.path.join(workdir, "sut.log"), "wb")
        self.replies: queue.Queue = queue.Queue()
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "sut.py"), mode, workdir, "1" if trace else "0"],
            cwd=workdir, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.log, text=True, start_new_session=True,
        )
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("@@ "):
                self.replies.put(json.loads(line[3:]))
        self.replies.put(None)

    def recv(self, timeout: float) -> dict:
        msg = self.replies.get(timeout=timeout)
        if msg is None:
            self.log.flush()
            with open(self.log.name, encoding="utf-8", errors="replace") as fh:
                tail = fh.read()[-3000:]
            raise RuntimeError(f"system under test exited early; log tail:\n{tail}")
        return msg

    def call(self, **req) -> dict:
        self.proc.stdin.write(json.dumps(req) + "\n")
        self.proc.stdin.flush()
        return self.recv(CALL_TIMEOUT_S)

    def stop(self) -> None:
        """Ask for a clean stop; kill the process group if it hangs, and
        wait until every process in it has ended."""
        try:
            if self.proc.poll() is None:
                self.call(op="stop")
        except (OSError, RuntimeError, queue.Empty):
            pass
        finally:
            try:
                self.proc.stdin.close()
                self.proc.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired):
                pass
            deadline = time.monotonic() + 30
            while True:
                try:
                    sig = signal.SIGKILL if time.monotonic() > deadline else 0
                    os.killpg(self.proc.pid, sig)
                except ProcessLookupError:
                    break
                time.sleep(0.1)
            self.proc.wait()
            self.reader.join(timeout=10)
            self.log.close()

    def spans(self) -> list[dict]:
        with open(os.path.join(self.workdir, "spans.json"), encoding="utf-8") as fh:
            return json.load(fh)


# ---------------------------------------------------------------- etl_serve


def _request(port: int, method: str, path: str) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=CALL_TIMEOUT_S)
    try:
        conn.request(method, path)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def _check_bodies(port: int, want: list[dict]) -> tuple[bool, dict[str, int]]:
    """Compare the served JSON and CSV with the pure-Python replay of the
    feed; returns (ok, full body length per endpoint). Every complete
    body has the same length: only the fixed-width timestamp changes
    between refreshes."""
    import csv
    import io

    status, body = _request(port, "GET", "/api/universities/json")
    env = json.loads(body) if status == 200 else {}
    got = [{k: v for k, v in r.items() if k != "last_updated"} for r in env.get("data", [])]
    json_ok = status == 200 and env["count"] == len(want) and got == want
    status_c, body_c = _request(port, "GET", "/api/universities/csv")
    lines = list(csv.reader(io.StringIO(body_c.decode("utf-8")))) if status_c == 200 else []
    csv_cols = ("name", "country", "state_province", "alpha_two_code", "primary_domain", "primary_website")
    want_csv = [[r[c] or "" for c in csv_cols] for r in want]
    csv_ok = (
        status_c == 200
        and lines[0] == [*csv_cols, "last_updated"]
        and [row[:-1] for row in lines[1:]] == want_csv
    )
    return json_ok and csv_ok, {"json": len(body), "csv": len(body_c)}


def etl_serve(args, workdir: str) -> dict:
    feed = gen.universities_feed(args.seed)
    with open(os.path.join(workdir, "feed.json"), "w", encoding="utf-8") as fh:
        json.dump(feed, fh)
    want = gen.replay_transform(feed)

    child = Child("serve", workdir, args.trace)
    try:
        ready = child.recv(READY_TIMEOUT_S)
        setup_s = time.perf_counter() - child.t0
        port = ready["port"]
        boot_ok = ready["boot"].get("recordCount") == len(want)
        # untimed warm-up: the first refreshes after boot are still
        # ~15% slower, so three of them, then reads of each endpoint
        warm_ok = all(_request(port, "POST", "/api/refresh")[0] == 200 for _ in range(3))
        for _ in range(3):
            _request(port, "GET", "/api/universities/json")
            _request(port, "GET", "/api/universities/csv")
        first_ok, full_len = _check_bodies(port, want)

        reads: list[dict] = []
        refreshes: list[dict] = []
        t_end = time.perf_counter() + args.seconds
        while time.perf_counter() < t_end:
            start = time.perf_counter()
            try:
                status, body = _request(port, "POST", "/api/refresh")
                ok = status == 200 and json.loads(body).get("recordCount") == len(want)
            except (OSError, http.client.HTTPException, ValueError):
                ok = False
            refreshes.append({"start": start, "end": time.perf_counter(), "ok": ok})
            for kind in ("json", "csv") * READS_PER_REFRESH:
                start = time.perf_counter()
                try:
                    status, body = _request(port, "GET", f"/api/universities/{kind}")
                    ok = status == 200 and len(body) == full_len[kind]
                except (OSError, http.client.HTTPException):
                    ok = False
                reads.append({"kind": kind, "start": start, "end": time.perf_counter(), "ok": ok})
        last_ok, _ = _check_bodies(port, want)
    finally:
        child.stop()

    checks = [boot_ok, warm_ok, first_ok, last_ok]
    failed = sum(not r["ok"] for r in reads + refreshes) + checks.count(False)
    attempted = len(reads) + len(refreshes) + len(checks)
    lat_ms = {
        kind: [(r["end"] - r["start"]) * 1000 if r["ok"] else math.inf for r in reads if r["kind"] == kind]
        for kind in ("json", "csv")
    }
    refresh_s = [r["end"] - r["start"] for r in refreshes if r["ok"]]
    e2e = {
        "setup_s": setup_s,
        "batch_s": statistics.median(refresh_s),
        "op_p50_ms": percentile(lat_ms["json"], 0.5),
    }
    report = {
        "setup_s": (setup_s, "s"),
        "refresh_p50_s": (e2e["batch_s"], "s"),
        "read_json_p50_ms": (e2e["op_p50_ms"], "ms"),
        "read_json_p90_ms": (percentile(lat_ms["json"], 0.9), "ms"),
        "read_csv_p50_ms": (percentile(lat_ms["csv"], 0.5), "ms"),
        "read_csv_p90_ms": (percentile(lat_ms["csv"], 0.9), "ms"),
        "failed_ratio": (failed / attempted, "ratio"),
        "reads_json": (len(lat_ms["json"]), "count"),
        "reads_csv": (len(lat_ms["csv"]), "count"),
        "refreshes": (len(refreshes), "count"),
    }
    layers = _etl_layers(child.spans(), refreshes, lat_ms) if args.trace else {}
    return {
        "correct": all(checks) and all(r["ok"] for r in refreshes),
        "attempted": attempted, "failed": failed,
        "e2e": e2e, "report": report, "layers": layers,
    }


def _etl_layers(spans, refreshes, lat_ms) -> dict:
    selfs = self_times(spans)
    runs = [s for s in spans if s["name"] == "pipeline.run"][-len(refreshes):]
    by_trace: dict[int, dict[str, dict]] = {}
    for s in spans:
        by_trace.setdefault(s["trace"], {})[s["name"]] = s

    def med(name: str, f) -> float:
        return statistics.median(f(by_trace[r["trace"]][name]) for r in runs)

    def dur(s):
        return s["end"] - s["start"]

    rows_in = med("pipeline.run", lambda s: s["attrs"]["rows_in"])
    rows_out = med("files.write_json_array", lambda s: s["attrs"]["rows_out"])
    return {
        "session.get_spark_s": dur(next(s for s in spans if s["name"] == "session.get_spark")),
        "http_json.fetch_universities_driver_s": med("http_json.fetch_universities_driver", dur),
        "http_json.rows_in": rows_in,
        "files.write_json_array_s": med("files.write_json_array", dur),
        "files.write_csv_export_s": med("files.write_csv_export", dur),
        "files.json_bytes": med("files.write_json_array", lambda s: s["attrs"]["bytes"]),
        "files.csv_bytes": med("files.write_csv_export", lambda s: s["attrs"]["bytes"]),
        "universities.rows_out": rows_out,
        "universities.keep_ratio": rows_out / rows_in,
        "pipeline.run_self_s": statistics.median(selfs[r["id"]] for r in runs),
        "pipeline.spark_jobs_per_refresh": med("pipeline.run", lambda s: s["attrs"]["spark_jobs"]),
        "serving.refresh_http_s": statistics.median(
            (f["end"] - f["start"]) - dur(r) for f, r in zip(refreshes, runs)
        ),
        "serving.json_p90_ms": percentile(lat_ms["json"], 0.9),
        "serving.csv_p50_ms": percentile(lat_ms["csv"], 0.5),
        "serving.csv_p90_ms": percentile(lat_ms["csv"], 0.9),
    }


# ---------------------------------------------------------------- analytics_mix


def _oracle_multisets(tables: str, out: dict) -> None:
    """Each basket query's ``oracle_sql()`` result in DuckDB, normalized
    like ``tests/test_oracle_parity.py``; fills ``out[name]`` with
    (sorted columns, multiset)."""
    import duckdb

    import __spark_entry__ as entry
    from tests.test_oracle_parity import _frame_to_multiset

    oracles = entry.oracle_sql()
    with duckdb.connect(config={"threads": 1}) as con:  # leave the cores to Spark
        for t in os.listdir(tables):
            con.execute(f"CREATE VIEW {t.removesuffix('.parquet')} AS "
                        f"SELECT * FROM read_parquet('{os.path.join(tables, t)}')")
        for name in BASKET:
            res = con.execute(oracles[name])
            cols = [d[0] for d in res.description]
            out[name] = (sorted(cols), _frame_to_multiset(cols, res.fetchall()))


def analytics_mix(args, workdir: str) -> dict:
    tables = os.path.join(workdir, "tables")
    gen.write_tables(gen.make_tables(args.seed), tables)
    orders = gen.basket_order(args.seed, list(BASKET), passes=64)
    oracle: dict = {}
    oracle_thread = threading.Thread(target=_oracle_multisets, args=(tables, oracle))

    child = Child("mix", workdir, args.trace)
    try:
        child.recv(READY_TIMEOUT_S)
        setup_s = time.perf_counter() - child.t0
        # untimed: every query's rows, checked against its DuckDB oracle
        # (run beside this pass, which is also the warm-up)
        oracle_thread.start()
        got = {n: child.call(op="collect", name=n) for n in orders[0]}
        oracle_thread.join()
        # timed: the basket's queries back-to-back in the seeded pass
        # orders for --seconds (and at least one whole pass)
        runs: list[dict] = []
        t_end = time.perf_counter() + args.seconds
        for name in (n for order in orders[1:] for n in order):
            if time.perf_counter() >= t_end and len(runs) >= len(BASKET):
                break
            q0 = time.perf_counter()
            r = child.call(op="run", name=name)
            runs.append({"name": name, "ok": r["ok"], "s": time.perf_counter() - q0})
    finally:
        child.stop()

    bad = []
    for name, r in got.items():
        rows = {tuple(k): n for k, n in r.get("rows", [])}
        if not (r["ok"] and rows and (r["cols"], rows) == oracle.get(name)):
            bad.append(r.get("error") or f"{name}: differs from its oracle")
    for msg in bad:
        print(f"check failed: {msg}", file=sys.stderr)
    failed = len(bad) + sum(not r["ok"] for r in runs)
    attempted = len(got) + len(runs)
    q_ms = [r["s"] * 1000 if r["ok"] else math.inf for r in runs]
    e2e = {
        "setup_s": setup_s,
        "batch_s": _best_pass_s(runs),
        "op_p50_ms": percentile(q_ms, 0.5),
    }
    report = {
        "setup_s": (setup_s, "s"),
        "mix_best_pass_s": (e2e["batch_s"], "s"),
        "query_p50_ms": (e2e["op_p50_ms"], "ms"),
        "query_p90_ms": (percentile(q_ms, 0.9), "ms"),
        "failed_ratio": (failed / attempted, "ratio"),
        "timed_queries": (len(runs), "count"),
    }
    layers = _mix_layers(child.spans(), runs, q_ms) if args.trace else {}
    return {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "e2e": e2e, "report": report, "layers": layers,
    }


def _fastest(items, name_of, value_of) -> dict[str, float]:
    """Smallest ``value_of(item)`` per basket query."""
    by_q: dict[str, list[float]] = {}
    for it in items:
        by_q.setdefault(name_of(it), []).append(value_of(it))
    return {q: min(by_q[q]) for q in BASKET}


def _best_pass_s(runs) -> float:
    """A basket pass made of each query's fastest timed round trip. The
    host is shared, so a run's slowest repeats say more about the other
    tenants than about the program. A query that never succeeded counts
    as infinite."""
    return sum(_fastest(runs, lambda r: r["name"], lambda r: r["s"] if r["ok"] else math.inf).values())


def _mix_layers(spans, runs, q_ms) -> dict:
    q_spans = [s for s in spans if s["name"].startswith("q.")][-len(runs):]
    q_ids = {s["id"] for s in q_spans}
    layers = {"session.get_spark_s": next(s["end"] - s["start"] for s in spans if s["name"] == "session.get_spark")}
    q_s = _fastest(q_spans, lambda s: s["name"][2:], lambda s: s["end"] - s["start"])
    q_tasks = _fastest(q_spans, lambda s: s["name"][2:], lambda s: s["attrs"]["tasks"])
    for q in BASKET:
        layers[f"q.{q}_s"] = q_s[q]
        layers[f"q.{q}.tasks"] = q_tasks[q]
    for module in sorted(set(BASKET.values())):
        layers[f"operators.{module}_s"] = sum(q_s[q] for q, m in BASKET.items() if m == module)
    loads = [s for s in spans if s["name"] == "catalog.load_table" and s["parent"] in q_ids]
    layers["catalog.load_table_s"] = sum(s["end"] - s["start"] for s in loads) * len(BASKET) / len(runs)
    layers["mix.pass_overhead_s"] = _best_pass_s(runs) - sum(q_s.values())
    layers["mix.query_p90_ms"] = percentile(q_ms, 0.9)
    return layers


# ---------------------------------------------------------------- main

WORKLOADS = {"etl_serve": etl_serve, "analytics_mix": analytics_mix}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, "node_js_etl_processor_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"no program to benchmark under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)

    workdir = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    try:
        res = WORKLOADS[args.workload](args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    for name, (value, unit) in res["report"].items():
        print(f"{name} {value} {unit}")
    if args.trace:
        measured = dict(res["layers"], **{f"traced.{k}": v for k, v in res["e2e"].items()})
        declared = spec["per_layer"]
    else:
        measured, declared = res["e2e"], spec["end_to_end"]
    undeclared = set(measured) - {m["name"] for m in declared}
    if undeclared:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(undeclared)}")
    metrics = {m["name"]: {"value": measured.get(m["name"], 0), "unit": m["unit"]} for m in declared}
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"],
        "failed": res["failed"], "metrics": metrics,
    }, allow_nan=False))
    return 0


if __name__ == "__main__":
    sys.exit(main())
