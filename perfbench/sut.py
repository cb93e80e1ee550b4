"""Host process for the system under test.

    python3 perfbench/sut.py <serve|mix> <workdir> <trace 0|1>

Runs in its own process, apart from the load generator (``run.py``),
with the repository root on ``PYTHONPATH``. It reads only the inputs
``run.py`` generated into ``workdir`` and talks over a line protocol:
each reply is one stdout line ``@@ <json>``; requests are JSON lines on
stdin. Spark's own output goes to stderr.

- ``serve``: start the session, run the universities pipeline once with
  a fetcher over ``workdir/feed.json`` (the run-on-boot refresh), start
  ``serving.serve`` with ``POST /api/refresh`` bound to the pipeline,
  reply ``{"ready": true, "port": ...}`` and wait for ``stop``.
- ``mix``: start the session over the tables in ``workdir/tables``,
  reply ``ready``, then run basket queries on request: ``run`` executes
  one query into the noop sink, ``collect`` returns its rows as the
  normalized multiset of ``tests/test_oracle_parity.py``.

With tracing on, every layer call is wrapped in a span (``spans.py``)
and the spans are written to ``workdir/spans.json`` at ``stop``.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

from spans import Tracer  # perfbench/spans.py (this directory is sys.path[0])


def reply(**msg) -> None:
    sys.stdout.write("@@ " + json.dumps(msg) + "\n")
    sys.stdout.flush()


def start_session(tracer: Tracer | None):
    from node_js_etl_processor_spark import session

    if tracer is not None:
        tracer.wrap(session, "get_spark", "session.get_spark")
    spark = session.get_spark(
        app_name="perfbench",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "2g", "spark.sql.warehouse.dir": os.path.abspath("warehouse")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jobs_in_group(sc, group: str) -> list[int]:
    return list(sc.statusTracker().getJobIdsForGroup(group))


def tasks_in_jobs(sc, job_ids: list[int]) -> int:
    tracker, n = sc.statusTracker(), 0
    for j in job_ids:
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info else ():
            stage = tracker.getStageInfo(s)
            n += stage.numTasks if stage else 0
    return n


# ---------------------------------------------------------------- etl_serve


def serve(workdir: str, tracer: Tracer | None) -> None:
    from node_js_etl_processor_spark import serving
    from node_js_etl_processor_spark.plans import pipeline as pl

    spark = start_session(tracer)
    with open(os.path.join(workdir, "feed.json"), encoding="utf-8") as fh:
        feed = json.load(fh)
    rows_in = [0]
    rows_lock = threading.Lock()

    def fetcher(country: str) -> list[dict]:
        got = feed[country]
        with rows_lock:
            rows_in[0] += len(got)
        return got

    json_path = os.path.join(workdir, "data", "universities.json")
    csv_path = os.path.join(workdir, "data", "universities.csv")
    etl = pl.UniversitiesPipeline(
        spark, json_path=json_path, csv_path=csv_path, countries=list(feed), fetcher=fetcher
    )
    if tracer is None:
        def refresh() -> dict:
            return etl.run().as_dict()
    else:
        tracer.wrap(pl, "fetch_universities_driver", "http_json.fetch_universities_driver")
        tracer.wrap(
            pl, "write_json_array", "files.write_json_array",
            after=lambda a, n, df, path, *_: a.update(rows_out=n, bytes=os.path.getsize(path)),
        )
        tracer.wrap(
            pl, "write_csv_export", "files.write_csv_export",
            after=lambda a, n, df, path, *_: a.update(bytes=os.path.getsize(path)),
        )
        sc, n_refresh = spark.sparkContext, [0]

        def refresh() -> dict:
            n_refresh[0] += 1
            group = f"refresh-{n_refresh[0]}"
            sc.setJobGroup(group, group)
            with rows_lock:
                rows_in[0] = 0
            with tracer.span("pipeline.run") as attrs:
                out = etl.run().as_dict()
            attrs["rows_in"] = rows_in[0]
            attrs["spark_jobs"] = len(jobs_in_group(sc, group))
            return out

    boot = refresh()  # run-on-boot (O4)
    httpd, port = serving.serve(json_path=json_path, csv_path=csv_path, refresh_fn=refresh)
    reply(ready=True, port=port, boot=boot)
    try:
        for line in sys.stdin:
            if json.loads(line).get("op") == "stop":
                break
    finally:
        httpd.shutdown()
        httpd.server_close()
        finish(spark, workdir, tracer)


# ---------------------------------------------------------------- analytics_mix


def mix(workdir: str, tracer: Tracer | None) -> None:
    import __spark_entry__ as entry
    from tests.test_oracle_parity import _frame_to_multiset

    spark = start_session(tracer)
    tables = os.path.join(workdir, "tables")
    queries = entry.queries()
    sc = spark.sparkContext
    if tracer is not None:
        tracer.wrap(entry, "load_table", "catalog.load_table")
    reply(ready=True)

    for n_req, line in enumerate(sys.stdin):
        req = json.loads(line)
        if req["op"] == "stop":
            break
        name = req["name"]
        group = f"q-{n_req}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            if req["op"] == "run":
                if tracer is None:
                    queries[name](spark, tables).write.format("noop").mode("overwrite").save()
                else:
                    with tracer.span(f"q.{name}") as attrs:
                        queries[name](spark, tables).write.format("noop").mode("overwrite").save()
                    attrs["tasks"] = tasks_in_jobs(sc, jobs_in_group(sc, group))
                reply(ok=True, s=time.perf_counter() - t0)
            else:  # collect
                sdf = queries[name](spark, tables)
                cols, rows = sdf.columns, [tuple(r) for r in sdf.collect()]
                multiset = _frame_to_multiset(cols, rows)
                reply(ok=True, cols=sorted(cols), rows=[[list(k), n] for k, n in multiset.items()])
        except Exception as exc:  # a raised query is a failed operation, not a crash
            reply(ok=False, error=f"{type(exc).__name__}: {exc}"[:500])
    finish(spark, workdir, tracer)


def finish(spark, workdir: str, tracer: Tracer | None) -> None:
    if tracer is not None:
        tracer.dump(os.path.join(workdir, "spans.json"))
    spark.stop()
    reply(stopped=True)


if __name__ == "__main__":
    mode, workdir, trace_on = sys.argv[1], sys.argv[2], sys.argv[3] == "1"
    tracer = Tracer() if trace_on else None
    {"serve": serve, "mix": mix}[mode](workdir, tracer)
