"""SparkSession factory with scale-oriented defaults.

The engine is designed for a multi-executor cluster reading ~100 TB;
locally it runs on ``local[N]``. Every default below is chosen so the
same plan survives a 1000x scale-up:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic
  broadcast demotion/promotion).
- Arrow execution on (fast toPandas / pandas_udf batches for the few
  Python-side operators).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE's coalescing makes the initial number mostly irrelevant
  as long as it is not too small.
- Session timezone pinned to UTC so timestamp semantics are stable and
  match the DuckDB oracle (naive timestamps interpreted as UTC).
- PySpark's per-call origin capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
  every Column and DataFrame call walks the Python stack and makes four
  extra JVM calls (active session, conf read, origin set and clear):
  8.6k of the 19.8k py4j calls that build the ``analytics_mix``
  basket's plans. The cost: an ``AnalysisException`` raised by a
  DataFrame call no longer carries the Python ``file:line`` fragment in
  its query context; the Python traceback still names the call site.
  ``extra_conf`` can turn it back on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "node-js-etl-processor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or "*"
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = max(os.cpu_count() or 8, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def register_shutdown(spark: SparkSession) -> None:
    """O9: graceful-shutdown twin of the reference's SIGTERM/SIGINT
    handlers (server.js:290-298) — stop the SparkSession exactly once
    on signal or interpreter exit, so executors and the driver JVM are
    released instead of being killed mid-task.

    Signal handlers stop the session then exit 0 (the reference's
    process.exit(0)), chaining to any previously-installed Python
    handler first; the atexit hook covers normal interpreter teardown.
    Idempotent: repeated delivery stops the session exactly once.
    """
    import atexit
    import signal

    state = {"stopped": False}

    def _stop() -> None:
        if not state["stopped"]:
            state["stopped"] = True
            try:
                spark.stop()
            except Exception:
                pass  # already-dead gateway on teardown is fine

    atexit.register(_stop)

    def _chain(sig: int):
        prev = signal.getsignal(sig)

        def handler(signum, frame):
            _stop()
            if callable(prev) and prev not in (signal.SIG_IGN, signal.SIG_DFL):
                prev(signum, frame)
            raise SystemExit(0)

        return handler

    for sig in (signal.SIGTERM, signal.SIGINT):
        try:
            signal.signal(sig, _chain(sig))
        except (ValueError, OSError):
            pass  # non-main thread (e.g. test runner) — atexit still covers
