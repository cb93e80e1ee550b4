"""Table catalog over the driver-generated parquet fixtures.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file/dir each under
``{sf_dir}/{name}.parquet``.

At 100 TB these would be partitioned/bucketed parquet datasets; the
loader is format-agnostic (``spark.read.parquet`` handles both single
files and partitioned directories) and relies on Catalyst for predicate
pushdown + column pruning into the scan — callers must express filters
and projections declaratively, never pre-collect.

``load_table`` resolves each table once per session. Resolving lists
the file and runs one Spark job to infer its schema; later calls from
the same ``SparkSession`` get the same lazy DataFrame back while the
path's ``os.stat`` stamp ``(st_ino, st_mtime_ns, st_size)`` is
unchanged, which an atomic replace, a Spark overwrite (new directory
inode) or an append (new directory mtime) all change. Only the plan is
kept, never rows: no frame here is cached, persisted or collected, so
every query still scans its input. Another session never gets a frame
resolved by this one.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: resolved tables: (id(session), path) -> (session, stat stamp, frame).
#: The entry holds its session, so the id in the key cannot be reused
#: while the entry lives.
_resolved: dict[
    tuple[int, str], tuple[SparkSession, tuple[int, int, int], DataFrame]
] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
    except OSError:
        # missing or not a local path: resolve uncached, so a missing
        # table raises what a plain read raises
        return _resolve(spark, path, name)
    stamp = (st.st_ino, st.st_mtime_ns, st.st_size)
    key = (id(spark), path)
    hit = _resolved.get(key)
    if hit is not None and hit[0] is spark and hit[1] == stamp:
        return hit[2]
    df = _resolve(spark, path, name)
    _resolved[key] = (spark, stamp, df)
    return df


def _resolve(spark: SparkSession, path: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts arrives as parquet TIMESTAMP(NANOS) in some driver
        # datasets (Spark's vectorized reader rejects it: read nanos as
        # long, convert with exact integer division — `div`, not `/`,
        # because float division on epoch-nanos loses precision beyond
        # 2^53) and as TIMESTAMP(MICROS) isAdjustedToUTC=false in others
        # (reads as TIMESTAMP_NTZ — no conversion here; all epoch
        # math dispatches through functions/timeutil.py). The dtype gate
        # below keeps both shapes correct.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        from pyspark.sql import functions as F

        if dict(df.dtypes).get("ts") in ("bigint", "long"):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(path)


def spread(df: DataFrame, min_per_core_rows: int = 0) -> DataFrame:
    """Repartition compute-heavy inputs when the scan under-parallelizes.

    Small fixture files arrive as ONE input split, so every narrow
    per-row operator downstream (shingling, hashing, Arrow-batched
    Python kernels) would run on a single core regardless of
    ``local[32]``. Spreading to ``defaultParallelism`` costs one small
    shuffle of the raw rows and buys full-cluster parallelism for the
    expensive projection that follows.

    At 100 TB this is a structural no-op: the parquet scan already
    yields thousands of files (≥ defaultParallelism), the gate is
    false, and NO shuffle is added — the helper only repairs the
    small-input / local-mode edge, it never taxes the scale path.

    The gate reads ``df.inputFiles()`` (pure plan metadata — the file
    list Catalyst already resolved for the scan), never ``df.rdd``:
    converting to an RDD would force full plan analysis through the
    deprecated RDD bridge and break the DataFrame-only abstraction.
    Non-file inputs (in-memory test frames, streaming sources) report
    no files and pass through untouched — their parallelism is already
    whatever the upstream exchange chose.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file plans (e.g. streaming) — leave as-is
        return df
    if 0 < n_files < target:
        # A chained operator (synth → features media kernels,
        # spread-inside-helper compositions) may ALREADY carry an
        # upstream spread — inputFiles() still reports the underlying
        # parquet file, so without this gate the SECOND spread
        # round-robins the full intermediate (encoded media payloads!)
        # through another exchange for zero distribution gain. A
        # same-target shuffling Repartition still governing the
        # lineage means parallelism is already repaired; spread is
        # perf-only, so skipping is always correctness-neutral.
        #
        # The gate WALKS the logical plan
        # tree instead of substring-matching its toString — plan
        # rendering is not a stable API across Spark versions, and a
        # textual match could hit a different-target repartition. The
        # walk descends only through narrow/pass-through nodes and
        # STOPS at any node that establishes its own partitioning
        # (keyed repartition, aggregate, join, window, sort, dedup):
        # below such a node an old spread no longer governs the
        # frame's parallelism, so it must not suppress a new one
        # (a text match would give that false positive).
        if _lineage_has_spread(df, target):
            return df
        return df.repartition(target)
    return df


#: logical nodes that re-establish partitioning: a spread found BELOW
#: one of these no longer governs the frame — stop the walk there.
_PARTITIONING_NODES = frozenset(
    {
        "RepartitionByExpression",
        "RebalancePartitions",
        "Aggregate",
        "Join",
        "Window",
        "Sort",
        "Deduplicate",
        "Intersect",
        "Except",
        "CoGroup",
        "FlatMapGroupsInPandas",
    }
)


def _lineage_has_spread(df: DataFrame, target: int) -> bool:
    """True iff a shuffling round-robin ``Repartition(target)`` governs
    ``df``'s lineage — i.e. is reachable from the plan root through
    narrow/pass-through nodes only (see spread()). Fails safe: any
    JVM-walk surprise returns False, costing at most one redundant
    exchange, never a wrong result."""
    try:
        stack = [df._jdf.queryExecution().logical()]
        while stack:
            node = stack.pop()
            cls = node.getClass().getSimpleName()
            if cls == "Repartition":
                if node.shuffle() and node.numPartitions() == target:
                    return True
                continue  # different-target repartition governs instead
            if cls in _PARTITIONING_NODES:
                continue  # partitioning re-established; stop this path
            children = node.children()
            for i in range(children.size()):
                stack.append(children.apply(i))
    except Exception:
        return False
    return False
