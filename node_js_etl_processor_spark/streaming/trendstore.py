"""Incremental OLS regression: the trend family's store lane.

``operators/trend.py`` split the per-priority regression into
SUM-mergeable integer sufficient statistics (``trend_stats``) and a
finisher (``trend_from_stats``); this module maintains the statistics
across micro-batches through the GENERIC versioned-pointer merge loop
(``streaming/sketches.py`` — reused as-is, not modified: its contract
is one aggregate Column per merge, so the five sums ride ONE struct
column and the read path unpacks them). State is O(groups × 5) — the
regression over an unbounded CDC stream at sketch-sized cost, exactly
the countmin/HLL/HDR argument on the regression axis.

Exactly-once: inherited verbatim from ``sketch_merge_applier``
(replay guard → pointer self-check → merge → new version dir →
atomic pointer switch → marker → GC); SUM is the sharp idempotence
law — a replayed merge would double every statistic — and the crash
matrix pins both windows (tests/test_markers.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sketches import read_sketch_store, sketch_merge_ingest_stream


def _pack(stats: DataFrame) -> DataFrame:
    from ..operators.trend import TREND_STAT_COLS

    return stats.select(
        "o_orderpriority", F.struct(*TREND_STAT_COLS).alias("stats")
    )


def _merge_col():
    from ..operators.trend import TREND_STAT_COLS

    return F.struct(
        *[
            F.sum(f"stats.{c}").cast("bigint").alias(c)
            for c in TREND_STAT_COLS
        ]
    ).alias("stats")


def ols_trend_ingest_stream(
    orders_stream: DataFrame,
    store_path: str,
    checkpoint: str,
):
    """Maintain the per-priority OLS sufficient statistics across
    micro-batches by per-key SUM (see the module docstring). Returns
    the started query (availableNow)."""
    from ..operators.trend import trend_stats

    return sketch_merge_ingest_stream(
        orders_stream,
        store_path,
        checkpoint,
        build_batch=lambda b: _pack(trend_stats(b)),
        merge_keys=("o_orderpriority",),
        merge_agg=_merge_col,
    )


def ols_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """The read path: unpack the stored struct and finish the
    regression — identical slope to the one-shot ``q_ols_trend`` over
    the union feed because the five sums are exact BIGINTs and
    SUM-merge associatively (crash-matrix-pinned)."""
    from ..operators.trend import TREND_STAT_COLS, trend_from_stats

    stored = read_sketch_store(spark, store_path).select(
        "o_orderpriority",
        *[F.col(f"stats.{c}").alias(c) for c in TREND_STAT_COLS],
    )
    return trend_from_stats(stored)
