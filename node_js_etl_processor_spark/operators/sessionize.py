"""Gap-based sessionization over the events stream (north star).

Batch form: pure window functions — ``lag`` to detect >30-minute gaps,
cumulative sum of gap flags as the session index. One shuffle on
user_id; within-partition sorted streaming after that. A Structured
Streaming twin using session_window lives in streaming/sessions.py.

The reference has no session/stream machinery (its "streaming" is a
daily cron rerun, reference server.js:264-269); this is the engine's
stateful-operator extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.timeutil import epoch_us_fn

GAP_MINUTES = 30


def sessionize(events: DataFrame, gap_minutes: int = GAP_MINUTES) -> DataFrame:
    """Assign a session_id per user from inter-event gaps."""
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact integer microsecond gap — float epoch seconds would risk
    # boundary flips vs the SQL oracle's date_diff
    us = epoch_us_fn(events)("ts")
    gap_us = us - F.lag(us).over(w_user)
    new_session = F.when(
        gap_us.isNull() | (gap_us > gap_minutes * 60 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    return events.withColumn(
        "session_id",
        F.sum(new_session).over(
            w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("bigint"),
    )


def q_sessionize(events: DataFrame, gap_minutes: int = GAP_MINUTES) -> DataFrame:
    """Declared query: per-session rollup (user_id, session_id,
    n_events, sum_value, start/end timestamps)."""
    eus = epoch_us_fn(events)
    return (
        sessionize(events, gap_minutes)
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            # epoch-micros bigints: exact integers, immune to cross-engine
            # timestamp precision/rendering differences in the value hash
            # (min/max commute with the monotone epoch conversion)
            F.min(eus("ts")).alias("start_us"),
            F.max(eus("ts")).alias("end_us"),
        )
    )


def q_funnel(events: DataFrame) -> DataFrame:
    """Ordered conversion funnel: view → click → purchase, each
    later step counted only when it happens STRICTLY AFTER the user's
    earliest completion of the previous step — the classic ordered
    funnel, not a mere event-type tally. Per step: users reaching it,
    and the conversion from the step before in exact integer form
    (``(n·10000) div n_prev / 100`` — no engine-dependent rounding of
    repeating decimals).

    Scale shape: three user-keyed min-aggregations chained by
    broadcastable user→timestamp frames (each at most one row per
    user who reached the step); events are scanned once per step with
    the type filter pushed down. No window over the raw stream.
    """
    def first_after(step: str, prev: DataFrame | None):
        ev = events.filter(F.col("event_type") == step).select(
            "user_id", F.col("ts").alias("_t")
        )
        if prev is not None:
            ev = ev.join(prev, "user_id").filter(F.col("_t") > F.col("_prev_t"))
        return ev.groupBy("user_id").agg(F.min("_t").alias("_prev_t"))

    v = first_after("view", None)
    c = first_after("click", v)
    p = first_after("purchase", c)
    rows = None
    prev_n = None
    for i, (step, frame) in enumerate([("view", v), ("click", c), ("purchase", p)]):
        n = frame.agg(F.count("*").cast("bigint").alias("n")).select(
            F.lit(i + 1).cast("bigint").alias("step_no"),
            F.lit(step).alias("step"),
            F.col("n").alias("n_users"),
        )
        rows = n if rows is None else rows.unionByName(n)
    w_prev = rows.select(
        "step_no", "step", "n_users",
        # 3-row frame — the global window is over the funnel steps,
        # never the event stream
        F.lag("n_users").over(Window.orderBy("step_no")).alias("_prev"),
    )
    return w_prev.select(
        "step_no",
        "step",
        "n_users",
        F.when(
            F.col("_prev").isNotNull(),
            F.floor(F.col("n_users") * 10000 / F.col("_prev")) / F.lit(100.0),
        ).alias("conversion_pct"),
    )
