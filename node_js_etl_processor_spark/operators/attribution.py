"""Last-touch conversion attribution: for every purchase event, the most recent
click/view by the same user STRICTLY EARLIER IN TIME and within a
7-day lookback, plus the touch count inside that lookback — the
standard marketing-analytics credit assignment (last non-direct
click), and in pipeline terms the canonical "join each event to its
most recent qualifying predecessor" pattern the as-of join cannot
express when the predecessor must satisfy a predicate.

Determinism contract: BOTH the last-touch and the touch count use RANGE
frames on integer epoch microseconds (through ``timeutil.epoch_us_fn``), so
their candidate sets are identical — strictly earlier t_us; equal-timestamp
peers are excluded from both by SQL-standard RANGE peer semantics (a
ROWS-frame last-touch would admit an equal-ts touch the count excludes).
Among candidates the credited touch is the LEXICOGRAPHIC MAX of (t_us,
event_id, event_type) — a deterministic total order even when several
touches share the latest timestamp — computed as a struct MAX window
aggregate, which both engines order field by field. The lookback gate nulls
all three touch columns together, so ``gap_us`` is always strictly positive
when present.

Scale shape: ONE hashpartitioning(user_id) exchange feeds both RANGE
windows; the purchase filter happens after the windows but prunes
before anything wide. No joins at all — the classic self-join
formulation (purchases × touches with a max-ts subquery) is
rewritten away.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.timeutil import epoch_us_fn

#: attribution lookback: 7 days in microseconds
LOOKBACK_US = 7 * 24 * 3600 * 1_000_000

#: event types that can receive attribution credit
TOUCH_TYPES = ("click", "view")


def q_attribution(events: DataFrame) -> DataFrame:
    """Declared query: last-touch attribution of every
    purchase. Output one row per purchase:
    (purchase_event_id, user_id, purchase_us, touch_event_id,
    touch_type, gap_us, n_touches_7d) — the three touch columns are
    NULL together when no qualifying touch exists in the lookback."""
    eus = epoch_us_fn(events)
    base = events.select(
        "user_id",
        "event_id",
        "event_type",
        eus("ts").alias("t_us"),
    )
    is_touch = F.col("event_type").isin(*TOUCH_TYPES)
    w_all = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t_us").asc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_look = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t_us").asc())
        .rangeBetween(-LOOKBACK_US, -1)
    )
    last_touch = F.max(
        F.when(
            is_touch,
            F.struct(
                F.col("t_us").alias("le_us"),
                F.col("event_id").alias("le_id"),
                F.col("event_type").alias("le_type"),
            ),
        )
    ).over(w_all)
    attributed = base.select(
        "user_id",
        "event_id",
        "event_type",
        "t_us",
        last_touch.alias("lt"),
        F.count(F.when(is_touch, F.lit(1)))
        .over(w_look)
        .cast("long")
        .alias("n_touches_7d"),
    )
    in_window = F.col("lt").isNotNull() & (
        (F.col("t_us") - F.col("lt.le_us")) <= F.lit(LOOKBACK_US)
    )
    return attributed.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.col("t_us").alias("purchase_us"),
        F.when(in_window, F.col("lt.le_id")).alias("touch_event_id"),
        F.when(in_window, F.col("lt.le_type")).alias("touch_type"),
        F.when(in_window, F.col("t_us") - F.col("lt.le_us")).alias("gap_us"),
        "n_touches_7d",
    )


#: the DuckDB twin — the struct MAX compares field by field ((t_us,
#: event_id, event_type)), the same lexicographic order Spark applies to
#: struct MAX. The lookback interpolates LOOKBACK_US so the oracle can never
#: drift from the engine default.
ATTRIBUTION_ORACLE = f"""
    WITH base AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS t_us
      FROM events
    ), att AS (
      SELECT user_id, event_id, event_type, t_us,
             max(CASE WHEN event_type IN ('click', 'view')
                      THEN struct_pack(le_us := t_us, le_id := event_id,
                                       le_type := event_type)
                 END) OVER w_all AS lt,
             CAST(count(CASE WHEN event_type IN ('click', 'view')
                             THEN 1 END) OVER w_look AS BIGINT) AS n_touches_7d
      FROM base
      WINDOW w_all AS (PARTITION BY user_id ORDER BY t_us
                       RANGE BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING),
             w_look AS (PARTITION BY user_id ORDER BY t_us
                        RANGE BETWEEN {LOOKBACK_US} PRECEDING
                        AND 1 PRECEDING)
    )
    SELECT event_id AS purchase_event_id, user_id, t_us AS purchase_us,
           CASE WHEN lt IS NOT NULL AND t_us - (lt).le_us <= {LOOKBACK_US}
                THEN (lt).le_id END AS touch_event_id,
           CASE WHEN lt IS NOT NULL AND t_us - (lt).le_us <= {LOOKBACK_US}
                THEN (lt).le_type END AS touch_type,
           CASE WHEN lt IS NOT NULL AND t_us - (lt).le_us <= {LOOKBACK_US}
                THEN t_us - (lt).le_us END AS gap_us,
           n_touches_7d
    FROM att WHERE event_type = 'purchase'
"""
