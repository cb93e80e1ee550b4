"""CUSUM change-point detection over per-user event streams:
Page's cumulative-sum control scheme (Page, Biometrika 1954,
"Continuous Inspection Schemes") — the classic sequential detector
for a sustained upward shift in a monitored statistic, here each
user's event ``value`` stream in time order. A telemetry/curation
pipeline runs exactly this pass to flag when a source's quality
metric or a user's spend rate drifts above its reference level.

Semantics: with x_t the event values (in exact integer cents) in
(ts, event_id) order and K the reference value (the "allowance" —
set above the in-control mean so the statistic idles at zero), the
one-sided upper CUSUM is the recursion

    S_0 = 0;  S_t = max(0, S_{t-1} + (x_t - K))

and an ALARM fires at every t with S_t > H. The recursion looks
inherently sequential, but the standard prefix identity makes it a
pure window computation: with P_t = sum_{j<=t} (x_j - K),

    S_t = P_t - min(0, min_{j<=t} P_j)

(the max-with-zero resets are exactly "subtract the lowest prefix
level seen so far, floored at the starting level 0"). Both engines
evaluate it as ONE running sum and ONE running min over the same
total order — all BIGINT cents, so the compare is bitwise and the
alarm boundary can never flip on a float ulp.

Output: the alarm rows only — (user_id, ts, event_id, x_cents,
s_cents), i.e. when the alarm fired and how far past threshold the
statistic was.

Scale shape: a narrow projection, then two window expressions over a
single hashpartitioning(user_id) exchange with one in-partition sort
by (ts, event_id) — no joins, no second exchange, and the alarm
filter collapses the stream before anything leaves the stage.
Per-user order is the honest sequential-statistic requirement;
parallelism is across users (the 100 TB sharding axis), never a
global sort. Skewed users cost one partition's sort of their own
rows — bounded by per-user event volume, the same bound q_sessionize
documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: reference value K in cents (the CUSUM allowance): set above the
#: in-control mean (~50.00) so S_t idles at zero between shifts.
K_CENTS = 6_000

#: alarm threshold H in cents.
H_CENTS = 20_000


def q_cusum_alarms(
    events: DataFrame, k_cents: int = K_CENTS, h_cents: int = H_CENTS
) -> DataFrame:
    """Declared query: one-sided upper CUSUM alarms per
    user over the value stream — (user_id, ts, event_id, x_cents,
    s_cents), exact integer arithmetic throughout (module docstring
    has the prefix-identity derivation)."""
    base = events.filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    ).select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("x_cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = F.sum(F.col("x_cents") - F.lit(k_cents)).over(w)
    with_s = base.withColumn("_p", p).withColumn(
        "s_cents",
        (F.col("_p") - F.least(F.lit(0).cast("bigint"), F.min("_p").over(w)))
        .cast("bigint"),
    )
    return with_s.filter(F.col("s_cents") > h_cents).select(
        "user_id", "ts", "event_id", "x_cents", "s_cents"
    )


#: the DuckDB twin — identical
#: prefix-sum / running-min identity over the identical total order;
#: K and H interpolated from the module constants so engine and
#: oracle can never drift.
CUSUM_ALARMS_ORACLE = f"""
    WITH base AS (
      SELECT user_id, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS x_cents
      FROM events
      WHERE value IS NOT NULL AND user_id IS NOT NULL
    ), pre AS (
      SELECT user_id, ts, event_id, x_cents,
             sum(x_cents - {K_CENTS}) OVER w AS p
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    ), s AS (
      SELECT user_id, ts, event_id, x_cents,
             CAST(p - least(0, min(p) OVER w2) AS BIGINT) AS s_cents
      FROM pre
      WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING)
    )
    SELECT user_id, ts, event_id, x_cents, s_cents
    FROM s WHERE s_cents > {H_CENTS}
"""
