"""Sequential pattern mining over event streams: frequent
CONTIGUOUS event-type trigrams per user (the length-3 specialization
of GSP — Srikant & Agrawal, EDBT 1996, "Mining Sequential Patterns:
Generalizations and Performance Improvements" — restricted to
adjacency, i.e. behavioral n-grams), the standard clickstream
signal: which 3-step paths do users actually take, and how many
DISTINCT users take them.

Determinism contract: each user's event sequence is ordered by the
TOTAL order (t_us, event_id) — integer epoch micros through
``timeutil.epoch_us_fn``, event_id breaking timestamp ties — so both
engines walk identical sequences. Output rows are
(e1, e2, e3, n_occ, n_users): total occurrences and distinct
supporting users for every trigram with n_occ ≥ MIN_SEQ_SUPPORT, all
counts exact BIGINT.

Scale shape: ONE hashpartitioning(user_id) exchange feeds both lead()
windows (same partitioning + ordering → one window stage), then one
keyed aggregation on the trigram with map-side partial count +
distinct-user via a two-level agg (user-level dedup first, so the
wide agg never holds a distinct-set per trigram — the classic
count-distinct rewrite). The trigram space is |event-type|³ —
vocabulary-sized, never corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.timeutil import epoch_us_fn

#: minimum total occurrences for a reported trigram
MIN_SEQ_SUPPORT = 10


def q_event_sequences(
    events: DataFrame, min_support: int = MIN_SEQ_SUPPORT
) -> DataFrame:
    """Declared query: frequent contiguous event-type
    trigrams (see the module docstring)."""
    eus = epoch_us_fn(events)
    w = Window.partitionBy("user_id").orderBy(
        F.col("t_us").asc(), F.col("event_id").asc()
    )
    tri = (
        events.select(
            "user_id",
            "event_id",
            F.col("event_type").alias("e1"),
            eus("ts").alias("t_us"),
        )
        .withColumn("e2", F.lead("e1", 1).over(w))
        .withColumn("e3", F.lead("e1", 2).over(w))
        .filter(F.col("e3").isNotNull())
    )
    # two-level aggregation: per-(user, trigram) occurrence counts
    # first (map-side combinable, dedups the user dimension), then
    # the vocabulary-sized rollup — n_users is a plain COUNT at the
    # second level, never a distinct-set held per trigram
    per_user = tri.groupBy("user_id", "e1", "e2", "e3").agg(
        F.count("*").cast("bigint").alias("n")
    )
    return (
        per_user.groupBy("e1", "e2", "e3")
        .agg(
            F.sum("n").cast("bigint").alias("n_occ"),
            F.count("*").cast("bigint").alias("n_users"),
        )
        .filter(F.col("n_occ") >= min_support)
    )


#: the DuckDB twin — support
#: interpolated from MIN_SEQ_SUPPORT
EVENT_SEQUENCES_ORACLE = f"""
    WITH base AS (
      SELECT user_id, event_id, event_type AS e1, epoch_us(ts) AS t_us
      FROM events
    ), tri AS (
      SELECT user_id, e1,
             lead(e1, 1) OVER w AS e2,
             lead(e1, 2) OVER w AS e3
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)
    ), per_user AS (
      SELECT user_id, e1, e2, e3, CAST(count(*) AS BIGINT) AS n
      FROM tri WHERE e3 IS NOT NULL
      GROUP BY user_id, e1, e2, e3
    )
    SELECT e1, e2, e3,
           CAST(sum(n) AS BIGINT) AS n_occ,
           CAST(count(*) AS BIGINT) AS n_users
    FROM per_user GROUP BY e1, e2, e3
    HAVING sum(n) >= {MIN_SEQ_SUPPORT}
"""
