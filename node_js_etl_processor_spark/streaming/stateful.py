"""Custom stateful streaming operator via applyInPandasWithState.

The built-in windowed/session aggregations (streaming/sessions.py)
cover time-bucketed state; this module is the escape hatch for
arbitrary per-key state machines the declarative API can't express —
here, a per-user running profile (lifetime event count, value total,
last-seen timestamp) maintained across micro-batches.

Scale design: state lives in the executor state store partitioned by
the grouping key (one shuffle per micro-batch, keyed like any
aggregation); the user function sees Arrow-batched pandas frames, so
per-key processing is vectorized, not row-at-a-time. State size is
O(distinct keys) — bounded by construction here (fixed-width struct);
unbounded-state operators must pair with a timeout
(GroupStateTimeout.ProcessingTimeTimeout) to evict idle keys.

The reference has no streaming at all (its "schedule" is a daily cron
batch rerun, reference server.js:264-269); this is a north-star
extension.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

RUNNING_PROFILE_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("lifetime_events", LongType(), False),
        StructField("lifetime_value", DoubleType(), False),
        StructField("last_seen_us", LongType(), False),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType(), False),
        StructField("total", DoubleType(), False),
        StructField("last_us", LongType(), False),
    ]
)


def _update_profile(key, pdf_iter: Iterator, state: GroupState) -> Iterator:
    """Merge this micro-batch's rows for one user into running state and
    emit the updated profile (one row per user per batch)."""
    import pandas as pd

    (user_id,) = key
    n, total, last_us = state.get if state.exists else (0, 0.0, 0)
    for pdf in pdf_iter:
        n += len(pdf)
        total += float(pdf["value"].sum())
        last_us = max(last_us, int(pdf["ts_us"].max()))
    state.update((n, total, last_us))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "lifetime_events": [n],
            "lifetime_value": [round(total, 2)],
            "last_seen_us": [last_us],
        }
    )


def running_user_profiles(events_stream: DataFrame) -> DataFrame:
    """Per-user lifetime profile over a stream of events — custom
    stateful operator (applyInPandasWithState).

    Input must be a STREAMING DataFrame with columns
    (user_id long, ts timestamp, value double); emits one updated
    profile row per active user per micro-batch. Operator output mode
    is ``append`` (each emitted row is final for its batch) so the
    query composes with append-only sinks (parquet/Kafka) AND survives
    checkpoint recovery — the downstream consumer takes the max
    lifetime_events per user for the current snapshot.
    """
    from ..functions.timeutil import epoch_us_fn

    prepared = events_stream.select(
        "user_id", epoch_us_fn(events_stream)("ts").alias("ts_us"), "value"
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _update_profile,
        outputStructType=RUNNING_PROFILE_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CUSUM_ALARM_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("ts_us", LongType(), False),
        StructField("event_id", LongType(), False),
        StructField("x_cents", LongType(), False),
        StructField("s_cents", LongType(), False),
    ]
)

#: (s, last_us, last_eid): the running statistic PLUS the last-seen
#: (ts_us, event_id) marker — the stream==batch
#: equivalence rests on events arriving in per-user time order
#: ACROSS micro-batches (within-batch order is sorted explicitly),
#: and a silent violation would corrupt the statistic, so the
#: contract is tracked in state and enforced loudly. State schema v2:
#: resuming a checkpoint written by the v1 one-field schema
#: fails Spark's state-store schema-compatibility check at startup —
#: start a fresh checkpointLocation (the alarms already emitted are
#: in the sink; the statistic rebuilds from the feed).
_CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("s", LongType(), False),
        StructField("last_us", LongType(), False),
        StructField("last_eid", LongType(), False),
    ]
)

#: never-seen marker: pre-1970 timestamps pass the stream's filters,
#: so 0 is a VALID event coordinate — the sentinel must be outside
#: the domain (LONG_MIN) for the order guard to stay exact even for
#: state rows first created by an empty (timeout-only) invocation.
_NEVER_SEEN = -(2**63)


def _make_cusum_update(k_cents: int, h_cents: int):
    """Closure factory: applyInPandasWithState takes a bare function,
    so the thresholds ride a closure (the sketch_merge_applier
    parameterization pattern)."""

    def _update(key, pdf_iter: Iterator, state: GroupState) -> Iterator:
        import pandas as pd

        (user_id,) = key
        if state.exists:
            s, last_us, last_eid = state.get
        else:
            s, last_us, last_eid = 0, _NEVER_SEEN, _NEVER_SEEN
        out = {"ts_us": [], "event_id": [], "x_cents": [], "s_cents": []}
        frames = [pdf for pdf in pdf_iter]
        if not frames:  # timeout-only invocation (none under
            # NoTimeout, but the contract allows it): nothing to fold
            state.update((s, last_us, last_eid))
            yield pd.DataFrame(
                {k: [] for k in
                 ("user_id", "ts_us", "event_id", "x_cents", "s_cents")}
            ).astype("int64")
            return
        pdf = pd.concat(frames) if len(frames) > 1 else frames[0]
        # per-user time order WITHIN the batch; ACROSS batches the
        # feed contract (events arrive in per-user time order, the
        # ingest-day discipline) makes the fold order total
        pdf = pdf.sort_values(["ts_us", "event_id"])
        # enforce the cross-batch half of that contract:
        # a batch whose earliest event sorts at or before the carried
        # last-seen marker would fold out of order and silently
        # corrupt S — fail loudly instead. The LONG_MIN sentinel (not
        # 0 — a valid coordinate) keeps the guard exact for state rows
        # first written by an empty invocation.
        if last_us != _NEVER_SEEN and len(pdf):
            first_us = int(pdf["ts_us"].iloc[0])
            first_eid = int(pdf["event_id"].iloc[0])
            if (first_us, first_eid) <= (last_us, last_eid):
                raise ValueError(
                    "cusum_alarm_stream: out-of-order delivery for "
                    f"user {user_id}: batch event (ts_us={first_us}, "
                    f"event_id={first_eid}) is not after the carried "
                    f"last-seen marker (ts_us={last_us}, "
                    f"event_id={last_eid}) — the per-user time-ordered "
                    "feed contract is violated and the running "
                    "statistic would be wrong"
                )
        for ts_us, event_id, x in zip(
            pdf["ts_us"].astype("int64"),
            pdf["event_id"].astype("int64"),
            pdf["x_cents"].astype("int64"),
        ):
            s = max(0, s + (int(x) - k_cents))
            if s > h_cents:
                out["ts_us"].append(int(ts_us))
                out["event_id"].append(int(event_id))
                out["x_cents"].append(int(x))
                out["s_cents"].append(s)
            last_us, last_eid = int(ts_us), int(event_id)
        state.update((s, last_us, last_eid))
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out["event_id"]),
                **out,
            }
        )

    return _update


def cusum_alarm_stream(events_stream: DataFrame, k_cents=None, h_cents=None) -> DataFrame:
    """Per-user CUSUM change-point ALARMS over a live event stream —
    the online twin of ``operators.cusum.q_cusum_alarms`` (Page 1954;
    the operator docstring has the semantics): per-user state is the
    single running statistic S (one BIGINT — O(distinct users) state
    by construction), each micro-batch folds its rows in (ts,
    event_id) order from the carried S, and only threshold crossings
    are emitted. Stream == batch is test-pinned under the per-user
    time-ordered feed contract (each user's events arrive in time
    order across batches — the same contract every ingest lane
    documents; within a batch the fold sorts explicitly). The
    cross-batch half is ENFORCED, not assumed: state
    carries the last-seen (ts_us, event_id) marker per user, and a
    batch delivering an event at or before that marker raises
    instead of silently folding the statistic wrong. Checkpoint
    recovery replays from the rolled-back state version, so
    legitimate re-delivery never trips the guard.

    UPGRADE NOTE (state schema v1 → v2): adding the last-seen
    marker grew the per-user state from one field to three, and
    Spark's state-store schema-compatibility check makes a v1
    checkpoint UNRESUMABLE — startup fails loudly at query start.
    There is no in-place migration: point the restarted query at a
    FRESH ``checkpointLocation`` (alarms already emitted are safe in
    the sink; the running statistic rebuilds from the feed, which
    replays in the same per-user time order the contract guarantees).

    Thresholds default to the batch operator's module constants so
    the two paths can never drift."""
    from ..functions.timeutil import epoch_us_fn
    from ..operators.cusum import H_CENTS, K_CENTS
    from pyspark.sql import functions as F

    k = K_CENTS if k_cents is None else k_cents
    h = H_CENTS if h_cents is None else h_cents
    prepared = events_stream.filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    ).select(
        "user_id",
        epoch_us_fn(events_stream)("ts").alias("ts_us"),
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("x_cents"),
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _make_cusum_update(k, h),
        outputStructType=CUSUM_ALARM_SCHEMA,
        stateStructType=_CUSUM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
