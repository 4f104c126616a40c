"""Stateful streaming CUSUM: Page's changepoint statistic
(``operators.timeseries.events_cusum_alarms``) as per-user streaming
state — the alerting feed for sustained level shifts, complementing the
z-score detector's per-point outliers (``anomaly.py``).

Semantics: per user, run the textbook sequential recursion
S_i = max(0, S_{i-1} + (x_i - k)) over events in time order and emit an
alarm row at each upward crossing of threshold h. The batch operator
computes the IDENTICAL statistic through the prefix-min identity
(S_i = P_i - min(0, min P_j)); the two formulations are equal by
induction, and the batch differential test pins it — so the streaming
twin shares the batch oracle directly.

Emission is append-only BY CONSTRUCTION: an event's alarm verdict
depends only on its user's strictly-earlier events (prefix-stable,
never revised) — the same argument as the funnel's and the z-score's.

Numeric story: there is NO float path at all. Values quantize to exact
integer micro-units and every kernel step (add, max, compare) is 64-bit
integer arithmetic, so Python / JVM / DuckDB agreement is unconditional
— strictly simpler than the z-score twin, which still had one IEEE tail
to keep JVM-side.

Out-of-order policy (round-11 audit, with the rate limiter's fix): the
recursion has NO elapsed-time term — it folds VALUES, not timestamp
deltas — so a late event cannot drain or mint anything (contrast
``ratelimit.py``'s negative-dt exposure). Cross-micro-batch reorder
just folds the late value at its arrival position; equality with the
prefix-min batch identity holds on event-time-nondecreasing feeds,
which the drain tests use.

State: ONE long (the running statistic) per user — smaller than the
funnel's 3 longs — and useful for the key's whole lifetime (no dead
state to TTL; the z-score module's eviction-policy note applies).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from ..operators.timeseries import CUSUM_ALARM_MICRO, CUSUM_TARGET_MICRO
from .stateful import round_half_up_micro

OUTPUT_SCHEMA = "user_id long, ts timestamp, event_id long, cusum_micro long"
STATE_SCHEMA = "s long"


def _fold_cusum(s: int, chunks: list[pd.DataFrame], user_id: int):
    """Advance one key's CUSUM statistic over its micro-batch slice
    (concat before the (ts, event_id) sort — the shared
    batching-invariance guard) and collect alarm-crossing rows. Pure
    integer arithmetic throughout."""
    out = []
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        # vectorize the column extraction once (the ratelimit/sequences
        # pattern — no iterrows, no per-row Series construction); only
        # the inherently sequential CUSUM recursion runs per event
        tss = list(pdf["ts"])
        vals = pdf["value"].to_numpy("float64").tolist()
        eids = pdf["event_id"].astype("int64").tolist()
        uid = int(user_id)
        for ts, v, eid in zip(tss, vals, eids):
            # ROUND(value * 1e6): exact half-away-from-zero twin of the
            # engines' rounding (stateful.round_half_up_micro — no lossy
            # +0.5 addition)
            vm = round_half_up_micro(v)
            prev = s
            s = max(0, s + vm - CUSUM_TARGET_MICRO)
            if prev <= CUSUM_ALARM_MICRO < s:
                out.append((uid, ts, eid, s))
    return s, out


def _cusum_v1_fn(key, pdf_iter, state):
    """applyInPandasWithState kernel; state = one long."""
    (user_id,) = key
    (s,) = state.get if state.exists else (0,)
    s, out = _fold_cusum(int(s), list(pdf_iter), user_id)
    state.update((s,))
    if out:
        yield pd.DataFrame(
            out, columns=["user_id", "ts", "event_id", "cusum_micro"]
        )


def cusum_stream_v1(events: DataFrame) -> DataFrame:
    """events (streaming) -> append-only CUSUM alarm rows (v1 API)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        _cusum_v1_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
