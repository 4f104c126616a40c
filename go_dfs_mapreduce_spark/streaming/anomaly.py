"""Stateful streaming anomaly detector: the rolling z-score of
``operators.timeseries.events_user_zscore_anomalies`` run as per-user
streaming state — the alerting feed a production pipeline tails instead
of recomputing the batch table.

Semantics: per user, keep the last ``ZS_WINDOW`` quantized values (the
batch operator's trailing ROWS frame made literal: a ring buffer of
exact integer micro-units), and the moment an event arrives with enough
history (``ZS_MIN_HIST``) and a positive-variance baseline, emit the
event with its baseline's exact integer aggregates (n, sum, sum-of-
squares). Emission is append-only BY CONSTRUCTION: an event's verdict
depends only on the SAME user's strictly-earlier events, so it is
prefix-stable and never revised — the same argument as the funnel's.

Numeric split (why the kernel emits n/vm/s/ss instead of z): every
arithmetic step inside the kernel is EXACT INTEGER (quantize, ring
append, sums), while the IEEE tail — one subtract chain, one sqrt, one
divide, one round — is applied AFTER the memory sink by the same Spark
column expression the batch operator uses. The Python worker therefore
cannot introduce a float that disagrees with the JVM/DuckDB pair the
batch gate already proves identical. The one double test the kernel
does perform (positive-variance guard) textually mirrors the SQL's
``n * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s > 0`` so the emitted
row set is decided by the identical correctly-rounded IEEE ops.

Out-of-order policy (round-11 audit, with the rate limiter's fix): the
kernel has NO elapsed-time term — the ring buffer appends quantized
VALUES, never timestamp deltas — so cross-micro-batch reorder cannot
drain or mint anything (contrast ``ratelimit.py``). A late event simply
scores against the baseline as of its ARRIVAL; equality with the batch
trailing-ROWS frame holds on event-time-nondecreasing feeds, which the
drain tests use.

State size: exactly one array of at most ``ZS_WINDOW`` longs per user —
bounded regardless of stream length, and USEFUL for the key's whole
lifetime (every future event of the user consumes it), so unlike the
funnel's frozen converted keys there is no dead state to TTL; idle-key
eviction at 1e9-user scale is an ops policy (processing-time timer on
last-seen), deliberately not wired here because evicting a live
baseline silently un-scores the user's next event.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from ..operators.timeseries import ZS_MIN_HIST, ZS_WINDOW
from .stateful import round_half_up_micro

OUTPUT_SCHEMA = (
    "event_id long, user_id long, ts timestamp, value double, "
    "n long, vm long, s long, ss long"
)
STATE_SCHEMA = "hist array<long>"


def _fold_zscore(hist: list[int], chunks: list[pd.DataFrame]):
    """Advance one key's ring buffer over its micro-batch slice (concat
    before the (ts, event_id) sort — the batching-invariance guard all
    kernels share) and collect the scored rows. Pure integer state; the
    only float op is the variance-positivity guard, mirroring the SQL
    double expression step for step."""
    out = []
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        # vectorize the column extraction once (the ratelimit/sequences
        # pattern — no iterrows, no per-row Series construction); only
        # the inherently sequential ring-buffer recursion runs per event
        tss = list(pdf["ts"])
        vals = pdf["value"].to_numpy("float64").tolist()
        eids = pdf["event_id"].astype("int64").tolist()
        for ts, v, eid in zip(tss, vals, eids):
            # ROUND(value * 1e6): exact half-away-from-zero twin of the
            # engines' rounding (no lossy +0.5 addition — see
            # stateful.round_half_up_micro)
            vm = round_half_up_micro(v)
            n = len(hist)
            if n >= ZS_MIN_HIST:
                s = sum(hist)
                ss = sum(h * h for h in hist)
                # the SQL guard, in its exact IEEE op order:
                # n * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s > 0
                if n * float(ss) - float(s) * float(s) > 0:
                    out.append((eid, ts, v, n, vm, s, ss))
            hist.append(vm)
            if len(hist) > ZS_WINDOW:
                del hist[: len(hist) - ZS_WINDOW]
    return hist, out


def _zscore_v1_fn(key, pdf_iter, state):
    """applyInPandasWithState kernel; state = one array<long> ring."""
    (user_id,) = key
    (hist,) = state.get if state.exists else ([],)
    hist = list(hist)
    hist, out = _fold_zscore(hist, list(pdf_iter))
    state.update((hist,))
    if out:
        yield pd.DataFrame(
            [
                (eid, int(user_id), ts, val, n, vm, s, ss)
                for eid, ts, val, n, vm, s, ss in out
            ],
            columns=[
                "event_id", "user_id", "ts", "value", "n", "vm", "s", "ss"
            ],
        )


def zscore_stream_v1(events: DataFrame) -> DataFrame:
    """events (streaming) -> append-only scored anomaly-candidate rows
    (v1 API). Emits exact integer aggregates; callers apply the shared
    IEEE z tail (``operators.streaming_batch`` does) JVM-side."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        _zscore_v1_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
