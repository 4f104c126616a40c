"""Stateful streaming k-gram emitter: the sequential-pattern primitive
(``operators.mining.frequent_event_sequences``) as per-user streaming
state — each completed contiguous ``SEQ_K``-step event-type sequence is
emitted the moment its final event arrives, giving the live feed a
pattern-count dashboard aggregates downstream.

Semantics: per user, keep the last ``SEQ_K - 1`` event types; on each
event (in (ts, event_id) order — the unique total order every kernel in
this package sorts by) emit (user_id, ts, event_id, seq) once the
window is full. Emission is append-only BY CONSTRUCTION: a k-gram's
identity depends only on the SAME user's strictly-earlier events, so it
is prefix-stable and never revised — the funnel/z-score/CUSUM argument.

Out-of-order policy (round-11 audit, with the rate limiter's fix): the
trailing-type window folds in ARRIVAL order (event-time-sorted within
each micro-batch) and carries no time-delta term reorder could corrupt
(contrast ``ratelimit.py``). A cross-batch late event contributes
k-grams at its arrival position — adjacency means arrival-adjacency
there; batch-twin equality holds on event-time-nondecreasing feeds,
which the drain tests use.

State: exactly ``SEQ_K - 1`` strings per user (two, for trigrams) —
bounded regardless of stream length, no floats anywhere, and useful for
the key's whole lifetime (no dead state to TTL; the z-score module's
eviction-policy note applies).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from ..operators.mining import SEQ_K

OUTPUT_SCHEMA = "user_id long, ts timestamp, event_id long, seq string"
STATE_SCHEMA = "p1 string, p2 string"  # SEQ_K - 1 most recent types


def _fold_seq(p1, p2, chunks: list[pd.DataFrame], user_id: int):
    """Advance one key's trailing-type window over its micro-batch slice
    (concat before the (ts, event_id) sort — the shared
    batching-invariance guard) and collect completed k-gram rows.

    Vectorized (as of r11, EVERY kernel in this package extracts
    columns once — the numeric ones keep only their inherently
    sequential per-event recursion): the k-gram at each row is a pure
    slice of the state-prefixed type sequence, so the whole batch folds
    as one list comprehension instead of an iterrows loop
    (measured ~20% on the gate drain — the micro-batch/state-commit
    overhead dominates there, but the fold itself scales to large
    per-key batches where iterrows would not), and the per-row
    semantics are pinned identical by the v1/batch-truth test."""
    assert SEQ_K == 3, "state layout is sized for trigrams"
    out = None
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True)
        # Drop NULL event_type rows BEFORE folding — the shared rule of
        # all three sequence paths (batch plan, oracle CTE, this fold).
        # A naive str() would otherwise emit the literal 'None' where
        # the batch twin skips and the oracle NULLs.
        pdf = pdf[pdf["event_type"].notna()].sort_values(["ts", "event_id"])
        ets = [str(t) for t in pdf["event_type"]]
        pre = [p for p in (p1, p2) if p is not None]
        ext = pre + ets
        k = len(pre)
        if ets:
            start = max(0, 2 - k)  # first in-batch row with a full window
            if start < len(ets):
                seqs = [
                    f"{ext[j + k - 2]}>{ext[j + k - 1]}>{ext[j + k]}"
                    for j in range(start, len(ets))
                ]
                sub = pdf.iloc[start:]
                out = pd.DataFrame(
                    {
                        "user_id": int(user_id),
                        "ts": sub["ts"].to_numpy(),
                        "event_id": sub["event_id"].astype("int64").to_numpy(),
                        "seq": seqs,
                    }
                )
            if len(ext) >= 2:
                p1, p2 = ext[-2], ext[-1]
            else:
                p1, p2 = None, ext[-1]
    return p1, p2, out


def _seq_v1_fn(key, pdf_iter, state):
    """applyInPandasWithState kernel; state = two strings."""
    (user_id,) = key
    (p1, p2) = state.get if state.exists else (None, None)
    p1, p2, out = _fold_seq(p1, p2, list(pdf_iter), user_id)
    state.update((p1, p2))
    if out is not None:
        yield out


def event_sequences_stream_v1(events: DataFrame) -> DataFrame:
    """events (streaming) -> append-only completed-k-gram rows (v1 API)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        _seq_v1_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
