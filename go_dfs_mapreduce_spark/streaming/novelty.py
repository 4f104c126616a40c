"""Custom stateful streaming operator on ``applyInPandasWithState``
(Spark's arbitrary-state API; the package's one stateful API).

The demo operator is a per-user FIRST-OCCURRENCE detector: emit an event
only the first time its (user_id, event_type) combination is ever seen —
the streaming-dedup shape a training-data pipeline uses to build "new
behavior" feeds. Seen types live in one ``array<string>`` GroupState row
per user; output is append-only (a first occurrence is never revised),
so a recorded type never leaves the state.

Batch-checkability (same strategy as the window surface): after
processing ALL input, the emitted rows must equal the batch twin
``first_occurrences_batch`` — the min-ts row per (user_id, event_type) —
which tests/test_streaming_novelty.py asserts through the real streaming
engine. Within a micro-batch, ties on ts break by event_id, matching the
twin's deterministic argmin.

Out-of-order policy (round-11 audit, with the rate limiter's fix): the
seen-set is ORDER-INSENSITIVE — a type is new exactly once no matter
how arrival interleaves — so cross-micro-batch reorder has no numeric
pathology (nothing drains or mints; contrast ``ratelimit.py``). The
only effect is attribution: first = first-by-ARRIVAL (event-time-sorted
within each batch), so a late-arriving earlier-ts event loses to the
already-emitted row; equality with the batch twin's min-ts argmin holds
on event-time-nondecreasing feeds, which the drain tests use.

Scale: state is one small array per user (bounded by the event-type
vocabulary, NOT the stream length), partitioned by user_id in the state
store; at 100 TB the state store shuffles once on user_id and each array
stays a few strings. ``GroupStateTimeout.NoTimeout`` because first-ever
semantics never expire.

Why only this API: Spark 4's typed-state successor (the
``transformWithState`` family) talks to its state server in protobuf, so
it needs ``google.protobuf`` on every worker; ``applyInPandasWithState``
has no such dependency and runs the real streaming engine anywhere.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OUTPUT_SCHEMA = (
    "user_id long, event_type string, first_event_id long, first_ts timestamp"
)


def _fold_first(seen: set, chunks: list[pd.DataFrame], user_id: int):
    """Advance one key's seen-type set over its micro-batch slice
    (concat before the (ts, event_id) sort — the shared
    batching-invariance guard; a key's micro-batch arrives as MULTIPLE
    Arrow chunks when it exceeds maxRecordsPerBatch, and a later-ts row
    in an earlier chunk would otherwise win and break equality with the
    batch twin). Column extraction is vectorized once (the
    ratelimit/sequences pattern — no iterrows, no per-row Series
    construction); only the inherently sequential membership fold runs
    per event. Adds the new types to ``seen`` and returns the verdict
    rows."""
    out = []
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        ets = [str(t) for t in pdf["event_type"]]
        eids = pdf["event_id"].astype("int64").tolist()
        tss = list(pdf["ts"])
        uid = int(user_id)
        for et, eid, ts in zip(ets, eids, tss):
            if et in seen:
                continue
            seen.add(et)
            out.append((uid, et, eid, ts))
    return out


def _first_occurrences_v1_fn(key, pdf_iter, state):
    """applyInPandasWithState kernel: the seen-type set is ONE GroupState
    row (array<string>), rewritten sorted after each fold."""
    (user_id,) = key
    seen = set((state.get)[0]) if state.exists else set()
    out = _fold_first(seen, list(pdf_iter), user_id)
    state.update((sorted(seen),))
    if out:
        yield pd.DataFrame(
            out, columns=["user_id", "event_type", "first_event_id", "first_ts"]
        )


def first_occurrences_stream_v1(events: DataFrame) -> DataFrame:
    """events (streaming) -> append-only first-occurrence rows. State per
    user is one array<string> of seen types (bounded by the event-type
    vocabulary)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        _first_occurrences_v1_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType="seen array<string>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def first_occurrences_batch(events: DataFrame) -> DataFrame:
    """Batch twin: the deterministic argmin-(ts, event_id) row per
    (user_id, event_type)."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("first_event_id"),
            F.col("ts").alias("first_ts"),
        )
    )
