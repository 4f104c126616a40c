"""First-occurrence stateful streaming operator, checked two ways:

1. batch twin sanity (min-ts row per (user_id, event_type));
2. the ``applyInPandasWithState`` engine path: real streaming queries,
   single-batch and 3-micro-batch splits, must equal the batch twin, and
   the kernel itself, driven with a scripted GroupState, never re-emits a
   type across micro-batches.
"""

from __future__ import annotations

import os

import pandas as pd

from go_dfs_mapreduce_spark.streaming import (
    first_occurrences_batch,
    first_occurrences_stream_v1,
    read_events_stream,
)
from go_dfs_mapreduce_spark.tables import table


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _run(stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def _time_thirds(ev):
    """The events frame split into 3 contiguous (ts, event_id) ranges —
    the in-order arrival model: first-arrival-per-key then equals the
    batch twin's global min-(ts, event_id). (An out-of-order split would
    make streaming first-occurrence legitimately differ from the twin;
    late-data handling is a watermark concern, not this operator's.)"""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    ranked = ev.withColumn(
        "_third",
        F.ntile(3).over(Window.orderBy("ts", "event_id")),
    )
    return [
        ranked.where(F.col("_third") == i + 1).drop("_third") for i in range(3)
    ]


def _three_way_split_source(spark, ev, tmp_path):
    """Write events as 3 time-ordered arrival files and return a
    maxFilesPerTrigger=1 stream over them — one split per micro-batch."""
    import time

    src = tmp_path / "src"
    src.mkdir()
    now = time.time()
    thirds = _time_thirds(ev)
    for i in range(3):
        part = thirds[i]
        pdir = tmp_path / f"b{i}"
        part.coalesce(1).write.parquet(str(pdir))
        files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
        assert len(files) == 1
        dst = src / f"{i}_{files[0]}"
        os.rename(pdir / files[0], dst)
        os.utime(dst, (now + 100 * i, now + 100 * i))
    return (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )


def test_batch_twin_is_first_arrival_per_user_type(spark, sf_dir):
    """Batch twin sanity: one row per (user_id, event_type), and each
    row's ts is the true minimum for that pair."""
    from pyspark.sql import functions as F

    ev = table(spark, sf_dir, "events")
    got = first_occurrences_batch(ev)
    assert got.count() == ev.select("user_id", "event_type").distinct().count()
    mins = ev.groupBy("user_id", "event_type").agg(F.min("ts").alias("mn"))
    joined = got.join(mins, ["user_id", "event_type"])
    assert joined.where("first_ts != mn").count() == 0


def test_v1_engine_first_occurrences_match_batch_single_batch(
    spark, sf_dir, tmp_path
):
    """applyInPandasWithState path through the REAL streaming engine."""
    d = tmp_path / "ev"
    d.mkdir()
    os.symlink(f"{sf_dir}/events.parquet", d / "events.parquet")
    got = _run(
        first_occurrences_stream_v1(
            read_events_stream(spark, str(d), watermark=None)
        ),
        "t_novel_v1_single",
    )
    want = first_occurrences_batch(table(spark, sf_dir, "events"))
    assert _rows(got) == _rows(want)
    assert want.count() > 0


def test_v1_engine_batching_invariant(spark, sf_dir, tmp_path):
    """3 micro-batches: emitted rows must equal the single-batch run —
    GroupState survives across batches and never re-emits a seen type."""
    ev = table(spark, sf_dir, "events")
    stream = _three_way_split_source(spark, ev, tmp_path)
    got = _run(first_occurrences_stream_v1(stream), "t_novel_v1_split")
    assert _rows(got) == _rows(first_occurrences_batch(ev))


def test_v2_processor_never_reemits_across_batches():
    """GroupState semantics pinned without Spark: a type emitted in batch
    1 must not re-emit in later batches even from a different chunk
    order; a NEW type for the same user still emits. Driven through the
    v1 kernel with a scripted state object, each batch's rows delivered
    as one-row chunks in reverse order (the engine re-chunks at
    maxRecordsPerBatch; the kernel must concat before its sort)."""
    from go_dfs_mapreduce_spark.streaming.novelty import (
        _first_occurrences_v1_fn,
    )

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)
            self.exists = True

    t0 = pd.Timestamp("2026-01-01")

    def _b(rows):
        return pd.DataFrame(
            rows, columns=["event_id", "user_id", "event_type", "ts"]
        )

    batches = [
        _b([(2, 7, "click", t0 + pd.Timedelta(seconds=2)),
            (1, 7, "click", t0 + pd.Timedelta(seconds=1))]),
        _b([(3, 7, "click", t0 + pd.Timedelta(seconds=3)),
            (4, 7, "view", t0 + pd.Timedelta(seconds=4))]),
    ]
    st = FakeState()
    got = []
    for grp in batches:
        chunks = [grp.iloc[[i]] for i in range(len(grp) - 1, -1, -1)]
        for out in _first_occurrences_v1_fn((7,), iter(chunks), st):
            got.extend(
                (int(r.user_id), r.event_type, int(r.first_event_id))
                for r in out.itertuples()
            )
    # click surfaces once with the min-(ts, event_id) row of batch 1;
    # batch 2's click is suppressed by persisted state; view is new
    assert got == [(7, "click", 1), (7, "view", 4)]
    assert st.get == (["click", "view"],)
