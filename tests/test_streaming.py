"""Streaming mechanics tests: the same aggregations the driver gate checks
in batch must produce identical rows through the Structured Streaming
engine, and watermarks must actually drop late data in append mode."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from go_dfs_mapreduce_spark.streaming import (
    read_events_stream,
    run_available_now,
    session_agg,
    tumbling_agg,
)
from go_dfs_mapreduce_spark.tables import table


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def events_stream_dir(sf_dir, tmp_path_factory):
    """The file stream source needs a DIRECTORY; stage the single-file
    events table into one."""
    d = tmp_path_factory.mktemp("events_src")
    os.symlink(f"{sf_dir}/events.parquet", d / "events.parquet")
    return str(d)


def test_streaming_tumbling_matches_batch(spark, sf_dir, events_stream_dir):
    stream = read_events_stream(spark, events_stream_dir, watermark=None)
    got = run_available_now(tumbling_agg(stream), "t_tumble", "complete")
    want = tumbling_agg(table(spark, sf_dir, "events"))
    assert _rows(got) == _rows(want)


def test_streaming_session_matches_batch(spark, sf_dir, events_stream_dir):
    stream = read_events_stream(spark, events_stream_dir, watermark="1 hour")
    got = run_available_now(session_agg(stream), "t_sess", "complete")
    want = session_agg(table(spark, sf_dir, "events"))
    assert _rows(got) == _rows(want)


def test_watermark_drops_late_data(spark, tmp_path):
    """Micro-batches via maxFilesPerTrigger=1: an event arriving two
    batches after the watermark passed its window must be dropped
    (numRowsDroppedByWatermark) and must not resurrect the already-emitted
    window in append-mode output.

    NB: a window's final emission happens at the END of the batch whose
    *start-of-batch* watermark passed its end — a late row arriving in
    that same batch still merges. Hence the late row here arrives one
    batch later than that."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def write_batch(name, rows):
        df = spark.createDataFrame(
            [(i, ts, 1, "click", 1.0, "{}") for i, ts in rows],
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        ).withColumn("ts", F.expr("CAST(unix_micros(ts) * 1000 AS LONG)"))
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        return str(tmp_path / name)

    batches = [
        write_batch("b1", [(1, base), (2, base + dt.timedelta(hours=2))]),
        write_batch("b2", [(4, base + dt.timedelta(hours=3))]),
        # event 3 is ~3h late vs the 10-minute watermark delay
        write_batch("b3", [(3, base + dt.timedelta(minutes=1)),
                           (5, base + dt.timedelta(hours=4))]),
    ]
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    now = dt.datetime.now().timestamp()
    for i, d in enumerate(batches):
        for f in glob.glob(d + "/*.parquet"):
            dst = f"{src}/{i}_{os.path.basename(f)}"
            shutil.copy(f, dst)
            # the file source orders batches by modification time — make
            # batch order explicit
            os.utime(dst, (now + 100 * i, now + 100 * i))

    stream = (
        spark.readStream.schema(
            "event_id long, ts long, user_id long, event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        .withWatermark("ts", "10 minutes")
    )
    agg = tumbling_agg(stream, "5 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
         if p["stateOperators"] else 0)
        for p in q.recentProgress
    )
    assert dropped == 1  # the late event-3 row

    emitted = {r.w_start: r.n_events for r in spark.table("t_late").collect()}
    assert emitted[base] == 1  # event 1 only; late event 3 never merged


def test_streaming_throttle_dedup_matches_batch(spark, sf_dir, events_stream_dir):
    from go_dfs_mapreduce_spark.streaming import throttle_dedup

    stream = read_events_stream(spark, events_stream_dir, watermark="10 minutes")
    got = run_available_now(throttle_dedup(stream), "t_throttle", "append")
    want = throttle_dedup(table(spark, sf_dir, "events"))
    assert _rows(got) == _rows(want)


def test_stream_foreachbatch_sinks_into_partitioned_warehouse(
    spark, sf_dir, events_stream_dir, tmp_path
):
    """Incremental-ingest story end-to-end: a stream lands in a
    hive-partitioned warehouse table via foreachBatch + dynamic partition
    overwrite — each micro-batch replaces exactly the partitions it
    carries, so reprocessing a batch is idempotent (the at-scale reload
    contract)."""
    from pyspark.sql import functions as F

    from go_dfs_mapreduce_spark.sources import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    events = table(spark, sf_dir, "events")
    # seed the table layout (empty slice, same schema+partitioning)
    wh.store_df(
        events.select("event_id", "user_id", "event_type").limit(0),
        "events_live",
        partition_by=["event_type"],
    )

    stream = read_events_stream(spark, events_stream_dir, watermark=None).select(
        "event_id", "user_id", "event_type"
    )

    def sink(batch_df, batch_id):
        wh.overwrite_partitions(batch_df, "events_live")

    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)

    got = wh.read("events_live")
    want = events.select("event_id", "user_id", "event_type")
    assert got.count() == want.count() > 0
    assert got.select(F.sum("event_id")).collect() == want.select(
        F.sum("event_id")
    ).collect()
    # idempotent reprocess: overwriting the same partitions changes nothing
    wh.overwrite_partitions(want, "events_live")
    assert wh.read("events_live").count() == want.count()


def test_foreachbatch_overwrite_keeps_other_partitions(spark, tmp_path):
    """A foreachBatch frame belongs to the stream's cloned session, so
    the dynamic overwrite mode must travel with the write, not with a
    conf flip on the warehouse's session: each micro-batch replaces only
    the partitions it carries, and the seed's and earlier batches'
    partitions survive."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from go_dfs_mapreduce_spark.sources import Warehouse

    schema = "id INT, p STRING"
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.store_df(spark.createDataFrame([(0, "z")], schema), "t", partition_by=["p"])
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate([[(1, "a"), (2, "b")], [(3, "c")]]):
        path = src / f"batch_{i}.parquet"
        ids, ps = zip(*rows)
        pq.write_table(
            pa.table({"id": pa.array(ids, pa.int32()), "p": list(ps)}), path
        )
        os.utime(path, (1_000_000 + i, 1_000_000 + i))

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
        .writeStream.foreachBatch(lambda df, _: wh.overwrite_partitions(df, "t"))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)

    assert sum(1 for p in q.recentProgress if p["numInputRows"] > 0) == 2
    got = sorted((r.id, r.p) for r in wh.read("t").collect())
    assert got == [(0, "z"), (1, "a"), (2, "b"), (3, "c")]
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "STATIC"


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, events_stream_dir):
    """Stream-stream time-interval join (purchase->click attribution):
    two watermarked file streams joined in append mode must produce
    exactly the batch twin's rows."""
    from go_dfs_mapreduce_spark.streaming import interval_join

    left = read_events_stream(spark, events_stream_dir, watermark="1 hour")
    right = read_events_stream(spark, events_stream_dir, watermark="1 hour")
    got = run_available_now(
        interval_join(left, right, "240 minutes"), "t_ssjoin", "append"
    )
    ev = table(spark, sf_dir, "events")
    want = interval_join(ev, ev, "240 minutes")
    assert _rows(got) == _rows(want)
    assert want.count() > 0


def test_stream_static_enrichment_matches_batch(spark, sf_dir, events_stream_dir):
    """Stream-static join: streaming events enriched against the static
    customer dim must equal the batch twin (broadcast, no join state)."""
    from go_dfs_mapreduce_spark.streaming import enrich_with_dim

    dim = table(spark, sf_dir, "customer")
    stream = read_events_stream(spark, events_stream_dir, watermark=None)
    got = run_available_now(enrich_with_dim(stream, dim), "t_enrich", "append")
    want = enrich_with_dim(table(spark, sf_dir, "events"), dim)
    assert _rows(got) == _rows(want)
    assert want.count() > 0


def test_stream_upsert_merge_is_replay_idempotent(spark, tmp_path):
    """foreachBatch is AT-LEAST-ONCE: a batch re-delivered after its
    state write succeeded (crash between the write and the checkpoint
    commit) must not merge twice — n_events is a summed count, so a
    double merge double-counts. The merge records each generation's
    applied batch_id and skips replays (the chunk sink's high-water-mark
    protocol); this replays batches exactly as a restarted engine
    would."""
    from pyspark.sql import functions as F

    from go_dfs_mapreduce_spark.operators.streaming_batch import (
        _make_upsert_merge,
        _upsert_live_dir,
    )

    state_dirs = [str(tmp_path / d) for d in ("state_a", "state_b")]
    merge = _make_upsert_merge(state_dirs)
    ev = spark.createDataFrame(
        [
            (1, 10, "2024-01-01 00:00:00", 5.0),
            (1, 11, "2024-01-01 00:01:00", 7.0),
            (2, 12, "2024-01-01 00:02:00", 1.0),
        ],
        "user_id long, event_id long, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    batch0 = ev.where("event_id <= 11")
    batch1 = ev.where("event_id = 12")
    merge(batch0, 0)
    merge(batch1, 1)

    def snap():
        live, bid = _upsert_live_dir(state_dirs)
        rows = {
            r.user_id: (r.last_event_id, r.last_value, r.n_events)
            for r in spark.read.parquet(live).collect()
        }
        return bid, rows

    bid, rows = snap()
    assert bid == 1
    assert rows == {1: (11, 7.0, 2), 2: (12, 1.0, 1)}
    # crash-replay: the engine re-delivers the just-committed batch
    merge(batch1, 1)
    assert snap() == (bid, rows)
    # replaying an even older batch is equally inert
    merge(batch0, 0)
    assert snap() == (bid, rows)
    # a genuinely new batch still merges on top
    batch2 = spark.createDataFrame(
        [(2, 13, "2024-01-01 00:03:00", 9.0)],
        "user_id long, event_id long, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    merge(batch2, 2)
    bid2, rows2 = snap()
    assert bid2 == 2
    assert rows2 == {1: (11, 7.0, 2), 2: (13, 9.0, 2)}


def test_stream_upsert_state_is_arrival_order_independent(spark, monkeypatch):
    """The foreachBatch upsert merge is associative, so the materialized
    state table must be IDENTICAL when micro-batches arrive in reverse
    time order — batch boundaries and arrival order cannot leak into the
    result (the property that makes the plain batch window its oracle)."""
    from pyspark.sql import functions as F

    from go_dfs_mapreduce_spark.operators import streaming_batch as sb

    sf_dir = "/root/testdata/sf0.001"
    normal = {
        (r.user_id, r.last_ts, r.last_event_id, r.last_value, r.n_events)
        for r in sb.stream_upsert_latest_state(spark, sf_dir).collect()
    }

    real_split = sb._split_events
    called = []

    def reversed_split(spark_, sf, node, n_files):
        import os
        import time

        called.append(node)
        n = real_split(spark_, sf, node, n_files)
        # flip mtimes so the LAST time-slice lands first
        base = time.time() - 3600
        parts = sorted(os.listdir(node))
        for rank, name in enumerate(reversed(parts)):
            t = base + 2 * rank
            os.utime(os.path.join(node, name), (t, t))
        return n

    monkeypatch.setattr(sb, "_split_events", reversed_split)
    # the normal run above populated the session split memo; drop it so
    # the reversed run actually re-lays the files through the patched
    # splitter instead of replaying the memoized normal-order dir
    # (ADVICE r15: the memo had made this property check vacuous)
    monkeypatch.setattr(sb, "_SPLIT_MEMO", {})
    reversed_rows = {
        (r.user_id, r.last_ts, r.last_event_id, r.last_value, r.n_events)
        for r in sb.stream_upsert_latest_state(spark, sf_dir).collect()
    }
    assert called, "patched splitter was never invoked — memo not bypassed"
    assert reversed_rows == normal

    # and both equal the batch window the oracle expresses
    from pyspark.sql.window import Window

    from go_dfs_mapreduce_spark.tables import table as _table

    ev = _table(spark, sf_dir, "events")
    w_rows = (
        ev.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.desc("ts"), F.desc("event_id")
                )
            ),
        )
        .withColumn(
            "n_events", F.count(F.lit(1)).over(Window.partitionBy("user_id"))
        )
        .where(F.col("rn") == 1)
        .select("user_id", "ts", "event_id", "value", "n_events")
        .collect()
    )
    batch = {
        (r.user_id, r.ts, r.event_id, r.value, r.n_events) for r in w_rows
    }
    assert normal == batch


def test_stream_dedup_incremental_matches_batch(spark):
    """The streaming incremental near-dedup (foreachBatch over a growing
    LSH index, doc_id-range micro-batches) must emit EXACTLY the batch
    incremental operator's rows — the equivalence argument in its
    docstring, executed: every (new_doc, matched_doc) pair surfaces once,
    in new_doc's batch, with the same exact-verified jaccard."""
    from go_dfs_mapreduce_spark.operators import streaming_batch as sb
    from go_dfs_mapreduce_spark.operators.dedup import (
        dedup_incremental_new_docs,
    )

    sf_dir = "/root/testdata/sf0.001"
    streamed = {
        (r.new_doc, r.matched_doc, r.jaccard, r.matched_in)
        for r in sb.stream_dedup_incremental_live(spark, sf_dir).collect()
    }
    batch = {
        (r.new_doc, r.matched_doc, r.jaccard, r.matched_in)
        for r in dedup_incremental_new_docs(spark, sf_dir).collect()
    }
    assert streamed == batch
    assert streamed  # non-vacuous: the fixture corpus has near-dups


def test_stream_dedup_incremental_redelivery_idempotent(spark, monkeypatch):
    """foreachBatch is at-least-once: delivering every batch TWICE (the
    crash-between-write-and-checkpoint replay) must change nothing,
    because each per-batch artifact is an overwrite keyed by batch_id
    whose content derives only from the batch rows and strictly older
    generations. With INC_COMPACT_KEEP=1/STEP=1 the later batches
    COMPACT (fold gen_{bid-2} into a corpus version) before matching, so
    the double delivery here replays ACROSS a compaction boundary — the
    replayed batch must skip the already-materialized fold and still
    write byte-identical artifacts."""
    import os

    from go_dfs_mapreduce_spark.operators import streaming_batch as sb
    from go_dfs_mapreduce_spark.operators.dedup import (
        dedup_incremental_new_docs,
    )

    # the compaction grid is a pure function of batch_id (replay-safe):
    # KEEP=1, STEP=1 -> batch b reads corpus_v{b-2} + gen_{b-1}
    assert [sb._inc_compact_target(b) for b in range(5)] == [-1, -1, 0, 1, 2]

    sf_dir = "/root/testdata/sf0.001"
    real_factory = sb._make_inc_dedup_proc
    corpus_dirs_after: dict[int, list[str]] = {}

    def doubling_factory(spark_, sigs_dir, arrs_dir, out_dir, t):
        proc = real_factory(spark_, sigs_dir, arrs_dir, out_dir, t)

        def deliver_twice(batch_df, batch_id):
            proc(batch_df, batch_id)
            proc(batch_df, batch_id)  # replay (crosses the fold for b>=2)
            corpus_dirs_after[batch_id] = sorted(
                d for d in os.listdir(sigs_dir) if d.startswith("corpus")
            )

        return deliver_twice

    monkeypatch.setattr(sb, "_make_inc_dedup_proc", doubling_factory)
    streamed = {
        (r.new_doc, r.matched_doc, r.jaccard, r.matched_in)
        for r in sb.stream_dedup_incremental_live(spark, sf_dir).collect()
    }
    batch = {
        (r.new_doc, r.matched_doc, r.jaccard, r.matched_in)
        for r in dedup_incremental_new_docs(spark, sf_dir).collect()
    }
    assert streamed == batch
    # the fold actually happened: batch 2 materialized corpus_v0
    last = max(corpus_dirs_after)
    assert last >= 2
    assert f"corpus_v{last - 2}" in corpus_dirs_after[last]


def test_live_twin_returns_sink_frame(spark, sf_dir, monkeypatch):
    """A live twin returns its memory sink's own frame: no rows are
    collected into Python and uploaded again through
    ``createDataFrame``, the frame reads the same rows on every collect
    after its view is dropped, and no temporary view is left behind."""
    from pyspark.sql import SparkSession

    from go_dfs_mapreduce_spark.operators.streaming_batch import (
        stream_tumbling_counts,
        stream_tumbling_counts_live,
    )

    batch = _rows(stream_tumbling_counts(spark, sf_dir))

    def no_upload(self, *args, **kwargs):
        raise AssertionError("live twin re-uploaded its result rows")

    monkeypatch.setattr(SparkSession, "createDataFrame", no_upload)
    live = stream_tumbling_counts_live(spark, sf_dir)
    first = _rows(live)
    assert first and first == _rows(live) == batch
    assert not [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("t_tumbling_live")
    ]


def test_chunk_tail_empty_residue_class(spark, tmp_path):
    """A corpus that leaves one doc_id % 4 residue class empty: the chunk
    writer skips the empty partition and numbers remaining chunks
    contiguously, and the oracle's DENSE_RANK formulation agrees."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from go_dfs_mapreduce_spark.operators import streaming_batch as sb

    ids = [0, 1, 3, 4, 5, 7]  # class 2 mod 4 is empty
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": [f"text {i}" for i in ids],
                "lang": ["en"] * len(ids),
                "source": ["s"] * len(ids),
                "n_chars": pa.array([6] * len(ids), pa.int64()),
            }
        ),
        tmp_path / "documents.parquet",
    )
    rows = sorted(
        (r.chunk_idx, r.line_number, r.line)
        for r in sb.stream_dfs_chunk_tail(spark, str(tmp_path)).collect()
    )
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    expected = sorted(
        (r[1], r[2], r[3])
        for r in con.execute(sb.CHUNK_TAIL_ORACLE).fetchall()
    )
    assert rows == expected
    # classes {0,1,3} dense-rank to chunks 0..2
    assert {c for c, _, _ in rows} == {0, 1, 2}


def test_path_automaton_emits_once_across_batches():
    """The funnel automaton kernel emits exactly one conversion row, in
    the micro-batch where the pattern completes, and never again on
    later batches — driven through the v1 kernel with a scripted state
    object across three invocations (signup+click | purchase | extras)."""
    from datetime import datetime

    import pandas as pd

    from go_dfs_mapreduce_spark.streaming.funnel import _path_v1_fn

    class FakeState:
        def __init__(self):
            self.exists = False
            self.hasTimedOut = False
            self.timeout_ms = None
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)
            self.exists = True

        def setTimeoutDuration(self, ms):
            self.timeout_ms = ms

        def remove(self):
            self._v = None
            self.exists = False

    def batch(rows):
        return pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type"]
        ).astype({"ts": "datetime64[ns]"})

    st = FakeState()
    t = lambda h: datetime(2024, 1, 1, h)
    out1 = list(
        _path_v1_fn(
            (7,),
            iter([batch([(1, t(0), 7, "click"), (2, t(1), 7, "signup"),
                         (3, t(2), 7, "click")])]),
            st,
        )
    )
    assert out1 == [] and st.get[0] == 2  # signup+click matched, no emit
    out2 = list(
        _path_v1_fn((7,), iter([batch([(4, t(5), 7, "purchase")])]), st)
    )
    assert len(out2) == 1
    row = out2[0].iloc[0]
    # latency: matched signup@1h -> purchase@5h = 4h of microseconds
    assert (row["user_id"], row["micros_to_convert"]) == (7, 4 * 3600 * 10**6)
    out3 = list(
        _path_v1_fn((7,), iter([batch([(5, t(6), 7, "purchase")])]), st)
    )
    assert out3 == [] and st.get[0] == 3  # done state frozen, no re-emit
    # converted key armed the processing-time TTL on conversion AND on
    # the later touch (idle-time semantics)
    from go_dfs_mapreduce_spark.streaming import funnel

    assert st.timeout_ms == funnel.CONVERTED_STATE_TTL_MS
    # TTL expiry invocation: empty input, hasTimedOut — state is removed
    # and nothing is emitted
    st.hasTimedOut = True
    out4 = list(_path_v1_fn((7,), iter([]), st))
    assert out4 == [] and not st.exists


def test_fold_chain_gc_bounds_disk(spark, tmp_path, monkeypatch):
    """_ensure_fold_chain keeps only the newest corpus version, its
    predecessor, and the un-folded generation tail — superseded versions
    and folded generations are removed (bounded DISK, not just bounded
    listings)."""
    import os

    from go_dfs_mapreduce_spark.operators import streaming_batch as sb

    base = str(tmp_path / "sigs")
    spark.range(3).write.parquet(os.path.join(base, "corpus"))
    for i in range(5):
        spark.range(i, i + 2).write.parquet(os.path.join(base, f"gen_{i}"))

    monkeypatch.setattr(sb, "INC_COMPACT_KEEP", 1)
    monkeypatch.setattr(sb, "INC_COMPACT_STEP", 1)
    sb._ensure_fold_chain(spark, base, 4)

    have = sorted(d for d in os.listdir(base) if not d.startswith("."))
    # horizon = 4 - STEP = 3: corpus_v0..2 and gen_0..3 are gone
    assert have == ["corpus", "corpus_v3", "corpus_v4", "gen_4"]
    # the surviving newest version holds the full folded content
    rows = {r.id for r in spark.read.parquet(os.path.join(base, "corpus_v4")).collect()}
    assert rows == {0, 1, 2, 3, 4, 5}  # corpus {0,1,2} + gens 0..4 pairs


def test_stream_dedup_compaction_production_grid(spark, tmp_path, monkeypatch):
    """Compaction at a PRODUCTION grid (KEEP=2, STEP=3), driven through
    the real streaming query: 9 data micro-batches cross TWO fold points
    (corpus_v2 materializes for batch 5, corpus_v5 for batch 8), the
    per-batch read set stays within the documented KEEP + STEP + 1
    bound, the GC horizon leaves exactly one superseded version (the
    one-STEP safety margin) while dropping the folded generation tail,
    and double-delivering each FOLD batch (the non-trivial grid points)
    changes nothing. Result equivalence vs the batch operator closes the
    loop: many folds later, no pair is lost or duplicated."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from go_dfs_mapreduce_spark.operators import streaming_batch as sb
    from go_dfs_mapreduce_spark.operators.dedup import (
        dedup_incremental_new_docs,
    )

    # 130 docs, ids 0..129 -> incremental boundary t = 129*8 div 10 = 103,
    # 26 new docs over 9 doc_id-range files (all non-empty). Docs are
    # token-disjoint (jaccard 0) except two exact-dup pairs: a new doc
    # matching the corpus (110==10) and a new doc matching an EARLIER
    # batch's doc (125==105) — the second lands 6+ batches after the
    # first, so its index row has been swept through a fold by match time.
    def text(i: int) -> str:
        j = {110: 10, 125: 105}.get(i, i)
        return f"doc{j} w{j}a w{j}b w{j}c w{j}d w{j}e w{j}f"

    ids = list(range(130))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": [text(i) for i in ids],
                "lang": ["en"] * len(ids),
                "source": ["s"] * len(ids),
                "n_chars": pa.array([len(text(i)) for i in ids], pa.int64()),
            }
        ),
        tmp_path / "documents.parquet",
    )

    monkeypatch.setattr(sb, "INC_COMPACT_KEEP", 2)
    monkeypatch.setattr(sb, "INC_COMPACT_STEP", 3)
    monkeypatch.setattr(sb, "INC_STREAM_N_FILES", 9)

    # the pure grid at KEEP=2/STEP=3: first fold visible to batch 5,
    # second to batch 8
    assert [sb._inc_compact_target(b) for b in range(9)] == [
        -1, -1, -1, -1, -1, 2, 2, 2, 5,
    ]

    real_factory = sb._make_inc_dedup_proc
    listing_after: dict[int, list[str]] = {}
    read_set_sizes: dict[int, int] = {}

    def auditing_factory(spark_, sigs_dir, arrs_dir, out_dir, t):
        proc = real_factory(spark_, sigs_dir, arrs_dir, out_dir, t)

        def audited(batch_df, batch_id):
            proc(batch_df, batch_id)
            if batch_id in (5, 8):  # replay across each fold boundary
                proc(batch_df, batch_id)
            c = sb._inc_compact_target(batch_id)
            read_set_sizes[batch_id] = 1 + (batch_id - 1 - c) if batch_id else 1
            listing_after[batch_id] = sorted(
                d
                for d in os.listdir(sigs_dir)
                if d.startswith(("corpus", "gen_"))
            )

        return audited

    monkeypatch.setattr(sb, "_make_inc_dedup_proc", auditing_factory)
    streamed = {
        (r.new_doc, r.matched_doc, r.jaccard, r.matched_in)
        for r in sb.stream_dedup_incremental_live(
            spark, str(tmp_path)
        ).collect()
    }

    # read-set bound holds at every batch (the successful run itself
    # proves every listed dir existed when read — GC never outran a reader)
    bound = 1 + sb.INC_COMPACT_KEEP + sb.INC_COMPACT_STEP
    assert set(read_set_sizes) == set(range(9))
    assert all(n <= bound for n in read_set_sizes.values())
    assert read_set_sizes[7] == 5  # widest point of the KEEP+STEP sawtooth

    # after the second fold + GC: v5 live, v2 kept as the one-STEP
    # margin, gen_0..2 (folded into v2, now past the horizon) gone
    assert listing_after[8] == [
        "corpus", "corpus_v2", "corpus_v5",
        "gen_3", "gen_4", "gen_5", "gen_6", "gen_7", "gen_8",
    ]
    # the first fold really happened when batch 5 ran (not lazily later)
    assert "corpus_v2" in listing_after[5]
    assert "corpus_v5" not in listing_after[5]

    batch_rows = {
        (r.new_doc, r.matched_doc, r.jaccard, r.matched_in)
        for r in dedup_incremental_new_docs(spark, str(tmp_path)).collect()
    }
    assert streamed == batch_rows
    # non-vacuous: one corpus match, one cross-batch match that crossed
    # a fold between index write and match
    assert (110, 10, 1.0, "corpus") in streamed
    assert (125, 105, 1.0, "batch") in streamed



def test_path_conversion_ttl_evicts_converted_state(spark, tmp_path):
    """REAL-ENGINE proof of the converted-key TTL under the trigger mode
    it targets (continuous processing-time — AvailableNow never
    terminates while any processing-time timer exists, fired or not;
    funnel module docstring). With a 1 s TTL: user 1 converts and emits,
    user 2 stays in-progress; within a few empty batches the timer fires
    and the timeout branch evicts user 1's row, observable as the state
    store dropping from 2 rows to 1 — the in-progress key survives, the
    frozen converted key does not."""
    import glob
    import shutil
    import time as _time

    from go_dfs_mapreduce_spark.streaming.funnel import (
        path_conversions_stream_v1,
    )

    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def write_batch(name, rows):
        df = spark.createDataFrame(
            [(i, ts, uid, et, 1.0, "{}") for i, ts, uid, et in rows],
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        return str(tmp_path / name)

    t = lambda m: base + dt.timedelta(minutes=m)
    batches = [
        # user 1 completes the funnel in batch 1; user 2 stays in-progress
        write_batch(
            "b1",
            [(1, t(0), 1, "signup"), (2, t(1), 1, "click"),
             (3, t(2), 1, "purchase"), (4, t(3), 2, "signup")],
        ),
        write_batch("b2", [(5, t(10), 2, "click")]),
    ]
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    now = _time.time()
    for i, d in enumerate(batches):
        for f in glob.glob(d + "/*.parquet"):
            dst = f"{src}/{i}_{os.path.basename(f)}"
            shutil.copy(f, dst)
            os.utime(dst, (now + 100 * i, now + 100 * i))

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        path_conversions_stream_v1(stream, state_ttl_ms=1000)
        .writeStream.format("memory")
        .queryName("t_path_ttl")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = _time.time() + 120
        totals: list[int] = []
        while _time.time() < deadline:
            _time.sleep(2)
            totals = [
                p["stateOperators"][0]["numRowsTotal"]
                for p in q.recentProgress
                if p["stateOperators"]
            ]
            if totals and 2 in totals and totals[-1] == 1:
                break
        # both keys held state, then the TTL evicted the converted one
        assert 2 in totals, f"never saw both state rows: {totals}"
        assert totals[-1] == 1, f"converted key never evicted: {totals}"
        rows = spark.table("t_path_ttl").collect()
        assert [(r.user_id, r.micros_to_convert) for r in rows] == [
            (1, 2 * 60 * 10**6)
        ]
    finally:
        q.stop()
        spark.catalog.dropTempView("t_path_ttl")


def test_zscore_kernel_batching_invariant_and_matches_bruteforce():
    """The z-score ring kernel's scored rows are identical whether a
    user's events arrive as one chunk, two micro-batches, or one row per
    batch — and equal a brute-force trailing-window recomputation. Pure
    kernel test (no engine): drives _fold_zscore directly."""
    import math
    import random

    import pandas as pd

    from go_dfs_mapreduce_spark.operators.timeseries import (
        ZS_MIN_HIST,
        ZS_WINDOW,
    )
    from go_dfs_mapreduce_spark.streaming.anomaly import _fold_zscore

    rng = random.Random(8)
    rows = [
        (i, pd.Timestamp(2024, 1, 1) + pd.Timedelta(minutes=i),
         round(rng.expovariate(1 / 50.0), 2))
        for i in range(60)
    ]

    def chunked(splits):
        pdfs = [
            pd.DataFrame(
                part, columns=["event_id", "ts", "value"]
            )
            for part in splits
            if part
        ]
        hist, out = [], []
        for pdf in pdfs:
            hist, o = _fold_zscore(hist, [pdf])
            out.extend(o)
        return hist, out

    one_hist, one_out = chunked([rows])
    two_hist, two_out = chunked([rows[:17], rows[17:]])
    rowwise_hist, rowwise_out = chunked([[r] for r in rows])
    assert one_out == two_out == rowwise_out
    assert one_hist == two_hist == rowwise_hist
    assert len(one_hist) == ZS_WINDOW  # ring stays bounded

    # brute force: trailing <=ZS_WINDOW previous values per event
    vms = [int(math.floor(v * 1_000_000 + 0.5)) for _, _, v in rows]
    expect = []
    for i, (eid, ts, val) in enumerate(rows):
        hist = vms[max(0, i - ZS_WINDOW):i]
        n = len(hist)
        if n >= ZS_MIN_HIST:
            s, ss = sum(hist), sum(v * v for v in hist)
            if n * float(ss) - float(s) * float(s) > 0:
                expect.append((eid, ts, val, n, vms[i], s, ss))
    assert one_out == expect


def test_cusum_kernel_batching_invariant_and_matches_reference():
    """The streaming CUSUM kernel emits identical alarm rows whether a
    user's events arrive as one chunk, two batches, or row-per-batch,
    and equals the textbook sequential recursion. Pure kernel test."""
    import random

    import pandas as pd

    from go_dfs_mapreduce_spark.operators.timeseries import (
        CUSUM_ALARM_MICRO,
        CUSUM_TARGET_MICRO,
    )
    from go_dfs_mapreduce_spark.streaming.cusum import _fold_cusum

    rng = random.Random(88)
    rows = [
        (i, pd.Timestamp(2024, 1, 1) + pd.Timedelta(minutes=i),
         round(rng.expovariate(1 / 90.0), 2))  # hot stream: crossings occur
        for i in range(80)
    ]

    def chunked(splits):
        s, out = 0, []
        for part in splits:
            if not part:
                continue
            pdf = pd.DataFrame(part, columns=["event_id", "ts", "value"])
            s, o = _fold_cusum(s, [pdf], user_id=7)
            out.extend(o)
        return s, out

    one = chunked([rows])
    two = chunked([rows[:33], rows[33:]])
    rowwise = chunked([[r] for r in rows])
    assert one == two == rowwise

    # textbook reference
    s, prev, want = 0, 0, []
    for eid, ts, v in rows:
        s = max(0, s + round(v * 1_000_000) - CUSUM_TARGET_MICRO)
        if prev <= CUSUM_ALARM_MICRO < s:
            want.append((7, ts, eid, s))
        prev = s
    assert one[1] == want
    assert len(want) >= 1  # the stream actually alarms


@pytest.mark.parametrize("kernel", ["zscore", "cusum", "funnel"])
def test_state_bounds_under_processing_time_soak(spark, tmp_path, kernel):
    """REAL-ENGINE soak of the stateful kernels under a processing-time
    trigger (not an AvailableNow drain) with churning user ids across
    micro-batches, closing VERDICT r8 #6: state row counts must stay
    bounded by each kernel's documented policy — exactly ONE state row
    per seen user for the z-score ring buffer and the CUSUM long (no
    leak, no duplicate keys), and for the funnel the converted keys'
    TTL must shrink the store down to only the in-progress users."""
    import glob
    import shutil
    import time as _time

    from go_dfs_mapreduce_spark.streaming.anomaly import zscore_stream_v1
    from go_dfs_mapreduce_spark.streaming.cusum import cusum_stream_v1
    from go_dfs_mapreduce_spark.streaming.funnel import (
        path_conversions_stream_v1,
    )

    base = dt.datetime(2024, 3, 1)
    t = lambda m: base + dt.timedelta(minutes=m)
    n_batches, users_per = 3, 6
    rows_by_batch: list[list[tuple]] = []
    eid = 0
    for b in range(n_batches):
        rows = []
        cohort = range(b * users_per, (b + 1) * users_per)
        for u in cohort:
            if kernel == "funnel":
                # even users convert (full pattern), odd stay in-progress
                steps = (
                    ("signup", "click", "purchase")
                    if u % 2 == 0
                    else ("signup",)
                )
                for s, et in enumerate(steps):
                    rows.append((eid, t(b * 100 + s), u, et, 1.0))
                    eid += 1
            else:
                for s in range(4):  # a few value points per user
                    rows.append(
                        (eid, t(b * 100 + s), u, "view", float(10 + s))
                    )
                    eid += 1
        rows_by_batch.append(rows)

    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    now = _time.time()
    for i, rows in enumerate(rows_by_batch):
        d = str(tmp_path / f"b{i}")
        spark.createDataFrame(
            [(e, ts, u, et, v, "{}") for e, ts, u, et, v in rows], schema
        ).coalesce(1).write.mode("overwrite").parquet(d)
        for f in glob.glob(d + "/*.parquet"):
            dst = f"{src}/{i}_{os.path.basename(f)}"
            shutil.copy(f, dst)
            os.utime(dst, (now + 100 * i, now + 100 * i))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    n_users = n_batches * users_per
    if kernel == "zscore":
        out, expect_final, expect_peak = zscore_stream_v1(stream), n_users, n_users
    elif kernel == "cusum":
        out, expect_final, expect_peak = cusum_stream_v1(stream), n_users, n_users
    else:
        # converted keys (half of each cohort) must be TTL-evicted;
        # in-progress keys stay live for the key's lifetime
        out = path_conversions_stream_v1(stream, state_ttl_ms=1000)
        expect_final, expect_peak = n_users // 2, n_users
    name = f"t_soak_{kernel}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = _time.time() + 120
        totals: list[int] = []
        while _time.time() < deadline:
            _time.sleep(2)
            totals = [
                p["stateOperators"][0]["numRowsTotal"]
                for p in q.recentProgress
                if p["stateOperators"]
            ]
            if totals and totals[-1] == expect_final and len(totals) >= 4:
                break
        assert totals, "no state metrics observed"
        # the bound: never more than one state row per seen user
        assert max(totals) <= expect_peak, totals
        assert totals[-1] == expect_final, totals
    finally:
        q.stop()
        spark.catalog.dropTempView(name)


def test_sequences_tws_matches_v1_and_batch_truth():
    """The streaming trigram emitter: the v1 kernel, fed a
    worst-case-chunked 3-batch stream through a scripted GroupState,
    must equal the batch-side ground truth (every contiguous trigram of
    each user's chronological path)."""
    import pandas as pd

    from go_dfs_mapreduce_spark.streaming import sequences

    class _FakeGroupState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)
            self.exists = True

    types = ["A", "B", "C", "A", "B", "C", "D", "A", "B"]
    rows = [
        (i, pd.Timestamp(2024, 1, 1) + pd.Timedelta(minutes=i),
         1 + (i % 2), types[i % len(types)])
        for i in range(36)
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type"]
    )
    cut = [0, 12, 24, 36]
    batches = [pdf.iloc[cut[i]:cut[i + 1]] for i in range(3)]
    gstates, v1_out = {}, []
    for batch in batches:
        for uid, grp in batch.groupby("user_id"):
            chunks = [
                grp.iloc[[i]].reset_index(drop=True)
                for i in range(len(grp) - 1, -1, -1)
            ]
            v1_out.extend(
                sequences._seq_v1_fn(
                    (uid,),
                    iter(chunks),
                    gstates.setdefault(uid, _FakeGroupState()),
                )
            )
    got_v1 = sorted(map(tuple, pd.concat(v1_out).itertuples(False)))
    # batch ground truth: contiguous trigrams of each user's ts-ordered path
    want = []
    for uid, grp in pdf.sort_values(["ts", "event_id"]).groupby("user_id"):
        ets = list(grp["event_type"])
        for i in range(len(ets) - 2):
            r = grp.iloc[i + 2]
            want.append(
                (uid, r["ts"], r["event_id"], ">".join(ets[i : i + 3]))
            )
    assert got_v1 == sorted(want) and got_v1


def test_ratelimit_kernel_batching_invariant_and_matches_reference():
    """The token-bucket kernel emits identical verdict rows whether a
    user's events arrive as one chunk, two batches, or row-per-batch,
    and equals the textbook clamped recursion — including bursts inside
    one second (elapsed 0), exact-boundary refills, and the cap clamp.
    Pure kernel test."""
    import random

    import pandas as pd

    from go_dfs_mapreduce_spark.streaming.ratelimit import (
        RL_CAP_MICRO,
        RL_COST_MICRO,
        RL_RATE_MICRO_PER_SEC,
        _fold_bucket,
    )

    rng = random.Random(41)
    t, rows = 0, []
    for i in range(120):
        # mix same-second bursts, short gaps, and cap-clamping long gaps
        t += rng.choice([0, 0, 1, 300, 5_000, 10_000, 60_000])
        rows.append(
            (i, pd.Timestamp(2024, 1, 1) + pd.Timedelta(seconds=t))
        )

    def chunked(splits):
        bal, last, out = None, None, []
        for part in splits:
            if not part:
                continue
            pdf = pd.DataFrame(part, columns=["event_id", "ts"])
            bal, last, o = _fold_bucket(bal, last, [pdf], user_id=7)
            out.extend(o)
        return bal, last, out

    one = chunked([rows])
    two = chunked([rows[:47], rows[47:]])
    rowwise = chunked([[r] for r in rows])
    assert one == two == rowwise

    # textbook reference recursion
    bal, last, want = None, None, []
    for eid, ts in rows:
        sec = int(ts.value // 1_000_000_000)
        if last is None:
            avail = RL_CAP_MICRO
        else:
            avail = min(
                RL_CAP_MICRO, bal + (sec - last) * RL_RATE_MICRO_PER_SEC
            )
        allowed = avail >= RL_COST_MICRO
        bal = avail - RL_COST_MICRO if allowed else avail
        last = sec
        want.append((7, ts, eid, allowed, bal))
    assert one[2] == want
    # the stream exercises BOTH verdicts and the clamp
    assert any(not a for _, _, _, a, _ in want)
    assert any(a for _, _, _, a, _ in want)
    assert any(b == RL_CAP_MICRO - RL_COST_MICRO for *_, b in want)


def test_ratelimit_tws_matches_v1_and_batch_truth():
    """The applyInPandasWithState kernel, fed a 3-batch stream through a
    scripted GroupState, must equal the single-fold batch truth —
    pinning the two-long state plumbing around the shared fold."""
    import pandas as pd

    from go_dfs_mapreduce_spark.streaming import ratelimit as rl

    rows = [
        (i, pd.Timestamp(2024, 1, 1) + pd.Timedelta(seconds=s))
        for i, s in enumerate([0, 0, 1, 4_000, 4_001, 30_000, 30_000, 99_000])
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "ts"])
    batches = [pdf.iloc[:3], pdf.iloc[3:4], pdf.iloc[4:]]

    # batch truth: one fold over everything
    _, _, truth = rl._fold_bucket(None, None, [pdf], 7)

    # v1 kernel across batches via a fake GroupState
    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    st = FakeState()
    v1_out = []
    for b in batches:
        for f in rl._ratelimit_v1_fn((7,), iter([b]), st):
            v1_out.extend(f.itertuples(index=False, name=None))

    want = [(u, ts, e, a, bal) for (u, ts, e, a, bal) in truth]
    assert v1_out == want


def test_ratelimit_out_of_order_late_event_no_refund():
    """The pinned out-of-order policy (r11): a late event — micro-batch
    k+1 carrying ts EARLIER than batch k's max — earns zero refill and
    does not rewind the monotone bucket clock. Without the dt clamp a
    single late event's negative elapsed silently DRAINS the bucket
    (the r10 verdict finding); without the monotone clock the next
    on-time event would double-refill from the stale timestamp."""
    import pandas as pd

    from go_dfs_mapreduce_spark.streaming import ratelimit as rl

    def b(rows):
        return pd.DataFrame(rows, columns=["event_id", "ts"])

    ts = lambda s: pd.Timestamp(s, unit="s")  # noqa: E731

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    st = FakeState()
    out = []
    batches = [
        # batch 1: burst drains the full bucket (3 tokens), then a
        # 10_000 s gap refills exactly one token which e3 spends
        b([(0, ts(100_000)), (1, ts(100_000)), (2, ts(100_000)),
           (3, ts(110_000))]),
        # batch 2: ONE LATE EVENT, 60_000 s before the bucket clock —
        # unclamped dt would be -60_000 s = -6 tokens
        b([(4, ts(50_000))]),
        # batch 3: on-time again; refill must run from 110_000 (the
        # monotone clock), not from the late 50_000
        b([(5, ts(120_000))]),
    ]
    for batch in batches:
        for f in rl._ratelimit_v1_fn((7,), iter([batch]), st):
            out.extend(f.itertuples(index=False, name=None))

    allowed = {eid: a for (_, _, eid, a, _) in out}
    bal = {eid: m for (_, _, eid, _, m) in out}
    # batch 1: full bucket spends down 2M -> 1M -> 0, then refills 1M
    assert [bal[i] for i in range(4)] == [2_000_000, 1_000_000, 0, 0]
    assert all(allowed[i] for i in range(4))
    # the late event: zero refill against a 0 balance -> denied, and
    # the balance is NOT driven negative (the drain bug)
    assert allowed[4] is False and bal[4] == 0
    # e5 refills 10_000 s * 100 = exactly one token from the MONOTONE
    # clock at 110_000 (a rewound clock at 50_000 would have refilled 7
    # tokens, capped at 3, leaving 2M after the spend — bal[5] == 0 is
    # only reachable if the late event never moved the clock)
    assert allowed[5] is True and bal[5] == 0
    assert st.get == (0, 120_000)


def test_ratelimit_eventtime_mode_out_of_order_fixture():
    """The event-time twin on the SAME out-of-order fixture that pins
    the arrival-order policy — the differentiating test (r11 verdict
    #6): the late event e4 is BUFFERED until the watermark passes it
    and folds at its true event-time position, so it is ALLOWED with a
    full refill (the arrival-order kernel denies it); an event arriving
    below the already-flushed boundary is DROPPED entirely; an event
    above the final watermark stays buffered until the watermark
    advances past it."""
    import pandas as pd

    from go_dfs_mapreduce_spark.streaming import ratelimit as rl

    def b(rows):
        return pd.DataFrame(rows, columns=["event_id", "ts"])

    ts = lambda s: pd.Timestamp(s, unit="s")  # noqa: E731

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None
            self.hasTimedOut = False
            self.wm = 0
            self.timeout = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

        def getCurrentWatermarkMs(self):
            return self.wm

        def setTimeoutTimestamp(self, ms):
            assert ms > self.wm
            self.timeout = ms

    st = FakeState()
    out = []

    def run(batch, wm_ms, timed_out=False):
        st.wm = wm_ms
        st.hasTimedOut = timed_out
        it = iter([batch]) if batch is not None else iter([])
        for f in rl._ratelimit_eventtime_fn((7,), it, st):
            out.extend(f.itertuples(index=False, name=None))

    # batch 1 (wm 0): everything buffers, nothing flushes
    run(b([(0, ts(100_000)), (1, ts(100_000)), (2, ts(100_000)),
           (3, ts(110_000))]), 0)
    assert out == [] and st._v[3] != []
    # batch 2 carries the LATE event e4 (ts 50_000 < batch 1's max);
    # wm has advanced to 110_000 s - 1 s: e4 buffers and the flush
    # folds [e4, e0, e1, e2] in EVENT-TIME order; e3 stays (above wm)
    run(b([(4, ts(50_000))]), 110_000_000 - 1000)
    # batch 3: e5 on-time, e6 arrives BELOW the flushed boundary -> drop
    run(b([(5, ts(120_000)), (6, ts(90_000))]), 120_000_000 - 1000)
    # trailing batch at the FINAL watermark: e5 (120_000 s) is above it
    # and must still be buffered
    run(None, 120_000_000 - 1000, timed_out=True)
    assert [t for t in st._v[3]] == [120_000_000_000]
    # a later watermark advance (more data in a real feed) flushes e5
    run(None, 125_000_000, timed_out=True)

    assert [r[2] for r in out] == [4, 0, 1, 2, 3, 5]  # event-time order
    allowed = {eid: a for (_, _, eid, a, _) in out}
    bal = {eid: m for (_, _, eid, _, m) in out}
    # e4 folds FIRST against a fresh bucket: allowed (arrival-order
    # kernel denies it at 0 balance — the two policies' split point)
    assert allowed[4] is True and bal[4] == 2_000_000
    # e0 refills to cap over the 50_000 s gap, then the burst drains
    assert [bal[i] for i in range(3)] == [2_000_000, 1_000_000, 0]
    assert allowed[3] is True and bal[3] == 0  # 10_000 s = exactly 1 token
    assert allowed[5] is True and bal[5] == 0
    assert 6 not in allowed  # dropped: below the flushed watermark


def test_chunk_tail_exact_router_layout(spark, sf_dir):
    """The chunk-tail layout's EXACT fallback (r15): repartitionByRange
    SAMPLES bounds and can merge residue classes (observed at sf0.1);
    the RDD identity router must produce one chunk per populated class
    in ascending bucket order with doc_id-sorted lines, regardless of
    sampling. Forced on directly — the organic trigger is seed-luck."""
    import shutil

    from go_dfs_mapreduce_spark.operators.streaming_batch import (
        _chunk_tail_layout,
    )
    from go_dfs_mapreduce_spark.sources.dfs_chunks import (
        _inventory,
        _read_verified,
    )
    from go_dfs_mapreduce_spark.tables import table
    from pyspark.sql import functions as F

    node = _chunk_tail_layout(spark, sf_dir, force_exact=True)
    try:
        docs = table(spark, sf_dir, "documents")
        n_classes = docs.select(
            F.countDistinct((F.col("doc_id") % 4)).alias("n")
        ).first()[0]
        chunks = _inventory([node], "TXT", "docs")
        assert len(chunks) == n_classes
        # each chunk holds exactly one residue class, ascending, with
        # doc_ids sorted within the chunk
        for (fname, idx), paths in sorted(chunks.items()):
            part = _read_verified(
                type(
                    "P",
                    (),
                    {
                        "file": fname,
                        "ftype": "TXT",
                        "idx": idx,
                        "replicas": tuple(paths),
                        "verify": True,
                    },
                )()
            )
            ids = [
                int(line.split("\t")[0])
                for line in part.decode().splitlines()
            ]
            assert ids == sorted(ids)
            assert {i % 4 for i in ids} == {idx}
    finally:
        shutil.rmtree(node, ignore_errors=True)


def test_chunk_tail_layout_with_empty_residue_classes(
    spark, sf_dir, tmp_path
):
    """A corpus leaving residue classes EMPTY (only doc_id % 4 in
    {0, 2}) must lay down dense-ranked chunks — 2 chunks, idx 0 holding
    residue 0 and idx 1 holding residue 2 — through BOTH routers: the
    range fast path (2 distinct keys is exactly where the sampler can
    merge; on divergence it self-heals through the exact router) and
    the forced exact router (4 identity partitions, two empty — the
    writer must skip them and number contiguously). Pins the
    dense-rank contract the twins' oracle documents for gap corpora."""
    import shutil

    from pyspark.sql import functions as F

    from go_dfs_mapreduce_spark.operators.streaming_batch import (
        _chunk_tail_layout,
    )
    from go_dfs_mapreduce_spark.sources.dfs_chunks import (
        _inventory,
        _read_verified,
    )
    from go_dfs_mapreduce_spark.tables import table

    gap_dir = str(tmp_path / "gap_corpus")
    (
        table(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 4).isin(0, 2))
        .write.parquet(os.path.join(gap_dir, "documents.parquet"))
    )

    for force in (False, True):
        node = _chunk_tail_layout(spark, gap_dir, force_exact=force)
        try:
            chunks = _inventory([node], "TXT", "docs")
            assert len(chunks) == 2, (force, sorted(chunks))
            want_residue = {0: 0, 1: 2}  # dense rank -> residue class
            for (fname, idx), paths in sorted(chunks.items()):
                part = _read_verified(
                    type(
                        "P",
                        (),
                        {
                            "file": fname,
                            "ftype": "TXT",
                            "idx": idx,
                            "replicas": tuple(paths),
                            "verify": True,
                        },
                    )()
                )
                ids = [
                    int(line.split("\t")[0])
                    for line in part.decode().splitlines()
                ]
                assert ids == sorted(ids)
                assert {i % 4 for i in ids} == {want_residue[idx]}, force
        finally:
            shutil.rmtree(node, ignore_errors=True)
