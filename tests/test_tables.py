"""tables.table must normalize the events ``ts`` column to TIMESTAMP no
matter how the driver's generator encoded it in parquet — the encoding has
already changed once between rounds (TIMESTAMP(NANOS) → timestamp[us] with
no zone, which Spark reads as TIMESTAMP_NTZ), and every downstream query,
window frame, and watermark is written against plain TIMESTAMP."""

from __future__ import annotations

import datetime as dt
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from go_dfs_mapreduce_spark.streaming import read_events_stream
from go_dfs_mapreduce_spark.tables import table

_ROWS = [
    (1, dt.datetime(2024, 1, 1, 0, 5, 30), 7, "click", 1.5, "{}"),
    (2, dt.datetime(2024, 1, 2, 12, 0, 0), 8, "purchase", 2.0, "{}"),
]


def _write_events(dirpath, ts_arrow_type):
    if ts_arrow_type == "nanos_as_long":
        ts = pa.array(
            [int(r[1].timestamp() * 1_000_000) * 1000 for r in _ROWS],
            pa.int64(),
        )
    else:
        ts = pa.array([r[1] for r in _ROWS], ts_arrow_type)
    t = pa.table(
        {
            "event_id": pa.array([r[0] for r in _ROWS], pa.int64()),
            "ts": ts,
            "user_id": pa.array([r[2] for r in _ROWS], pa.int64()),
            "event_type": pa.array([r[3] for r in _ROWS]),
            "value": pa.array([r[4] for r in _ROWS], pa.float64()),
            "props": pa.array([r[5] for r in _ROWS]),
        }
    )
    pq.write_table(t, f"{dirpath}/events.parquet")
    return str(dirpath)


_ENCODINGS = {
    # what the driver's generator emitted in rounds 1-2 (read via
    # spark.sql.legacy.parquet.nanosAsLong as bigint)
    "nanos_as_long": "nanos_as_long",
    # what it emits now: micros, no zone -> Spark TIMESTAMP_NTZ
    "micros_ntz": pa.timestamp("us"),
    # a UTC-zoned writer -> Spark TIMESTAMP directly
    "micros_utc": pa.timestamp("us", tz="UTC"),
}


@pytest.mark.parametrize("enc", sorted(_ENCODINGS))
def test_events_ts_normalized_to_timestamp(spark, tmp_path, enc):
    d = _write_events(tmp_path, _ENCODINGS[enc])
    df = table(spark, d, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = sorted(r.ts for r in df.select("ts").collect())
    assert got == [r[1] for r in _ROWS]


@pytest.mark.parametrize("enc", sorted(_ENCODINGS))
def test_events_stream_ts_matches_batch(spark, tmp_path, enc):
    """read_events_stream must probe the encoding and land on the same
    TIMESTAMP values the batch loader produces."""
    d = _write_events(tmp_path, _ENCODINGS[enc])
    stream = read_events_stream(spark, d, watermark=None)
    assert dict(stream.dtypes)["ts"] == "timestamp"
    q = (
        stream.writeStream.format("memory")
        .queryName(f"t_enc_{enc}")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r.ts for r in spark.table(f"t_enc_{enc}").select("ts").collect())
    assert got == [r[1] for r in _ROWS]
    shutil.rmtree(tmp_path, ignore_errors=True)


# --- r15 scan-spread + metadata helpers ------------------------------------


def test_table_row_count_matches_count(spark):
    """Footer-metadata row count must equal a full count() for every
    driver table — the calibration scalars (SRP bits, IVF cells) are
    derived from it and a mismatch would silently change signatures."""
    from go_dfs_mapreduce_spark.tables import (
        SMOKE_SF_DIR,
        TABLE_NAMES,
        table,
        table_row_count,
    )

    for name in TABLE_NAMES:
        assert table_row_count(spark, SMOKE_SF_DIR, name) == table(
            spark, SMOKE_SF_DIR, name
        ).count(), name


def test_table_row_count_fallback_counts_non_parquet(spark, tmp_path):
    """Unreadable footers must fall back to count(), not crash or return
    a wrong constant."""
    import shutil

    from go_dfs_mapreduce_spark.tables import SMOKE_SF_DIR, table_row_count

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(f"{SMOKE_SF_DIR}/region.parquet", sf / "region.parquet")
    # corrupt the footer magic so pyarrow refuses it but keep it listed
    p = sf / "nation.parquet"
    shutil.copy(f"{SMOKE_SF_DIR}/nation.parquet", p)
    good = table_row_count(spark, str(sf), "region")
    assert good == 5
    raw = p.read_bytes()
    p.write_bytes(raw[:-4] + b"XXXX")
    # fallback path: spark can't read it either, so expect an exception
    # from the count fallback — but NOT a silent wrong answer
    try:
        n = table_row_count(spark, str(sf), "nation")
    except Exception:
        n = None
    assert n is None or n >= 0


def test_spread_scan_noop_when_splits_cover_cores(spark, tmp_path):
    """A table scan passed to spread_frame must get NO exchange when the
    file layout already yields >= cores scan splits (the real-scale
    posture): with maxPartitionBytes shrunk below the file size the
    estimate exceeds the core count and the plan must stay a bare scan."""
    from go_dfs_mapreduce_spark.tables import SMOKE_SF_DIR, spread_frame, table

    df = table(spark, SMOKE_SF_DIR, "documents")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
        out = spread_frame(df)
        assert out is df
        assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    # and WITH the default split size the gate-scale single-row-group
    # file spreads to the session's core count
    spread = spread_frame(df)
    assert (
        spread.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_spread_frame_adds_exchange_only_when_underpartitioned(spark, sf_dir):
    """r15: spread_frame round-robins a few-partition frame to the core
    count and is an identity on frames that already have >= cores
    partitions (the any-real-scale case)."""
    from pyspark.sql import functions as F

    from go_dfs_mapreduce_spark.tables import spread_frame, table

    cores = spark.sparkContext.defaultParallelism
    ids = table(spark, sf_dir, "documents").select("doc_id")
    spread = spread_frame(ids)
    assert spread.rdd.getNumPartitions() == cores

    wide = spark.range(0, 1000, 1, cores + 4)
    assert spread_frame(wide) is wide


def test_spread_frame_estimate_from_mocked_input_files(spark, tmp_path):
    """The split estimate counts one split per file and treats an unknown
    (remote) size as no-op; one small local file still spreads."""
    from go_dfs_mapreduce_spark.tables import spread_frame

    cores = spark.sparkContext.defaultParallelism

    def frame(files):
        df = spark.range(0, 100, 1, 1)
        df.inputFiles = lambda: files
        return df

    remote = frame([f"hdfs://nn/t/part-{i:05d}.parquet" for i in range(cores)])
    assert spread_frame(remote) is remote
    one_remote = frame(["s3a://bucket/t/part-00000.parquet"])
    assert spread_frame(one_remote) is one_remote

    paths = []
    for i in range(cores):
        p = tmp_path / f"part-{i}.parquet"
        p.write_bytes(b"x" * 64)
        paths.append(f"file:{p}")
    many_small = frame(paths)
    assert spread_frame(many_small) is many_small

    one_small = frame(paths[:1])
    spread = spread_frame(one_small)
    plan = spread._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan
    assert spread.rdd.getNumPartitions() == cores


def test_heavy_decoders_spread_light_decoders_do_not(spark, sf_dir):
    """r15 measured split (guide §2.5): compressed-codec decoders (JPEG,
    MJPEG-AVI) pay per-payload Python work heavy enough to fund a spread
    exchange; trivial decoders (BMP, PCM envelope) measured SLOWER with
    it and must stay exchange-free."""
    from go_dfs_mapreduce_spark.operators.multimodal import (
        multimodal_audio_pcm,
        multimodal_pixels_bmp,
        multimodal_pixels_jpeg,
        multimodal_video_mjpeg,
    )
    from go_dfs_mapreduce_spark.plans.audit import audit_plan

    for q in (multimodal_pixels_jpeg, multimodal_video_mjpeg):
        a = audit_plan(q(spark, sf_dir))
        assert "RoundRobinPartitioning" in a["plan"], q.__name__
    for q in (multimodal_pixels_bmp, multimodal_audio_pcm):
        a = audit_plan(q(spark, sf_dir))
        assert "RoundRobinPartitioning" not in a["plan"], q.__name__


def test_sibling_session_gets_its_own_reader(spark, sf_dir):
    """``newSession()`` siblings share the applicationId but not their
    confs. ``table`` must hand each session a reader built under that
    session, so a sibling's shuffle-partition count governs its
    aggregations instead of the first session's. A persisted memo (the
    graph edge list) is per session too; the sibling's persist finds the
    first session's equal plan in Spark's shared CacheManager, so no
    second copy of its blocks is cached."""
    from go_dfs_mapreduce_spark.operators.graph import _edges

    table(spark, sf_dir, "orders")  # memoize the first session's reader
    assert _edges(spark, sf_dir).sparkSession is spark
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions", "3")
    d2 = table(s2, sf_dir, "orders")
    assert d2.sparkSession is s2
    assert d2.groupBy("o_custkey").count().rdd.getNumPartitions() == 3
    assert table(s2, sf_dir, "orders") is d2  # still memoized per session
    assert table(spark, sf_dir, "orders").sparkSession is spark
    e2 = _edges(s2, sf_dir)
    assert e2.sparkSession is s2 and e2.storageLevel.useMemory
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted

