"""Batch twins of the streaming window queries, with DuckDB oracles.

Each query calls the SAME aggregation builder the streaming surface uses
(streaming/windows.py) on the static events table — so the driver's
correctness gate covers the streaming logic, and tests/test_streaming.py
separately proves the streaming *mechanics* (file source, AvailableNow,
watermark late-data drop) produce identical rows.

Oracle mapping: Spark's window() buckets are epoch-aligned, and DuckDB's
time_bucket is too; session windows are the classic gaps-and-islands
(lag + cumulative flag sum), whose [min(ts), max(ts)+gap) extents match
Spark's session_window definition exactly.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession

from ..registry import query
from ..streaming.windows import (
    enrich_with_dim,
    interval_join,
    session_agg,
    sliding_agg,
    throttle_dedup,
    tumbling_agg,
)
from ..tables import table

_DSUM_VAL = (
    "CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS total_value"
)

TUMBLING_ORACLE = f"""
SELECT
  time_bucket(INTERVAL 5 MINUTE, CAST(ts AS TIMESTAMP)) AS w_start,
  time_bucket(INTERVAL 5 MINUTE, CAST(ts AS TIMESTAMP)) + INTERVAL 5 MINUTE AS w_end,
  event_type,
  COUNT(*) AS n_events,
  {_DSUM_VAL}
FROM events
GROUP BY 1, 2, 3
"""


@query("stream_tumbling_counts", oracle=TUMBLING_ORACLE)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_agg(table(spark, sf_dir, "events"), "5 minutes")


SLIDING_ORACLE = f"""
SELECT
  time_bucket(INTERVAL 5 MINUTE, CAST(ts AS TIMESTAMP)) - k.k * INTERVAL 5 MINUTE AS w_start,
  user_id,
  COUNT(*) AS n_events,
  {_DSUM_VAL}
FROM events, range(2) k(k)
GROUP BY 1, 2
"""


@query("stream_sliding_user_value", oracle=SLIDING_ORACLE)
def stream_sliding_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding by 5: every event belongs to exactly two
    epoch-aligned windows, which the oracle generates with a range(2)
    offset join."""
    return sliding_agg(table(spark, sf_dir, "events"), "10 minutes", "5 minutes")


SESSION_ORACLE = f"""
WITH marked AS (
  SELECT user_id, ts, event_id, value,
    CASE WHEN CAST(ts AS TIMESTAMP)
              - lag(CAST(ts AS TIMESTAMP), 1, TIMESTAMP '1900-01-01')
                OVER (PARTITION BY user_id ORDER BY ts, event_id)
              > INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts, value,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS session_id
  FROM marked
)
SELECT
  MIN(CAST(ts AS TIMESTAMP)) AS s_start,
  MAX(CAST(ts AS TIMESTAMP)) + INTERVAL 30 MINUTE AS s_end,
  user_id,
  COUNT(*) AS n_events,
  {_DSUM_VAL}
FROM sessions
GROUP BY user_id, session_id
"""


@query("stream_session_windows", oracle=SESSION_ORACLE)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_agg(table(spark, sf_dir, "events"), "30 minutes")


THROTTLE_ORACLE = """
SELECT DISTINCT user_id, event_type,
       date_trunc('minute', CAST(ts AS TIMESTAMP)) AS w_minute
FROM events
"""


@query("stream_throttle_dedup", oracle=THROTTLE_ORACLE)
def stream_throttle_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming dropDuplicatesWithinWatermark throttle
    (streaming/windows.py::throttle_dedup) — emitting only key columns
    makes the result survivor-independent, so DISTINCT is the exact
    oracle; tests/test_streaming.py proves the streaming mechanics."""
    return throttle_dedup(table(spark, sf_dir, "events"))


INTERVAL_JOIN_ORACLE = """
SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
       CAST(p.ts AS TIMESTAMP) AS purchase_ts, CAST(c.ts AS TIMESTAMP) AS click_ts
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND c.ts >= CAST(p.ts AS TIMESTAMP) - INTERVAL 240 MINUTE
 AND c.ts <= p.ts
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""


@query("stream_interval_join", oracle=INTERVAL_JOIN_ORACLE)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval join
    (streaming/windows.py::interval_join): purchase-to-click attribution
    within a 4-hour lookback per user. The streaming run (two
    watermarked file streams, append mode) is proven row-identical in
    tests/test_streaming.py."""
    ev = table(spark, sf_dir, "events")
    return interval_join(ev, ev, "240 minutes")


ENRICH_ORACLE = """
SELECT e.event_id, e.user_id, e.event_type,
       c.c_mktsegment AS segment, c.c_nationkey AS nationkey
FROM events e JOIN customer c ON e.user_id = c.c_custkey
"""


@query("stream_enrich_dim", oracle=ENRICH_ORACLE)
def stream_enrich_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-static dimension enrichment
    (streaming/windows.py::enrich_with_dim): events joined to the
    broadcast customer dim. The streaming run is proven row-identical in
    tests/test_streaming.py."""
    return enrich_with_dim(
        table(spark, sf_dir, "events"), table(spark, sf_dir, "customer")
    )


FIRST_OCCURRENCE_ORACLE = """
SELECT user_id, event_type, event_id AS first_event_id,
       CAST(ts AS TIMESTAMP) AS first_ts
FROM (
  SELECT user_id, event_type, event_id, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
"""


CHUNK_TAIL_ORACLE = """
SELECT 'docs' AS file,
       DENSE_RANK() OVER (ORDER BY doc_id % 4) - 1 AS chunk_idx,
       ROW_NUMBER() OVER (PARTITION BY doc_id % 4 ORDER BY doc_id) - 1
         AS line_number,
       CAST(doc_id AS VARCHAR) || chr(9) || md5(text) AS line
FROM documents
"""


_CHUNK_TAIL_MEMO: dict[tuple, str] = {}


def _evict_stale_fixture_dirs(memo: dict, app: str, dir_of) -> None:
    """Drop (rmtree + del) fixture-memo entries from OTHER (stopped)
    applications — the ``memo`` store's stale-app sweep applied to
    the on-disk fixture dirs (ADVICE r15: without it a long-lived
    interpreter restarting sessions accretes one split/chunk dir set per
    app until exit). ``dir_of`` maps a memo value to its directory."""
    import shutil

    for stale in [k for k in memo if k[0] != app]:
        shutil.rmtree(dir_of(memo[stale]), ignore_errors=True)
        del memo[stale]


def _chunk_tail_dir(spark: SparkSession, sf_dir: str) -> str:
    """Session-memoized chunk-tail fixture dir (r15, the _events_split_dir
    treatment): both chunk-tail twins consumed an identical 4-chunk
    layout of the documents table and re-laid it down (distributed md5 +
    bucket write, ~1.5-3 s) per invocation, then deleted it. The layout
    is harness plumbing — a stand-in for a reference deployment's chunk
    directory — so one materialization per (session, documents file
    stat) serves both twins and every rep; the streaming reads still
    execute in full per invocation. Removed at interpreter exit."""
    import atexit
    import os
    import shutil

    from ..tables import _table_stat

    path = os.path.join(sf_dir, "documents.parquet")
    app = spark.sparkContext.applicationId
    _evict_stale_fixture_dirs(_CHUNK_TAIL_MEMO, app, lambda v: v)
    key = (
        app,
        os.path.abspath(path),
        _table_stat(path),
    )
    hit = _CHUNK_TAIL_MEMO.get(key)
    if hit is not None and os.path.isdir(hit):
        return hit
    node = _chunk_tail_layout(spark, sf_dir)
    _CHUNK_TAIL_MEMO[key] = node
    atexit.register(shutil.rmtree, node, ignore_errors=True)
    return node


def _chunk_tail_layout(
    spark: SparkSession, sf_dir: str, force_exact: bool = False
) -> str:
    """Shared fixture step of the chunk-tail twins: lay the documents
    table down as a reference chunk layout (4 TXT chunks of
    '<doc_id>\\t<md5(text)>' lines, bucketed by doc_id % 4) via the
    DISTRIBUTED go_dfs_text batch sink, verify the chunk-count
    contract, and return the node dir (caller removes).

    Fast path: repartitionByRange(4, bucket) — partitions are ordered
    by key ascending as a PUBLIC semantic, which is exactly the
    bucket-per-chunk contract, and all corpus-sized work (md5, concat,
    sort) stays in codegen. But the range partitioner SAMPLES its
    bounds, and with only 4 distinct key values a sample can legally
    merge two residue classes into one partition (observed at sf0.1:
    3 chunks for 4 classes — the r13-advice check caught it). On
    divergence the layout re-writes through the EXACT router: an
    RDD-level ``partitionBy(4, identity)`` — one partition PER BUCKET
    by construction, immune to sampling and to the optimizer (every
    DataFrame-level construction tried — union of coalesce(1) or
    repartition(1) branches — gets collapsed to one partition by the
    union/repartition rewrite rules; measured, not speculation). The
    exact path pays a Python-side shuffle + per-bucket in-task sort, so
    it stays the fixture fallback rather than the default; it only
    raises if even the identity routing diverges (impossible short of
    writer bugs)."""
    import tempfile

    from pyspark.sql import functions as F

    from ..sources import register_dfs_sources
    from ..sources.dfs_chunks import _inventory

    register_dfs_sources(spark)
    docs = table(spark, sf_dir, "documents")
    tagged = docs.select(
        F.col("doc_id"),
        (F.col("doc_id") % 4).alias("bucket"),
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit("\t"),
            F.md5(F.col("text").cast("binary")),
        ).alias("line"),
    )

    def _write(lines) -> int:
        (
            lines.write.format("go_dfs_text")
            .option("file", "docs")
            .mode("overwrite")
            .save(node)
        )
        return len(_inventory([node], "TXT", "docs"))

    node = tempfile.mkdtemp(prefix="go_dfs_tail_")
    n_classes = docs.select(
        F.countDistinct((F.col("doc_id") % 4).alias("bucket"))
    ).first()[0]
    fast = (
        tagged.repartitionByRange(4, "bucket")
        .sortWithinPartitions("doc_id")
        .select("line")
    )
    # force_exact is the test hook: the fallback only fires organically
    # when the sampler misbehaves, which is corpus/seed-dependent
    if force_exact or _write(fast) != n_classes:
        part = (
            tagged.select("bucket", "doc_id", "line")
            .rdd.map(lambda r: (int(r[0]), (int(r[1]), r[2])))
            .partitionBy(4, lambda b: b)
            .mapPartitions(
                lambda it: (
                    (line,) for _, line in sorted(v for _, v in it)
                )
            )
        )
        exact = spark.createDataFrame(part, "line string")
        n_chunks = _write(exact)
        if n_chunks != n_classes:
            import shutil

            shutil.rmtree(node, ignore_errors=True)
            raise RuntimeError(
                f"chunk-tail layout diverged even on the exact router: "
                f"{n_chunks} chunks for {n_classes} populated classes"
            )
    return node


@query("stream_dfs_chunk_tail", oracle=CHUNK_TAIL_ORACLE)
def stream_dfs_chunk_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL streaming query through the go_dfs_text streaming source
    (sources/dfs_chunks.py::_TextStreamReader): lay the documents table
    down as a reference chunk layout (4 TXT chunks of
    '<doc_id>\\t<md5(text)>' lines, bucketed by doc_id % 4), then tail
    the directory with readStream + AvailableNow into a memory sink and
    return the emitted rows. The oracle reproduces every (file,
    chunk_idx, line_number, line) in SQL, so the driver's gate checks
    the streaming source's offsets/partition planning end-to-end — the
    migration story for users whose reference deployment keeps writing
    chunks while Spark consumes them. The fixture itself is laid down by
    the DISTRIBUTED chunk writer (the go_dfs_text batch sink): executors
    md5 + bucket the corpus and stream their own chunk bytes — nothing
    corpus-sized ever reaches the driver, so the layout step holds at
    any SF (the old driver-side collect here was doc-count-sized).
    The writer skips empty partitions and numbers the remaining chunks
    contiguously in bucket order, so the oracle's chunk_idx is the DENSE
    RANK of the doc_id % 4 residue class, not the raw modulus — equal
    whenever all four classes are populated (every gate SF), and still
    correct for a corpus that leaves a class empty."""
    import uuid

    node = _chunk_tail_dir(spark, sf_dir)
    qname = f"t_chunk_tail_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("go_dfs_text")
        .load(node)
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the frame's plan holds the memory sink itself, so it still reads
    # after the view is dropped (repeated gate sweeps must not accrete
    # sink tables)
    out = spark.table(qname)
    spark.catalog.dropTempView(qname)
    return out


@query("stream_dfs_chunk_tail_stored", oracle=CHUNK_TAIL_ORACLE)
def stream_dfs_chunk_tail_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunk tail through a DURABLE FILE SINK (VERDICT r14 #3): the
    same go_dfs_text streaming source as ``stream_dfs_chunk_tail``, but
    the query writes an exactly-once parquet sink (checkpoint +
    _spark_metadata commit log) instead of a driver-resident memory
    table, and the returned rows are READ BACK from the sink files —
    proving under the same oracle that the verification posture doesn't
    depend on the memory sink: offsets, partition planning, and commit
    semantics all flow through the production sink path. The memory-sink
    twin is retained: it pins the same source mechanics with sub-second
    turnaround, while this one pins the durable commit protocol.

    Scale: the parquet sink is the production shape — executors write
    sink files directly (nothing row-sized transits the driver during
    the stream); only the gate's detach-and-cleanup collect at the end
    is corpus-hash-sized, and a deployment would simply keep the sink
    directory as the landed table instead."""
    import shutil
    import tempfile

    node = _chunk_tail_dir(spark, sf_dir)
    scratch = tempfile.mkdtemp(prefix="go_dfs_tail_sink_")
    sink = f"{scratch}/out"
    ckpt = f"{scratch}/ckpt"
    try:
        q = (
            spark.readStream.format("go_dfs_text")
            .load(node)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        back = spark.read.parquet(sink)
        # detach from the scratch files so it can be dropped (repeated
        # gate sweeps must not accrete temp dirs); id+hash rows only
        rows = back.collect()
        schema = back.schema
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


@query("stream_first_occurrences", oracle=FIRST_OCCURRENCE_ORACLE)
def stream_first_occurrences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the first-occurrence detector
    (streaming/novelty.py::first_occurrences_stream_v1): the
    deterministic argmin-(ts, event_id) row per (user_id, event_type).
    The streaming run keeps seen types in one GroupState array per user
    (``applyInPandasWithState``) and is proven batching-invariant in
    tests/test_streaming_novelty.py."""
    from ..streaming.novelty import first_occurrences_batch

    return first_occurrences_batch(table(spark, sf_dir, "events"))


_SPLIT_MEMO: dict[tuple, tuple[str, int]] = {}


def _events_split_dir(
    spark: SparkSession, sf_dir: str, n_files: int
) -> tuple[str, int]:
    """Session-memoized shared landing dir: the ``n_files`` time-ordered
    split of the events table that every *_live twin streams from.

    r15 (guide §1.2 — don't compute things twice): each of the ~14 live
    twins rebuilt the IDENTICAL split (count job + repartitionByRange
    write + moves, ~0.7 s) into its own scratch dir and deleted it after
    one use. The split is harness plumbing — a stand-in for a producer's
    landing directory, not query state — so one materialization per
    (session, sf_dir, events file stat, n_files) serves every twin; the
    streaming query itself still consumes the files through the real
    engine on every invocation. Keyed on the source file's stat so a
    regenerated corpus misses; dirs are removed at interpreter exit."""
    import atexit
    import os
    import shutil
    import tempfile

    from ..tables import _table_stat

    path = os.path.join(sf_dir, "events.parquet")
    app = spark.sparkContext.applicationId
    _evict_stale_fixture_dirs(_SPLIT_MEMO, app, lambda v: v[0])
    key = (
        app,
        os.path.abspath(path),
        _table_stat(path),
        n_files,
    )
    hit = _SPLIT_MEMO.get(key)
    if hit is not None and os.path.isdir(hit[0]):
        return hit
    node = tempfile.mkdtemp(prefix="go_dfs_events_live_")
    n_rows = _split_events(spark, sf_dir, node, n_files)
    _SPLIT_MEMO[key] = (node, n_rows)
    atexit.register(shutil.rmtree, node, ignore_errors=True)
    return node, n_rows


def _split_events(
    spark: SparkSession, sf_dir: str, node: str, n_files: int
) -> int:
    """Write the events table into ``n_files`` time-ordered parquet files
    under ``node`` (range-partitioned on (ts, event_id) — the event_id
    tiebreak makes the ranges disjoint even when many events share a
    timestamp; ties may still straddle a file boundary, which the
    watermark argument in ``_run_live`` shows is safe) with strictly
    increasing mtimes, which pin the file stream source's processing
    order to event-time order (it sorts candidates by modification
    time). Returns the row count.

    The split is a DISTRIBUTED ``repartitionByRange`` write — executors
    each lay down their own time slice; nothing event-sized reaches the
    driver, so this harness plumbing (it stands in for a producer
    landing files over time) holds at any SF. Range boundaries come from
    the partitioner's sampling, so file sizes are approximate rather
    than exact fractions — the watermark argument only needs range
    DISJOINTNESS, which the partitioner guarantees. If pathological
    sampling ever leaves a range empty (unique (ts, event_id) keys make
    this vanishingly rare), an exact row_number split re-lays the files
    instead of tripping the multi-batch assertion downstream."""
    import glob
    import os
    import shutil
    import time

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ..tables import table_row_count

    ev = table(spark, sf_dir, "events")
    n_rows = table_row_count(spark, sf_dir, "events")  # footer, zero jobs
    tmp = os.path.join(
        os.path.dirname(node), "split_tmp_" + os.path.basename(node)
    )
    (
        ev.repartitionByRange(n_files, F.col("ts"), F.col("event_id"))
        .write.mode("overwrite")
        .parquet(tmp)
    )
    parts = sorted(glob.glob(os.path.join(tmp, "part-*.parquet")))
    if len(parts) != n_files and n_rows >= n_files:
        # sampling/skew fallback (never the common path): exact n_files
        # split by global row number, one small job per slice
        shutil.rmtree(tmp)
        rn = ev.withColumn(
            "rn", F.row_number().over(Window.orderBy("ts", "event_id"))
        )
        for i in range(n_files):
            lo, hi = i * n_rows // n_files, (i + 1) * n_rows // n_files
            (
                rn.where((F.col("rn") > lo) & (F.col("rn") <= hi))
                .drop("rn")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(tmp, f"slice={i}"))
            )
        # numeric slice order: a lexicographic sort would put slice=10
        # before slice=2 and hand later time ranges earlier mtimes
        parts = sorted(
            glob.glob(os.path.join(tmp, "slice=*", "part-*.parquet")),
            key=lambda p: int(
                os.path.basename(os.path.dirname(p)).split("=")[1]
            ),
        )
    base_mtime = time.time() - 3600
    for i, src in enumerate(parts):
        dst = os.path.join(node, f"part-{i:03d}.parquet")
        shutil.move(src, dst)
        os.utime(dst, (base_mtime + 2 * i, base_mtime + 2 * i))
    shutil.rmtree(tmp, ignore_errors=True)
    return n_rows


@contextlib.contextmanager
def _shuffle_partitions(spark: SparkSession, n: int):
    """Scope ``spark.sql.shuffle.partitions`` to ``n`` for the body and
    restore the session's value on every path. A stream's state partition
    count is fixed from this conf when the query starts."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _require_batches(q, n_files: int, name: str) -> None:
    """Raise unless the finished query ``q`` ran at least ``n_files``
    micro-batches that read data (maxFilesPerTrigger=1 over ``n_files``
    files; AvailableNow may append a trailing no-data batch, which does
    not count). Gate-green then implies multi-batch state execution,
    which is the point of every live run."""
    n_batches = sum(1 for p in q.recentProgress if p and p["numInputRows"] > 0)
    if n_batches < n_files:
        raise RuntimeError(
            f"{name} ran {n_batches} data micro-batches, expected {n_files} "
            "— multi-batch state execution is the point of this query"
        )


def _run_live(spark: SparkSession, sf_dir: str, builder, prefix: str,
              shuffle_partitions: int = 8,
              output_mode: str = "complete",
              watermark: str | None = None,
              n_files: int = 4) -> DataFrame:
    """Run ``builder(stream_events_df)`` through the REAL streaming
    engine ACROSS MULTIPLE MICRO-BATCHES: the events parquet is split
    into ``n_files`` time-ordered files in a scratch landing dir (sorted
    by (ts, event_id), strictly increasing mtimes) and consumed with
    ``maxFilesPerTrigger=1`` under an AvailableNow trigger, so
    cross-batch state (window merge, join buffers, dedup state, custom
    state) and watermark advancement genuinely execute — not just a
    single everything-in-one-batch pass. The aggregate is emitted
    (complete mode for aggregations, append for stream-stream joins) to
    a memory sink. Time-ordered arrival is what keeps append-mode
    watermarked queries oracle-equal: the watermark after batch i is
    max(ts in batches <= i) - delay, and every later file's rows are >=
    that max, so nothing is ever dropped as late while eviction still
    runs between batches (late-data DROP behavior is exercised in
    tests/test_streaming.py, where it is the asserted outcome rather
    than a gate-red). The run raises if fewer than ``n_files``
    micro-batches actually executed, so a gate-green row is itself
    proof of multi-batch execution. State-store commit cost is per
    partition per batch, so shuffle partitions are scoped down around
    start() (measured 32 s -> 17 s on the session query) and restored
    after. The returned frame is the memory sink itself
    (``spark.table`` resolved before the view is dropped; its plan holds
    the sink, so no rows are collected into Python and uploaded again),
    and the memory-sink view is dropped on every path; the shared
    landing dir is session-memoized (``_events_split_dir``) — stale-app
    entries are swept on access and live dirs are removed at
    interpreter exit, so repeated gate sweeps never accrete sink tables
    or temp dirs. The driver-side split is test-harness plumbing at gate scale
    (it stands in for a producer landing files over time); at
    deployment the stream points at the live landing directory and the
    memory sink becomes a real one."""
    import uuid

    from ..streaming.windows import read_events_stream

    node, n_rows = _events_split_dir(spark, sf_dir, n_files)
    qname = f"{prefix}_{uuid.uuid4().hex[:8]}"
    started = False
    try:
        ev = read_events_stream(
            spark, node, watermark=watermark,
            options={"maxFilesPerTrigger": "1", "latestFirst": "false"},
        )
        with _shuffle_partitions(spark, shuffle_partitions):
            q = (
                builder(ev)
                .writeStream.format("memory")
                .queryName(qname)
                .outputMode(output_mode)
                .trigger(availableNow=True)
                .start()
            )
            started = True
        q.awaitTermination()
        if n_rows >= n_files:
            _require_batches(q, n_files, qname)
        return spark.table(qname)
    finally:
        if started:
            spark.catalog.dropTempView(qname)


@query("stream_tumbling_counts_live", oracle=TUMBLING_ORACLE)
def stream_tumbling_counts_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling aggregation run through the REAL streaming engine,
    not the batch twin — same ``tumbling_agg`` builder and identical
    oracle SQL as ``stream_tumbling_counts``, so the driver's gate
    hash-checks the streaming ENGINE's stateful aggregation output, not
    just the shared logical plan (mechanics in ``_run_live``)."""
    return _run_live(
        spark, sf_dir, lambda ev: tumbling_agg(ev, "5 minutes"),
        "t_tumbling_live",
        # complete mode re-emits the FULL window state to the sink every
        # batch (no watermark to exercise); 3 batches keep the cross-batch
        # merge coverage at 3/4 of the sink re-emission cost
        n_files=3,
    )


@query("stream_session_windows_live", oracle=SESSION_ORACLE)
def stream_session_windows_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows through the REAL streaming engine (merging-window
    state store), same builder and oracle as the batch twin — the gate
    hash-checks the engine's session MERGE logic (gaps-and-islands
    equivalence) end-to-end (mechanics in ``_run_live``)."""
    return _run_live(
        spark, sf_dir, lambda ev: session_agg(ev, "30 minutes"), "t_session_live"
    )


@query("stream_interval_join_live", oracle=INTERVAL_JOIN_ORACLE)
def stream_interval_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-STREAM interval join run through the REAL streaming
    engine: one watermarked file stream self-joined (purchases to the
    same user's clicks within a 4-hour lookback), append mode — the
    hardest streaming shape (symmetric hash join + state eviction by
    watermark + time bound). Same ``interval_join`` builder and
    identical oracle SQL as the batch twin ``stream_interval_join``, so
    the driver's gate hash-checks the engine's join-state machinery
    end-to-end, not just the shared logical plan. Watermark is required
    by append-mode stream-stream joins; under one AvailableNow batch no
    row is late, so the emitted set equals the batch twin exactly
    (mechanics in ``_run_live``)."""
    return _run_live(
        spark,
        sf_dir,
        lambda ev: interval_join(ev, ev, "240 minutes"),
        "t_interval_live",
        # 4 state partitions, not 8: per-batch commit cost is
        # (partitions x 2 join sides x operators), the dominant term for
        # this query's gate wall (16.3 s -> 13.1 s measured), and the
        # joined row volume at gate scale doesn't need 8 shuffle lanes
        shuffle_partitions=4,
        output_mode="append",
        watermark="10 minutes",
        # 3 micro-batches, not 4: each batch commits TWO stream-side join
        # state stores per partition, the priciest state shape under the
        # gate (31.9 s at 4 batches, and cross-batch join state is fully
        # exercised from the 2nd batch on)
        n_files=3,
    )


@query("stream_sliding_user_value_live", oracle=SLIDING_ORACLE)
def stream_sliding_user_value_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sliding-window aggregation through the REAL streaming engine
    (every event lands in two overlapping window states), same builder
    and oracle as the batch twin (mechanics in ``_run_live``)."""
    return _run_live(
        spark,
        sf_dir,
        lambda ev: sliding_agg(ev, "10 minutes", "5 minutes"),
        "t_sliding_live",
    )


@query("stream_throttle_dedup_live", oracle=THROTTLE_ORACLE)
def stream_throttle_dedup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` through the REAL streaming
    engine: per-key first-arrival dedup state, evicted by watermark.
    Only key columns are emitted, so streaming first-arrival and the
    batch DISTINCT oracle agree exactly (mechanics in ``_run_live``)."""
    return _run_live(
        spark,
        sf_dir,
        throttle_dedup,
        "t_throttle_live",
        output_mode="append",
        watermark="10 minutes",
    )


@query("stream_enrich_dim_live", oracle=ENRICH_ORACLE)
def stream_enrich_dim_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment through the REAL engine: the
    event stream joins the static customer dim (broadcast — no stream
    state at all), append mode, no watermark needed since there is no
    aggregation (mechanics in ``_run_live``)."""
    return _run_live(
        spark,
        sf_dir,
        lambda ev: enrich_with_dim(ev, table(spark, sf_dir, "customer")),
        "t_enrich_live",
        output_mode="append",
    )


@query("stream_first_occurrences_live", oracle=FIRST_OCCURRENCE_ORACLE)
def stream_first_occurrences_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM STATEFUL operator through the REAL streaming engine:
    per-user seen-type state via the arbitrary-state API
    (``first_occurrences_stream_v1`` on ``applyInPandasWithState`` — the
    engine path available without protobuf; semantics identical to the
    transformWithState processor, proven in tests/test_streaming_novelty).
    Same oracle as the batch twin, so the driver's gate hash-checks a
    user-defined stateful streaming operator end-to-end — the strongest
    streaming evidence the registry carries (mechanics in ``_run_live``)."""
    from ..streaming.novelty import first_occurrences_stream_v1

    return _run_live(
        spark,
        sf_dir,
        first_occurrences_stream_v1,
        "t_novelty_live",
        output_mode="append",
    )


def _path_live_oracle() -> str:
    from .timeseries import PATH_ORACLE

    return (
        f"SELECT user_id, micros_to_convert FROM ({PATH_ORACLE}) "
        "WHERE converted"
    )


@query("stream_path_conversions_live", oracle=_path_live_oracle())
def stream_path_conversions_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The greedy funnel automaton (``event_path_conversion``) as a
    CUSTOM STATEFUL STREAMING operator on the real engine: per-user
    (k, t0, t2) automaton state advanced across >= 4 genuine
    micro-batches, emitting an append-only row with the exact
    microsecond latency the moment a user completes
    signup -> click -> purchase (``streaming/funnel.py``; emission is
    append-safe because the greedy embedding is prefix-stable — see the
    module docstring). The oracle is the batch operator's conversions
    slice, so the gate hash-checks a second user-defined stateful
    operator end-to-end alongside the first-occurrence detector
    (mechanics in ``_run_live``)."""
    from ..streaming.funnel import path_conversions_stream_v1

    return _run_live(
        spark,
        sf_dir,
        # TTL off: _run_live drains with AvailableNow, which never
        # terminates while processing-time timers are pending (the
        # engine keeps scheduling no-data batches until they fire —
        # funnel module docstring). Continuous deployments keep the
        # default CONVERTED_STATE_TTL_MS.
        lambda ev: path_conversions_stream_v1(ev, state_ttl_ms=None),
        "t_path_live",
        output_mode="append",
    )


def _zscore_live_oracle() -> str:
    from .timeseries import ZSCORE_ORACLE

    return ZSCORE_ORACLE


@query("stream_zscore_anomalies_live", oracle=_zscore_live_oracle())
def stream_zscore_anomalies_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rolling z-score detector (``events_user_zscore_anomalies``)
    as a THIRD custom stateful streaming operator on the real engine:
    per-user ring-buffer state (the trailing ROWS frame made literal)
    advanced across >= 4 genuine micro-batches via
    ``streaming/anomaly.py``. The kernel emits exact integer baselines
    only; the IEEE z tail is the SAME Spark column expression the batch
    operator runs (``timeseries.zscore_tail``), applied after the
    memory sink — so the float path the oracle hash-checks is
    JVM-vs-DuckDB, never Python. Emission is append-only because each
    event's verdict depends only on its user's strictly-earlier events
    (prefix-stable; anomaly module docstring). Same oracle as the batch
    twin (mechanics in ``_run_live``)."""
    from ..streaming.anomaly import zscore_stream_v1
    from .timeseries import zscore_tail

    scored = _run_live(
        spark,
        sf_dir,
        zscore_stream_v1,
        "t_zscore_live",
        output_mode="append",
    )
    return zscore_tail(scored)


def _cusum_live_oracle() -> str:
    from .timeseries import CUSUM_ORACLE

    return CUSUM_ORACLE


@query("stream_cusum_alarms_live", oracle=_cusum_live_oracle())
def stream_cusum_alarms_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's CUSUM (``events_cusum_alarms``) as a FOURTH custom stateful
    streaming operator on the real engine: the textbook sequential
    recursion S = max(0, S + (x - k)) as ONE long of per-user state
    (``streaming/cusum.py``), alarm rows emitted append-only at upward
    threshold crossings (prefix-stable verdicts, like the funnel and the
    z-score twins). The batch operator computes the same statistic
    through the prefix-min window identity, so this row hash-checks the
    recursion-vs-identity equivalence THROUGH the streaming engine —
    and the whole path is exact integer arithmetic, no float anywhere
    (mechanics in ``_run_live``)."""
    from ..streaming.cusum import cusum_stream_v1

    return _run_live(
        spark,
        sf_dir,
        cusum_stream_v1,
        "t_cusum_live",
        output_mode="append",
    )


SEQ_OCCURRENCE_ORACLE = """
WITH s AS (
  SELECT user_id,
         list(event_type ORDER BY ts, event_id) AS evs,
         list(ts ORDER BY ts, event_id) AS tss,
         list(event_id ORDER BY ts, event_id) AS eids
  FROM events WHERE event_type IS NOT NULL GROUP BY user_id
)
SELECT user_id,
       tss[CAST(i AS INT) + 2] AS ts,
       CAST(eids[CAST(i AS INT) + 2] AS BIGINT) AS event_id,
       evs[CAST(i AS INT)] || '>' || evs[CAST(i AS INT) + 1]
         || '>' || evs[CAST(i AS INT) + 2] AS seq
FROM s, UNNEST(range(1, len(evs) - 1)) AS u(i)
WHERE len(evs) >= 3
"""


@query("stream_event_sequences_live", oracle=SEQ_OCCURRENCE_ORACLE)
def stream_event_sequences_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sequential-pattern primitive (``mining.frequent_event_
    sequences``) as a FIFTH custom stateful streaming operator on the
    real engine: per-user trailing-type state (exactly SEQ_K - 1 = 2
    strings) advanced across >= 4 genuine micro-batches
    (``streaming/sequences.py``), emitting each completed contiguous
    trigram the moment its final event arrives — the live feed whose
    downstream count IS the batch top-k. Emission is append-only
    because a k-gram's identity depends only on its user's
    strictly-earlier events (prefix-stable, the funnel/z-score/CUSUM
    argument). The oracle recomputes every occurrence row from the
    batch-side ordered paths, so the gate hash-checks the full
    occurrence multiset — user, final-event timestamp and id, and the
    sequence string — through the streaming engine (mechanics in
    ``_run_live``)."""
    from ..streaming.sequences import event_sequences_stream_v1

    return _run_live(
        spark,
        sf_dir,
        event_sequences_stream_v1,
        "t_seq_live",
        output_mode="append",
    )


def _ratelimit_live_oracle() -> str:
    from .timeseries import _ratelimit_oracle

    return _ratelimit_oracle()


@query("stream_rate_limit_live", oracle=_ratelimit_live_oracle())
def stream_rate_limit_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The token-bucket rate limiter (``events_rate_limit``) as a SIXTH
    custom stateful streaming operator on the real engine: per-user
    (balance, last-second) state — two longs — advanced across >= 4
    genuine micro-batches (``streaming/ratelimit.py``), emitting an
    admission verdict per event the moment it arrives. This is the op a
    streaming deployment actually runs at the ingestion edge; the batch
    twin is the replay/audit view. Emission is append-only because a
    verdict depends only on the user's strictly-earlier events
    (prefix-stable — the funnel/z-score/CUSUM/sequences argument), the
    whole fold is int64 (no float anywhere), and BOTH twins run the one
    shared kernel, so the identical recursive-CTE oracle hash-checks
    every verdict through the streaming engine (mechanics in
    ``_run_live``)."""
    from ..streaming.ratelimit import ratelimit_stream_v1

    return _run_live(
        spark,
        sf_dir,
        ratelimit_stream_v1,
        "t_ratelimit_live",
        output_mode="append",
    )


def _ratelimit_eventtime_live_oracle() -> str:
    from .timeseries import _ratelimit_eventtime_oracle

    return _ratelimit_eventtime_oracle()


@query(
    "stream_rate_limit_eventtime_live",
    oracle=_ratelimit_eventtime_live_oracle(),
)
def stream_rate_limit_eventtime_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The rate limiter's EVENT-TIME ORDERED mode through the real
    engine (VERDICT r11 #6 — the principled alternative to the pinned
    arrival-order policy): per-user events BUFFER in state until the
    watermark passes them, then fold through the same ``_fold_bucket``
    in (ts, event_id) order, so verdicts are those of the event-time
    replay REGARDLESS of arrival order — where the arrival-order twin
    charges a late event against the current balance, this mode slots
    it into its true position (or drops it if the watermark already
    flushed past — the standard late-data contract; the out-of-order
    fixture test differentiates the two kernels). Emission is
    append-only because a flushed verdict depends only on sub-watermark
    events, which are final by the same contract. The oracle is the
    identical recursive-CTE replay over exactly the sub-final-watermark
    slice (epoch_ms cutoff stated in SQL), so the gate hash-checks the
    buffering, the event-time sort, the flush boundaries, AND the fold
    through the streaming engine. On this time-ordered multi-batch feed
    nothing is dropped (range-disjoint files + the 1 s delay); the
    watermark machinery still evicts/flushes between batches — the
    timers fired are the differentiating engine path (mechanics in
    ``_run_live``)."""
    from ..streaming.ratelimit import (
        RL_EVENTTIME_DELAY,
        ratelimit_eventtime_stream,
    )

    return _run_live(
        spark,
        sf_dir,
        ratelimit_eventtime_stream,
        "t_ratelimit_et_live",
        output_mode="append",
        watermark=RL_EVENTTIME_DELAY,
    )


CHUNK_SINK_ORACLE = """
SELECT CAST(doc_id AS VARCHAR) || chr(9) || md5(text) AS line
FROM documents
"""


@query("stream_into_dfs_chunks", oracle=CHUNK_SINK_ORACLE)
def stream_into_dfs_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reverse of ``stream_dfs_chunk_tail``: a REAL streaming query
    whose SINK is the reference chunk layout
    (sources/dfs_chunks.py::_TextStreamWriter). The documents table is
    consumed as a file stream, rendered to '<doc_id>\\t<md5(text)>'
    lines, and written via ``writeStream.format("go_dfs_text")`` —
    micro-batches append newline-aligned TXT chunks with md5 sidecars
    and contiguous indices, exactly as the reference's storage node
    writes them. The emitted chunk directory is then read back with the
    batch chunk reader and the LINES are returned; the oracle reproduces
    them from the original table, so a green row proves the full
    stream-produce -> chunk-commit -> verified-read cycle lost nothing.
    Chunk/line assignment is engine-scheduling-dependent, so the result
    is the line multiset (order-insensitive, like the gate's compare);
    chunk structure itself is pinned by the writer/reader unit tests."""
    import os

    from pyspark.sql import functions as F

    from ..sources import register_dfs_sources
    from .interop import _with_scratch

    register_dfs_sources(spark)

    def build(scratch: str) -> DataFrame:
        src = os.path.join(scratch, "src")
        node = os.path.join(scratch, "node")
        ckpt = os.path.join(scratch, "ckpt")
        os.makedirs(src)
        os.makedirs(node)
        os.symlink(
            os.path.abspath(os.path.join(sf_dir, "documents.parquet")),
            os.path.join(src, "documents.parquet"),
        )
        schema = spark.read.parquet(src).schema
        lines = (
            spark.readStream.schema(schema)
            .parquet(src)
            .select(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit("\t"),
                    F.md5(F.col("text").cast("binary")),
                ).alias("line")
            )
        )
        q = (
            lines.writeStream.format("go_dfs_text")
            .option("checkpointLocation", ckpt)
            .option("file", "docs")
            .outputMode("append")
            .trigger(availableNow=True)
            .start(node)
        )
        q.awaitTermination()
        # read-back rows are id+hash lines — metadata-sized at any SF
        return spark.read.format("go_dfs_text").load(node).select("line")

    return _with_scratch(spark, "go_dfs_sink_", build)


# --------------------------------------------------------------------------
# streaming upsert-materialization (foreachBatch ping-pong state table)
# --------------------------------------------------------------------------

UPSERT_STATE_ORACLE = """
SELECT user_id, last_ts, last_event_id, last_value, n_events
FROM (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS last_ts,
         event_id AS last_event_id, value AS last_value,
         COUNT(*) OVER (PARTITION BY user_id) AS n_events,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def _upsert_hwm(state_dir: str) -> int | None:
    """Applied-batch high-water mark persisted INSIDE a state generation
    (``_applied_batch_id`` sidecar — the leading underscore keeps Spark's
    parquet reader from treating it as data, same convention as
    ``_SUCCESS``). None = dir holds no committed generation."""
    import os

    try:
        with open(os.path.join(state_dir, "_applied_batch_id")) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return None


def _upsert_live_dir(state_dirs: list[str]) -> tuple[str | None, int]:
    """The ping-pong dir holding the newest committed state generation
    (largest applied-batch mark), or (None, -1) before the first commit.
    Derived from disk, not driver memory, so a restarted driver resumes
    from the generation that was actually committed."""
    live, live_bid = None, -1
    for d in state_dirs:
        h = _upsert_hwm(d)
        if h is not None and h > live_bid:
            live, live_bid = d, h
    return live, live_bid


def _make_upsert_merge(state_dirs: list[str]):
    """Build the foreachBatch merge for the streaming upsert table.

    Replay-idempotent under foreachBatch's AT-LEAST-ONCE contract: a
    batch re-delivered after a crash between the state write and the
    checkpoint commit must NOT merge twice (n_events is a summed count —
    the merge is associative but not idempotent). Each generation
    records the batch_id that produced it; a replayed batch_id <= the
    live generation's mark is skipped — the same high-water-mark
    protocol the chunk stream sink journals (sources/dfs_chunks.py).
    foreachBatch batch ids are monotonically increasing, so one mark
    suffices. Crash INSIDE the parquet write is also safe: the write
    lands in the non-live dir and the sidecar is written last, so a
    torn generation is never the max and gets overwritten on retry."""
    import os

    from pyspark.sql import functions as F

    def _latest_struct(ts_col: str, id_col: str, val_col: str):
        return F.max_by(
            F.struct(
                F.col(ts_col).alias("last_ts"),
                F.col(id_col).alias("last_event_id"),
                F.col(val_col).alias("last_value"),
            ),
            F.struct(F.col(ts_col), F.col(id_col)),
        ).alias("s")

    def merge(batch_df, batch_id):
        live, live_bid = _upsert_live_dir(state_dirs)
        if batch_id <= live_bid:
            return  # replayed batch: already folded into the live state
        delta = (
            batch_df.groupBy("user_id")
            .agg(
                _latest_struct("ts", "event_id", "value"),
                F.count(F.lit(1)).alias("n_events"),
            )
            .select(
                "user_id", "s.last_ts", "s.last_event_id",
                "s.last_value", "n_events",
            )
        )
        if live is not None:
            old = batch_df.sparkSession.read.parquet(live)
            delta = (
                old.unionByName(delta)
                .groupBy("user_id")
                .agg(
                    _latest_struct(
                        "last_ts", "last_event_id", "last_value"
                    ),
                    F.sum("n_events").cast("long").alias("n_events"),
                )
                .select(
                    "user_id", "s.last_ts", "s.last_event_id",
                    "s.last_value", "n_events",
                )
            )
        nxt = state_dirs[1] if live == state_dirs[0] else state_dirs[0]
        delta.write.mode("overwrite").parquet(nxt)
        with open(os.path.join(nxt, "_applied_batch_id"), "w") as fh:
            fh.write(str(batch_id))

    return merge


@query("stream_upsert_latest_state", oracle=UPSERT_STATE_ORACLE)
def stream_upsert_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming UPSERT MATERIALIZATION: the real engine maintains a
    keyed state TABLE (latest event + running count per user) across
    micro-batches with ``foreachBatch`` — per batch, aggregate the delta,
    merge it against the current state table, and write the next state
    generation to the other of two ping-pong parquet dirs (read-from-A /
    write-to-B, then flip — the classic pre-lake-format pattern for
    streaming upserts onto plain parquet, and the documented reason ACID
    table formats exist: overwrite-in-place of the dir being read is not
    possible without the A/B swap). The merge is ASSOCIATIVE (max_by on a
    (ts, event_id) struct + summed counts), so batch boundaries cannot
    change the result — the oracle is the plain batch window over all
    events, and a gate-green row proves the engine-maintained table
    converged to it across >= 4 real micro-batches (in-run assertion, as
    in ``_run_live``). The merge is also REPLAY-IDEMPOTENT (see
    ``_make_upsert_merge``): each generation carries its applied
    batch_id, so foreachBatch's at-least-once redelivery cannot
    double-count — pinned by a crash-replay test in
    tests/test_streaming.py.

    Scale: state generations are |keys|-sized parquet, deltas are
    batch-sized aggregates; the merge shuffles keys once per batch. At
    warehouse scale the A/B dirs become an ACID table's MERGE INTO, with
    identical semantics (merge_upsert_orders is that batch twin)."""
    import os

    from ..streaming.windows import read_events_stream
    from .interop import _with_scratch

    n_files = 4

    def build(scratch: str) -> DataFrame:
        land, n_rows = _events_split_dir(spark, sf_dir, n_files)
        state_dirs = [os.path.join(scratch, d) for d in ("state_a", "state_b")]
        merge = _make_upsert_merge(state_dirs)

        ev = read_events_stream(
            spark, land, watermark=None,
            options={"maxFilesPerTrigger": "1", "latestFirst": "false"},
        )
        with _shuffle_partitions(spark, 8):
            q = (
                ev.writeStream.foreachBatch(merge)
                .option("checkpointLocation", os.path.join(scratch, "ck"))
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination()
        if n_rows >= n_files:
            _require_batches(q, n_files, "stream_upsert_latest_state")
        live, _ = _upsert_live_dir(state_dirs)
        return spark.read.parquet(live)

    return _with_scratch(spark, "go_dfs_upsert_", build)


# --------------------------------------------------------------------------
# streaming incremental near-dedup over a persisted, growing LSH index
# --------------------------------------------------------------------------

# the batch operator's oracle applies verbatim — see the equivalence
# argument in the docstring below
from .dedup import INCREMENTAL_ORACLE as _INC_ORACLE  # noqa: E402


# Generation-compaction knobs for the streaming incremental dedup.
# Without compaction the per-batch read set is corpus + gen_0..gen_{bid-1}
# — O(batches) parquet dirs, thousands of file listings after a month of
# micro-batches. Compaction folds generations older than the KEEP most
# recent into a VERSIONED corpus index (corpus_v{c} includes gen_0..gen_c),
# bounding every batch's read set at KEEP + 1 dirs. STEP is the
# amortization knob: folds happen every STEP batches and ingest STEP
# generations each (at gate scale STEP=1 so the 3-batch run exercises a
# fold; production raises it — each fold rewrites the corpus index once,
# so the amortized cost per generation is corpus/STEP; a multi-level LSM
# is the further extension if even that is too hot).
INC_COMPACT_KEEP = 1
INC_COMPACT_STEP = 1

# How many doc_id-ordered ingest files (= data micro-batches) the live
# incremental-dedup query splits the new-document slice into. 3 at gate
# scale (each batch still crosses a fold with KEEP=STEP=1); the
# production-grid compaction test raises it to run many batches across
# several folds at STEP>1.
INC_STREAM_N_FILES = 3


def _inc_compact_target(batch_id: int) -> int:
    """Highest corpus version (= highest folded generation) batch
    ``batch_id`` reads: the largest c <= batch_id - 1 - KEEP on the STEP
    grid ((c + 1) % STEP == 0), or -1 for the unfolded base corpus.
    A pure function of batch_id — replay recomputes the same version, so
    a re-delivered batch can never see content younger than itself."""
    c = batch_id - 1 - INC_COMPACT_KEEP
    if c < 0:
        return -1
    return c - ((c + 1) % INC_COMPACT_STEP)


def _corpus_version_dir(base: str, c: int) -> str:
    import os

    return os.path.join(base, "corpus" if c < 0 else f"corpus_v{c}")


def _ensure_fold_chain(spark, base: str, c_target: int) -> None:
    """Materialize every corpus version on the STEP grid up to c_target.
    Idempotent and replay-safe: a version dir is keyed by the generation
    range it folds, its content derives only from the previous version
    and generations <= c (all strictly older than any batch that reads
    it), and existence is checked on DISK (the _applied_batch_id sidecar
    pattern) — a crashed-and-replayed fold rewrites byte-identical data.
    Bounded DISK, not just bounded listings: superseded corpus versions
    and the generations folded into them are garbage-collected with a
    one-STEP safety margin. The margin is sufficient because streaming
    commits batches sequentially: the only batch that can ever replay is
    the newest uncommitted one, which reads c_target(bid) (just ensured)
    and the un-folded gen tail (> c_target); nothing older is ever read
    again. Without this GC, STEP=1 would retain a FULL copy of the
    corpus index per batch, the opposite scale failure of the
    directory-listing problem compaction exists to fix."""
    import os
    import re
    import shutil

    c = INC_COMPACT_STEP - 1
    while c <= c_target:
        dst = _corpus_version_dir(base, c)
        if not os.path.exists(dst):
            prev = c - INC_COMPACT_STEP
            srcs = [_corpus_version_dir(base, prev if prev >= 0 else -1)] + [
                os.path.join(base, f"gen_{i}")
                for i in range(max(prev + 1, 0), c + 1)
            ]
            spark.read.parquet(*srcs).write.parquet(dst)
        c += INC_COMPACT_STEP
    horizon = c_target - INC_COMPACT_STEP
    if horizon >= 0 and os.path.isdir(base):
        for d in os.listdir(base):
            m = re.fullmatch(r"corpus_v(\d+)", d)
            g = re.fullmatch(r"gen_(\d+)", d)
            if (m and int(m.group(1)) < horizon) or (
                g and int(g.group(1)) <= horizon
            ):
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)


def _make_inc_dedup_proc(spark, sigs_dir: str, arrs_dir: str, out_dir: str, t):
    """Build the foreachBatch callback for the streaming incremental
    dedup: match the batch against the index generations STRICTLY OLDER
    than batch_id — the compacted corpus version ``_inc_compact_target``
    names plus the un-folded tail generations — write the result slice
    and the batch's own signature/array generations keyed by batch_id.
    Module-level so the redelivery test can wrap it (calling the real
    callback twice per batch must change nothing — see the write-path
    determinism argument in ``stream_dedup_incremental_live``)."""
    import os

    from pyspark.sql import functions as F

    from .dedup import (
        _doc_band_sigs,
        _doc_shingle_arrays,
        _expand_buckets,
        _pair_overlap,
    )

    def proc(batch_df, batch_id: int) -> None:
        b_arrs = _doc_shingle_arrays(batch_df).localCheckpoint()
        b_sigs = _doc_band_sigs(b_arrs)
        c_prior = _inc_compact_target(batch_id)
        _ensure_fold_chain(spark, sigs_dir, c_prior)
        _ensure_fold_chain(spark, arrs_dir, c_prior)
        prior_sig_paths = [_corpus_version_dir(sigs_dir, c_prior)] + [
            os.path.join(sigs_dir, f"gen_{i}")
            for i in range(c_prior + 1, batch_id)
        ]
        prior_arr_paths = [_corpus_version_dir(arrs_dir, c_prior)] + [
            os.path.join(arrs_dir, f"gen_{i}")
            for i in range(c_prior + 1, batch_id)
        ]
        prior_sigs = spark.read.parquet(*prior_sig_paths)
        # index pruning BEFORE expansion: only buckets this batch
        # hashed into can name a new pair
        touched = prior_sigs.join(
            b_sigs.select("band", "sig").distinct(), ["band", "sig"],
            "leftsemi",
        )
        buckets = (
            touched.unionByName(b_sigs)
            .groupBy("band", "sig")
            .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
            .where(F.expr("size(ds) > 1"))
        )
        cands = _expand_buckets(buckets).join(
            b_arrs.select(F.col("doc_id").alias("doc_b")), "doc_b",
            "leftsemi",
        )
        arrs_all = spark.read.parquet(*prior_arr_paths).unionByName(b_arrs)
        inter = _pair_overlap(cands, arrs_all)
        jac = F.col("n") * 1.0 / (F.col("sz_a") + F.col("sz_b") - F.col("n"))
        out = inter.select(
            F.col("doc_b").alias("new_doc"),
            F.col("doc_a").alias("matched_doc"),
            F.round(jac, 6).alias("jaccard"),
            F.when(F.col("doc_a") <= F.lit(t), F.lit("corpus"))
            .otherwise(F.lit("batch"))
            .alias("matched_in"),
        )
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"gen_{batch_id}")
        )
        b_sigs.write.mode("overwrite").parquet(
            os.path.join(sigs_dir, f"gen_{batch_id}")
        )
        b_arrs.write.mode("overwrite").parquet(
            os.path.join(arrs_dir, f"gen_{batch_id}")
        )

    return proc


@query("stream_dedup_incremental_live", oracle=_INC_ORACLE)
def stream_dedup_incremental_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion near-dedup as a REAL streaming query: the new
    documents (doc_id above the incremental boundary) arrive as >= 3
    doc_id-ordered micro-batches, and ``foreachBatch`` matches each batch
    against a PERSISTED LSH index — corpus band signatures plus every
    earlier batch's — then appends the batch's own signatures as a new
    index generation. This is the production shape of
    ``dedup.dedup_incremental_new_docs`` (the standing index is read, not
    recomputed), run on the actual engine.

    Equivalence argument (why the batch operator's oracle applies
    verbatim): batches are doc_id-range splits, so "arrived earlier" ==
    "smaller doc_id". A near-dup pair (a < b, b new) is emitted exactly
    once — in b's batch — because a's signatures are in the index by then
    (corpus or earlier generation) or in the same batch's own signature
    frame, and the band/signature/verify arithmetic is shared code
    (``_doc_band_sigs`` / ``_pair_overlap``). The union over batches is
    therefore exactly the batch operator's pair set, jaccard included.

    Replay idempotence comes from WRITE-PATH DETERMINISM rather than a
    high-water mark: every per-batch artifact (result slice, index
    generation) is an overwrite keyed by batch_id with content derived
    only from the batch rows and STRICTLY OLDER generations — a
    re-delivered batch rewrites byte-identical data and cannot
    double-match, because generation bid is never an input to batch bid.

    Scale: per-batch work is the batch's collisions, not the corpus's —
    prior index rows are semi-joined down to buckets the batch touches
    before any expansion; index generations are |batch| x n_bands rows of
    parquet; the one scalar collected on the driver is the split
    boundary (1 row, fixture plumbing). The per-batch READ SET is
    bounded by generation compaction (``_inc_compact_target`` /
    ``_ensure_fold_chain``): generations older than INC_COMPACT_KEEP
    fold into a versioned corpus index, so a month of micro-batches
    still lists KEEP + STEP + 1 directories per batch, not thousands.
    The in-run assertion requires >= 3 data micro-batches, as for every
    *_live query."""
    import glob
    import os
    import time

    from pyspark.sql import functions as F

    from .dedup import (
        INC_SPLIT_DEN,
        INC_SPLIT_NUM,
        _doc_band_sigs,
        _doc_shingle_arrays,
    )
    from .interop import _with_scratch

    n_files = INC_STREAM_N_FILES

    def build(scratch: str) -> DataFrame:
        docs = table(spark, sf_dir, "documents").select("doc_id", "text")
        t = docs.agg(
            F.expr(f"(max(doc_id) * {INC_SPLIT_NUM}) div {INC_SPLIT_DEN}")
        ).collect()[0][0]

        sigs_dir = os.path.join(scratch, "index_sigs")
        arrs_dir = os.path.join(scratch, "index_arrs")
        out_dir = os.path.join(scratch, "out")
        src = os.path.join(scratch, "src")
        os.makedirs(src)

        # the standing corpus index a production pipeline would already
        # have on disk: per-doc band signatures + shingle arrays
        corpus = docs.where(F.col("doc_id") <= t)
        corpus_arrs = _doc_shingle_arrays(corpus).localCheckpoint()
        corpus_arrs.write.parquet(os.path.join(arrs_dir, "corpus"))
        _doc_band_sigs(corpus_arrs).write.parquet(
            os.path.join(sigs_dir, "corpus")
        )

        # new docs land as n_files doc_id-ordered files with increasing
        # mtimes (distributed range write; file order = id order)
        nd = docs.where(F.col("doc_id") > t)
        tmp = os.path.join(scratch, "split_tmp")
        nd.repartitionByRange(n_files, F.col("doc_id")).write.parquet(tmp)
        parts = sorted(glob.glob(os.path.join(tmp, "part-*.parquet")))
        if len(parts) != n_files:
            raise RuntimeError(
                f"range split produced {len(parts)} files, wanted {n_files}"
            )
        now = time.time()
        for i, p in enumerate(parts):
            dst = os.path.join(src, f"ingest_{i}.parquet")
            os.rename(p, dst)
            os.utime(dst, (now + i, now + i))


        proc = _make_inc_dedup_proc(spark, sigs_dir, arrs_dir, out_dir, t)

        stream = (
            spark.readStream.schema(nd.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        with _shuffle_partitions(spark, 8):
            q = (
                stream.writeStream.foreachBatch(proc)
                .option("checkpointLocation", os.path.join(scratch, "ck"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        _require_batches(q, n_files, "stream_dedup_incremental_live")
        out_schema = (
            "new_doc BIGINT, matched_doc BIGINT, jaccard DOUBLE, "
            "matched_in STRING"
        )
        # concrete dirs, not a glob: a glob path makes the batch reader
        # probe it as a streaming-sink metadata dir and log a spurious
        # FileNotFoundException warning
        slices = sorted(glob.glob(os.path.join(out_dir, "gen_*")))
        return spark.read.schema(out_schema).parquet(*slices)

    return _with_scratch(spark, "go_dfs_stream_inc_", build)
