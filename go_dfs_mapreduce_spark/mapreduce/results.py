"""Mid-job per-reducer result pull (reference parity: the client fetches
each reducer's blob AS SOON AS that reducer finishes, not at job end —
`cl/mr_actions.go:138-219` opens one download per completed reducer while
others are still running; the storage node serves the blob from
`sn/mr_actions.go:510-544`).

The Spark-native twin exploits a plan fact of the HOT reduce paths in
``MapReduceJob._plan``: each r_id's rows live in exactly one output
partition. Where that holds, the driver pulls result partitions as
CONCURRENT single-partition jobs from a bounded thread pool and writes
every reducer file in a partition the moment that partition's job
returns. Reducers therefore EXECUTE in parallel (the reference schedules
all R reducers at once) and each blob is complete on disk in
reducer-finish order while stragglers are still running — the
reference's latency profile. Design points:

- Direct JVM serve: a DataFrame's row RDD (``javaToPython``) already
  holds rows the JVM pickled, so each pull job runs
  ``PythonRDD.runJob`` on that RDD itself and the driver unpickles the
  job-result socket (see ``_iter_partition``). No Python worker touches
  the rows on the way out: ``sc.runJob`` would wrap the RDD in a
  ``mapPartitions`` stage that sends every row JVM -> Python worker ->
  JVM -> driver and re-pickles it for nothing (measured on a 4-vCPU VM
  at local[4], the perfbench dfs_stream corpus at seed 7: the
  inverted_index pull 4.79 -> 2.65 s without that stage, median of 5
  interleaved reps in one JVM).
- Partition-explicit pulls: a plain row iterator can only detect "this
  reducer ended" by fetching the NEXT row, which would force another
  partition's reducers to run first. Sequential per-partition pulls fix
  that but serialize reducer execution (measured: a 6 s straggler in
  the first-drained partition delayed every other blob behind it); the
  bounded pool gives both properties.
- One r_id per partition comes from the plan, not from session conf;
  the pull sets no conf value, so a caller sharing the session keeps
  AQE coalescing on every other stage. Per reduce path:
  - Arrow reduce: ``repartition(R, "r_id").groupBy("r_id")
    .applyInPandas`` — R reducer partitions. A hash exchange with an
    explicit partition count (shuffle origin ``REPARTITION_BY_NUM``) is
    never coalesced by AQE, so a straggler delays only its own
    partition's blobs.
  - ``ReduceExpr`` lowerings: the plan ends in the same
    ``repartition(R, "r_id")``.
  - ``PerKeyIntSumFormat`` lowering: ends in a
    ``Window.partitionBy("r_id")`` rank, a plain r_id hash exchange that
    AQE may coalesce. Coalescing merges whole partitions, so it never
    splits an r_id: the pull stays correct and streams in coarser
    pieces. An R-way exchange before the rank made ``mr_wordcount``
    slower (sf0.1, 4-vCPU VM, local[4], 10 interleaved reps in one JVM:
    median 0.72 -> 0.75 s, slower in 7 of 10), so it is left out.
- Driver memory: each pull job STREAMS its partition's rows through the
  job-result socket and the writer appends each row to the reducer file
  as it arrives, so the PYTHON driver holds O(socket buffer) rows
  regardless of partition size or PULL_POOL. The JVM driver transiently
  unrolls each in-flight partition's serialized bytes before serving
  them (the same per-partition collect ``toLocalIterator`` does — Spark
  has no public single-partition lazy serve), so the JVM-side bound is
  PULL_POOL x max serialized partition size: at the reference's 64 MiB
  blob scale ~0.5 GB. A pool of 1 would reproduce ``toLocalIterator``'s
  memory profile while keeping finish-order writes.

The invariant is NOT guaranteed for an arbitrary result frame handed to
``stream_reducer_results`` (a round-robin repartition, or a union of
branches whose output partitionings disagree, splits one r_id across
pulled partitions). The writer detects the split at file-claim time and
FALLS BACK to the classic ordered drain (global orderBy(r_id, seq) +
toLocalIterator): every file is rewritten complete and correctly
ordered, at the cost of job-end latency — correctness never rides on
the plan shape. ``on_complete`` may re-fire for a reducer whose phase-1
file was rewritten by the fallback.

``tests/test_cli.py::test_mr_streams_reducer_files_mid_job`` proves the
mid-job behavior the hard way — a reducer that refuses to produce until
an earlier reducer's pulled file exists still completes;
``test_mr_cli_lowered_log_analyzer_streams_per_reducer`` pins that the
lowered log_analyzer takes the mid-job path with files byte-identical to
the unlowered Arrow reduce; ``test_result_pull_runs_no_python_identity_stage``
pins the direct serve; and
``tests/test_properties.py::test_streamed_pull_files_equal_ordered_drain``
pins the fallback on split plans.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor, as_completed

from pyspark.sql import DataFrame

# concurrent single-partition pull jobs; a cluster scheduler treats them
# as ordinary FIFO jobs. The pool size is flat where measured (4-vCPU VM,
# local[4], perfbench dfs_stream corpus, inverted_index run + pull over
# its R=26 reducer partitions, median of 5 interleaved reps in one JVM):
# 8 -> 1.27 s, 4 -> 1.31 s. An earlier probe on the same box found
# skipping empty result partitions flat as well (2.58 s vs 2.72 s, before
# the R-way reduce exchange), so the pool stays 8 and empty partitions
# are pulled like the rest. Also the JVM-side memory bound: at most this
# many partitions' serialized bytes are in flight at once (the Python
# side streams row-at-a-time either way).
PULL_POOL = 8


def _iter_partition(sc, rdd, p: int):
    """Lazily stream one partition's rows, served straight from the JVM:
    ``PythonRDD.runJob`` on ``rdd``'s own Java RDD for partition ``p``,
    read through the job-result socket (`_load_from_socket`) with
    ``rdd``'s deserializer. For a DataFrame's row RDD the JVM already
    pickled the rows, so no Python worker runs. This is ``sc.runJob(rdd,
    f, [p])`` minus its two costs: the ``mapPartitions(f)`` stage it
    wraps around the RDD (a Python worker round trip that re-pickles
    every row) and the trailing ``list()`` that makes it O(partition) in
    driver memory — iterating the socket keeps the pull O(buffer).
    Falls back to the materializing ``sc.runJob`` if the private helpers
    move (they are stable across pyspark 3.x/4.x; the fallback trades
    memory and the extra stage, never correctness). A moved helper shows
    up as ImportError/AttributeError; a changed JVM-side runJob SIGNATURE
    as a plain Py4JError ("method does not exist") — all pre-iteration,
    so all safely degrade to the materializing path. A GENUINE job
    failure at this synchronous call is a Py4JJavaError and must
    propagate, not re-run the failing job through the fallback."""
    from py4j.protocol import Py4JError, Py4JJavaError

    try:
        from pyspark.rdd import _load_from_socket

        sock_info = sc._jvm.PythonRDD.runJob(sc._jsc.sc(), rdd._jrdd, [p])
        return _load_from_socket(sock_info, rdd._jrdd_deserializer)
    except Py4JJavaError:
        raise
    except (ImportError, AttributeError, Py4JError):
        return iter(sc.runJob(rdd, lambda it: list(it), [p]))


class _SplitReducer(RuntimeError):
    """A reducer's rows turned up in two result partitions: the plan is
    not r_id-partitioned, so per-partition pulls cannot produce complete
    blobs — switch to the ordered fallback drain."""


def stream_reducer_results(
    result: DataFrame,
    out_dir: str,
    on_complete: Callable[[int, str], None] | None = None,
) -> list[int]:
    """Write ``result`` (DataFrame[r_id, seq, line]) as one ``r{r_id}``
    file per reducer under ``out_dir``, pulling result partitions as
    concurrent jobs and closing each reducer's file the moment its
    partition's job returns — the streamed mid-job pull.
    ``on_complete(r_id, path)`` fires at each close (serialized under a
    lock), while straggler reducers are still running. Returns reducer
    ids in completion order (reducers with no output produce no file,
    matching the reference's empty-blob behavior). If the result plan is
    not r_id-partitioned (possible for custom ``ReduceExpr`` lowerings),
    the writer detects the split and transparently redoes the drain in
    ordered job-end mode — same files, no mid-job latency win."""
    os.makedirs(out_dir, exist_ok=True)
    # narrow per-partition sort: groups become contiguous and seq-ordered
    # without an exchange, so partition-at-a-time laziness is preserved
    stream = result.sortWithinPartitions("r_id", "seq")
    sc = result.sparkSession.sparkContext
    try:
        return _drain(stream.rdd, sc, out_dir, on_complete)
    except _SplitReducer:
        return _ordered_drain(result, out_dir, on_complete)


def _drain(rdd, sc, out_dir, on_complete) -> list[int]:
    done: list[int] = []
    claimed: set[int] = set()
    lock = threading.Lock()

    def _claim(r_id: int) -> str:
        with lock:
            if r_id in claimed:
                raise _SplitReducer(r_id)
            claimed.add(r_id)
        return os.path.join(out_dir, f"r{r_id}")

    def _finish(r_id: int, path: str) -> None:
        with lock:
            done.append(r_id)
            if on_complete is not None:
                on_complete(r_id, path)

    def _pull(p: int) -> None:
        # one Spark job for ONE partition; the shuffle map output is
        # computed once and shared across all concurrent pull jobs.
        # rows is a LAZY socket stream: each row is appended to its
        # reducer file as it arrives, never a whole-partition list.
        rows = _iter_partition(sc, rdd, p)
        cur_id: int | None = None
        cur_path: str | None = None
        cur_fh = None
        try:
            for row in rows:
                if row.r_id != cur_id:
                    if cur_fh is not None:
                        cur_fh.close()
                        _finish(cur_id, cur_path)
                    cur_id = int(row.r_id)
                    cur_path = _claim(cur_id)
                    cur_fh = open(cur_path, "w")
                cur_fh.write(row.line + "\n")
            if cur_fh is not None:
                cur_fh.close()
                cur_fh = None
                _finish(cur_id, cur_path)
        finally:
            if cur_fh is not None:
                cur_fh.close()

    n = rdd.getNumPartitions()
    with ThreadPoolExecutor(max_workers=min(PULL_POOL, max(n, 1))) as pool:
        futures = [pool.submit(_pull, p) for p in range(n)]
        try:
            for f in as_completed(futures):
                f.result()  # surface pull/claim errors immediately
        except _SplitReducer:
            # stop handing out new pulls; running ones finish harmlessly
            # (the with-block joins them before the fallback rewrites)
            for fut in futures:
                fut.cancel()
            raise
    return done


def _ordered_drain(result: DataFrame, out_dir, on_complete) -> list[int]:
    """Job-end fallback for non-r_id-partitioned plans: one globally
    ordered pass, every file rewritten complete (clobbering any partial
    phase-1 files). The pre-parallel-pull writer, kept as the safety
    net."""
    done: list[int] = []
    handles: dict[int, object] = {}
    try:
        for row in result.orderBy("r_id", "seq").toLocalIterator():
            fh = handles.get(row.r_id)
            if fh is None:
                fh = open(os.path.join(out_dir, f"r{row.r_id}"), "w")
                handles[row.r_id] = fh
            fh.write(row.line + "\n")
    finally:
        for r_id, fh in sorted(handles.items()):
            fh.close()
    for r_id in sorted(handles):
        done.append(r_id)
        if on_complete is not None:
            on_complete(r_id, os.path.join(out_dir, f"r{r_id}"))
    return done
