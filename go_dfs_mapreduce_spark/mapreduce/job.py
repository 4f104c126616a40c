"""MapReduceJob — the reference's plugin MapReduce engine on Spark.

Mapping of the reference's framework operators (SURVEY.md §2.2):

- F1 scan with line numbers  -> ``read_text_with_line_numbers`` /
  caller-provided DataFrame[file, line_number, line]
- F2 source pruning          -> path list handed to ``spark.read.text``
- F3 flatMap                 -> Arrow-batched ``mapInPandas`` calling the
  Python ``f_map``; odd-length flat output repaired with the reference's
  append-"\\n" / drop-two rule (sn/mr_actions.go:218-224)
- F4 hash partition by key   -> the *parity partitioner*
  (sn/mr_actions.go:226-229) as a derived ``r_id`` column, BYTE-exact
  since round 4: first UTF-8 byte of the key, ASCII-lowercased, mod R;
  a non-ASCII lead byte follows Go's ToLower-of-invalid-slice behavior
  (U+FFFD -> byte 0xEF = 239) ('' maps to partition 0 where the
  reference would crash the mapper)
- F5/F6/F7 sort + shuffle + k-way merge -> ``repartition(R, r_id)
  .groupBy(r_id).applyInPandas`` with a byte-wise pair-unit sort inside
  the group (util/util.go:43-65 KVBufSort semantics: sort (key, value)
  units, keys before values)
- F8 partition-wide reduce   -> R reducers are R shuffle partitions
  (cn/mr_actions.go:242-249 schedules exactly R); one ``f_reduce(keys,
  values)`` call per r_id group — NOT per key; re-grouping by key is the
  plugin's job, exactly like sn/mr_actions.go:487-508
- F9 ordered result sink     -> output DataFrame[r_id, seq, line];
  ``orderBy(r_id, seq)`` reproduces the client's r0..r(R-1) concatenation
  (cl/mr_actions.go:228-245)

The reduce exchange is ``hashpartitioning(r_id, R)`` with an explicit
partition count, so AQE never coalesces it, and ``groupBy(r_id)`` reuses
that partitioning without a second exchange. Each r_id lives in exactly
one of the R partitions; the streamed result pull (results.py) writes a
reducer's file when its partition's job returns. Hash placement may put
two r_ids in one partition and leave another empty (r_id i is not pinned
to partition i as in the reference): the observable semantics are "each
r_id group is reduced as one unit, in sorted order", which the shuffle
delivers while staying Arrow-batched.

Scale note: the parity partitioner is pathologically skewed by design
(26-way split on first character of a Zipf vocabulary). It exists for
semantic parity with the reference; idiomatic pipelines should use
``groupBy(key)`` and let Spark hash-partition. AQE skew-join/partition
splitting cannot help a *semantic* 26-bucket partition, so MapReduceJob is
correctness surface, not the fast path — same stance as SURVEY.md §7.5.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MapFn = Callable[[str, int, str], list[Any]]
ReduceFn = Callable[[list[str], list[str]], list[str]]

KV_SCHEMA = T.StructType(
    [T.StructField("key", T.StringType()), T.StructField("value", T.StringType())]
)

OUT_SCHEMA = T.StructType(
    [
        T.StructField("r_id", T.IntegerType()),
        T.StructField("seq", T.IntegerType()),
        T.StructField("line", T.StringType()),
    ]
)

INPUT_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("line_number", T.LongType()),
        T.StructField("line", T.StringType()),
    ]
)


def read_text_with_line_numbers(spark: SparkSession, paths: list[str]) -> DataFrame:
    """F1: text scan producing (file, line_number, line) with 0-based
    per-file line numbers (sn/mr_actions.go:211-231 tracks them per chunk).

    One single-pass task per file through the ``local_text_lines``
    DataSource (sources/local_text.py) — no RDD scan, no zipWithIndex
    double pass. Paths may be files, directories, or globs (local
    filesystem; passed as an exact JSON list, so commas in file names
    survive). For data stored in the reference chunk layout use
    ``read_dfs_chunks_with_line_numbers`` (per-chunk parallelism)."""
    import json as _json

    from ..sources import register_dfs_sources

    register_dfs_sources(spark)
    return (
        spark.read.format("local_text_lines")
        .option("files_json", _json.dumps(list(paths)))
        .load()
    )


def read_dfs_chunks_with_line_numbers(
    spark: SparkSession, node_dirs: list[str], file: str | None = None
) -> DataFrame:
    """F1 over the reference's ON-DISK chunk layout: scan reference
    storage-node directories through the ``go_dfs_text`` source
    (sources/dfs_chunks.py) and present the exact record the reference's
    mapper hands to ``F_map`` — the CHUNK name (``<file>_t<idx>``) as
    the file field and 0-based per-chunk line numbers
    (``sn/mr_actions.go:211-231`` passes ``cn``, the chunk filename).
    One Spark partition per chunk, checksum-verified with replica
    failover — so a MapReduceJob runs unmodified over data the reference
    system stored."""
    from ..sources import register_dfs_sources

    register_dfs_sources(spark)
    reader = spark.read.format("go_dfs_text")
    if file:
        reader = reader.option("file", file)
    df = reader.load(",".join(node_dirs))
    return df.select(
        F.concat(F.col("file"), F.lit("_t"), F.col("chunk_idx")).alias("file"),
        "line_number",
        "line",
    )


class PerKeyIntSumFormat:
    """Declarative lowering spec a reduce plugin may attach to itself
    (``f_reduce.lowering = PerKeyIntSumFormat(fmt)``) when its semantics
    are exactly: per-key SUM of integer values (skipping values that fail
    integer parsing, and keys whose values all fail), then one output line
    per key in sorted key order, formatted ``fmt % (key, total)``.

    MapReduceJob recognizes the spec and lowers the reduce to a native
    ``groupBy(r_id, key).agg(sum)`` — Spark then does map-side partial
    aggregation and the 26-way parity partition no longer caps
    parallelism with a Python partition-wide sort (SURVEY.md §7.5 /
    VERDICT r1 #6). Equality with the Arrow reduce path is proven by
    tests/test_mapreduce.py::test_lowered_reduce_matches_arrow_path.
    """

    def __init__(self, fmt: str) -> None:
        self.fmt = fmt


class FlatMapExpr:
    """Declarative lowering spec a MAP plugin may attach to itself
    (``f_map.lowering = FlatMapExpr(builder)``): ``builder`` takes the
    input DataFrame[file, line_number, line] and returns
    DataFrame[key: string, value: string] using ONLY native column
    expressions (split/explode/regexp_replace/... — no Python rows).

    When present (and ``lower=True``), MapReduceJob replaces the Arrow
    ``mapInPandas`` flat-map (F3) with the builder's plan, so the whole
    map phase stays inside whole-stage codegen — the per-line Python
    call is the parity layer's dominant cost at scale. Equality with
    the Arrow path is proven per plugin by the lowered-vs-pinned
    differential tests in tests/test_mapreduce.py.
    """

    def __init__(self, builder: Callable[[DataFrame], DataFrame]) -> None:
        self.builder = builder


class ReduceExpr:
    """Declarative lowering spec for a whole REDUCE phase
    (``f_reduce.lowering = ReduceExpr(builder)``): ``builder`` takes the
    partitioned KV DataFrame[r_id, key, value] and returns the job
    output DataFrame[r_id, seq, line] using only native expressions.

    Unlike :class:`PerKeyIntSumFormat` (a fixed per-key-sum shape), this
    lets a plugin whose partition-wide reduce is expressible relationally
    (e.g. log_analyzer's tallies + per-partition top-k summary,
    example_plugins/log_analyzer/log_analyzer.go:58-135) run entirely
    JVM-side: aggregates get map-side partial aggregation and the 10-way
    parity partition no longer serializes through one pandas group per
    reducer.
    """

    def __init__(self, builder: Callable[[DataFrame], DataFrame]) -> None:
        self.builder = builder


def _normalize_pairs(emitted: list[Any]) -> list[tuple[str, str]]:
    """Accept either a flat [k, v, k, v, ...] list (the reference's wire
    shape, example_plugins/word_count/word_count.go:20-21) or a list of
    (k, v) tuples. Flat odd-length output is repaired exactly like
    sn/mr_actions.go:218-224: if the unpaired tail is "\\n" the last TWO
    elements are dropped, otherwise "\\n" is appended as the missing value
    (so the tail key still reaches the reducer, with an empty value after
    newline stripping). Trailing newlines (Go's Sprintln artifact) are
    stripped — our transport is columns, not newline-delimited text.
    """
    if not emitted:
        return []
    if isinstance(emitted[0], (tuple, list)):
        return [(str(k).rstrip("\n"), str(v).rstrip("\n")) for k, v in emitted]
    raw = [str(x) for x in emitted]
    if len(raw) % 2:
        if raw[-1] == "\n":
            raw = raw[:-2]
        else:
            raw.append("\n")
    if len(raw) % 2:
        # the Go code would index out of range here (drop-two on a 1-element
        # tail); degrade gracefully by dropping the unpairable remainder
        raw = raw[:-1]
    flat = [x.rstrip("\n") for x in raw]
    return list(zip(flat[0::2], flat[1::2]))


class MapReduceJob:
    """One MapReduce job; at most one *running* job per name, mirroring the
    cmp_manager's duplicate-job rejection (cn/mr_actions.go:56-59)."""

    _running: dict[str, "MapReduceJob"] = {}
    _lock = threading.Lock()

    def __init__(
        self,
        name: str,
        f_map: MapFn,
        f_reduce: ReduceFn,
        r: int,
        parity_partitioner: bool = True,
        lower: bool = True,
    ) -> None:
        if r < 1:
            raise ValueError("R must be >= 1")
        if not callable(f_map) or not callable(f_reduce):
            # symbol validation, as cn/mr_actions.go:146-168 does for the
            # compiled plugin's R/F_map/F_reduce exports
            raise TypeError("f_map and f_reduce must be callable")
        self.name = name
        self.f_map = f_map
        self.f_reduce = f_reduce
        self.r = r
        self.parity_partitioner = parity_partitioner
        # lower=True: use a declared algebraic lowering of the reduce when
        # the plugin advertises one (f_reduce.lowering); lower=False pins
        # the Arrow partition-wide reduce (the differential test uses it)
        self.lower = lower

    # -- F4: partition expression -----------------------------------------
    def _partition_col(self):
        if self.parity_partitioner:
            # BYTE-exact twin of sn/mr_actions.go:226-229:
            # `strings.ToLower(out[j][0:1])[0] % r` slices the first BYTE
            # (Go strings are bytes). For ASCII that is plain lowercasing;
            # for ANY byte >= 0x80 the one-byte slice is invalid UTF-8 and
            # Go's strings.Map replaces it with U+FFFD, whose first UTF-8
            # byte is 0xEF = 239 — so every non-ASCII-initial key routes
            # to partition 239 % r in the reference, NOT first-byte % r.
            b = F.conv(
                F.hex(F.substring(F.encode(F.col("key"), "utf-8"), 1, 1)),
                16,
                10,
            ).cast("int")
            # empty key -> empty binary -> conv('') is NULL; Go would
            # index out of range — route to partition 0. The NULL case
            # must precede otherwise(239), which is for REAL non-ASCII
            # lead bytes only.
            lowered = (
                F.when(b.isNull(), F.lit(0))
                .when((b >= 65) & (b <= 90), b + 32)
                .when(b <= 127, b)
                .otherwise(F.lit(239))
            )
            return F.pmod(lowered, F.lit(self.r)).cast("int")
        return F.pmod(F.hash(F.col("key")), F.lit(self.r)).cast("int")

    # -- pipeline ----------------------------------------------------------
    def run(self, input_df: DataFrame) -> DataFrame:
        """input_df: DataFrame[file: string, line_number: long, line: string].
        Returns DataFrame[r_id: int, seq: int, line: string].
        """
        with MapReduceJob._lock:
            if self.name in MapReduceJob._running:
                raise RuntimeError(f"job {self.name!r} already running")
            MapReduceJob._running[self.name] = self
        try:
            return self._plan(input_df)
        finally:
            with MapReduceJob._lock:
                MapReduceJob._running.pop(self.name, None)

    def _plan(self, input_df: DataFrame) -> DataFrame:
        f_map = self.f_map
        f_reduce = self.f_reduce

        def map_phase(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                keys: list[str] = []
                vals: list[str] = []
                for file, line_no, line in zip(
                    pdf["file"], pdf["line_number"], pdf["line"]
                ):
                    out: list[Any] = []
                    f_map(file, int(line_no), line, out)
                    for k, v in _normalize_pairs(out):
                        keys.append(k)
                        vals.append(v)
                yield pd.DataFrame({"key": keys, "value": vals})

        mspec = getattr(self.f_map, "lowering", None)
        if self.lower and isinstance(mspec, FlatMapExpr):
            # F3 lowered: the plugin's declared expression twin — pure
            # codegen, no per-line Python, no fan-out repartition needed
            # (codegen map work rides the scan's own splits).
            kv = mspec.builder(input_df).select("key", "value")
        else:
            # Mapper fan-out (F10 analog): a small single-file input
            # arrives as ONE partition, which would run the whole Python
            # map phase on one core — the reference instead spreads chunks
            # over M mapper nodes (cn/mr_actions.go:216-240). Round-robin
            # repartition to the session's parallelism; at real scale the
            # scan already has >= defaultParallelism splits and this is a
            # no-op. Only worth a shuffle when the map phase is Python.
            par = input_df.sparkSession.sparkContext.defaultParallelism
            if input_df.rdd.getNumPartitions() < par:
                input_df = input_df.repartition(par)
            kv = input_df.mapInPandas(map_phase, KV_SCHEMA)
        with_pid = kv.withColumn("r_id", self._partition_col())

        spec = getattr(self.f_reduce, "lowering", None)
        if self.lower and isinstance(spec, PerKeyIntSumFormat):
            return self._lowered_per_key_sum(with_pid, spec)
        if self.lower and isinstance(spec, ReduceExpr):
            # Re-establish the one-r_id-per-partition invariant the
            # streamed mid-job result pull rides on (results.py): an
            # arbitrary builder may UNION branches whose output
            # partitionings disagree, splitting one r_id across result
            # partitions (observed live on log_analyzer — the r14 review
            # partial). One final hash exchange on r_id over the RESULT
            # rows (output-sized, tiny next to the KV shuffle the builder
            # already did) restores it; hash partitioning may co-locate
            # several r_ids in one partition but never splits one, which
            # is exactly the invariant the pull's claim check needs.
            # Measured at gate scale: the exchange adds ~0.2 s to the
            # lowered log_analyzer CLI run and converts the pull from the
            # ordered job-end fallback to the true streamed path
            # (SCALE.md round 15).
            out = spec.builder(with_pid).select("r_id", "seq", "line")
            return out.repartition(self.r, "r_id")

        def reduce_phase(pdf: pd.DataFrame) -> pd.DataFrame:
            r_id = int(pdf["r_id"].iloc[0])
            # F5/F7: byte-wise pair-unit sort (KVBufSort semantics)
            pairs = sorted(
                zip(pdf["key"], pdf["value"]),
                key=lambda kv_: (kv_[0].encode(), kv_[1].encode()),
            )
            keys = [k for k, _ in pairs]
            vals = [v for _, v in pairs]
            out: list[str] = []
            f_reduce(keys, vals, out)
            return pd.DataFrame(
                {
                    "r_id": [r_id] * len(out),
                    "seq": list(range(len(out))),
                    "line": out,
                }
            )

        return (
            with_pid.repartition(self.r, "r_id")
            .groupBy("r_id")
            .applyInPandas(reduce_phase, OUT_SCHEMA)
        )

    def _lowered_per_key_sum(self, with_pid: DataFrame, spec: PerKeyIntSumFormat) -> DataFrame:
        """Native lowering of a ``PerKeyIntSumFormat`` reduce: the per-key
        integer sum becomes ``groupBy(r_id, key).agg(sum)`` (partial
        aggregation before the shuffle — the combiner the Python
        partition-wide reduce can never get), ``try_cast`` reproduces the
        skip-on-atoi-error rule (null values are ignored by SUM; all-null
        keys are dropped like keys that never enter the Python tally), and
        ``seq`` is the sorted-key rank the Arrow reduce emits."""
        from pyspark.sql.window import Window

        agg = (
            with_pid.groupBy("r_id", "key")
            .agg(F.sum(F.expr("try_cast(value AS BIGINT)")).alias("total"))
            .where(F.col("total").isNotNull())
        )
        w = Window.partitionBy("r_id").orderBy("key")
        return agg.select(
            "r_id",
            (F.row_number().over(w) - 1).cast("int").alias("seq"),
            F.format_string(spec.fmt, F.col("key"), F.col("total")).alias("line"),
        )
