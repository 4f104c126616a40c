"""Warehouse — the DFS command surface on a parquet warehouse directory.

Maps the reference's client commands (SURVEY.md §2.1) onto Spark + a
filesystem warehouse; chunking/replication/heartbeat/checksum machinery is
intentionally delegated to the storage layer and Spark task retry
(SURVEY.md §2.1 rows 'replicate', 'corruption repair', 'heartbeat'):

  store    <- cl/dfs_actions.go:27-288  (incl. TXT/BIN sniffing 69-74 and
              the duplicate-name rejection of cn/dfs_actions.go:17-22)
  retrieve <- cl/dfs_actions.go:297-495 (incl. the O_EXCL no-clobber
              create of cl/dfs_actions.go:305-310)
  delete   <- cl/dfs_actions.go:500-541
  ls       <- cl/dfs_actions.go:546-580 (sorted; -v adds per-file detail
              like chunk counts, cn/dfs_actions.go:183-224)
  info     <- cl/dfs_actions.go:582-627 (executor-level diagnostics)
  activity <- cl/dfs_actions.go:632-662 (cluster-level diagnostics)

Text files become line tables (`value: string`, like spark.read.text);
binary files become single-row (path, content) tables via the binaryFile
source. Both are stored as parquet, so at scale every stored file is
splittable, columnar, and checksummed — what the reference built 1,000
lines of chunk/replica machinery to approximate.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC_SPARK_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)

_TEXT_SNIFF_BYTES = 512


def _is_text(path: str) -> bool:
    """TXT/BIN sniff analog of http.DetectContentType at
    cl/dfs_actions.go:69-74: first 512 bytes decode as UTF-8 with no NULs."""
    with open(path, "rb") as fh:
        head = fh.read(_TEXT_SNIFF_BYTES)
    if b"\x00" in head:
        return False
    try:
        head.decode("utf-8")
    except UnicodeDecodeError:
        # a multibyte char split at the boundary is fine; hard errors are not
        try:
            head[: max(0, len(head) - 3)].decode("utf-8")
        except UnicodeDecodeError:
            return False
    return True


class Warehouse:
    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths -------------------------------------------------------------
    def _table_dir(self, name: str) -> str:
        if not name or "/" in name or name.startswith("."):
            raise ValueError(f"bad file name {name!r}")
        return os.path.join(self.root, name)

    def _exists(self, name: str) -> bool:
        return os.path.isdir(self._table_dir(name))

    def _ftype(self, name: str) -> str:
        with open(os.path.join(self._table_dir(name), "_FTYPE")) as fh:
            return fh.read().strip()

    # -- store -------------------------------------------------------------
    def store(
        self,
        local_path: str,
        name: str | None = None,
        chunk_mib: int | None = None,
    ) -> str:
        """Ingest a local file; rejects duplicate names like the controller
        (cn/dfs_actions.go:17-22). ``chunk_mib`` is the reference's
        client-settable chunk size (`store {path} [chunk_MiB]`,
        cl/dfs_actions.go:76-81, default 64 MiB): TXT files split into
        ~that many bytes per output part; BIN files are stored as CHUNK
        ROWS of at most that many bytes — constant memory at both store
        (streamed parquet writer, one row group per chunk) and retrieve
        (toLocalIterator over chunk rows), never one whole-blob row.
        Returns the stored name."""
        name = name or os.path.basename(local_path)
        if chunk_mib is not None and chunk_mib < 1:
            # a negative value would make the BIN path fh.read(negative)
            # (whole file in one chunk row), silently defeating the
            # chunked constant-memory contract; 0 would diverge TXT/BIN
            raise ValueError(f"chunk_mib must be >= 1, got {chunk_mib}")
        if self._exists(name):
            raise FileExistsError(f"file {name!r} already stored")
        target = self._table_dir(name)
        if _is_text(local_path):
            # Persist a per-file line_number so retrieve can ORDER BY it:
            # parquet scans do not preserve row order across part files.
            # monotonically_increasing_id is (partitionIndex << 33) | row,
            # and text splits are assigned in byte-offset order, so sorting
            # by it restores the original line order (the reference keeps
            # byte order via chunk indexes, cl/dfs_actions.go retrieve).
            df = self.spark.read.text(local_path).select(
                F.monotonically_increasing_id().alias("line_number"),
                "value",
            )
            if chunk_mib:
                n_parts = max(
                    1,
                    -(-os.path.getsize(local_path) // (chunk_mib * 1024 * 1024)),
                )
                df = df.repartition(n_parts)
            ftype = "TXT"
            with open(local_path, "rb") as fh:
                fh.seek(0, os.SEEK_END)
                if fh.tell() > 0:
                    fh.seek(-1, os.SEEK_END)
                    trailing_nl = fh.read(1) == b"\n"
                else:
                    trailing_nl = False
        else:
            # BIN: stream the file into chunk rows with a local parquet
            # writer (the client-side analog of the reference's chunked
            # upload, cl/dfs_actions.go:140-288) — one row group per
            # chunk, so Spark's scan assigns chunks to tasks by row group
            # and neither store nor retrieve ever holds the whole blob.
            import pyarrow as pa
            import pyarrow.parquet as pq

            os.makedirs(target, exist_ok=True)
            schema = pa.schema(
                [("chunk_idx", pa.int64()), ("content", pa.binary())]
            )
            chunk = (chunk_mib or 64) * 1024 * 1024
            with pq.ParquetWriter(
                os.path.join(target, "part-00000.parquet"), schema
            ) as w:
                idx = 0
                with open(local_path, "rb") as fh:
                    while True:
                        buf = fh.read(chunk)
                        if not buf:
                            break
                        w.write_table(
                            pa.table(
                                {"chunk_idx": [idx], "content": [buf]},
                                schema=schema,
                            )
                        )
                        idx += 1
            with open(os.path.join(target, "_FTYPE"), "w") as fh:
                fh.write("BIN")
            return name
        df.write.parquet(target)
        with open(os.path.join(target, "_FTYPE"), "w") as fh:
            fh.write(ftype)
        if ftype == "TXT" and not trailing_nl:
            with open(os.path.join(target, "_NO_TRAILING_NL"), "w") as fh:
                fh.write("1")
        return name

    def store_df(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        cluster_by: list[str] | None = None,
        zorder_by: tuple[str, str] | None = None,
        n_files: int | None = None,
    ) -> str:
        """Store any DataFrame as a named parquet table (the idiomatic
        path — the reference can only store raw files). ``partition_by``
        hive-partitions the table (partition pruning turns predicate scans
        into directory listings); ``cluster_by`` range-partitions and
        sorts rows so each parquet file covers a disjoint key range —
        min/max footer stats then let scans skip whole files/row-groups
        for selective predicates (the sorted-layout analog of Z-ordering
        for the single-key case); ``zorder_by`` lays rows out along a
        Morton (Z-order) curve over TWO numeric columns, so footer min/max
        ranges are tight on BOTH columns at once — the multi-column
        data-skipping layout (Delta OPTIMIZE ZORDER's shape). Each column
        is normalized to a 16-bit bucket via its min/max (two tiny agg
        scalars — the only driver action), bits interleaved into a 32-bit
        z-value, then range-partition + sort on z; everything else is
        codegen expressions."""
        if self._exists(name):
            raise FileExistsError(f"file {name!r} already stored")
        if cluster_by and zorder_by:
            raise ValueError("cluster_by and zorder_by are exclusive")
        if zorder_by:
            cx, cy = zorder_by
            for c in (cx, cy):
                if not isinstance(
                    df.schema[c].dataType, _NUMERIC_SPARK_TYPES
                ):
                    raise TypeError(
                        f"zorder_by column {c!r} must be numeric, got "
                        f"{df.schema[c].dataType.simpleString()}"
                    )
            lo_x, hi_x, lo_y, hi_y = df.agg(
                F.min(cx), F.max(cx), F.min(cy), F.max(cy)
            ).first()
            if lo_x is None or lo_y is None:
                raise ValueError(
                    "zorder_by needs at least one non-NULL row in both "
                    "columns (empty or all-NULL input)"
                )
            for col, v in ((cx, lo_x), (cx, hi_x), (cy, lo_y), (cy, hi_y)):
                # bounds are interpolated into SQL text; 'nan'/'inf'
                # literals would fail with an opaque parse error
                if isinstance(v, float) and not math.isfinite(v):
                    raise ValueError(
                        f"zorder_by column {col!r} has non-finite "
                        f"min/max ({v}); filter NaN/Infinity rows first"
                    )
            z = self._morton_expr(cx, cy, lo_x, hi_x, lo_y, hi_y)
            n = n_files or df.sparkSession.sparkContext.defaultParallelism
            df = (
                df.withColumn("__z", z)
                .repartitionByRange(n, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        if cluster_by:
            cols = [F.col(c) for c in cluster_by]
            n = n_files or df.sparkSession.sparkContext.defaultParallelism
            df = df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
        w = df.write
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._table_dir(name))
        with open(os.path.join(self._table_dir(name), "_FTYPE"), "w") as fh:
            fh.write("TABLE")
        return name

    @staticmethod
    def _morton_expr(cx, cy, lo_x, hi_x, lo_y, hi_y):
        """32-bit Morton code column: each input normalized to a 16-bit
        bucket over its [min, max] span, bits interleaved (x even, y odd).
        Pure bitwise codegen — 32 shift/mask terms, no UDF."""

        def bucket(col, lo, hi):
            span = (hi - lo) or 1
            # 16-bit bucket via double math: adequate for layout quality
            # (keys above 2^53 may collide into neighboring buckets, which
            # only softens skipping, never correctness)
            return F.expr(
                f"CAST(((CAST({col} AS DOUBLE) - {lo}) * 65535.0) / {span} AS BIGINT)"
            )

        bx = bucket(cx, lo_x, hi_x)
        by = bucket(cy, lo_y, hi_y)
        z = F.lit(0).cast("long")
        for i in range(16):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(bx, i).bitwiseAND(F.lit(1)), 2 * i)
            ).bitwiseOR(
                F.shiftleft(F.shiftright(by, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            )
        return z

    def overwrite_partitions(self, df: DataFrame, name: str) -> str:
        """Dynamic partition overwrite: replace ONLY the hive partitions
        present in ``df``, leaving every other partition untouched — the
        incremental-reload pattern (a full-table overwrite at 100 TB
        rewrites everything; this rewrites one day/source). Uses Spark's
        ``partitionOverwriteMode=dynamic`` so the set of replaced
        partitions is discovered from the data, not declared. The mode is
        a write option, not a session conf: ``df`` may belong to another
        session (a foreachBatch frame lives in the stream's clone), and
        the option reaches it while leaving every session's conf as is."""
        if not self._exists(name):
            raise FileNotFoundError(f"file {name!r} not stored")
        parts = self._partition_cols(name)
        w = df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        if parts:
            w = w.partitionBy(*parts)
        w.parquet(self._table_dir(name))
        return name

    def compact(self, name: str, target_files: int = 1) -> int:
        """Small-file compaction: rewrite a stored table into
        ``target_files`` files per partition directory (coalesce — no
        shuffle). The at-scale hygiene op for streaming/incremental sinks
        whose many small files degrade scan planning. Returns the number
        of data files after compaction."""
        if not self._exists(name):
            raise FileNotFoundError(f"file {name!r} not stored")
        d = self._table_dir(name)
        ftype = self._ftype(name)
        parts = self._partition_cols(name)
        df = self.spark.read.parquet(d)
        tmp = d + ".compact_tmp"
        w = df.coalesce(target_files).write
        if parts:
            # preserve the hive layout: target_files per partition dir
            w = w.partitionBy(*parts)
        w.parquet(tmp)
        shutil.rmtree(d)
        os.rename(tmp, d)
        with open(os.path.join(d, "_FTYPE"), "w") as fh:
            fh.write(ftype)
        return sum(
            1
            for root, _, files in os.walk(d)
            for f in files
            if f.endswith(".parquet")
        )

    def _partition_cols(self, name: str) -> list[str]:
        """Hive partition columns inferred from the on-disk layout: each
        nested dir level named ``col=value`` under the table root."""
        parts: list[str] = []
        d = self._table_dir(name)
        while True:
            subdirs = [
                s
                for s in os.listdir(d)
                if os.path.isdir(os.path.join(d, s)) and "=" in s
            ]
            if not subdirs:
                return parts
            parts.append(subdirs[0].split("=", 1)[0])
            d = os.path.join(d, subdirs[0])

    # -- retrieve ----------------------------------------------------------
    def read(self, name: str) -> DataFrame:
        if not self._exists(name):
            raise FileNotFoundError(f"file {name!r} not stored")
        return self.spark.read.parquet(self._table_dir(name))

    def retrieve(self, name: str, out_path: str) -> str:
        """Reassemble a stored file to a single local file; no-clobber like
        the O_EXCL create at cl/dfs_actions.go:305-310."""
        if os.path.exists(out_path):
            raise FileExistsError(f"{out_path} already exists")
        ftype = self._ftype(name)
        df = self.read(name)
        if ftype == "TXT":
            trailing_nl = not os.path.exists(
                os.path.join(self._table_dir(name), "_NO_TRAILING_NL")
            )
            # ORDER BY the persisted line_number — parquet scans pack splits
            # by size, so multi-part tables need an explicit ordering key.
            ordered = (
                df.orderBy("line_number") if "line_number" in df.columns else df
            )
            with open(out_path, "x", encoding="utf-8") as fh:
                # stream via toLocalIterator to avoid materializing the
                # whole file on the driver
                first = True
                for row in ordered.select("value").toLocalIterator():
                    if not first:
                        fh.write("\n")
                    fh.write(row.value)
                    first = False
                if trailing_nl and not first:
                    fh.write("\n")
        elif ftype == "BIN":
            with open(out_path, "xb") as fh:
                # deterministic chunk order + streaming: no full-result
                # collect, constant driver memory per chunk row
                if "chunk_idx" in df.columns:
                    ordered_bin = df.orderBy("chunk_idx")
                elif "path" in df.columns:  # legacy whole-blob layout
                    ordered_bin = df.orderBy("path")
                else:
                    ordered_bin = df
                for r in ordered_bin.select("content").toLocalIterator():
                    fh.write(bytes(r.content))
        else:
            raise ValueError(f"{name!r} is a TABLE; use read() not retrieve()")
        return out_path

    # -- delete / ls -------------------------------------------------------
    def delete(self, name: str) -> None:
        if not self._exists(name):
            raise FileNotFoundError(f"file {name!r} not stored")
        shutil.rmtree(self._table_dir(name))

    def ls(self, verbose: bool = False) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.root)):
            if not os.path.isdir(self._table_dir(name)):
                continue
            entry: dict = {"name": name, "type": self._ftype(name)}
            if verbose:
                d = self._table_dir(name)
                parts = [f for f in os.listdir(d) if f.endswith(".parquet")]
                entry["n_parts"] = len(parts)
                entry["bytes"] = sum(
                    os.path.getsize(os.path.join(d, f)) for f in parts
                )
            out.append(entry)
        return out

    # -- diagnostics -------------------------------------------------------
    def info(self) -> list[dict]:
        """Per-executor report — field-for-field the reference's
        per-node `info` (cn/dfs_actions.go:226-282: free space, chunks
        served, busy time since start): here each executor reports its
        task-serving counts, cumulative busy epoch (total task wall
        time), and memory capacity/usage from the app status store —
        the Spark-native soft state the reference rebuilds from
        heartbeats."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        lst = store.executorList(True)
        out = []
        for i in range(lst.size()):
            e = lst.apply(i)
            out.append(
                {
                    "executor": e.id(),
                    "served_tasks": e.completedTasks(),
                    "failed_tasks": e.failedTasks(),
                    "busy_epoch_ms": e.totalDuration(),
                    "memory_used": e.memoryUsed(),
                    "memory_max": e.maxMemory(),
                    "disk_used": e.diskUsed(),
                }
            )
        return sorted(out, key=lambda d: d["executor"])

    def activity(self) -> dict:
        """Cluster-level report (the reference's `activity`,
        cn/dfs_actions.go:287-324)."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        return {
            "active_jobs": len(tracker.getActiveJobsIds()),
            "active_stages": len(tracker.getActiveStageIds()),
            "default_parallelism": sc.defaultParallelism,
            "stored_files": len(self.ls()),
        }
