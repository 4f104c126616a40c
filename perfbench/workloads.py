"""The benchmark's workloads: the ops of one pass and how each is checked.

An op is one call sequence into the package whose result is checked.
``run`` is the timed part; ``before`` (cache reset) and ``check``
(comparison with an expectation computed before timing) are not timed.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import random
import shutil
import statistics
import time

import corpus
import expect

ROOT = expect.ROOT


def table_dir(sf: str) -> str:
    """A scale factor's directory in the package's read-only table set."""
    from go_dfs_mapreduce_spark.tables import SMOKE_SF_DIR

    return os.path.join(os.path.dirname(SMOKE_SF_DIR), sf)


# One live streaming twin rides along the DFS cycle: the windowed
# aggregate through the real micro-batch engine (state store, WAL,
# offsets). Its cost is per-batch machinery, so sf0.01 measures the same
# mechanism as sf0.1 in a third of the time.
LIVE = ["stream_tumbling_counts_live"]
LIVE_SF = "sf0.01"


class Ctx:
    def __init__(self, spark, tracer, run_dir: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.run_dir = run_dir


class QueryOp:
    """A registered query: builder call, Catalyst planning on the
    DataFrame's own QueryExecution, then ``collect`` on that same
    execution (so planning is not repeated inside the action)."""

    def __init__(self, name: str, fn, sf_dir: str) -> None:
        self.name = name
        self.fn = fn
        self.sf_dir = sf_dir
        self.want = None

    def before(self, ctx: Ctx) -> None:
        ctx.spark.catalog.clearCache()

    def run(self, ctx: Ctx):
        tr = ctx.tracer
        with tr.span("builder"):
            jobs = tr.jobs_begin()
            df = self.fn(ctx.spark, self.sf_dir)
            tr.jobs_end("operators.builder_jobs", jobs)
        with tr.span("plan"):
            df._jdf.queryExecution().executedPlan()
        with tr.span("exec"):
            token = tr.exec_begin()
            rows = df.collect()
            tr.exec_end(token)
        return df, rows

    def check(self, ctx: Ctx, result) -> str | None:
        df, rows = result
        return expect.check_query(self.want, df.columns, rows)


class QueryWorkload:
    """Registered queries at one scale factor; the seed shuffles the op
    order of every pass."""

    def __init__(self, names: list[str], sf_dir: str) -> None:
        self.names = names
        self.sf_dir = sf_dir
        self.ops: list[QueryOp] = []

    def generate(self, seed: int) -> None:
        """The inputs are the fixed table set; the seed only orders ops."""
        import __spark_entry__ as entry

        qs = entry.queries()
        self.ops = [QueryOp(n, qs[n], self.sf_dir) for n in self.names]

    def expectations(self) -> None:
        import __spark_entry__ as entry

        wants = expect.query_expectations(self.names, entry.oracle_sql(), self.sf_dir)
        for op in self.ops:
            op.want = wants[op.name]

    def prepare(self, ctx: Ctx) -> None:
        pass

    def pass_order(self, rng: random.Random) -> list:
        order = list(self.ops)
        rng.shuffle(order)
        return order

    def describe(self) -> str:
        return f"sf={os.path.basename(self.sf_dir)} ops={len(self.ops)}"

    def figures(self, latency: dict[str, list[float]]) -> dict[str, float]:
        return {}


# -- dfs_stream -----------------------------------------------------------


def _load_plugin(path: str):
    """Load a user MR plugin file (R, f_map, f_reduce) without adding it
    to ``sys.modules``, so its functions ship to workers by value."""
    spec = importlib.util.spec_from_file_location("perfbench_mr_plugin", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.R, mod.f_map, mod.f_reduce


class DfsStream:
    """The reference system's full cycle on a seeded corpus: store, export
    to the chunk layout, fsck-replicate to three nodes, two MapReduce
    jobs with streamed reducer results, retrieve, delete. The cycle's ops
    share state and run in this order every pass; the live streaming
    queries are slotted in at seeded positions."""

    N_CHUNKS = 8
    TEXT_NAME = "corpus.txt"
    LOG_NAME = "access.log"

    def __init__(self, text_bytes: int, log_bytes: int, live: QueryWorkload) -> None:
        self.text_bytes = text_bytes
        self.log_bytes = log_bytes
        self.live = live
        self.ops: list = []

    def describe(self) -> str:
        return (
            f"corpus={len(self.text) / 1e6:.2f}MB+log={len(self.log) / 1e6:.2f}MB"
            f" chunks={self.N_CHUNKS} nodes=3"
            f" live={','.join(self.live.names)}@{os.path.basename(self.live.sf_dir)}"
        )

    def generate(self, seed: int) -> None:
        """The seeded corpus and access log (part of set-up)."""
        self.text = corpus.text_corpus(seed, self.text_bytes)
        self.log = corpus.access_log(seed, self.log_bytes)
        self.live.generate(seed)

    def expectations(self) -> None:
        from go_dfs_mapreduce_spark.mapreduce import plugins

        log_rec = [(self.LOG_NAME, i, s) for i, s in enumerate(expect.text_lines(self.log))]
        la = (plugins.log_analyzer_map, plugins.log_analyzer_reduce, plugins.LOG_ANALYZER_R)
        r, f_map, f_reduce = _load_plugin(os.path.join(ROOT, "examples", "inverted_index.py"))
        self.live.expectations()
        self.cycle_ops = [
            StoreOp(self),
            ExportOp(self),
            FsckOp(self),
            MrOp(self, "mr_log_analyzer", *la, self.LOG_NAME,
                 expect.mr_expected(log_rec, *la)),
            MrOp(self, "mr_inverted_index", f_map, f_reduce, r, None, None),
            RetrieveOp(self),
            DeleteOp(self),
        ]
        self.ops = self.cycle_ops + self.live.ops

    def prepare(self, ctx: Ctx) -> None:
        from go_dfs_mapreduce_spark.sources import Warehouse, register_dfs_sources

        register_dfs_sources(ctx.spark)
        self.work = os.path.join(ctx.run_dir, "dfs")
        self.inputs = os.path.join(self.work, "inputs")
        os.makedirs(self.inputs)
        for name, data in ((self.TEXT_NAME, self.text), (self.LOG_NAME, self.log)):
            with open(os.path.join(self.inputs, name), "wb") as fh:
                fh.write(data)
        self.wh = Warehouse(ctx.spark, os.path.join(self.work, "warehouse"))
        self.nodes = [os.path.join(self.work, f"node{i}") for i in (1, 2, 3)]
        self.cycle = 0

    def pass_order(self, rng: random.Random) -> list:
        self.cycle += 1
        self.out = os.path.join(self.work, f"out{self.cycle}")
        for d in self.nodes + [self.out]:
            os.makedirs(d)
        order = list(self.cycle_ops)
        for op in self.live.pass_order(rng):
            order.insert(rng.randrange(len(order) + 1), op)
        return order

    def input_path(self, name: str) -> str:
        return os.path.join(self.inputs, name)

    def figures(self, latency: dict[str, list[float]]) -> dict[str, float]:
        """User-facing DFS/MR figures of the timed window: job submit to
        first reducer file closed, and input MB per second through
        ``Warehouse.store`` and ``Warehouse.retrieve``."""
        mb = (len(self.text) + len(self.log)) / 1e6
        first = [x for op in self.ops for x in getattr(op, "first_result_s", [])]
        return {
            "mapreduce.first_result_s": statistics.median(first),
            "warehouse.store_mb_per_s": mb / statistics.median(latency["store"]),
            "warehouse.retrieve_mb_per_s": mb / statistics.median(latency["retrieve"]),
        }


class _DfsOp:
    def __init__(self, w: DfsStream) -> None:
        self.w = w

    def before(self, ctx: Ctx) -> None:
        pass


class StoreOp(_DfsOp):
    name = "store"

    def run(self, ctx: Ctx):
        w = self.w
        with ctx.tracer.span("warehouse.store"):
            for name in (w.TEXT_NAME, w.LOG_NAME):
                w.wh.store(w.input_path(name), name)

    def check(self, ctx: Ctx, result) -> str | None:
        w = self.w
        entries = w.wh.ls(verbose=True)
        stored = {e["name"]: e["type"] for e in entries}
        if stored != {w.TEXT_NAME: "TXT", w.LOG_NAME: "TXT"}:
            return f"stored {stored}"
        ctx.tracer.add(
            "warehouse.stored_bytes_per_input_byte",
            sum(e["bytes"] for e in entries) / (len(w.text) + len(w.log)),
        )
        return None


class ExportOp(_DfsOp):
    """Warehouse TXT table -> reference chunk layout on one node, through
    the ``go_dfs_text`` writer, chunk indices in byte order."""

    name = "export"

    def run(self, ctx: Ctx):
        w = self.w
        with ctx.tracer.span("dfs_chunks.export"):
            (
                w.wh.read(w.TEXT_NAME)
                .repartitionByRange(w.N_CHUNKS, "line_number")
                .sortWithinPartitions("line_number")
                .select("value")
                .write.format("go_dfs_text")
                .option("file", w.TEXT_NAME)
                .mode("append")
                .save(w.nodes[0])
            )

    def check(self, ctx: Ctx, result) -> str | None:
        w = self.w
        data = b"".join(chunk_bytes(w.nodes[0], w.TEXT_NAME))
        return None if data == w.text else "chunk bytes differ from the corpus"


def chunk_paths(node: str, file: str) -> list[str]:
    prefix = f"{file}_t"
    idx = sorted(
        int(e[len(prefix):])
        for e in os.listdir(node)
        if e.startswith(prefix) and e[len(prefix):].isdigit()
    )
    return [os.path.join(node, f"{prefix}{i}") for i in idx]


def chunk_bytes(node: str, file: str) -> list[bytes]:
    out = []
    for p in chunk_paths(node, file):
        with open(p, "rb") as fh:
            out.append(fh.read())
    return out


class FsckOp(_DfsOp):
    name = "fsck"

    def run(self, ctx: Ctx):
        from go_dfs_mapreduce_spark.sources.dfs_chunks import fsck

        w = self.w
        with ctx.tracer.span("dfs_chunks.fsck"):
            return fsck(w.nodes, repair=True, replicas=3, spark=ctx.spark)

    def check(self, ctx: Ctx, report) -> str | None:
        w = self.w
        bad = [r for r in report if (r["healthy"], r["repaired"]) != (1, 2)]
        if not report or bad:
            return f"fsck report: {len(report)} chunks, unexpected {bad[:2]}"
        primary = chunk_bytes(w.nodes[0], w.TEXT_NAME)
        for node in w.nodes[1:]:
            if chunk_bytes(node, w.TEXT_NAME) != primary:
                return f"replica set on {os.path.basename(node)} differs"
        tr = ctx.tracer
        tr.add("dfs_chunks.chunks", len(report))
        tr.add("dfs_chunks.replicas_written", sum(r["repaired"] for r in report))
        tr.add("dfs_chunks.bytes_verified", sum(len(b) for b in primary))
        return None


class MrOp(_DfsOp):
    """``MapReduceJob.run`` then ``stream_reducer_results``. Builtin
    plugins read the warehouse table; a plugin with no precomputed
    expectation (``inverted_index``) reads the replicated chunk dirs, and
    its expectation is derived from the chunk files the export wrote."""

    def __init__(self, w, name, f_map, f_reduce, r, table, want) -> None:
        super().__init__(w)
        self.name = name
        self.f_map, self.f_reduce, self.r = f_map, f_reduce, r
        self.table = table
        self.want = want
        self._chunk_want: tuple[bytes, dict] | None = None
        self.first_result_s: list[float] = []

    def _inputs(self, ctx: Ctx):
        from pyspark.sql import functions as F

        from go_dfs_mapreduce_spark.mapreduce import read_dfs_chunks_with_line_numbers

        w = self.w
        if self.table is None:
            return read_dfs_chunks_with_line_numbers(ctx.spark, w.nodes, file=w.TEXT_NAME)
        return w.wh.read(self.table).select(
            F.lit(self.table).alias("file"),
            F.col("line_number").cast("long").alias("line_number"),
            F.col("value").alias("line"),
        )

    def run(self, ctx: Ctx):
        from go_dfs_mapreduce_spark.mapreduce import MapReduceJob
        from go_dfs_mapreduce_spark.mapreduce.results import stream_reducer_results

        tr = ctx.tracer
        out_dir = os.path.join(self.w.out, self.name)
        first: list[float] = []
        pull: list = []

        def on_complete(r_id, path):
            # serialized by the writer; one span per reducer file, from
            # the previous file's close (or the pull's start) to this close
            now = time.time()
            if tr.enabled:
                with tr.span("mapreduce.reducer_file") as s:
                    s.start = first[-1] if first else pull[0].start
            first.append(now)

        submit = time.time()
        with tr.span("mapreduce.run"):
            job = MapReduceJob(f"perfbench-{self.name}", self.f_map, self.f_reduce, r=self.r)
            result = job.run(self._inputs(ctx))
        tr.count_python_stages(result)
        with tr.span("mapreduce.pull") as s:
            pull.append(s)
            token = tr.exec_begin()
            stream_reducer_results(result, out_dir, on_complete=on_complete)
            tr.exec_end(token)
        if first:
            self.first_result_s.append(first[0] - submit)
        return out_dir

    def _expected(self) -> dict[str, bytes]:
        if self.want is not None:
            return self.want
        w = self.w
        chunks = chunk_bytes(w.nodes[0], w.TEXT_NAME)
        digest = hashlib.md5(b"\0".join(chunks)).digest()
        if self._chunk_want is None or self._chunk_want[0] != digest:
            records = [
                (f"{w.TEXT_NAME}_t{i}", n, line)
                for i, data in enumerate(chunks)
                for n, line in enumerate(expect.text_lines(data))
            ]
            self._chunk_want = (
                digest, expect.mr_expected(records, self.f_map, self.f_reduce, self.r)
            )
        return self._chunk_want[1]

    def check(self, ctx: Ctx, out_dir) -> str | None:
        got = {}
        for f in os.listdir(out_dir):
            with open(os.path.join(out_dir, f), "rb") as fh:
                got[f] = fh.read()
        want = self._expected()
        if got != want:
            diff = sorted(set(got) ^ set(want)) or [
                f for f in want if got.get(f) != want[f]
            ]
            return f"reducer files differ: {diff[:4]}"
        sizes = [len(b) for b in got.values()]
        tr = ctx.tracer
        tr.add("mapreduce.reducer_files", len(sizes))
        if tr.enabled:
            skew = max(sizes) / (sum(sizes) / len(sizes))
            tr.counters["mapreduce.reducer_skew"] = max(
                tr.counters["mapreduce.reducer_skew"], skew
            )
        shutil.rmtree(out_dir)
        return None


class RetrieveOp(_DfsOp):
    name = "retrieve"

    def run(self, ctx: Ctx):
        w = self.w
        paths = {}
        with ctx.tracer.span("warehouse.retrieve"):
            for name in (w.TEXT_NAME, w.LOG_NAME):
                paths[name] = w.wh.retrieve(name, os.path.join(w.out, "retrieved_" + name))
        return paths

    def check(self, ctx: Ctx, paths) -> str | None:
        w = self.w
        for name, data in ((w.TEXT_NAME, w.text), (w.LOG_NAME, w.log)):
            with open(paths[name], "rb") as fh:
                if fh.read() != data:
                    return f"retrieved {name} differs from the input"
        return None


class DeleteOp(_DfsOp):
    name = "delete"

    def run(self, ctx: Ctx):
        w = self.w
        with ctx.tracer.span("warehouse.delete"):
            for name in (w.TEXT_NAME, w.LOG_NAME):
                w.wh.delete(name)

    def check(self, ctx: Ctx, result) -> str | None:
        w = self.w
        left = w.wh.ls()
        for d in w.nodes + [w.out]:
            shutil.rmtree(d, ignore_errors=True)
        return f"still stored: {left}" if left else None


def make(name: str):
    """The named workload, or KeyError."""
    if name == "olap":
        import bench

        return QueryWorkload(list(bench.HEADLINE), table_dir("sf0.1"))
    if name == "dfs_stream":
        live = QueryWorkload(LIVE, table_dir(LIVE_SF))
        return DfsStream(text_bytes=500_000, log_bytes=250_000, live=live)
    raise KeyError(name)
