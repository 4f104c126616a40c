#!/usr/bin/env python3
"""Repository benchmark: one closed-loop client driving the package.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 5 --trace 0

Workloads (see ``workloads.py``; ``layer_map.json`` says which layer
metric should move which end-to-end metric on which workload):

- ``olap``: the ten ``bench.HEADLINE`` queries at sf0.1 (execution-bound);
- ``dfs_stream``: store / chunk export / fsck replication / two MapReduce
  jobs / retrieve / delete on a seeded corpus, plus one ``_live``
  streaming twin at sf0.01 (micro-batch machinery).

The run starts Spark on ``local[min(nproc, 4)]``, computes every
correctness expectation, runs one untimed warm pass, then runs whole
passes (op order shuffled by ``--seed``) until ``--seconds`` have passed.
Every result is checked. Query workloads read the package's read-only
table set (the directory holding ``tables.SMOKE_SF_DIR``). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``, spans
and counters taken around the calls into each layer). Every path the
program writes is redirected into a per-run directory under
``.perfbench_tmp/`` that is removed at exit; DuckDB's answers for the
query ops are cached in ``.perfbench_cache/``.

The bounded times (``pass_ex_steal_s``, ``setup_s``) leave out the time
the host held the VM's CPUs (the kernel's steal time). On a shared VM
that time changes from minute to minute and, left in, sets most of the
run-to-run spread. The raw wall ``pass_s``, the steal share of the timed
window (``steal_pct``) and the speed of a fixed Python loop
(``calib_ms``, before and after the window) are printed beside them.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_CORES = 4
# the program this benchmark drives; without it the run must fail
PROGRAM_FILES = (
    "go_dfs_mapreduce_spark/__init__.py",
    "__spark_entry__.py",
    "bench.py",
    "tools/check_oracle.py",
    "examples/inverted_index.py",
)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def isolate(run_dir: str, cores: int) -> None:
    """Point every path the program writes into ``run_dir`` and make the
    package importable in Spark's Python workers from any cwd."""
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DERIVED_DIR": os.path.join(run_dir, "derived"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "spark-warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        # stream landing and checkpoint dirs come from tempfile
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYTHONDONTWRITEBYTECODE": "1",
    }
    for key in ("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_FP_MODE", "GO_DFS_MR_PULL_POOL"):
        os.environ.pop(key, None)
    for key in ("SPARK_GRAFT_DERIVED_DIR", "SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[key])
    os.environ.update(env)
    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)


def start_spark(run_dir: str, cores: int):
    from go_dfs_mapreduce_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    spark = get_spark(
        "perfbench",
        cpus=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _child_pids() -> list[int]:
    me = os.getpid()
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            out.append(int(entry))
    return out


def reap_children(timeout: float) -> None:
    """Wait for every child (and, as subreaper, every orphaned
    descendant) to exit; kill what is left after ``timeout``."""
    deadline = time.monotonic() + timeout
    killed = False
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if not killed and time.monotonic() > deadline:
            for p in _child_pids():
                os.kill(p, signal.SIGKILL)
            killed = True
        time.sleep(0.02)


def stop_spark(spark) -> None:
    """Stop Spark, end its JVM (it exits when its stdin closes) and reap
    it and the Python workers, so ``RUSAGE_CHILDREN`` covers them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    reap_children(timeout=20)


def become_subreaper() -> None:
    """Orphaned Spark workers re-parent to this process, so they can be
    waited for (Linux PR_SET_CHILD_SUBREAPER; a no-op elsewhere)."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def published_versions(base: str) -> set[str]:
    """Derived-table version dirs with a publish manifest."""
    if not os.path.isdir(base):
        return set()
    return {
        d
        for d in os.listdir(base)
        if os.path.isfile(os.path.join(base, d, "_MANIFEST.json"))
    }


TICK = os.sysconf("SC_CLK_TCK")


def cpu_steal_s() -> list[float]:
    """Seconds the host has so far held each of the VM's CPUs while it
    had work to run (the kernel's per-CPU steal time)."""
    with open("/proc/stat") as fh:
        return [
            int(line.split()[8]) / TICK
            for line in fh
            if line.startswith("cpu") and line[3].isdigit()
        ]


def stolen_since(start: list[float]) -> float:
    """Seconds since ``start`` that the host held the VM: the largest
    per-CPU steal, as a CPU that stayed busy shows all the time it was
    held and an idle one shows none."""
    return max(b - a for a, b in zip(start, cpu_steal_s()))


def calibrate_ms() -> float:
    """Median wall time of a fixed single-threaded Python loop: how fast
    the machine runs right now, printed beside every result."""
    times = []
    for _ in range(7):
        t0 = time.perf_counter()
        x = 0
        for i in range(300_000):
            x += i
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


class Window:
    """Samples of the timed window."""

    def __init__(self) -> None:
        self.latency: dict[str, list[float]] = {}
        self.ex_steal: dict[str, list[float]] = {}
        self.passes = 0
        self.attempted = 0
        self.failed = 0

    def pass_s(self) -> float:
        """Wall seconds of one full pass, as the sum of each op's median
        latency, so one op's stall does not count once per pass."""
        return sum(statistics.median(v) for v in self.latency.values())

    def pass_ex_steal_s(self) -> float:
        """``pass_s`` from op latencies less the time the host held the
        VM's CPUs while each op ran."""
        return sum(statistics.median(v) for v in self.ex_steal.values())


def run_op(ctx, op, win: Window | None) -> float:
    """One op: untimed reset, timed call, untimed check. Returns seconds."""
    op.before(ctx)
    s0 = cpu_steal_s()
    t0 = time.perf_counter()
    err = None
    with ctx.tracer.span("op", op.name):
        try:
            result = op.run(ctx)
        except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
            err = traceback.format_exc(limit=3)
    dt = time.perf_counter() - t0
    if win is not None:
        win.ex_steal.setdefault(op.name, []).append(dt - stolen_since(s0))
    if err is None:
        try:
            err = op.check(ctx, result)
        except Exception:  # noqa: BLE001
            err = traceback.format_exc(limit=3)
    if err is not None:
        log(f"FAILED {op.name}: {err}")
    if win is not None:
        win.attempted += 1
        win.failed += err is not None
        win.latency.setdefault(op.name, []).append(dt)
    elif err is not None:
        raise RuntimeError(f"warm-up op {op.name} failed")
    return dt


def declared_units(section: str) -> dict[str, str]:
    """{metric: unit} of one metric list in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def end_to_end(w, win: Window, setup_s: float, rss_mb: float):
    """The bounded end-to-end metrics, and the workload-specific figures
    that are printed beside them."""
    ops = [x for xs in win.latency.values() for x in xs]
    metrics = {
        "setup_s": setup_s,
        "pass_ex_steal_s": win.pass_ex_steal_s(),
    }
    # printed, not bounded: raw wall time follows the host's steal, and a
    # pooled median over ops of very different cost and a JVM heap
    # high-water mark swing by more than a bound could tolerate from run
    # to run. With one or two passes per run there are too few op samples
    # for any percentile above the median.
    extra = [
        f"pass_s={win.pass_s():.4f}",
        f"op_p50_s={statistics.median(ops):.4f}(n={len(ops)})",
        f"peak_rss_mb={rss_mb:.0f}",
    ]
    extra += [f"{k.split('.')[1]}={v:.4f}" for k, v in w.figures(win.latency).items()]
    extra.append(f"error_rate={win.failed / max(win.attempted, 1):.4f}")
    return metrics, extra


def per_layer(w, win: Window, tracer, derived_builds: int, cores: int):
    """Every per-layer metric, per pass of the timed window unless it is
    a ratio, a latency percentile or a run total (``derived.builds``).
    Layers a workload does not exercise read 0."""
    from spans import self_times

    n = win.passes
    c = tracer.counters
    batches = tracer.batch_spans()
    spans = tracer.spans + batches
    st = self_times(spans)

    def total(name: str) -> float:
        return st.get(name, (0.0, 0.0, 0))[0]

    prog = tracer.progress
    trig = [p.durationMs.get("triggerExecution", 0) / 1e3 for p in prog]

    def dur(key: str) -> float:
        return sum(p.durationMs.get(key, 0) for p in prog) / 1e3

    last_state: dict[str, int] = {}
    for p in prog:
        last_state[p.runId] = sum(s.numRowsTotal for s in p.stateOperators)
    stream_builders = {b.parent for b in batches}
    outside = sum(
        (s.end - s.start) for s in tracer.spans if s.sid in stream_builders
    ) - sum(trig)
    exec_s = total("exec") + total("mapreduce.pull")
    m = {
        "operators.builder_s": total("builder") / n,
        "operators.builder_jobs": c["operators.builder_jobs"] / n,
        "plans.plan_s": total("plan") / n,
        "exec.exec_s": exec_s / n,
        "exec.jobs": c["exec.jobs"] / n,
        "exec.tasks": c["exec.tasks"] / n,
        "exec.task_s": c["exec.task_s"] / n,
        "exec.gc_s": c["exec.gc_s"] / n,
        "exec.input_bytes": c["exec.input_bytes"] / n,
        "exec.shuffle_write_bytes": c["exec.shuffle_write_bytes"] / n,
        "exec.shuffle_read_bytes": c["exec.shuffle_read_bytes"] / n,
        "exec.core_util": c["exec.task_s"] / (exec_s * cores) if exec_s else 0.0,
        "streaming.batches": len(prog) / n,
        "streaming.trigger_s": sum(trig) / n,
        "streaming.add_batch_s": dur("addBatch") / n,
        "streaming.query_planning_s": dur("queryPlanning") / n,
        "streaming.log_commit_s": (dur("walCommit") + dur("commitOffsets")) / n,
        "streaming.state_commit_s": sum(
            s.commitTimeMs for p in prog for s in p.stateOperators
        ) / 1e3 / n,
        "streaming.state_rows": sum(last_state.values()) / n,
        "streaming.outside_trigger_s": outside / n if prog else 0.0,
        "streaming.batch_p50_s": statistics.median(trig) if trig else 0.0,
        "warehouse.store_s": total("warehouse.store") / n,
        "warehouse.retrieve_s": total("warehouse.retrieve") / n,
        "warehouse.stored_bytes_per_input_byte": c["warehouse.stored_bytes_per_input_byte"] / n,
        "warehouse.store_mb_per_s": 0.0,
        "warehouse.retrieve_mb_per_s": 0.0,
        "dfs_chunks.export_s": total("dfs_chunks.export") / n,
        "dfs_chunks.fsck_s": total("dfs_chunks.fsck") / n,
        "dfs_chunks.chunks": c["dfs_chunks.chunks"] / n,
        "dfs_chunks.replicas_written": c["dfs_chunks.replicas_written"] / n,
        "dfs_chunks.bytes_verified": c["dfs_chunks.bytes_verified"] / n,
        "mapreduce.run_s": total("mapreduce.run") / n,
        "mapreduce.pull_s": total("mapreduce.pull") / n,
        "mapreduce.reducer_files": c["mapreduce.reducer_files"] / n,
        "mapreduce.reducer_skew": c["mapreduce.reducer_skew"],
        "mapreduce.python_stages": c["mapreduce.python_stages"] / n,
        "mapreduce.first_result_s": 0.0,
        "derived.builds": float(derived_builds),
        "trace.pass_ex_steal_s": win.pass_ex_steal_s(),
        "trace.overhead_s": tracer.overhead_s / n,
        "trace.unattributed_s": st.get("op", (0.0, 0.0, 0))[1] / n,
    }
    m.update(w.figures(win.latency))
    table = "\n".join(
        f"  {name:<24} total/pass {tot / n:9.4f} s  self/pass {slf / n:9.4f} s  n={cnt}"
        for name, (tot, slf, cnt) in sorted(st.items())
    )
    return m, table, spans


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [f for f in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        log(f"program files missing under {ROOT}: {missing}")
        return 2
    steal_start = cpu_steal_s()
    sys.path.insert(0, HERE)
    cores = min(len(os.sched_getaffinity(0)), MAX_CORES)
    run_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(run_root, exist_ok=True)
    run_dir = os.path.join(run_root, f"run-{os.getpid()}-{int(T_START * 1e3)}")
    os.makedirs(run_dir)
    spark = None
    try:
        isolate(run_dir, cores)
        become_subreaper()
        import workloads

        try:
            w = workloads.make(args.workload)
        except KeyError:
            log(f"unknown workload {args.workload!r}")
            return 2
        w.generate(args.seed)
        t0, o0 = time.time(), cpu_steal_s()
        w.expectations()
        oracle_s, o1 = time.time() - t0, cpu_steal_s()

        spark = start_spark(run_dir, cores)
        from spans import NullTracer, Tracer, span_records

        tracer = Tracer(spark) if args.trace else NullTracer()
        ctx = workloads.Ctx(spark, tracer, run_dir)
        w.prepare(ctx)
        rng = random.Random(args.seed)
        # warm pass: fills codegen, JIT, memos, derived tables
        warm = {op.name: run_op(ctx, op, None) for op in w.pass_order(rng)}
        warm_s = sum(warm.values())
        for op in w.ops:
            getattr(op, "first_result_s", []).clear()
        derived_dir = os.environ["SPARK_GRAFT_DERIVED_DIR"]
        derived_before = published_versions(derived_dir)
        if args.trace:
            tracer.drain_listener_bus()
            tracer.reset()
        # set-up time: wall from process start, less the oracle and less
        # the time the host held the VM outside the oracle
        held = max(
            (b - a) - (y - x) for a, b, x, y in zip(steal_start, cpu_steal_s(), o0, o1)
        )
        setup_s = time.time() - T_START - oracle_s - held

        # a full collection now keeps the warm pass's garbage out of the window
        spark._jvm.System.gc()
        win = Window()
        steal0, calib = sum(cpu_steal_s()), [calibrate_ms()]
        t_end = time.monotonic() + args.seconds
        while True:
            for op in w.pass_order(rng):
                run_op(ctx, op, win)
            win.passes += 1
            if time.monotonic() >= t_end:
                break
        window_s = time.monotonic() - t_end + args.seconds
        steal_pct = 100 * (sum(cpu_steal_s()) - steal0) / (window_s * os.cpu_count())
        calib.append(calibrate_ms())
        derived_builds = len(published_versions(derived_dir) - derived_before)
        if args.trace:
            tracer.drain_listener_bus()
            tracer.close(spark)
        stop_spark(spark)
        spark = None
        rss_kb = (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
            + resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
        )

        head = (
            f"workload={args.workload} seed={args.seed} cores={cores} {w.describe()}"
            f" passes={win.passes} ops={win.attempted} failed={win.failed}"
            f" oracle_s={oracle_s:.2f} warm_pass_s={warm_s:.2f}"
            f" steal_pct={steal_pct:.1f} calib_ms={calib[0]:.1f},{calib[1]:.1f}"
        )
        if args.trace:
            values, table, spans = per_layer(w, win, tracer, derived_builds, cores)
            log("layer self time (traced run):\n" + table)
            log("spans: " + json.dumps(span_records(spans)))
        else:
            values, extra = end_to_end(w, win, setup_s, rss_kb / 1024)
            head += " " + " ".join(extra)
        units = declared_units("per_layer" if args.trace else "end_to_end")
        metrics = {k: (values[k], u) for k, u in units.items()}
        log("warm pass op latencies s: " + json.dumps(warm))
        log("op latencies s: " + json.dumps(win.latency))
        print(f"perfbench {head}")
        print(
            "perfbench "
            + " ".join(f"{k}={v:.6g}{u if u != 'count' else ''}" for k, (v, u) in metrics.items())
            + f" (local[{cores}])"
        )
        print(
            json.dumps(
                {
                    "correct": win.failed == 0,
                    "attempted": win.attempted,
                    "failed": win.failed,
                    "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                }
            ),
            flush=True,
        )
        return 0
    finally:
        if spark is not None:
            try:
                stop_spark(spark)
            except Exception:  # noqa: BLE001 - best effort on the error path
                reap_children(timeout=5)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(run_root)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
