"""Measure registered queries: per-layer profile, interleaved A/B, plan dumps.

    python tools/measure.py profile [--sf-dir D] [--reps N] (--all | NAME...)
    python tools/measure.py ab --arm NAME[:TARGET=REPL[,...]] ... [--sf-dir D]
                               [--reps N] NAME...
    python tools/measure.py plan --out-dir D --suffix S [--sf-dir D] NAME...

``profile`` warms table footers and runs each query once at
``SMOKE_SF_DIR`` (compiling its codegen classes), then per rep clears the
cache and times three layers on one DataFrame, as ``perfbench``'s
``QueryOp`` does: the builder (Spark jobs it fires, py4j commands it
sends), Catalyst planning (``executedPlan()``) and ``collect()`` (its
jobs, stages and tasks). One JSON line per query holds the medians, the
row count and ``error``; a failing query does not stop the sweep. With no
names and no ``--all`` it profiles ``bench.HEADLINE``.

``ab`` warms each arm with one build at ``--sf-dir``, then runs every arm
on each query, interleaved in one JVM, the arm order reversed every other
rep; every arm's build starts with no cached blocks and an empty memo
store. ``TARGET`` is a dotted ``module.attr``; ``REPL`` a dotted name or
``path.py:attr``, resolved before any patch is applied (so a wrapper may
capture the original). Patches hold only while their arm runs; the first
arm is the control. One JSON line per (query, arm): median and quartiles
of build + plan + collect, wins against the control (``k/n``), and
``equal`` (every rep's sorted rows match the control's).

``plan`` writes ``explain("formatted")`` of each query, with expression,
exchange and codegen ids normalised, to ``D/<name>_<S>.txt``. JSON goes
to stdout, progress to stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import re
import statistics
import sys
import time
import traceback

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from perfbench.spans import Tracer  # noqa: E402

# the tables whose footers bench.py warms before timing
_WARM_TABLES = ("region", "lineitem", "orders", "customer", "events",
                "documents", "embeddings")

# Expression ids (``#<n>``), exchange ids (``plan_id=<n>``) and codegen stage
# ids (``codegen id : <n>``) come from process-global counters or from the
# order in which a cached frame's stages finished, so a dump writes each as
# ``<n>``: two dumps of one tree are byte-identical, and a before/after pair
# differs only where the plan does.
_VOLATILE_IDS = re.compile(r"(#|plan_id=|codegen id : )\d+")


def normalise(plan: str) -> str:
    return _VOLATILE_IDS.sub(r"\1<n>", plan)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _error(ex: BaseException) -> str:
    traceback.print_exception(ex, limit=3, file=sys.stderr)
    return f"{type(ex).__name__}: {ex}".split("\n")[0][:300]


def _ms(t0: float, t1: float) -> float:
    return round((t1 - t0) * 1000, 1)


# -- patch specs -------------------------------------------------------------
def _resolve(dotted: str):
    """``(owner, attr)`` for ``module[.obj...].attr``: the longest importable
    prefix is the module, the rest is an attribute path."""
    parts = dotted.split(".")
    for i in range(len(parts) - 1, 0, -1):
        try:
            owner = importlib.import_module(".".join(parts[:i]))
        except ImportError:
            continue
        for p in parts[i:-1]:
            owner = getattr(owner, p)
        if not hasattr(owner, parts[-1]):
            raise AttributeError(f"{dotted!r}: no attribute {parts[-1]!r}")
        return owner, parts[-1]
    raise ValueError(f"{dotted!r} is not a dotted module.attr")


def _load(repl: str):
    """The object ``repl`` names: ``path.py:attr`` or a dotted name."""
    if ".py:" in repl:
        path, attr = repl.rsplit(":", 1)
        name = "measure_arm_" + re.sub(r"\W", "_", os.path.abspath(path))
        mod = sys.modules.get(name)
        if mod is None:
            spec = importlib.util.spec_from_file_location(name, path)
            mod = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(mod)
            sys.modules[name] = mod
        return getattr(mod, attr)
    return getattr(*_resolve(repl))


def parse_arm(spec: str):
    """``NAME[:TARGET=REPL[,...]]`` -> ``(name, [(owner, attr, repl), ...])``."""
    name, _, rest = spec.partition(":")
    patches = []
    for item in filter(None, rest.split(",")):
        target, eq, repl = item.partition("=")
        if not eq:
            raise ValueError(f"arm {name!r}: {item!r} is not TARGET=REPL")
        patches.append((*_resolve(target), _load(repl)))
    return name, patches


@contextlib.contextmanager
def patched(patches):
    """Apply ``(owner, attr, repl)`` patches; restore the originals on exit,
    also when the body raises."""
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in patches]
    try:
        for owner, attr, repl in patches:
            setattr(owner, attr, repl)
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


# -- counters ----------------------------------------------------------------
class Counters(Tracer):
    """perfbench's job/stage/task counting (id deltas, status-store sums),
    plus ``exec.stages`` (stages that ran tasks: ``exec_end`` adds each
    stage's tasks through ``add``) and py4j calls. No streaming listener."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._client = self._sc._gateway._gateway_client
        self.reset()

    def add(self, metric: str, value: float) -> None:
        super().add(metric, value)
        if metric == "exec.tasks" and value > 0:
            super().add("exec.stages", 1)

    @contextlib.contextmanager
    def py4j_calls(self):
        """Count the gateway client's ``send_command`` calls in the body."""
        client, count = self._client, [0]
        send = client.send_command

        def counting(*args, **kwargs):
            count[0] += 1
            return send(*args, **kwargs)

        client.send_command = counting
        try:
            yield count
        finally:
            del client.send_command


# -- subcommands -------------------------------------------------------------
def fresh(spark) -> None:
    """Drop cached blocks and the memo store: memoized plans are keyed by
    input version, not arm, so a later arm would reuse the plans an earlier
    one built and a patch on code under ``plan_memo`` would never run."""
    from go_dfs_mapreduce_spark import memo

    spark.catalog.clearCache()
    memo._STORE.clear()


def warm(spark, qs, names, sf_dir, build_dir) -> None:
    """Table footers at ``sf_dir``, then one build of each query at
    ``build_dir``, so timed reps pay no codegen compilation or first touch."""
    for t in _WARM_TABLES:
        spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).count()
    for name in names:
        try:
            qs[name](spark, build_dir).write.format("noop").mode("overwrite").save()
        except Exception as ex:  # noqa: BLE001 - the timed reps report it
            log(f"warm {name}: {_error(ex)}")


def profile_one(spark, qs, name: str, sf_dir: str, reps: int) -> dict:
    c = Counters(spark)
    fields = ("builder_ms", "builder_jobs", "py4j_calls", "plan_ms",
              "exec_ms", "exec_jobs", "exec_stages", "exec_tasks")
    samples: dict[str, list] = {f: [] for f in fields}
    rec = {"query": name, "reps": 0, "rows": None, "error": None}
    try:
        for _ in range(reps):
            spark.catalog.clearCache()
            c.reset()
            j0 = c.jobs_begin()
            with c.py4j_calls() as calls:
                t0 = time.perf_counter()
                df = qs[name](spark, sf_dir)
                t1 = time.perf_counter()
            token = c.exec_begin()
            t2 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t3 = time.perf_counter()
            rows = df.collect()
            t4 = time.perf_counter()
            c.exec_end(token)
            n = c.counters
            for f, v in zip(fields, (_ms(t0, t1), token[0] - j0, calls[0],
                                     _ms(t2, t3), _ms(t3, t4), n["exec.jobs"],
                                     n["exec.stages"], n["exec.tasks"])):
                samples[f].append(v)
            rec["reps"] += 1
            rec["rows"] = len(rows)
    except Exception as ex:  # noqa: BLE001 - one failure must not stop a sweep
        rec["error"] = _error(ex)
    for f in fields:
        rec[f] = _median(samples[f])
    return rec


def _median(xs: list[float]) -> float | None:
    return round(statistics.median(xs), 4) if xs else None


def _quartiles(xs: list[float]) -> list[float | None]:
    if len(xs) < 2:
        return [_median(xs)] * 3
    return [round(q, 4) for q in statistics.quantiles(xs, n=4, method="inclusive")]


def ab_one(spark, qs, name: str, arms, sf_dir: str, reps: int) -> list[dict]:
    """Interleaved reps of every arm on one query; ``arms[0]`` is the control."""
    times: dict[str, list[float]] = {a: [] for a, _ in arms}
    equal = {a: True for a, _ in arms}
    wins = {a: 0 for a, _ in arms}
    error = None
    try:
        for rep in range(reps):
            rows = {}
            for arm, patches in arms if rep % 2 == 0 else arms[::-1]:
                with patched(patches):
                    fresh(spark)
                    t0 = time.perf_counter()
                    df = qs[name](spark, sf_dir)
                    df._jdf.queryExecution().executedPlan()
                    got = df.collect()
                    times[arm].append(time.perf_counter() - t0)
                rows[arm] = sorted(map(repr, got))
            ctrl = arms[0][0]
            for arm, _ in arms[1:]:
                equal[arm] &= rows[arm] == rows[ctrl]
                wins[arm] += times[arm][-1] < times[ctrl][-1]
            log(f"ab {name} rep {rep + 1}/{reps}: " + " ".join(
                f"{a}={times[a][-1]:.3f}s" for a, _ in arms))
    except Exception as ex:  # noqa: BLE001 - report it with what ran
        error = _error(ex)
    out = []
    for i, (arm, _) in enumerate(arms):
        xs = times[arm]
        q1, q2, q3 = _quartiles(xs)
        out.append({
            "query": name, "arm": arm, "reps": len(xs),
            "median_s": q2, "q1_s": q1, "q3_s": q3,
            "wins": None if i == 0 else f"{wins[arm]}/{len(xs)}",
            "equal": equal[arm] if xs else None, "error": error,
        })
    return out


def dump_plan(spark, qs, name: str, sf_dir: str, out_dir: str, suffix: str) -> str:
    df = qs[name](spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    txt = df._jdf.queryExecution().explainString(mode)
    path = os.path.join(out_dir, f"{name}_{suffix}.txt")
    with open(path, "w") as f:
        f.write(normalise(txt))
    return path


def main(argv: list[str] | None = None) -> None:
    from go_dfs_mapreduce_spark.tables import DEFAULT_SF_DIR, SMOKE_SF_DIR

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("profile")
    p.add_argument("--reps", type=int, default=3)
    p.add_argument("--all", action="store_true")
    p.add_argument("names", nargs="*")
    a = sub.add_parser("ab")
    a.add_argument("--reps", type=int, default=10)
    a.add_argument("--arm", action="append", required=True)
    a.add_argument("names", nargs="+")
    d = sub.add_parser("plan")
    d.add_argument("--out-dir", required=True)
    d.add_argument("--suffix", required=True)
    d.add_argument("names", nargs="+")
    for cmd in (p, a, d):
        cmd.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    args = ap.parse_args(argv)
    if args.cmd == "profile" and args.all and args.names:
        ap.error("profile takes --all or names, not both")
    arms = [parse_arm(s) for s in args.arm] if args.cmd == "ab" else None

    import __spark_entry__ as entry
    from go_dfs_mapreduce_spark.session import get_spark

    qs = entry.queries()
    names = args.names
    if args.cmd == "profile" and not names:
        import bench

        names = list(qs) if args.all else list(bench.HEADLINE)
    if unknown := [n for n in names if n not in qs]:
        ap.error(f"not registered: {unknown}")

    spark = get_spark(f"measure_{args.cmd}")
    try:
        if args.cmd == "plan":
            os.makedirs(args.out_dir, exist_ok=True)
            for name in names:
                log("wrote " + dump_plan(spark, qs, name, args.sf_dir,
                                         args.out_dir, args.suffix))
            return
        for _, patches in arms or [("", [])]:
            with patched(patches):
                fresh(spark)
                warm(spark, qs, names, args.sf_dir,
                     args.sf_dir if arms else SMOKE_SF_DIR)
        for i, name in enumerate(names):
            recs = (ab_one(spark, qs, name, arms, args.sf_dir, args.reps) if arms
                    else [profile_one(spark, qs, name, args.sf_dir, args.reps)])
            for rec in recs:
                print(json.dumps(rec), flush=True)
            log(f"[{i + 1}/{len(names)}] {name} {recs[0]['error'] or ''}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
