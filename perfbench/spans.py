"""Tracing for the traced run: spans around calls into the package's
public layers, plus exact counters read at the same boundaries.

Everything is recorded from outside the package. Spans are held in
memory and emitted when the run ends. ``NullTracer`` is the untraced
run's stand-in: the same calls, no clock reads, no JVM round trips.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import time
from collections import defaultdict

# (metric, StageData getter, scale): task totals summed over the stages
# an action ran
_STAGE_FIELDS = (
    ("exec.tasks", "numCompleteTasks", 1),
    ("exec.task_s", "executorRunTime", 1e-3),
    ("exec.gc_s", "jvmGcTime", 1e-3),
    ("exec.input_bytes", "inputBytes", 1),
    ("exec.shuffle_read_bytes", "shuffleReadBytes", 1),
    ("exec.shuffle_write_bytes", "shuffleWriteBytes", 1),
)


class NullTracer:
    enabled = False

    def span(self, name: str, op: str | None = None):
        return contextlib.nullcontext()

    def add(self, metric: str, value: float) -> None:
        pass

    def jobs_begin(self):
        return None

    def jobs_end(self, metric: str, token) -> None:
        pass

    def exec_begin(self):
        return None

    def exec_end(self, token) -> None:
        pass

    def count_python_stages(self, df) -> None:
        pass


class Span:
    __slots__ = ("name", "start", "end", "parent", "op", "sid")

    def __init__(self, sid, name, start, parent, op):
        self.sid, self.name, self.start, self.parent, self.op = (
            sid, name, start, parent, op,
        )
        self.end = start


class Tracer:
    """Spans and counters for one run. ``reset`` drops what the warm-up
    recorded, so every number covers only the timed window. Time spent in
    the tracer's own JVM reads is summed as ``overhead_s``."""

    enabled = True

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self.reset()

        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                tracer.progress.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Progress()
        spark.streams.addListener(self._listener)

    def reset(self) -> None:
        self.spans: list[Span] = []
        self.progress: list = []
        self.counters: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0
        self._stack: list[Span] = []

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            len(self.spans), name, time.time(),
            parent.sid if parent else None,
            op if op is not None else (parent.op if parent else None),
        )
        self.spans.append(s)
        self._stack.append(s)
        if op is not None:
            self._timed(lambda: self._sc.setJobGroup(f"perfbench:{op}", name))
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def add(self, metric: str, value: float) -> None:
        self.counters[metric] += value

    # -- counters read from the JVM ---------------------------------------
    def _timed(self, fn):
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.overhead_s += time.perf_counter() - t0

    def _next_ids(self) -> tuple[int, int]:
        # job and stage ids are sequential per application: the delta
        # across a call is exactly what it fired, from any thread
        def read():
            dag = self._jsc.dagScheduler()
            return int(dag.nextJobId()), int(dag.nextStageId())

        return self._timed(read)

    def jobs_begin(self):
        return self._next_ids()[0]

    def jobs_end(self, metric: str, token) -> None:
        self.add(metric, self._next_ids()[0] - token)

    def exec_begin(self):
        return self._next_ids()

    def exec_end(self, token) -> None:
        from py4j.protocol import Py4JJavaError

        (job0, stage0), (job1, stage1) = token, self._next_ids()
        self.add("exec.jobs", job1 - job0)

        def read():
            # the status store is fed from the listener bus
            self._jsc.listenerBus().waitUntilEmpty()
            store = self._jsc.statusStore()
            for sid in range(stage0, stage1):
                try:
                    stage = store.lastStageAttempt(sid)
                except Py4JJavaError:  # planned but never submitted
                    continue
                for metric, getter, scale in _STAGE_FIELDS:
                    self.add(metric, getattr(stage, getter)() * scale)

        self._timed(read)

    def count_python_stages(self, df) -> None:
        """``mapreduce.python_stages``: Python-evaluated nodes (pandas/Arrow
        UDF operators) in ``df``'s physical plan. Planning ``df`` is work
        the untraced run does not do, so its time counts as overhead."""

        def read():
            n = 0
            for line in df._jdf.queryExecution().executedPlan().toString().splitlines():
                node = line.lstrip(" :+-*()0123456789").split(" ", 1)[0]
                if "Python" in node or "Pandas" in node or "InArrow" in node:
                    n += 1
            return n

        self.add("mapreduce.python_stages", self._timed(read))

    # -- streaming ---------------------------------------------------------
    def drain_listener_bus(self) -> None:
        """Block until every posted listener event (streaming progress
        included) has been delivered."""
        self._timed(lambda: self._jsc.listenerBus().waitUntilEmpty())

    def batch_spans(self) -> list[Span]:
        """One ``stream.batch`` span per micro-batch progress event,
        parented to the innermost harness span that was open when the
        batch started."""
        out = []
        for p in self.progress:
            start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            t0 = start.timestamp()
            dur = p.durationMs.get("triggerExecution", 0) / 1e3
            holder = None
            for s in self.spans:
                if s.start <= t0 <= s.end and (holder is None or s.start >= holder.start):
                    holder = s
            b = Span(
                len(self.spans) + len(out), "stream.batch", t0,
                holder.sid if holder else None, holder.op if holder else None,
            )
            b.end = t0 + dur
            out.append(b)
        return out

    def close(self, spark) -> None:
        spark.streams.removeListener(self._listener)


def self_times(spans: list[Span]) -> dict[str, tuple[float, float, int]]:
    """{span name: (total s, self s, count)}; self time is a span's
    duration minus the part of it its child spans cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[str, list[float]] = defaultdict(lambda: [0.0, 0.0, 0])
    for s in spans:
        dur = s.end - s.start
        covered = 0.0
        edge = s.start
        for c in sorted(children[s.sid], key=lambda c: c.start):
            lo, hi = max(c.start, edge), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                edge = hi
        agg = out[s.name]
        agg[0] += dur
        agg[1] += dur - covered
        agg[2] += 1
    return {k: (v[0], v[1], int(v[2])) for k, v in out.items()}


def span_records(spans: list[Span]) -> list[dict]:
    return [
        {
            "id": s.sid, "name": s.name, "start": s.start, "end": s.end,
            "parent": s.parent, "op": s.op,
        }
        for s in spans
    ]
