"""Per-layer tracing read from outside the package.

A span wraps one call into a layer's public function: either a call
the benchmark makes itself, or a call the program makes that ``wrap``
has routed through the tracer. Inside the span the calling thread carries a Spark job
group; when the span closes, the jobs of that group, plus the jobs of
any streaming query started inside the span (Structured Streaming runs
each query under a job group named after its run id), are read from
Spark's status store. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import itertools
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

COUNTERS = ("wall_s", "driver_s", "jobs", "tasks", "task_cpu_s", "shuffle_mb")

# Summed trigger phases (StreamingQueryProgress.durationMs), by metric name.
TRIGGER_PHASES = {
    "addBatch_ms": ("addBatch",),
    "queryPlanning_ms": ("queryPlanning",),
    "commit_ms": ("walCommit", "commitOffsets"),
    "triggerExecution_ms": ("triggerExecution",),
}


@dataclass
class Span:
    layer: str
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    task_cpu_s: float = 0.0
    shuffle_mb: float = 0.0
    write_mb: float = 0.0
    busy_s: float = 0.0  # union of this span's job intervals
    triggers: list[dict] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def driver_s(self) -> float:
        return max(0.0, self.end - self.start - self.busy_s)


class _ProgressListener(StreamingQueryListener):
    """Collects the run ids and per-trigger progress of every streaming
    query. Spark delivers these events asynchronously on its listener
    bus; ``wait_idle`` waits until every started query has reported its
    termination, which the bus posts after the query's last progress."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.progress: list[tuple[str, dict]] = []

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self.progress.append((str(p.runId), dict(p.durationMs)))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.add(str(event.runId))

    def wait_idle(self, timeout: float = 30.0) -> None:
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self._lock:
                if set(self.started) <= self.terminated:
                    return
            time.sleep(0.02)
        raise RuntimeError("streaming listener events did not drain within the timeout")


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0  # time spent reading counters after spans
        self._ids = itertools.count()
        self._active = False
        self.listener = _ProgressListener()
        spark.streams.addListener(self.listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)

    def call(self, layer: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span for ``layer`` and return its result.
        Spans do not nest: a call made inside a span is counted in that
        span, so a span's self time is its whole duration."""
        if self._active:
            return fn(*args, **kwargs)
        self._active = True
        group = f"perfbench-{next(self._ids)}-{layer}"
        span = Span(layer, time.time())
        n_streams = len(self.listener.started)
        self.sc.setJobGroup(group, layer)
        try:
            return fn(*args, **kwargs)
        finally:
            span.end = time.time()
            self._active = False
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.listener.wait_idle()
            run_ids = self.listener.started[n_streams:]
            self._read_store(span, [group, *run_ids])
            span.triggers = [d for rid, d in self.listener.progress if rid in run_ids]
            self.spans.append(span)
            self.bookkeeping_s += time.time() - span.end


    def _read_store(self, span: Span, groups: list[str]) -> None:
        tracker = self.sc.statusTracker()
        job_ids = sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})
        start_ms = span.start * 1000.0
        end_ms = span.end * 1000.0
        intervals = []
        stage_ids: set[int] = set()
        for jid in job_ids:
            job = self.store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                lo = max(start_ms, float(sub.get().getTime()))
                hi = min(end_ms, float(done.get().getTime())) if done.isDefined() else end_ms
                if hi > lo:
                    intervals.append((lo, hi))
            sids = job.stageIds()
            stage_ids |= {sids.apply(i) for i in range(sids.size())}
        span.jobs = len(job_ids)
        span.busy_s = _union_ms(intervals) / 1000.0
        for sid in sorted(stage_ids):
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that was never submitted has no attempt
                continue
            sub = st.submissionTime()
            # a shuffle stage reused from an earlier span is listed by
            # this span's jobs but ran before the span began
            if not sub.isDefined() or sub.get().getTime() < start_ms - 1:
                continue
            span.tasks += st.numCompleteTasks() + st.numFailedTasks()
            span.task_cpu_s += st.executorCpuTime() / 1e9
            span.shuffle_mb += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 1e6
            span.write_mb += st.outputBytes() / 1e6


def wrap(tracer: Tracer, owner, name: str, layer: str, *, checkpointed: bool = False) -> None:
    """Route the program's calls to ``owner.name`` (a module function or
    an instance method) through a span for ``layer``. With
    ``checkpointed``, the function returns a lazy DataFrame that its
    caller materializes with ``localCheckpoint()``; that call runs in a
    second span of the same layer, so the layer's counters hold both."""
    fn = getattr(owner, name)

    def traced(*args, **kwargs):
        out = tracer.call(layer, fn, *args, **kwargs)
        return _CheckpointInSpan(tracer, layer, out) if checkpointed else out

    setattr(owner, name, traced)


class _CheckpointInSpan:
    """A DataFrame whose ``localCheckpoint`` runs inside a span."""

    def __init__(self, tracer: Tracer, layer: str, df) -> None:
        self._tracer, self._layer, self._df = tracer, layer, df

    def localCheckpoint(self, *args, **kwargs):
        return self._tracer.call(self._layer, self._df.localCheckpoint, *args, **kwargs)

    def __getattr__(self, name):
        return getattr(self._df, name)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def op_totals(spans: list[Span]) -> dict[str, float]:
    """Per-layer sums of every counter over ``spans`` (one operation of
    a workload), keyed ``<layer>.<counter>``, plus the streaming trigger
    phases summed over every trigger in the operation."""
    out: dict[str, float] = {}
    for s in spans:
        vals = {c: getattr(s, c) for c in COUNTERS}
        vals["write_mb"] = s.write_mb
        for c, v in vals.items():
            out[f"{s.layer}.{c}"] = out.get(f"{s.layer}.{c}", 0.0) + v
    triggers = [d for s in spans for d in s.triggers]
    if triggers:
        out["streaming.trigger.count"] = float(len(triggers))
        for name, keys in TRIGGER_PHASES.items():
            out[f"streaming.trigger.{name}"] = float(sum(d.get(k, 0) for d in triggers for k in keys))
    return out
