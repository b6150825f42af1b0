"""Spans for the traced benchmark run, and the Spark metrics behind them.

Spans sit only in the benchmark's own code, around its calls into the
program's layers.  Each span runs its Spark jobs under a job group of
its own, so after a pass the jobs, stages and SQL executions that Spark
keeps in its status store can be rolled up per span.  The status store
is populated with ``spark.ui.enabled=false`` too, which is how the
program's sessions are built.

With tracing off, ``Tracer.span`` only yields: no job group is set and
nothing is read back, so the untraced run times the program alone.
"""

from __future__ import annotations

import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PYTHON_METRICS = ("data sent to Python workers", "data returned from Python workers")
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)")
_PLAN_METRIC_RE = re.compile(r"SQLPlanMetric\(([^,]*),(\d+),(\w+)\)")
_JOB_ID_RE = re.compile(r"(\d+) ->")


@dataclass
class Span:
    name: str
    group: str
    start: float
    end: float

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class SparkTotals:
    """Spark work done under a set of job groups."""

    jobs: int = 0
    run_ms: float = 0.0          # executor run time summed over tasks
    shuffle_bytes: int = 0       # shuffle bytes written
    spill_bytes: int = 0         # bytes spilled to disk
    python_bytes: int = 0        # bytes sent to and returned from Python workers
    task_skew: float = 0.0       # max / median task time of the busiest stage
    stage_ms: dict[int, float] = field(default_factory=dict)

    def add(self, other: SparkTotals) -> None:
        self.jobs += other.jobs
        self.run_ms += other.run_ms
        self.shuffle_bytes += other.shuffle_bytes
        self.spill_bytes += other.spill_bytes
        self.python_bytes += other.python_bytes
        self.stage_ms.update(other.stage_ms)


def sum_totals(totals: dict[str, SparkTotals], spans: list[Span]) -> SparkTotals:
    t = SparkTotals()
    for g in {s.group for s in spans}:
        t.add(totals[g])
    return t


def parse_size(text: str) -> int:
    """Bytes from a formatted SQL size metric: either ``"3.4 KiB"`` or
    ``"total (min, med, max ...)\\n554.1 KiB (68.8 KiB, ...)"``; the
    first size after the optional header is the total."""
    body = text.split("\n", 1)[-1]
    m = _SIZE_RE.search(body)
    return int(float(m.group(1)) * _SIZE_UNITS[m.group(2)]) if m else 0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._seq = 0

    def new_group(self, name: str) -> str:
        """Start a job group; Spark jobs launched from this thread from
        now on belong to it."""
        self._seq += 1
        group = f"perfbench-{self._seq}"
        self.sc.setJobGroup(group, name, False)
        return group

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def add(self, name: str, group: str, start: float, end: float) -> None:
        self.spans.append(Span(name, group, start, end))

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        outer = self.sc.getLocalProperty("spark.jobGroup.id")
        group = self.new_group(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.add(name, group, t0, time.perf_counter())
            if outer is None:
                self.clear_group()
            else:
                self.sc.setJobGroup(outer, outer, False)

    def reset(self) -> None:
        self.spans = []

    # --- read back from Spark's status store ---
    def totals(self, spans: list[Span]) -> dict[str, SparkTotals]:
        """Spark work per job group of ``spans``.  A stage shared by jobs
        of several groups counts once, for the first job that ran it."""
        groups = {s.group for s in spans}
        out = {g: SparkTotals() for g in groups}
        store = self.sc._jsc.sc().statusStore()
        job_group: dict[int, str] = {}
        stage_group: dict[int, str] = {}
        jobs = []
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            g = j.jobGroup()
            if g.isDefined() and g.get() in groups:
                jobs.append((j.jobId(), g.get(), j.stageIds()))
        for job_id, g, sids in sorted(jobs, key=lambda x: x[0]):
            job_group[job_id] = g
            out[g].jobs += 1
            for i in range(sids.size()):
                stage_group.setdefault(sids.apply(i), g)
        for sid, g in stage_group.items():
            s = store.lastStageAttempt(sid)
            if s.status().toString() == "SKIPPED":
                continue
            t = out[g]
            t.run_ms += s.executorRunTime()
            t.shuffle_bytes += s.shuffleWriteBytes()
            t.spill_bytes += s.diskBytesSpilled()
            t.stage_ms[sid] = s.executorRunTime()
        for g, t in out.items():
            if t.stage_ms:
                busiest = max(t.stage_ms, key=t.stage_ms.get)
                t.task_skew = self._skew(store, busiest)
        self._python_bytes(job_group, out)
        return out

    def _skew(self, store, stage_id: int) -> float:
        s = store.lastStageAttempt(stage_id)
        tasks = store.taskList(stage_id, s.attemptId(), 1 << 20)
        times = []
        for i in range(tasks.size()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                times.append(m.get().executorRunTime())
        med = statistics.median(times) if times else 0
        return max(times) / med if med > 0 else 1.0

    def _python_bytes(self, job_group: dict[int, str], out: dict[str, SparkTotals]) -> None:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            job_ids = [int(x) for x in _JOB_ID_RE.findall(e.jobs().toString())]
            g = next((job_group[j] for j in job_ids if j in job_group), None)
            if g is None:
                continue
            acc_ids = [int(acc) for name, acc, _ in _PLAN_METRIC_RE.findall(e.metrics().toString())
                       if name in PYTHON_METRICS]
            if not acc_ids:
                continue
            values = sql.executionMetrics(e.executionId())
            for acc in acc_ids:
                v = values.get(acc)
                if v.isDefined():
                    out[g].python_bytes += parse_size(v.get())


class TracedStorage:
    """Checkpoint storage that times every call into the ParquetStorage
    it wraps.

    The pipeline builds a stage lazily (or eagerly, for signatures and
    clusters) just before it calls ``write``, so the interval from the
    end of one storage call to the end of the next is that call's
    stage: a stage span covers its build and its write, and the Spark
    jobs of the interval run under the span's job group.

    Every other attribute is the wrapped storage's own: ``pipeline.run``
    engages the signature cache and writes ``report.json`` only when the
    storage has ``root`` and ``run_dir``, so without this the traced run
    would measure a different program."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer
        self._t_open = time.perf_counter()
        self._group = tracer.new_group("storage")

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def close_interval(self, label: str) -> None:
        now = time.perf_counter()
        self._tracer.add(label, self._group, self._t_open, now)
        self._group = self._tracer.new_group("storage")
        self._t_open = now

    def is_complete(self, stage: str) -> bool:
        done = self._inner.is_complete(stage)
        self.close_interval(f"is_complete:{stage}")
        return done

    def read(self, spark, stage: str):
        df = self._inner.read(spark, stage)
        self.close_interval(f"read:{stage}")
        return df

    def write(self, df, stage: str, extra: dict | None = None, t_start: float | None = None):
        out = self._inner.write(df, stage, extra=extra, t_start=t_start)
        self.close_interval(f"write:{stage}")
        return out
