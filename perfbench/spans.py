"""Outside-in tracing: spans around calls into the engine's public
functions, with Spark metrics read from the in-process status store.

A span is (name, start, end, parent, op_id).  Spans are kept in memory
and written out once at the end of a run.  Nothing here reaches inside
``lexicator_spark``: jobs are attributed to a span by time window
(stage submission time inside [start, end]), not by job group, because
``run_pipeline`` and ``refresh_pipeline`` launch jobs from plain
``ThreadPoolExecutor`` threads that do not inherit the caller's group.
Only one client runs at a time, so windows never overlap.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

MB = 1e6


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: str | None
    op_id: int
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def _opt_ms(opt) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch milliseconds."""
    return float(opt.get().getTime()) if opt.isDefined() else None


class StatusStore:
    """Reads stage and job rows from ``sc.statusStore()`` (works with
    ``spark.ui.enabled=false``).  Scala ``Seq`` results are read with
    ``.length()`` / ``.apply(i)``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        # spans are sequential, so a stage attributed to one span is never
        # looked at again: skip everything at or below the last one seen
        self._floor = -1

    def _darray(self, values):
        arr = self.sc._gateway.new_array(self.jvm.double, len(values))
        for i, v in enumerate(values):
            arr[i] = v
        return arr

    def stages(self, t0_ms: float, t1_ms: float) -> list[dict]:
        empty = self.jvm.java.util.ArrayList()
        seq = self.store.stageList(empty, False, False, self._darray([]), empty)
        out = []
        for i in range(seq.length()):
            s = seq.apply(i)
            if s.stageId() <= self._floor:
                continue
            sub = _opt_ms(s.submissionTime())
            if sub is None or not (t0_ms <= sub <= t1_ms):
                continue
            out.append(
                {
                    "stage_id": s.stageId(),
                    "attempt": s.attemptId(),
                    "run_ms": s.executorRunTime(),
                    "cpu_ns": s.executorCpuTime(),
                    "gc_ms": s.jvmGcTime(),
                    "shuffle_bytes": s.shuffleReadBytes() + s.shuffleWriteBytes(),
                    "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    "output_bytes": s.outputBytes(),
                    "output_records": s.outputRecords(),
                    "num_tasks": s.numTasks(),
                    "submitted_ms": sub,
                }
            )
        self._floor = max([self._floor] + [s["stage_id"] for s in out])
        return out

    def job_intervals(self, t0_ms: float, t1_ms: float) -> list[tuple[float, float]]:
        seq = self.store.jobsList(self.jvm.java.util.ArrayList())
        out = []
        for i in range(seq.length()):
            j = seq.apply(i)
            sub = _opt_ms(j.submissionTime())
            if sub is None or sub > t1_ms:
                continue
            end = _opt_ms(j.completionTime()) or t1_ms
            if end < t0_ms:
                continue
            out.append((max(sub, t0_ms), min(end, t1_ms)))
        return out

    def work(self, windows: list[tuple[float, float]]) -> list[dict]:
        """Spark jobs, tasks, and shuffle and output megabytes of the jobs
        and stages submitted inside each ``(t0_ms, t1_ms)`` window."""
        seq = self.store.jobsList(self.jvm.java.util.ArrayList())
        jobs = [_opt_ms(seq.apply(i).submissionTime()) for i in range(seq.length())]
        stages = self.stages(min(w[0] for w in windows), max(w[1] for w in windows))
        out = []
        for t0, t1 in windows:
            inside = [s for s in stages if t0 <= s["submitted_ms"] <= t1]
            out.append({
                "jobs": sum(1 for t in jobs if t is not None and t0 <= t <= t1),
                "tasks": sum(s["num_tasks"] for s in inside),
                "shuffle_mb": sum(s["shuffle_bytes"] for s in inside) / MB,
                "written_mb": sum(s["output_bytes"] for s in inside) / MB,
            })
        return out

    def task_skew(self, stage: dict) -> float:
        """max / median task run time of one stage."""
        q = self.store.taskSummary(
            stage["stage_id"], stage["attempt"], self._darray([0.5, 1.0])
        )
        if not q.isDefined():
            return 1.0
        run = q.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / med if med > 0 else 1.0


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Collects spans; with ``enabled=False`` ``span`` only times, so
    untraced operations run the same code path without reading the
    status store."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.store = StatusStore(spark) if enabled else None
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, op_id: int, record: bool = True):
        """Time a call; keep it as a span only when tracing is on and
        ``record`` is set (the untraced side of an A/B is not kept)."""
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.time()
        rec = Span(name, start, start, parent, op_id)
        try:
            yield rec
        finally:
            rec.end = time.time()
            self._stack.pop()
            if self.enabled and record:
                self.spans.append(rec)

    def child(self, name: str, parent: Span, wall_s: float) -> None:
        """A child span known only by its duration (e.g. from the
        ``_lineage`` rows an engine call wrote)."""
        if self.enabled:
            self.spans.append(
                Span(name, parent.start, parent.start + wall_s, parent.name, parent.op_id)
            )

    def spark_metrics(self, span: Span) -> dict:
        """Spark-side metrics of every stage submitted inside the span."""
        t0, t1 = span.start * 1000.0, span.end * 1000.0 + 1.0
        stages = self.store.stages(t0, t1)
        busy_s = _union_len(self.store.job_intervals(t0, t1)) / 1000.0
        slowest = max(stages, key=lambda s: s["run_ms"], default=None)
        m = {
            "wall_s": span.wall_s,
            "driver_s": max(0.0, span.wall_s - busy_s),
            "exec_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
            "gc_s": sum(s["gc_ms"] for s in stages) / 1000.0,
            "shuffle_mb": sum(s["shuffle_bytes"] for s in stages) / MB,
            "spill_mb": sum(s["spill_bytes"] for s in stages) / MB,
            "task_skew": self.store.task_skew(slowest) if slowest else 1.0,
            "output_mb": sum(s["output_bytes"] for s in stages) / MB,
            "output_records": sum(s["output_records"] for s in stages),
            "n_stages": len(stages),
        }
        span.attrs.update(m)
        return m

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)

