"""Spans recorded from outside the program, joined with Spark's event log.

The benchmark wraps the public entry points of each layer on the instances it
hands to the program (``KGPipeline.stage_*``, ``TableStore.write`` /
``overwrite_partitions`` / ``promote``) and times its own calls into the
headline queries. Each call leaves a span ``(kind, name, start, end)`` in
memory. After the run, Spark's event log (JSON lines, enabled by the
benchmark through ``get_spark(extra_conf=...)``) is read back, and every
job, stage and task is attributed to the span whose wall-clock window holds
its submission or launch time. Wall-clock windows are used because job
groups set on the driver thread do not reach the pipeline's thread-pool
writes.
"""

from __future__ import annotations

import functools
import json
import math
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGE_METHODS = ("ingest", "extract", "link", "canonicalize", "materialize")


@dataclass(frozen=True)
class Span:
    kind: str
    name: str
    start: float
    end: float

    @property
    def wall(self) -> float:
        return self.end - self.start

    def holds(self, t_ms: int) -> bool:
        # event-log times are whole milliseconds of the same wall clock
        return math.floor(self.start * 1000) <= t_ms <= math.ceil(self.end * 1000)


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, kind: str, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            # list.append is atomic, so pool threads may record concurrently
            self.spans.append(Span(kind, name, t0, time.time()))

    def _wrap(self, obj, attr: str, kind: str, name_of) -> None:
        fn = getattr(obj, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(kind, name_of(args, kwargs)):
                return fn(*args, **kwargs)

        setattr(obj, attr, traced)

    def instrument(self, pipe) -> None:
        """Wrap one KGPipeline instance's stages and its TableStore. Only
        the instance changes; ``run()`` looks the stages up on it."""
        for stage in STAGE_METHODS:
            self._wrap(pipe, f"stage_{stage}", "stage", lambda a, k, s=stage: s)
        # write/overwrite_partitions(df, name, ...) and promote(src, dst)
        # all name their target table second
        def table(a, k):
            return k.get("name", k.get("dst")) or a[1]

        for method in ("write", "overwrite_partitions"):
            self._wrap(pipe.store, method, "table.write", table)
        self._wrap(pipe.store, "promote", "table.promote", table)

    def of(self, kind: str) -> list[Span]:
        return [s for s in self.spans if s.kind == kind]


@dataclass
class SparkWork:
    """Spark work attributed to one span."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


@dataclass
class EventLog:
    job_submits: list[int]  # ms
    stage_submits: list[int]  # ms
    tasks: list[dict]

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        files = sorted(os.listdir(log_dir))
        if len(files) != 1 or files[0].endswith(".inprogress"):
            raise RuntimeError(f"expected one finished event log in {log_dir}: {files}")
        jobs, stages, tasks = [], [], []
        with open(os.path.join(log_dir, files[0])) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs.append(int(ev["Submission Time"]))
                elif kind == "SparkListenerStageSubmitted":
                    t = ev["Stage Info"].get("Submission Time")
                    if t is not None:
                        stages.append(int(t))
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    tasks.append(
                        {
                            "launch": int(ev["Task Info"]["Launch Time"]),
                            "run_ms": m.get("Executor Run Time", 0),
                            "gc_ms": m.get("JVM GC Time", 0),
                            "shuffle_b": (m.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            "spill_b": m.get("Disk Bytes Spilled", 0),
                        }
                    )
        return cls(jobs, stages, tasks)

    def work(self, span: Span) -> SparkWork:
        w = SparkWork()
        w.jobs = sum(span.holds(t) for t in self.job_submits)
        w.stages = sum(span.holds(t) for t in self.stage_submits)
        for t in self.tasks:
            if span.holds(t["launch"]):
                w.tasks += 1
                w.executor_s += t["run_ms"] / 1000
                w.gc_s += t["gc_ms"] / 1000
                w.shuffle_write_mb += t["shuffle_b"] / 1e6
                w.spill_mb += t["spill_b"] / 1e6
        return w

    def unattributed_jobs(self, op: Span, parts: list[Span]) -> int:
        """Jobs submitted inside ``op`` but outside every one of ``parts``."""
        return sum(
            op.holds(t) and not any(p.holds(t) for p in parts) for t in self.job_submits
        )
