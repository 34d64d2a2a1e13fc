"""Spans, Spark job/stage counts and event-log totals for the traced run.

Every timed call in the benchmark goes through ``Tracer.span``. With
tracing off a span only reads the clock, so the untraced run pays two
``perf_counter`` calls per operation. With tracing on a span also:

- runs its Spark jobs under a job group of its own and counts the jobs
  and stages of that group with pyspark's ``sc.statusTracker()``;
- is attributed, after the run, the tasks, shuffle bytes and spill bytes
  that the local Spark event log records for that job group.

Spans are kept in memory and written out when the run ends. Job and
stage counts are exclusive: a parent span's own jobs, not its children's.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _group(self, span: Span) -> str:
        return f"{self.run_id}-{span.id}"

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, 0.0, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext
        if self.enabled:
            sc.setJobGroup(self._group(sp), name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                if parent is not None:
                    sc.setJobGroup(self._group(parent), parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                tracker = sc.statusTracker()
                for job in tracker.getJobIdsForGroup(self._group(sp)):
                    info = tracker.getJobInfo(job)
                    sp.jobs += 1
                    sp.stages += len(info.stageIds) if info is not None else 0

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def ancestors(self, span: Span) -> list[Span]:
        out = []
        while span.parent is not None:
            span = self.spans[span.parent]
            out.append(span)
        return out

    def subtree(self, span: Span) -> list[Span]:
        out, frontier = [span], [span.id]
        while frontier:
            kids = [s for s in self.spans if s.parent in frontier]
            out.extend(kids)
            frontier = [s.id for s in kids]
        return out

    def apply_event_log(self, totals: dict[str, dict[str, int]]) -> None:
        """Attribute per-job-group event-log totals to their spans."""
        for sp in self.spans:
            t = totals.get(self._group(sp))
            if t:
                sp.tasks += t["tasks"]
                sp.shuffle_bytes += t["shuffle_bytes"]
                sp.spill_bytes += t["spill_bytes"]

    def dump(self, path: str, t0: float) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                rec = {k: v for k, v in vars(sp).items() if k not in ("start", "end")}
                rec.update(run=self.run_id, start=sp.start - t0, end=sp.end - t0)
                f.write(json.dumps(rec, default=str) + "\n")


def event_log_conf(log_dir: str) -> list[str]:
    """spark-submit flags that turn on a local event log."""
    return ["--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", "spark.ui.retainedJobs=100000",
            "--conf", "spark.ui.retainedStages=100000"]


def read_event_log(log_dir: str) -> dict[str, dict[str, int]]:
    """Tasks, shuffle-written bytes and spilled bytes per job group, from
    the event log(s) in ``log_dir``. Read it after the context stopped,
    when the log is complete."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, int]] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for stage in ev.get("Stage IDs", []):
                            stage_group.setdefault(stage, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    t = totals.setdefault(group, {"tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0})
                    m = ev.get("Task Metrics") or {}
                    t["tasks"] += 1
                    t["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return totals


class BatchListener(StreamingQueryListener):
    """Counts micro-batches and keeps each one's trigger duration."""

    def __init__(self):
        self.batch_ms: list[float] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.batch_ms.append(float(event.progress.durationMs.get("triggerExecution", 0)))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def force_plan(df) -> None:
    """Run analysis, optimization and physical planning without
    executing: the later action reuses the same QueryExecution."""
    df._jdf.queryExecution().executedPlan()


def wrap_everywhere(module, name: str, wrapper) -> None:
    """Replace ``module.name`` and every other binding of the same
    function in loaded ``bq_nvd_spark`` modules, so callers that did
    ``from module import name`` at import time see the wrapper too."""
    original = getattr(module, name)
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith("bq_nvd_spark"):
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, wrapper)


def wrap_operators(tracer: Tracer) -> None:
    """Span every ``shared_stage``, ``stage_checkpoint`` and
    ``run_available_now`` call. Must run after ``bq_nvd_spark.plans`` is
    imported, so that every module holding a binding is loaded."""
    from bq_nvd_spark.operators import checkpoint
    from bq_nvd_spark.streaming import micro_batch

    shared_stage = checkpoint.shared_stage
    stage_checkpoint = checkpoint.stage_checkpoint
    run_available_now = micro_batch.run_available_now

    def traced_shared_stage(spark, key, build):
        hit = checkpoint.shared_stage_peek(spark, key) is not None
        with tracer.span("operators.shared_stage", hit=hit):
            return shared_stage(spark, key, build)

    def traced_stage_checkpoint(df, *args, **kwargs):
        with tracer.span("operators.stage_checkpoint"):
            return stage_checkpoint(df, *args, **kwargs)

    def traced_run_available_now(df, *args, **kwargs):
        with tracer.span("streaming.run_available_now"):
            return run_available_now(df, *args, **kwargs)

    wrap_everywhere(checkpoint, "shared_stage", traced_shared_stage)
    wrap_everywhere(checkpoint, "stage_checkpoint", traced_stage_checkpoint)
    wrap_everywhere(micro_batch, "run_available_now", traced_run_available_now)
