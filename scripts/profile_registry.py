"""Profile registered queries, cold then warm, with the benchmark's tracer.

    python scripts/profile_registry.py [name ...] > PROFILE_FULL.json

With no names it profiles every query in the registry. Each query runs
twice on the committed sf0.01 tables (``perfbench/data/sf0.01``):

- ``cold``: after ``release_shared_stages`` and
  ``release_stage_checkpoints``, so every shared stage it uses is built;
- ``warm``: again right after, with the shared-stage memo kept.

Every run goes through ``perfbench.registry_pass._run_query`` under its
own ``Tracer`` and is summed up by ``registry_pass.per_layer``, so each
figure carries the benchmark's own name (``plans.build_jobs``,
``plans.exec_jobs``, ``plans.exec_stages``, ``plans.tasks``,
``operators.shared_stage_builds`` ...). The session is launched as a
``perfbench/run.py --trace 1`` run is: same environment, event log and
warm-up. A streaming query's record also holds the per-key median of
its micro-batches' ``durationMs`` (``triggerExecution``, ``addBatch``,
``queryPlanning``, ``walCommit`` ...). A query that raises is recorded
with its error and the pass goes on.

Standard output is one JSON document; Spark's log goes to standard
error.

Blind spot: a stream runs its micro-batches on the stream's own
threads, which do not inherit the span's job group. The jobs of a
streaming drain are therefore missing from ``plans.build_jobs`` (e.g.
``streaming_dedup_keys`` reads 0 there); its ``streaming.run_s`` and
``durationMs`` medians still hold its time.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bq_nvd_spark.operators.checkpoint import (  # noqa: E402
    release_shared_stages,
    release_stage_checkpoints,
)
from bq_nvd_spark.plans import QUERIES  # noqa: E402
from bq_nvd_spark.session import get_spark  # noqa: E402
from perfbench.registry_pass import SF_DIR, _run_query, per_layer  # noqa: E402
from perfbench.run import _configure_env  # noqa: E402
from perfbench.sessions import stop, warm_up  # noqa: E402
from perfbench.stats import median  # noqa: E402
from perfbench.tracing import (  # noqa: E402
    BatchListener,
    Tracer,
    read_event_log,
    wrap_operators,
)

# A stream that never reports its termination is not waited on longer.
STREAM_WAIT_S = 30.0


class DurationListener(BatchListener):
    """Also keeps each micro-batch's whole ``durationMs`` dict and counts
    terminated streams."""

    def __init__(self):
        super().__init__()
        self.durations: list[dict] = []
        self.terminated = 0

    def onQueryProgress(self, event):
        super().onQueryProgress(event)
        self.durations.append(dict(event.progress.durationMs))

    def onQueryTerminated(self, event):
        self.terminated += 1


class CurrentTracer:
    """``wrap_operators`` binds its tracer once; this one forwards each
    span to the tracer of the run in progress."""

    tracer = None

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)


def profile_run(ctx, listener, current, name: str) -> dict:
    """One traced run of query ``name``; its figures are filled in after
    the event log is read."""
    current.tracer = ctx.tracer = Tracer(ctx.spark, f"{name}-{ctx.kind}", enabled=True)
    n_batches, n_terminated = len(listener.durations), listener.terminated
    rec = {}
    with ctx.tracer.span("plans.pass"):
        try:
            seconds, _, _, rows = _run_query(ctx, QUERIES[name], name)
            rec.update(wall_s=seconds, rows=len(rows))
        except Exception as exc:  # noqa: BLE001 — a failed query is a result
            rec["error"] = f"{type(exc).__name__}: {exc}"[:2000]
    # Listener events arrive asynchronously: wait until every stream this
    # run started has reported its end before its batches are counted.
    streams = len(ctx.tracer.named("streaming.run_available_now"))
    deadline = time.monotonic() + STREAM_WAIT_S
    while listener.terminated - n_terminated < streams and time.monotonic() < deadline:
        time.sleep(0.05)
    rec["batches"] = listener.durations[n_batches:]
    return rec


def figures(ctx, rec: dict) -> dict:
    batches = rec.pop("batches")
    ctx.batch_ms = [float(d.get("triggerExecution", 0)) for d in batches]
    rec.update(per_layer(ctx))
    if batches:
        keys = sorted({k for d in batches for k in d})
        rec["streaming.duration_ms_p50"] = {
            k: median([float(d[k]) for d in batches if k in d]) for k in keys}
    return rec


def main(argv: list[str]) -> int:
    work_dir = tempfile.mkdtemp(prefix="profile-registry-")
    try:
        log_dir = _configure_env(work_dir, traced=True)
        unknown = [n for n in argv if n not in QUERIES]
        if unknown:
            print(f"not registered: {unknown}", file=sys.stderr)
            return 2
        names = argv or list(QUERIES)

        spark = get_spark(app_name="profile-registry")
        runs = []
        try:
            warm_up(spark)
            listener, current = DurationListener(), CurrentTracer()
            spark.streams.addListener(listener)
            wrap_operators(current)
            for i, name in enumerate(names, 1):
                print(f"[{i}/{len(names)}] {name}", file=sys.stderr)
                release_shared_stages(spark)
                release_stage_checkpoints(spark)
                for kind in ("cold", "warm"):
                    ctx = SimpleNamespace(spark=spark, traced=True, kind=kind)
                    runs.append((name, ctx, profile_run(ctx, listener, current, name)))
        finally:
            stop(spark)

        totals = read_event_log(log_dir)
        queries: dict[str, dict] = {}
        for name, ctx, rec in runs:
            ctx.tracer.apply_event_log(totals)
            queries.setdefault(name, {})[ctx.kind] = figures(ctx, rec)
        json.dump({"sf_dir": os.path.relpath(SF_DIR, ROOT),
                   "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
                   "queries": queries}, sys.stdout, indent=1, sort_keys=True)
        print()
        return 0
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
