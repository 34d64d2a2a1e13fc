"""The repository benchmark: the NVD mirror and a registry session pass.

    python3 perfbench/run.py --workload nvd_mirror --seed 1 --seconds 36 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; a
human-readable report goes to standard error.

Workloads (see their modules for what each times and checks):

- ``nvd_mirror`` (``perfbench/nvd_mirror.py``): bootstrap branch over
  three seeded year feeds onto a ~113k-CVE store, then one refresh pass
  per 3 s of ``--seconds`` (a fixed count, whatever their speed), each
  followed by the reference's store SQL;
- ``registry_pass`` (``perfbench/registry_pass.py``): a cold session
  pass over a fixed 42-query panel of the registry; ``--seconds`` does
  not change it.

Load model: one process, one client, serial, closed loop, on
``local[N]`` with N the CPUs this process may use; the mirror's
reference runs as a single-process cron job, and the query registry
forbids concurrent queries on one session.

End-to-end metrics (``--trace 0``), each workload:

- ``setup_s``: process start to the first timed call: imports,
  ``session.get_spark`` and one warm-up action (a pandas UDF over a
  small range, which starts the JVM's code generation and the Python
  workers). Input generation and snapshot restore run before it and are
  subtracted;
- ``batch_s``: the one-shot part: the bootstrap (``nvd_mirror``) or the
  whole pass (``registry_pass``);
- ``op_p50_s`` / ``op_tail_s``: per refresh pass, or per query (build
  plus execute);
- ``read_p50_s`` / ``read_tail_s``: per store query after a pass, or per
  query's execute part (``collect()`` of the built plan);

``peak_rss_mb``, the peak resident memory (``VmHWM``) of this Python
process plus the JVM, is printed in the report and, as
``session.peak_rss_mb``, among the per-layer metrics. It is not gated:
the JVM's peak follows when the collector grows the heap, and it moved
by 20-50% of its median between runs of the same input.

A tail is the highest percentile with at least ten samples beyond it
(``perfbench/stats.py``). ``read_tail_s`` has 36 samples on
``nvd_mirror`` (p71) and 42 on ``registry_pass`` (p76), and ``op_tail_s``
on ``registry_pass`` 42 (p76). ``op_tail_s`` on ``nvd_mirror`` has one sample per refresh pass,
12 at ``--seconds 36``: too few for ten beyond, so it is the p55 value,
next to the median, and no tail gate. The report prints each tail's
percentile and sample count. ``failed / attempted`` is the failed-operation ratio: an
operation fails when it raises or its output is wrong.

``--trace 1`` runs the same workload with spans, per-span Spark job
groups, a local event log and a streaming listener, and prints the
per-layer metrics instead. Spans, per-layer figures and the tracing
overhead (traced minus untraced end-to-end values, when an untraced run
of the same workload and seed exists) are written to
``.perfbench/out/``.

All files the benchmark writes stay under ``.perfbench/`` in the
checkout: per-run scratch (removed at exit), a cache (base store
snapshot, DuckDB oracle results) and results.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("nvd_mirror", "registry_pass")
END_TO_END = {
    "setup_s": "s", "batch_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "read_p50_s": "s", "read_tail_s": "s",
}
# Every traced run prints all of these; a layer a workload does not use
# reads 0.
PER_LAYER = (
    "session.get_spark_s", "session.peak_rss_mb",
    "nvd.parse_s", "nvd.dedup_within_s", "nvd.ingest_jobs", "nvd.ingest_stages",
    "nvd.count_cves_s", "nvd.anti_join_s", "nvd.append_s", "nvd.append_files",
    "nvd.rows_read", "nvd.rows_within_dup", "nvd.rows_already_stored",
    "nvd.rows_loaded", "nvd.loaded_ratio", "nvd.store_files",
    "nvd.store_bytes_per_cve", "nvd.store_query_catalyst_s", "nvd.store_query_exec_s",
    "plans.build_s", "plans.build_jobs", "plans.catalyst_s", "plans.exec_s",
    "plans.exec_jobs", "plans.exec_stages", "plans.tasks", "plans.shuffle_bytes",
    "plans.spill_bytes",
    "operators.shared_stage_builds", "operators.shared_stage_hits",
    "operators.shared_stage_build_s", "operators.stage_checkpoint_calls",
    "operators.stage_checkpoint_s",
    "streaming.run_s", "streaming.batches", "streaming.batch_p50_ms",
)


class Context:
    """What a workload gets: the session, the tracer, the run's
    parameters and the counters it fills in."""

    def __init__(self, args, work_dir: str):
        self.spark = None
        self.tracer = None
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.scale = args.scale
        self.work_dir = work_dir
        self.cache_dir = os.path.join(STATE, "cache")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.batch_ms: list[float] = []
        self.store_layout = (0, 0, 0)
        self.base = self.seeded = self.recent = self.store_path = None

    def check(self, ok: bool, message: str) -> None:
        if not ok:
            self.failed += 1
            self.failures.append(message)

    def guard(self, fn):
        """``fn()``, or None after counting the exception as a failure."""
        try:
            return fn()
        except Exception:  # noqa: BLE001 — a failed operation is a result
            self.check(False, traceback.format_exc(limit=3))
            return None


def _vmhwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _configure_env(work_dir: str, traced: bool) -> str:
    """Launch configuration, set before the JVM starts: CPUs, worker
    import path, and every scratch directory inside the checkout. The
    traced run also turns on a local event log."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work_dir, "tmp")
    log_dir = os.path.join(work_dir, "eventlog")
    for d in (tmp, log_dir):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # -XX:-UsePerfData: a JVM would otherwise write /tmp/hsperfdata_*.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    submit = ["--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
              "--conf", f"spark.sql.warehouse.dir={os.path.join(work_dir, 'warehouse')}"]
    if traced:
        from perfbench.tracing import event_log_conf

        submit += event_log_conf(log_dir)
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    return log_dir


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Input size factor for the benchmark's own smoke tests; measurements
    # always run at 1.
    ap.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "bq_nvd_spark")):
        print(f"no program to benchmark: {ROOT}/bq_nvd_spark is missing", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    work_dir = os.path.join(STATE, "work", f"{run_id}-{os.getpid()}")
    os.makedirs(work_dir)
    try:
        return _main(args, run_id, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def _main(args, run_id: str, work_dir: str) -> int:
    log_dir = _configure_env(work_dir, bool(args.trace))

    import importlib

    from bq_nvd_spark.session import get_spark
    from perfbench.stats import median, tail
    from perfbench.tracing import BatchListener, Tracer, read_event_log, wrap_operators

    from perfbench.sessions import stop, warm_up

    workload = importlib.import_module(f"perfbench.{args.workload}")
    ctx = Context(args, work_dir)
    t = time.perf_counter()
    workload.prepare(ctx)
    prepare_s = time.perf_counter() - t
    if args.workload == "registry_pass":
        import bq_nvd_spark.plans  # noqa: F401  (registry import is set-up)

    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    get_spark_s = time.perf_counter() - t
    try:
        warm_up(spark)
        setup_s = time.perf_counter() - T0 - prepare_s

        ctx.spark = spark
        ctx.tracer = tracer = Tracer(spark, run_id, enabled=bool(args.trace))
        if args.trace:
            listener = BatchListener()
            ctx.batch_ms = listener.batch_ms
            spark.streams.addListener(listener)
            if args.workload == "registry_pass":
                wrap_operators(tracer)
        workload.run(ctx)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = _vmhwm_mb(os.getpid()) + _vmhwm_mb(jvm_pid)
    finally:
        stop(spark)

    op_tail = tail(ctx.samples["op"])
    read_tail = tail(ctx.samples["read"])
    e2e = {
        "setup_s": setup_s,
        "batch_s": sum(ctx.samples["batch"]),
        "op_p50_s": median(ctx.samples["op"]),
        "op_tail_s": op_tail[0],
        "read_p50_s": median(ctx.samples["read"]),
        "read_tail_s": read_tail[0],
    }
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "attempted": ctx.attempted, "failed": ctx.failed,
        "failed_ratio": ctx.failed / max(ctx.attempted, 1),
        "failures": ctx.failures[:20],
        "end_to_end": e2e,
        "peak_rss_mb": peak_rss_mb,
        "tails": {"op_tail_s": op_tail[1:], "read_tail_s": read_tail[1:]},
        "named": workload.summary(ctx),
    }
    out_dir = os.path.join(STATE, "out")
    os.makedirs(out_dir, exist_ok=True)
    if args.trace:
        tracer.apply_event_log(read_event_log(log_dir))
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers["session.get_spark_s"] = get_spark_s
        layers["session.peak_rss_mb"] = peak_rss_mb
        layers.update(workload.per_layer(ctx))
        report["per_layer"] = layers
        untraced = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            report["overhead"] = {k: e2e[k] - base[k] for k in e2e}
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    tracer.dump(os.path.join(out_dir, f"{run_id}.spans.jsonl"), T0)
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)

    _print_report(report)
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_per_cve"):
        return "B"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def _print_report(report: dict) -> None:
    err = sys.stderr
    print(f"== {report['workload']} seed={report['seed']} trace={report['trace']}: "
          f"attempted={report['attempted']} failed={report['failed']} "
          f"failed_ratio={report['failed_ratio']:.4f}", file=err)
    for msg in report["failures"]:
        print(f"  FAILED: {msg}", file=err)
    for k, v in report["end_to_end"].items():
        extra = ""
        if k in report["tails"]:
            pct, n = report["tails"][k]
            extra = f"  (p{pct:.0f} of {n})"
        print(f"  {k:24s} {v:12.4f} {END_TO_END[k]}{extra}", file=err)
    print(f"  {'peak_rss_mb':24s} {report['peak_rss_mb']:12.4f} MB", file=err)
    for k, v in report["named"].items():
        extra = f"  (p{v[1]:.0f} of {v[2]})" if len(v) == 3 else ""
        print(f"  {k:24s} {v[0]:12.4f} s{extra}", file=err)
    for k, v in report.get("per_layer", {}).items():
        print(f"  {k:32s} {v:14.4f} {_unit(k)}", file=err)
    for k, v in report.get("overhead", {}).items():
        print(f"  overhead.{k:23s} {v:+12.4f} {END_TO_END[k]}", file=err)


if __name__ == "__main__":
    sys.exit(main())
