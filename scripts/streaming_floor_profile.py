"""Attribute the streaming per-batch floor to its components.

scripts/streaming_floor.py established wall ≈ intercept + floor ×
n_batches (~1.1 s/batch at sf0.1, local[32]). This harness answers
WHERE that floor goes, two ways:

1. **The engine's own per-batch decomposition**: run the registered
   upsert pipeline with a StreamingQueryListener capturing each
   StreamingQueryProgress — ``durationMs``
   splits every trigger into triggerExecution / queryPlanning /
   getBatch (source listing) / walCommit + commitOffsets (checkpoint
   fsyncs) / addBatch (the batch's actual plan execution, which for
   foreachBatch INCLUDES the sink body), plus state-store metrics.

2. **Sink-variant deltas** (same staging, same trigger cadence,
   median of --repeats):
   - ``merge``  — the real ParquetUpsertStore MERGE sink;
   - ``noop``   — identical stream/agg, sink only materializes the
     delta (``count``): merge-sink cost = merge − noop;
   - ``noagg``  — append-mode pass-through count sink, no groupBy, no
     state store: stateful-agg + state-store cost = noop − noagg; the
     remaining noagg wall is trigger + source-listing + scan.

Prints one JSON line with both views.

Usage: python scripts/streaming_floor_profile.py [--sf DIR] [--repeats R]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def median(xs: list[float]) -> float:
    return sorted(xs)[(len(xs) - 1) // 2]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--chunks", type=int, default=4)
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("streaming-floor-profile")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql.streaming import StreamingQueryListener

    from bq_nvd_spark.session import tune_session
    from bq_nvd_spark.streaming.foreach_sink import (
        ParquetUpsertStore,
        _staged_event_chunks,
        _user_totals,
        run_upsert_totals_stream,
    )
    from bq_nvd_spark.streaming.micro_batch import run_available_now

    tune_session(spark)

    def run_variant(kind: str) -> float:
        """Wall seconds for ONE streaming run of the given sink variant.

        Every variant stages its chunks BEFORE the timer and never
        reads a store back inside it, so the three walls differ only
        in the sink body — the merge variant otherwise absorbs the
        chunk-staging batch write plus a final store scan and its
        delta vs noop overstates the merge sink."""
        work = tempfile.mkdtemp(prefix=f"floorprof_{kind}_")
        try:
            stage = os.path.join(work, "stage")
            schema = _staged_event_chunks(
                spark, args.sf, stage, n=args.chunks
            )
            raw = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(os.path.join(stage, "chunk=*"))
            )
            sink = lambda df, bid: df.count()  # noqa: E731
            if kind == "noagg":
                out, mode = raw, "append"
            else:
                out, mode = _user_totals(raw), "update"
            if kind == "merge":  # the real store sink, same as the query
                store = ParquetUpsertStore(os.path.join(work, "store"))
                sink = lambda df, bid: store.merge_batch(  # noqa: E731
                    df, bid, key="user_id"
                )
            start = time.perf_counter()
            run_available_now(out, output_mode=mode, foreach_batch=sink)
            return time.perf_counter() - start
        finally:
            shutil.rmtree(work, ignore_errors=True)

    class ProgressListener(StreamingQueryListener):
        """One StreamingQueryProgress dict per micro-batch; ``done`` is
        set once the query's termination event arrives (listener events
        are delivered asynchronously, in order)."""

        def __init__(self):
            self.progress: list[dict] = []
            self.done = threading.Event()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.done.set()

    # Warm every path once (codegen, state-store provider, sink classes).
    for kind in ("noagg", "noop", "merge"):
        run_variant(kind)

    walls = {
        kind: median([run_variant(kind) for _ in range(args.repeats)])
        for kind in ("noagg", "noop", "merge")
    }

    # Engine decomposition from one instrumented merge run.
    listener = ProgressListener()
    spark.streams.addListener(listener)
    work = tempfile.mkdtemp(prefix="floorprof_instr_")
    try:
        run_upsert_totals_stream(spark, args.sf, work, n_chunks=args.chunks).count()
        listener.done.wait(timeout=30)
    finally:
        spark.streams.removeListener(listener)
        shutil.rmtree(work, ignore_errors=True)
    prog = listener.progress
    dur_keys = sorted({k for p in prog for k in p.get("durationMs", {})})
    durations = {
        k: [p["durationMs"].get(k) for p in prog] for k in dur_keys
    }
    state = [
        {
            "commitMs": (s or {}).get("commitTimeMs"),
            "rows": (s or {}).get("numRowsTotal"),
        }
        for p in prog
        for s in (p.get("stateOperators") or [None])
    ]

    per_batch = {k: round(median([v for v in vs if v is not None]) / 1000, 3)
                 for k, vs in durations.items() if any(v is not None for v in vs)}
    print(json.dumps({
        "sf": args.sf,
        "n_batches": args.chunks,
        "walls_sec": {k: round(v, 3) for k, v in walls.items()},
        "derived_sec": {
            "merge_sink_total": round(walls["merge"] - walls["noop"], 3),
            "stateful_agg_total": round(walls["noop"] - walls["noagg"], 3),
            "trigger_scan_total": round(walls["noagg"], 3),
        },
        "per_batch_median_durationMs_sec": per_batch,
        "n_progress_batches": len(prog),
        "state_ops": state,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
