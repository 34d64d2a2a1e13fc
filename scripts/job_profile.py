"""Per-query job/stage profile: wall time, Spark job count, and the
per-job descriptions for named queries — the evidence channel for
serial-chain fusion claims (VERDICT r17 task 1: "done = job count in
the SQL UI / plan capture drops").

Usage:
  python scripts/job_profile.py [--sf DIR] [--repeats N] name [name...]

Methodology follows bench.py: the same ``bench.force_count`` timed
action (queries whose columns hash() rejects fall back to a plain count
and are tagged ``pruned``), shared stages released before run 1 (cold)
and kept for runs 2+ (warm), GC outside the timing window. Job ids are
read from pyspark's status tracker under a per-run job group, so
concurrent listener noise never contaminates the count.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from bench import force_count
    from bq_nvd_spark.operators.checkpoint import (
        release_shared_stages,
        release_stage_checkpoints,
    )
    from bq_nvd_spark.plans import QUERIES
    from bq_nvd_spark.session import get_spark

    spark = get_spark(app_name="job-profile")
    sc = spark.sparkContext
    # parquet footers + codegen warm-up (bench.py also warms the Arrow
    # workers and the streaming engine, so rep 0 here absorbs more)
    spark.read.parquet(f"{args.sf}/lineitem.parquet").count()

    tracker = sc.statusTracker()
    for name in args.names:
        if name not in QUERIES:
            print(f"{name}: NOT REGISTERED", file=sys.stderr)
            continue
        release_shared_stages(spark)
        for rep in range(args.repeats):
            release_stage_checkpoints(spark)
            sc._jvm.System.gc()
            group = f"profile_{name}_{rep}"
            sc.setJobGroup(group, name)
            pruned: list[str] = []
            start = time.perf_counter()
            force_count(QUERIES[name](spark, args.sf), name, pruned)
            wall = time.perf_counter() - start
            sc.setJobGroup(None, None)
            job_ids = sorted(tracker.getJobIdsForGroup(group))
            stages = []
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                stages.append("?" if info is None else len(info.stageIds))
            label = "cold" if rep == 0 else "warm"
            print(
                f"{name} [{label} rep {rep}]: {wall:.3f}s, "
                f"{len(job_ids)} jobs "
                f"(stages/job: {stages})" + (" pruned" if pruned else "")
            )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
