"""Physical-plan audit across the whole query registry.

For every registered query, capture the executed plan and summarize the
properties that decide 100 TB behavior:

- exchanges (shuffles) — how many the semantics actually require;
- broadcast joins — dimension/ID sides must broadcast, not shuffle;
- pushed filters / pruned scan schemas — predicate+projection pushdown
  reached the parquet scan;
- whole-stage codegen spans — the hot path stays JVM-compiled;
- red flags: CartesianProduct (never acceptable on data-dependent
  sides; literal-array broadcasts compile to BroadcastNestedLoopJoin
  with a one-row build and are reported separately).

Writes PLANS.md (committed per round as the durable audit record) and
exits non-zero if any query plans a CartesianProduct.

Usage: python scripts/plan_audit.py [--sf /root/testdata/sf0.001]
"""

from __future__ import annotations

import argparse
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default=os.path.join(ROOT, "PLANS.md"))
    args = ap.parse_args()

    from bq_nvd_spark.plans import QUERIES
    from bq_nvd_spark.session import get_spark

    spark = get_spark(app_name="plan-audit")

    # Audit the PIPELINE plans: shared_stage eagerly checkpoints the
    # chain relations, so with it active a chain query's plan is a
    # single memoized-checkpoint scan (0 exchanges, no parquet leaf) —
    # the correct session plan but useless for auditing distributed
    # shape. The bypass makes shared_stage return its raw build.
    from bq_nvd_spark.operators import checkpoint as _cp

    rows = []
    cartesian = []
    _cp.AUDIT_BYPASS_SHARED = True
    try:
        for name, fn in QUERIES.items():
            try:
                df = fn(spark, args.sf)
                # Execute THIS frame (collect, not count — count builds
                # its own plan): under AQE the physical plan is not
                # final, and codegen spans not decided, until the query
                # actually runs.
                df.collect()
                plan = plan_of(df)
            except Exception as exc:  # noqa: BLE001 — audit reports, never aborts
                rows.append(
                    (name, f"ERROR {type(exc).__name__}", "", "", "", "")
                )
                continue
            n_exchange = len(re.findall(r"\bExchange\b", plan))
            n_bcast = len(
                re.findall(r"BroadcastHashJoin|BroadcastExchange", plan)
            )
            n_bnlj = len(re.findall(r"BroadcastNestedLoopJoin", plan))
            pushed = "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else ""
            # codegen stages print as "*(n) Operator" in plan strings
            wscg = "yes" if re.search(r"\*\(\d+\)", plan) else ""
            if "CartesianProduct" in plan:
                cartesian.append(name)
            rows.append(
                (name, str(n_exchange), str(n_bcast), str(n_bnlj), pushed, wscg)
            )
    finally:
        # module-level flag: restore so an in-process caller (a test
        # importing main(), an audit-then-bench harness) doesn't keep
        # replaying chain pipelines with memoization silently disabled
        _cp.AUDIT_BYPASS_SHARED = False

    with open(args.out, "w") as f:
        f.write(
            "# Physical-plan audit (generated by scripts/plan_audit.py)\n\n"
            f"Scale dir: `{args.sf}`. Columns: shuffles = `Exchange` nodes; "
            "bcast = broadcast hash join/exchange nodes; bnlj = broadcast "
            "nested-loop joins (expected ONLY for one-row literal builds: "
            "centroid arrays, scalar thresholds); pushed = parquet scan has "
            "non-empty PushedFilters; wscg = whole-stage codegen present.\n\n"
            "Streaming twins execute during plan construction (AvailableNow "
            "drain into a memory sink), so their audited plan is the "
            "materialized result scan — their stateful-plan shapes are "
            "pinned separately in tests/test_scale_paths.py.\n\n"
            "Shared-stage chain queries are audited with the memo BYPASSED "
            "(checkpoint.AUDIT_BYPASS_SHARED): in a session their plan is a "
            "memoized-checkpoint scan; the rows below show the underlying "
            "pipeline whose shape decides 100 TB behavior. Queries built on "
            "connected components still truncate at CC's internal per-round "
            "checkpoints (required for bounded lineage in iteration).\n\n"
            "| query | shuffles | bcast | bnlj | pushed | wscg |\n"
            "|---|---|---|---|---|---|\n"
        )
        for r in rows:
            f.write("| " + " | ".join(r) + " |\n")
        f.write(
            f"\nCartesianProduct found in: {cartesian if cartesian else 'none'}\n"
        )

    print(f"wrote {args.out}: {len(rows)} queries, cartesian={cartesian}")
    return 1 if cartesian else 0


if __name__ == "__main__":
    raise SystemExit(main())
