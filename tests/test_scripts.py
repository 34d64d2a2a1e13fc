"""The measurement and audit scripts: the registry profiler runs end to
end, the broadcast audit passes, every script measures through
perfbench's tracer, and no source hard-codes the checkout's location."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _grep(tops, pattern: re.Pattern) -> list[str]:
    """``path:line`` of every match in the ``.py`` files under ``tops``."""
    paths = []
    for top in tops:
        top = os.path.join(ROOT, top)
        paths += [top] if os.path.isfile(top) else [
            os.path.join(d, f) for d, _, files in os.walk(top) for f in files]
    hits = []
    for path in paths:
        if not path.endswith(".py"):
            continue
        with open(path, encoding="utf-8") as fh:
            for lineno, line in enumerate(fh, 1):
                if pattern.search(line):
                    hits.append(f"{os.path.relpath(path, ROOT)}:{lineno}")
    return hits


def test_profile_registry_runs_cold_and_warm():
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "profile_registry.py"),
         "nvd_count_cves", "q6_forecast_revenue"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    queries = json.loads(out.stdout)["queries"]
    assert set(queries) == {"nvd_count_cves", "q6_forecast_revenue"}
    for name, runs in queries.items():
        assert set(runs) == {"cold", "warm"}, name
        for kind, rec in runs.items():
            assert "error" not in rec, (name, kind, rec.get("error"))
            assert rec["plans.exec_jobs"] > 0, (name, kind)


def test_broadcast_audit_passes():
    """Every ``F.broadcast`` hint in the package is classified as
    structurally bounded (``scripts/broadcast_audit.py`` exits 0)."""
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "broadcast_audit.py")],
        cwd=ROOT, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-3000:]


def test_scripts_measure_only_through_the_tracer():
    """Job groups, the status tracker and streaming listeners live in
    perfbench/tracing.py; a script imports them instead of keeping its
    own copy."""
    pattern = re.compile(r"statusTracker|setJobGroup|StreamingQueryListener")
    assert not _grep(["scripts"], pattern)


def test_no_source_hard_codes_the_checkout_path():
    """Scripts resolve the repository from ``__file__``, so a run from
    another copy never mixes two trees."""
    pattern = re.compile(re.escape(ROOT) + r"\b|sys\.path\.insert\(0, [\"']/")
    hits = _grep(["scripts", "bq_nvd_spark", "bench.py", "__spark_entry__.py"], pattern)
    assert not hits, hits
