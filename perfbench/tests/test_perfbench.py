"""The benchmark's own tests: generator determinism and expected counts,
the tail-percentile rule, and a tiny smoke run of each workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import gzip
import json
import os
import statistics
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import feeds  # noqa: E402
from perfbench.stats import TAIL_BEYOND, tail  # noqa: E402

YEARS = (2024, 2025, 2026)


def _items(path):
    with gzip.open(path) as f:
        return json.load(f)["CVE_Items"]


def _has_linux(item) -> bool:
    nodes = (item.get("configurations") or {}).get("nodes") or []
    matches = [m for n in nodes for m in n.get("cpe_match", [])]
    matches += [m for n in nodes for c in n.get("children", []) for m in c.get("cpe_match", [])]
    return any("linux" in m["cpe23Uri"] for m in matches)


def _stamp(t):
    return t.strftime("%Y-%m-%dT%H:%MZ")


def _bytes(paths):
    out = []
    for p in paths:
        with open(p, "rb") as f:
            out.append(f.read())
    return out


def test_year_feeds_same_seed_same_bytes_and_counts(tmp_path):
    a = feeds.write_year_feeds(str(tmp_path / "a"), 7, YEARS, scale=0.05)
    b = feeds.write_year_feeds(str(tmp_path / "b"), 7, YEARS, scale=0.05)
    assert _bytes(a.paths) == _bytes(b.paths)
    assert (a.unique_ids, a.linux_ids) == (b.unique_ids, b.linux_ids)


def test_year_feeds_other_seed_other_bytes(tmp_path):
    a = feeds.write_year_feeds(str(tmp_path / "a"), 7, YEARS, scale=0.05)
    b = feeds.write_year_feeds(str(tmp_path / "b"), 8, YEARS, scale=0.05)
    assert _bytes(a.paths) != _bytes(b.paths)


def test_year_feed_expected_counts_match_the_bytes(tmp_path):
    yf = feeds.write_year_feeds(str(tmp_path), 3, YEARS, scale=0.05)
    items = [it for p in yf.paths for it in _items(p)]
    ids = [it["cve"]["CVE_data_meta"]["ID"] for it in items]
    assert len(ids) == len(set(ids)) == yf.unique_ids
    assert sum(_has_linux(it) for it in items) == yf.linux_ids > 0
    t0 = _stamp(feeds.bootstrap_time(3, 0.05))
    assert all(it["publishedDate"] < t0 for it in _items(yf.paths[-1]))


def test_full_size_feeds_exceed_the_bootstrap_threshold():
    from bq_nvd_spark.nvd.pipeline import BOOTSTRAP_THRESHOLD
    from perfbench.nvd_mirror import BASE_YEARS

    base = feeds.year_sizes(0)
    assert sum(base[y] for y in BASE_YEARS) < BOOTSTRAP_THRESHOLD
    for seed in range(20):
        seeded = feeds.year_sizes(seed)
        assert sum(base[y] if y in BASE_YEARS else seeded[y] for y in feeds.YEARS) > BOOTSTRAP_THRESHOLD


def test_recent_feeds_are_sliding_eight_day_windows(tmp_path):
    passes = 12
    a = feeds.write_recent_feeds(str(tmp_path / "a"), 5, passes)
    b = feeds.write_recent_feeds(str(tmp_path / "b"), 5, passes)
    c = feeds.write_recent_feeds(str(tmp_path / "c"), 6, passes)
    assert _bytes([f.path for f in a]) == _bytes([f.path for f in b])
    assert _bytes([f.path for f in a]) != _bytes([f.path for f in c])

    year = feeds.write_year_feeds(str(tmp_path / "y"), 5, (feeds.CURRENT_YEAR,))
    stored = {it["cve"]["CVE_data_meta"]["ID"] for it in _items(year.paths[0])}
    t0 = feeds.bootstrap_time(5)
    for k, feed in enumerate(a):
        now = t0 + feeds.PASS_INTERVAL * (k + 1)
        items = _items(feed.path)
        ids = [it["cve"]["CVE_data_meta"]["ID"] for it in items]
        assert len(ids) == len(set(ids)) == feed.rows == len(feed.ids)
        assert all(_stamp(now - feeds.RECENT_WINDOW) < it["publishedDate"] <= _stamp(now)
                   for it in items)
        new = set(ids) - stored
        assert new == set(feed.new_ids)
        assert sum(_has_linux(it) for it in items if it["cve"]["CVE_data_meta"]["ID"] in new) \
            == feed.new_linux
        # Nearly every ID of the window is already stored.
        assert feed.stored_ids > 0.9 * feed.rows > 0
        stored |= new
    per_pass = [len(f.new_ids) for f in a]
    assert 0 in per_pass and max(per_pass) > 0
    # About CVES_PER_DAY per day arrive after the bootstrap.
    expected = feeds.CVES_PER_DAY * passes * feeds.PASS_INTERVAL / dt.timedelta(days=1)
    assert 0.25 * expected < sum(per_pass) < 4 * expected


@pytest.mark.parametrize("n", [21, 22, 30, 57, 100, 1000])
def test_tail_leaves_ten_samples_beyond(n):
    values = [float((i * 37) % n) for i in range(n)]
    value, pct, count = tail(values)
    assert count == n
    assert sum(v > value for v in values) >= TAIL_BEYOND
    assert sum(v >= value for v in values) == TAIL_BEYOND + 1
    assert pct == pytest.approx(100.0 * (n - 1 - TAIL_BEYOND) / (n - 1))


@pytest.mark.parametrize("n", [1, 2, 4, 5, 12, 20])
def test_short_run_tail_stays_at_or_above_median(n):
    values = [float(i) for i in range(n)]
    value, _pct, count = tail(values)
    assert count == n
    assert value >= statistics.median(values)


def _run(*args):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=ROOT,
        capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1]), out.stderr


@pytest.mark.parametrize("workload", ["nvd_mirror", "registry_pass"])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_run(workload, trace):
    result, stderr = _run("--workload", workload, "--seed", "3", "--seconds", "6",
                          "--trace", trace, "--scale", "0.02")
    assert result["correct"] and result["failed"] == 0, stderr[-3000:]
    assert result["attempted"] >= 2
    if trace == "0":
        assert set(result["metrics"]) == {
            "setup_s", "batch_s", "op_p50_s", "op_tail_s", "read_p50_s",
            "read_tail_s"}
        assert all(m["value"] > 0 for m in result["metrics"].values())
    else:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            names = {m["name"] for m in json.load(f)["per_layer"]}
        assert set(result["metrics"]) == names
        layer = "nvd.rows_read" if workload == "nvd_mirror" else "plans.exec_jobs"
        assert result["metrics"][layer]["value"] > 0


def test_smoke_run_fails_without_the_program(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        if name.endswith(".py"):
            with open(os.path.join(ROOT, "perfbench", name), "rb") as src:
                (bench / name).write_bytes(src.read())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "nvd_mirror", "--seed", "1",
         "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True, text=True,
        timeout=120)
    assert out.returncode != 0
    assert out.stdout.strip() == ""
