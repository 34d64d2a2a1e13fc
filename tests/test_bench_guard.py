"""The bench sidecar guard: BENCH_FULL.json is the round's durable
benchmark record; a smoke run (lower sf, or a BENCH_ONLY subset) must
not replace it silently. Round 9 lost its committed sf0.1 record to
exactly that — a stray sf0.001 run one commit before the snapshot."""

from __future__ import annotations

import json
import os

import bench


def _write(path, sf, n):
    with open(path, "w") as fh:
        json.dump({"sf": sf, "n_queries": n, "value": 1.0}, fh)


def test_guard_blocks_lower_sf(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_BENCH_FORCE", raising=False)
    sidecar = str(tmp_path / "BENCH_FULL.json")
    _write(sidecar, 0.1, 179)
    assert not bench._sidecar_writable(sidecar, {"sf": 0.001, "n_queries": 179})
    assert not bench._sidecar_writable(sidecar, {"sf": 0.01, "n_queries": 200})


def test_guard_blocks_subset_run(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_BENCH_FORCE", raising=False)
    sidecar = str(tmp_path / "BENCH_FULL.json")
    _write(sidecar, 0.1, 179)
    assert not bench._sidecar_writable(sidecar, {"sf": 0.1, "n_queries": 2})


def test_guard_allows_equal_or_bigger(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_BENCH_FORCE", raising=False)
    sidecar = str(tmp_path / "BENCH_FULL.json")
    _write(sidecar, 0.1, 179)
    assert bench._sidecar_writable(sidecar, {"sf": 0.1, "n_queries": 179})
    assert bench._sidecar_writable(sidecar, {"sf": 0.1, "n_queries": 185})
    assert bench._sidecar_writable(sidecar, {"sf": 1.0, "n_queries": 179})


def test_guard_blocks_lower_core_count(tmp_path, monkeypatch):
    """A local[8] run must not replace a local[32] record; a record made
    before the core count was recorded stays writable."""
    monkeypatch.delenv("SPARK_GRAFT_BENCH_FORCE", raising=False)
    sidecar = str(tmp_path / "BENCH_FULL.json")
    with open(sidecar, "w") as fh:
        json.dump({"sf": 0.1, "n_queries": 179, "cpus": 32}, fh)
    assert not bench._sidecar_writable(
        sidecar, {"sf": 0.1, "n_queries": 179, "cpus": 8}
    )
    assert bench._sidecar_writable(
        sidecar, {"sf": 0.1, "n_queries": 179, "cpus": 32}
    )
    assert bench._sidecar_writable(
        sidecar, {"sf": 0.1, "n_queries": 179, "cpus": 64}
    )
    _write(sidecar, 0.1, 179)
    assert bench._sidecar_writable(
        sidecar, {"sf": 0.1, "n_queries": 179, "cpus": 8}
    )


def test_guard_allows_missing_or_corrupt(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_BENCH_FORCE", raising=False)
    sidecar = str(tmp_path / "BENCH_FULL.json")
    assert bench._sidecar_writable(sidecar, {"sf": 0.001, "n_queries": 1})
    with open(sidecar, "w") as fh:
        fh.write("not json")
    assert bench._sidecar_writable(sidecar, {"sf": 0.001, "n_queries": 1})


def test_guard_force_overrides(tmp_path, monkeypatch):
    sidecar = str(tmp_path / "BENCH_FULL.json")
    _write(sidecar, 0.1, 179)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_FORCE", "1")
    assert bench._sidecar_writable(sidecar, {"sf": 0.001, "n_queries": 1})


def test_nonnumeric_sf_never_clobbers_numeric(tmp_path, monkeypatch):
    """A custom SF dir whose name doesn't parse (payload sf is a string)
    compares as 0.0 and is blocked against a real record."""
    monkeypatch.delenv("SPARK_GRAFT_BENCH_FORCE", raising=False)
    sidecar = str(tmp_path / "BENCH_FULL.json")
    _write(sidecar, 0.1, 179)
    assert not bench._sidecar_writable(
        sidecar, {"sf": "custom", "n_queries": 179}
    )


def test_existing_custom_sf_record_is_protected(tmp_path, monkeypatch):
    """A force-written custom-SF record (string sf) must be protected
    like any full record — unparseable sf is not 'corrupt'."""
    monkeypatch.delenv("SPARK_GRAFT_BENCH_FORCE", raising=False)
    sidecar = str(tmp_path / "BENCH_FULL.json")
    with open(sidecar, "w") as fh:
        json.dump({"sf": "custom", "n_queries": 179, "value": 1.0}, fh)
    assert not bench._sidecar_writable(sidecar, {"sf": 0.001, "n_queries": 1})
    monkeypatch.setenv("SPARK_GRAFT_BENCH_FORCE", "1")
    assert bench._sidecar_writable(sidecar, {"sf": 0.001, "n_queries": 1})


# ---------------------------------------------------------------------------
# Cold-build drift gate (scripts/scaling_audit.py, VERDICT r12 task 2):
# memo-hit medians cannot move when the shared-stage BUILD pipeline
# regresses, and the cross-SF superlinear rule is blind to a regression
# that is uniform at every SF. The drift rule compares each round's
# sf0.1 cold samples against the prior round's committed record and
# must trip on a deliberately slowed build — verified here on
# synthetic fixtures, including every skip rule.


def _load_scaling_audit():
    import importlib.util

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "scaling_audit", os.path.join(repo, "scripts", "scaling_audit.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_drift_gate_trips_on_slowed_build():
    sa = _load_scaling_audit()
    rows = sa.cold_drift_flags(
        {"dedup_clusters": 6.9}, {"dedup_clusters": 3.0}
    )
    (name, prior, cur, r, flagged, watch), = rows
    assert (name, prior, cur, flagged, watch) == (
        "dedup_clusters", 3.0, 6.9, True, False
    )
    assert abs(r - 2.3) < 1e-9


def test_drift_gate_watch_zone_reports_without_failing():
    sa = _load_scaling_audit()
    # the round-13 calibration case: 1.68x on proven-identical code is
    # cross-day environment drift — reported as watch, not a failure
    rows = sa.cold_drift_flags({"q": 5.04}, {"q": 3.0})
    (name, prior, cur, r, flagged, watch), = rows
    assert not flagged and watch and abs(r - 1.68) < 0.01


def test_drift_gate_tolerates_vm_band():
    sa = _load_scaling_audit()
    # ±20% VM band and even a 1.4x move stay under the watch zone
    rows = sa.cold_drift_flags({"q": 4.2}, {"q": 3.0})
    assert [(r[4], r[5]) for r in rows] == [(False, False)]


def test_drift_gate_min_sec_floor():
    sa = _load_scaling_audit()
    # a 0.2s -> 0.6s jitter pair is 3x but under the absolute floor
    rows = sa.cold_drift_flags({"q": 0.6}, {"q": 0.2})
    assert [(r[4], r[5]) for r in rows] == [(False, False)]


def test_drift_gate_skips_incomparable_samples():
    sa = _load_scaling_audit()
    rows = sa.cold_drift_flags(
        {
            "flaked_now": None,  # null sentinel from a failed cold run
            "new_builder": 5.0,  # no prior sample
            "bool_trap": True,  # JSON true must not compare as 1.0
        },
        {"flaked_now": 3.0, "flaked_prior": None, "bool_trap": 2.0},
    )
    assert rows == []


def test_watch_row_ack_gate_scoped_to_baseline(tmp_path):
    # ADVICE r13: a watch row must not carry silently across rounds —
    # it fails the audit unless acknowledged against the SAME baseline
    # record; an ack against an older record has expired.
    sa = _load_scaling_audit()
    ack = tmp_path / "SCALING_ACK.md"
    ack.write_text(
        "# acks\n"
        "- q_noise @r12.json: re-measured 2.1s, VM noise\n"
        "- malformed line without the at-marker\n"
        "- q_empty @r12.json:   \n"  # no note text: not an ack
    )
    acks = sa.parse_acks(str(ack))
    assert acks == {("q_noise", "r12.json")}
    # rows: (name, prior, cur, ratio, flagged, watch)
    rows = [
        ("q_noise", 3.0, 5.0, 1.67, False, True),
        ("q_new", 3.0, 5.2, 1.73, False, True),
        ("q_fine", 3.0, 3.1, 1.03, False, False),
    ]
    assert sa.unacked_watch_rows(rows, "r12.json", acks) == ["q_new"]
    # baseline advanced: the old ack no longer covers q_noise
    assert sa.unacked_watch_rows(rows, "r13.json", acks) == [
        "q_noise",
        "q_new",
    ]
    assert sa.parse_acks(str(tmp_path / "absent.md")) == set()


def test_latest_history_record_picks_highest_round(tmp_path):
    sa = _load_scaling_audit()
    for name, payload in [
        ("r11.json", {"queries_cold": {"q": 1.0}}),
        ("r12.json", {"queries_cold": {"q": 2.0}}),
    ]:
        with open(tmp_path / name, "w") as fh:
            json.dump(payload, fh)
    name, payload = sa.latest_history_record(str(tmp_path))
    assert name == "r12.json" and payload["queries_cold"]["q"] == 2.0
    assert sa.latest_history_record(str(tmp_path / "absent")) is None


def test_latest_history_record_sorts_numerically(tmp_path):
    sa = _load_scaling_audit()
    # lexicographic order would pick r99 over r100 (and r9 over r12) —
    # the drift gate must baseline on the true latest ROUND
    for name, payload in [
        ("r9.json", {"round": 9}),
        ("r12.json", {"round": 12}),
        ("r99.json", {"round": 99}),
        ("r100.json", {"round": 100}),
        ("r11_precheck.json", {"round": -1}),  # side record: never wins
    ]:
        with open(tmp_path / name, "w") as fh:
            json.dump(payload, fh)
    name, payload = sa.latest_history_record(str(tmp_path))
    assert name == "r100.json" and payload["round"] == 100
