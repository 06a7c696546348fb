"""The bench regression gate must flag real slowdowns and exit nonzero —
this is the CI-side guard for VERDICT r4 task 8 (mechanical surfacing of
round-over-round bench regressions). No Spark involved: pure logic tests
over synthetic payloads, plus a subprocess check of the exit-code contract."""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from tools.bench_diff import NOISE_FLOOR_SEC, diff, load_bench

OLD = {"value": 2.0, "queries": {"q1": 1.0, "q2": 0.1, "q3": 0.9}}


def test_flags_regression_over_threshold():
    new = {"value": 2.6, "queries": {"q1": 1.6, "q2": 0.1, "q3": 0.9}}
    regs = diff(OLD, new, 1.5)
    assert len(regs) == 1 and regs[0].startswith("q1:")


def test_noise_floor_suppresses_tiny_queries():
    # q2 triples but stays under the 0.3s floor: local[32] job-launch noise
    new = {"value": 2.2, "queries": {"q1": 1.0, "q2": 0.29, "q3": 0.9}}
    assert diff(OLD, new, 1.5) == []
    assert NOISE_FLOOR_SEC == 0.3


def test_missing_query_is_a_regression():
    new = {"value": 1.1, "queries": {"q1": 1.0, "q2": 0.1}}
    regs = diff(OLD, new, 1.5)
    assert any("q3" in r and "missing" in r for r in regs)


def test_new_queries_are_not_regressions():
    new = {"value": 2.0, "queries": dict(OLD["queries"], q_new=5.0)}
    assert diff(OLD, new, 1.5) == []


def test_load_bench_unwraps_driver_format(tmp_path):
    raw = tmp_path / "raw.json"
    raw.write_text(json.dumps(OLD))
    wrapped = tmp_path / "wrapped.json"
    wrapped.write_text(json.dumps({"n": 1, "rc": 0, "parsed": OLD}))
    assert load_bench(str(raw)) == load_bench(str(wrapped)) == OLD


def test_load_bench_follows_full_pointer(tmp_path):
    """r7: the stdout payload is compact and points at the full file;
    load_bench merges it when the headline values agree (same run)."""
    full = dict(OLD, queries=dict(OLD["queries"], q_extended=3.0))
    (tmp_path / "BENCH_FULL_LATEST.json").write_text(json.dumps(full))
    compact = {
        "value": OLD["value"],
        "queries": {"q1": 1.0},
        "n_queries_timed": 4,
        "full": "BENCH_FULL_LATEST.json",
    }
    p = tmp_path / "compact.json"
    p.write_text(json.dumps(compact))
    assert load_bench(str(p)) == full
    # stale full file (different run): keep the compact payload
    (tmp_path / "BENCH_FULL_LATEST.json").write_text(
        json.dumps(dict(full, value=99.0))
    )
    assert load_bench(str(p)) == compact


def test_partial_new_payload_does_not_fail_on_absent_queries():
    """A compact payload whose full file is gone only carries the headline
    set — absent queries are n/a, not regressions (the full-payload diff is
    where retirement accounting happens)."""
    new = {"value": 2.0, "queries": {"q1": 1.0}, "n_queries_timed": 3}
    assert diff(OLD, new, 1.5) == []


def test_accidental_drop_still_fails_on_full_payloads():
    """queries_retired only waives names bench.py derived from its explicit
    RETIRED_QUERIES constant; a full new payload missing anything else
    fails the gate."""
    new = {
        "value": 1.1,
        "queries": {"q1": 1.0, "q2": 0.1},
        "n_queries_timed": 2,
        "queries_retired": [],
    }
    regs = diff(OLD, new, 1.5)
    assert any("q3" in r and "missing" in r for r in regs)
    waived = dict(new, queries_retired=["q3"])
    assert diff(OLD, waived, 1.5) == []


def test_exit_code_contract(tmp_path):
    """The driver relies on the process exit code: 0 clean, 1 on regression."""
    old = tmp_path / "old.json"
    old.write_text(json.dumps(OLD))
    slow = tmp_path / "slow.json"
    slow.write_text(
        json.dumps({"value": 9.0, "queries": dict(OLD["queries"], q1=8.0)})
    )
    tool = os.path.join(os.path.dirname(__file__), "..", "tools", "bench_diff.py")
    ok = subprocess.run(
        [sys.executable, tool, str(old), str(old)], capture_output=True
    )
    assert ok.returncode == 0
    bad = subprocess.run(
        [sys.executable, tool, str(old), str(slow)], capture_output=True
    )
    assert bad.returncode == 1
    assert b"q1" in bad.stderr


def test_rebased_baseline_waives_within_gate():
    """r8: a query whose committed history was measured under a retired
    methodology compares against the pinned re-based baseline, not the old
    payload's number — within threshold of the pin is not a regression."""
    old = {"value": 1.0, "queries": {"qa": 0.679}}
    new = {
        "value": 2.0,
        "queries": {"qa": 1.9},
        "rebased_baselines": {"qa": 1.918},
    }
    assert diff(old, new, 1.5) == []


def test_rebased_baseline_does_not_waive_real_regression():
    old = {"value": 1.0, "queries": {"qa": 0.679}}
    new = {
        "value": 4.0,
        "queries": {"qa": 4.0},  # > 1.5 * 1.918 — genuinely slower
        "rebased_baselines": {"qa": 1.918},
    }
    regs = diff(old, new, 1.5)
    assert len(regs) == 1 and regs[0].startswith("qa:")


def test_canary_normalized_total_printed_and_not_gated(capsys):
    """r9: when both payloads carry value_canary_norm, the load-corrected
    total prints alongside the raw one; it informs, never gates."""
    old = {"value": 6.5, "queries": {"q1": 1.0}, "value_canary_norm": 6.5}
    new = {"value": 7.9, "queries": {"q1": 1.0}, "value_canary_norm": 6.3}
    assert diff(old, new, 1.5) == []
    out = capsys.readouterr().out
    assert "canary-normalized" in out and "6.300" in out


def test_rebase_pin_expires_after_post_rebase_payload(monkeypatch):
    """ADVICE r8: bench.py's active-pin set drops a pin once the newest
    committed payload postdates the pin's as_of round — the static number
    must not hide a gradual regression forever."""
    import bench

    def fake_history(round_no):
        return [(round_no, {"queries": {"dedup_bottomk_jaccard": 2.0}},
                 f"BENCH_LOCAL_r{round_no:02d}.json")]

    monkeypatch.setattr(bench, "_payload_history", lambda: fake_history(7))
    assert "dedup_bottomk_jaccard" in bench._active_rebased_baselines()
    monkeypatch.setattr(bench, "_payload_history", lambda: fake_history(8))
    assert bench._active_rebased_baselines() == {}


def test_diff_regression_label_names_baseline_file(monkeypatch, capsys):
    """VERDICT r8 "wrong" #3: the regression line names the comparison
    payload's FILENAME, not an ambiguous round label."""
    import bench

    monkeypatch.setattr(
        bench, "_payload_history",
        lambda: [(8, {"queries": {"q1": 0.3}}, "BENCH_LOCAL_r08.json")],
    )
    out = {"queries": {"q1": 0.9}}
    bench._diff_vs_last_round(out)
    err = capsys.readouterr().err
    assert "REGRESSION vs BENCH_LOCAL_r08.json" in err
    assert out["diff_baseline_file"] == "BENCH_LOCAL_r08.json"


def test_compact_line_keeps_queries_dict_under_budget():
    """r15: the compact key set outgrew the 1800-char budget and the
    droppable ladder ran dry, sacrificing the per-query dict — the one
    thing the compact line exists to carry. Pin the fix against the
    repo's own committed full payload (the representative worst case:
    every probe key populated): the emitted line must stay under budget
    WITH all 14 headline queries intact."""
    import bench

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "BENCH_FULL_LATEST.json")) as f:
        out = json.load(f)
    compact = bench._compact(out, out["queries"])
    line = json.dumps(compact)
    assert len(line) <= bench.COMPACT_LINE_BUDGET, len(line)
    assert "queries_dropped" not in compact
    assert set(compact["queries"]) == set(bench.BENCH_QUERIES)
