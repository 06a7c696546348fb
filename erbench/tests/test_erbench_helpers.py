"""Tests for the ER benchmark's helpers (no SparkSession needed).

Run from the repository root: ``python -m pytest erbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import layers  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402
from measure import PeakRss, Tracer, covered, percentile, result_hash  # noqa: E402


# -- percentile ----------------------------------------------------------------


def test_percentile_interpolates_and_counts_samples_above():
    p = percentile(range(1, 11), 90)  # 1..10
    assert p.value == pytest.approx(9.1)
    assert p.n == 10
    assert p.above == 1
    assert percentile([3, 1, 2], 50) == (2, 3, 1)


def test_percentile_edges():
    assert percentile([5.0], 90) == (5.0, 1, 0)
    assert percentile([1, 2], 0).value == 1
    assert percentile([1, 2], 100).value == 2
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1], 101)


# -- spans and self time ----------------------------------------------------------


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3


def test_span_self_time_subtracts_children():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    tr.trace = "t1"
    with tr.span("parent"):
        clock.t = 1
        with tr.span("child"):
            clock.t = 3
            with tr.span("grandchild"):
                clock.t = 3.5
        clock.t = 4
        with tr.span("child"):
            clock.t = 6
        clock.t = 10
    parent, child, grandchild, child2 = tr.spans
    assert (child.parent, grandchild.parent, child2.parent) == (parent.id, child.id, parent.id)
    assert parent.duration == 10
    assert tr.self_time(parent) == 10 - 2.5 - 2
    assert tr.self_time(child) == 2.5 - 0.5
    assert sum(s.duration for s in tr.named("child")) == 4.5
    assert {s.trace for s in tr.spans} == {"t1"}


def test_wrap_records_a_span_and_closes_it_on_error():
    tr = Tracer()

    def boom(x):
        raise RuntimeError(x)

    assert tr.wrap("ok", lambda a, b=1: a + b)(1, b=2) == 3
    with pytest.raises(RuntimeError):
        tr.wrap("boom", boom)("x")
    assert [s.name for s in tr.spans] == ["ok", "boom"]
    assert all(s.end >= s.start for s in tr.spans)
    assert tr._stack == []


def test_tracer_write_roundtrips(tmp_path):
    tr = Tracer()
    with tr.span("a"):
        tr.add("n", 2)
    path = tmp_path / "out" / "spans.json"
    tr.write(str(path))
    data = json.loads(path.read_text())
    assert data["counters"] == {"n": 2}
    assert data["spans"][0]["name"] == "a"


# -- result hash -------------------------------------------------------------------


def test_result_hash_ignores_row_and_member_order():
    a = [["1", "2"], ["3"]]
    b = [["3"], ["2", "1"]]
    assert result_hash(a) == result_hash(b)
    assert result_hash(a) != result_hash([["1"], ["2", "3"]])
    assert result_hash([]) == result_hash([])


# -- process-tree RSS ------------------------------------------------------------------


def _fake_proc(root, procs):
    """procs: pid -> (ppid, comm, resident pages)."""
    for pid, (ppid, comm, pages) in procs.items():
        d = root / str(pid)
        d.mkdir()
        (d / "stat").write_text(f"{pid} ({comm}) S {ppid} 1 1 0 -1\n")
        (d / "statm").write_text(f"1000 {pages} 5 1 0 100 0\n")
    (root / "self").mkdir()  # non-numeric entries are skipped


def test_tree_pids_and_rss_follow_descendants_only(tmp_path):
    _fake_proc(tmp_path, {
        10: (1, "python", 100),
        11: (10, "java) (x", 200),  # comm with parentheses and a space
        12: (11, "py worker", 300),
        20: (1, "other", 1000),
    })
    assert measure.tree_pids(10, str(tmp_path)) == [10, 11, 12]
    assert measure.tree_pids(12, str(tmp_path)) == [12]
    assert measure.tree_rss_bytes(10, str(tmp_path)) == 600 * measure.PAGE_SIZE


def test_peak_rss_sampler_sees_this_process_and_a_child():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        deadline = time.monotonic() + 5
        while child.pid not in measure.tree_pids(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.05)
        assert child.pid in measure.tree_pids(os.getpid())
        rss = PeakRss(interval_s=0.01)
        rss.exclude.add(child.pid)
        rss.start()
        time.sleep(0.1)
        rss.stop()
        assert not rss._thread.is_alive()
        assert rss.samples >= 2
        assert rss.peak_bytes >= measure.tree_rss_bytes(child.pid) > 0
        assert rss.peak_bytes > rss.peak_kept_bytes > 0
    finally:
        child.kill()
        child.wait(timeout=10)


# -- benchmark definition -----------------------------------------------------------------


def test_layer_metrics_from_synthetic_spans():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    tr.trace = "traced"
    with tr.span("er.sampler.sample"):
        for i in range(4):
            with tr.span("er.state.transition_local"):
                clock.t += 1 + i
        clock.t += 0.5
    per_layer = run.metric_units("per_layer")
    out = layers.layer_metrics(tr, "traced", {name: 0 for name in layers.FACTS}, per_layer)
    assert list(out) == list(per_layer)
    assert out["er.state.transition_local.calls"] == 4
    assert out["er.state.transition_local.s_p50"] == pytest.approx(2.5)
    assert out["er.sampler.sample.self_s"] == pytest.approx(0.5)
    with pytest.raises(KeyError):
        layers.layer_metrics(tr, "traced", {}, per_layer)


def test_patch_targets_exist_and_are_restored():
    import dblink_spark.er.model as model
    import dblink_spark.er.sampler as sampler

    before = {(t, a): getattr(layers._resolve(t), a) for t, a, _ in layers.PATCHES}
    orig_transition = sampler.transition
    tr = Tracer()
    with layers.instrumented(tr):
        assert model.update_distortions is not before[("dblink_spark.er.model", "update_distortions")]
        assert sampler.transition.__wrapped__ is orig_transition
    assert {(t, a): getattr(layers._resolve(t), a) for t, a, _ in layers.PATCHES} == before
    assert sampler.transition is orig_transition


# -- inputs -----------------------------------------------------------------------------------


def test_inputs_are_seeded_and_parse(tmp_path):
    from dblink_spark.config import load_config
    from dblink_spark.project import Project

    a = gen.write_inputs("er_spark_dist", 7, str(tmp_path / "a"))
    b = gen.write_inputs("er_spark_dist", 7, str(tmp_path / "b"))
    c = gen.write_inputs("er_spark_dist", 8, str(tmp_path / "c"))
    d = gen.write_inputs("er_spark_dist", 7, str(tmp_path / "d"), dataset=1)
    csv = lambda p: open(os.path.join(os.path.dirname(p), "records.csv")).read()  # noqa: E731
    assert csv(a) == csv(b) != csv(c)
    assert csv(d) not in (csv(a), csv(c))
    with pytest.raises(ValueError):
        gen.write_inputs("er_spark_dist", 7, str(tmp_path / "e"), dataset=10)
    assert csv(a).splitlines()[0] == "rec_id,fname,lname,by,bm,bd,ent_id"
    assert len(csv(a).splitlines()) == gen.WORKLOADS["er_spark_dist"].records + 1
    project = Project.from_config(None, load_config(a))
    assert project.attr_names == ["fname", "lname", "by", "bm", "bd"]
    assert project.build_partitioner().num_partitions == 4
    sample = next(s for s in project.steps if s["name"] == "sample")["parameters"]
    assert sample["localExecMaxRecords"] == 0


def test_refuses_to_run_without_the_package(tmp_path):
    """In a directory holding only the benchmark, the run fails fast and
    prints no result."""
    shutil.copytree(BENCH, tmp_path / "erbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "erbench/run.py", "--workload", "er_spark_dist",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""
