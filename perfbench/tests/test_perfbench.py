"""Tests for the benchmark's own code (no Spark session needed).

Run: python3 -m pytest perfbench/tests -q
"""

import json
import math
from datetime import datetime, timezone

import pyarrow.parquet as pq
import pytest

import inputs
from loop import closed_loop
from run import pick_metrics
from tracing import Tracer, TreeSample, parse_event_log, self_times


def _span(i, start, end, parent=None):
    return {"id": i, "name": f"s{i}", "parent": parent, "run_id": "r",
            "start": start, "end": end}


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    spans = [_span(0, 0.0, 10.0),
             _span(1, 1.0, 3.0, 0), _span(2, 2.0, 5.0, 0),   # overlap: [1, 5]
             _span(3, 8.0, 12.0, 0),                          # clipped: [8, 10]
             _span(4, 1.5, 2.5, 1)]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 4 - 2)
    assert st[1] == pytest.approx(2 - 1)
    assert st[2] == pytest.approx(3)
    assert st[4] == pytest.approx(1)


def test_tracer_nests_spans_and_writes_them(tmp_path):
    t = Tracer("run-1")
    with t.span("outer"):
        with t.span("inner"):
            pass
    with t.span("inner"):
        pass
    outer, inner1, inner2 = t.spans
    assert inner1["parent"] == outer["id"] and inner2["parent"] is None
    assert all(s["run_id"] == "run-1" and s["end"] >= s["start"] for s in t.spans)
    assert t.duration("inner") == pytest.approx(
        inner1["end"] - inner1["start"] + inner2["end"] - inner2["start"])

    class Owner:
        @staticmethod
        def call(x):
            with t.span("inside"):
                return x + 1

    with t.span("parent"), t.around(Owner, "call", "call"):
        assert Owner.call(1) == 2
    parent, call, inside = t.spans[3:]
    assert call["parent"] == parent["id"] and inside["parent"] == call["id"]
    assert Owner.call(1) == 2   # unpatched again: only the callee's own span
    assert [s["name"] for s in t.spans[6:]] == ["inside"]
    path = tmp_path / "t" / "spans.json"
    t.write(str(path))
    assert json.loads(path.read_text()) == t.spans


def _task(stage, run_ms, cpu_ns=0, shuffle=0, peak=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                             "Peak Execution Memory": peak,
                             "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 7,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                             "Output Metrics": {"Bytes Written": 0}}}


CANNED = [
    {"Event": "SparkListenerApplicationStart", "App Name": "x"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "w.call"}},
    _task(0, 100, cpu_ns=5 * 10**8, shuffle=10),
    _task(0, 300, cpu_ns=5 * 10**8, shuffle=20),
    _task(1, 50, peak=64),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
     "Stage IDs": [2], "Properties": {}},
    _task(2, 10),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2100},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 3000,
     "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "w.call"}},
    _task(3, 40),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 3250},
]


def test_event_log_parser_groups_jobs_stages_and_tasks(tmp_path):
    path = tmp_path / "events"
    path.write_text("".join(json.dumps(e) + "\n" for e in CANNED))
    prof = parse_event_log(str(path))
    assert set(prof) == {"w.call", ""}
    g = prof["w.call"]
    assert [j["id"] for j in g.jobs] == [0, 2]
    assert g.wall_s == pytest.approx(0.5 + 0.25)
    assert g.stages == {0, 1, 3}
    assert sorted(g.task_ms()) == [40, 50, 100, 300]
    assert sum(t.cpu_ns for t in g.tasks) == 10**9
    assert sum(t.shuffle_write for t in g.tasks) == 30
    assert max(t.peak_exec_mem for t in g.tasks) == 64
    assert sum(t.spill_disk for t in g.tasks) == 7 * 4
    assert g.stage_skew_max() == pytest.approx(300 / 200)  # stage 0 only
    assert len(prof[""].tasks) == 1


def _rows(n=400):
    ts = datetime(2025, 1, 1, tzinfo=timezone.utc)
    words = " ".join(f"word{i}" for i in range(100))
    return [{"url": f"https://ex.org/{i:04d}", "warc_ts": ts, "lang": "en",
             "text": f"para {i} {words}\n\nsecond paragraph {words}",
             "status": "ok", "eligible": i % 3 != 0} for i in range(n)]


def test_plant_duplicates_is_deterministic_per_seed():
    a, ga = inputs.plant_duplicates(_rows(), seed=5)
    b, gb = inputs.plant_duplicates(_rows(), seed=5)
    c, gc = inputs.plant_duplicates(_rows(), seed=6)
    assert a == b and ga == gb
    assert ga != gc
    urls = [u for g in ga for u in g]
    assert len(urls) == len(set(urls))            # groups are disjoint
    n = len(_rows())
    assert len(ga[0]) - 1 == round(inputs.HOT_SHARE * n)   # the hot cluster
    text = {r["url"]: r["text"] for r in a}
    exact = [g for g in ga[1:] if text[g[1]] == text[g[0]]]
    near = [g for g in ga[1:] if text[g[1]] != text[g[0]]]
    assert sum(len(g) - 1 for g in exact) >= inputs.EXACT_SHARE * n
    assert sum(len(g) - 1 for g in near) >= inputs.NEAR_SHARE * n
    for g in near:   # a near copy differs from its source in exactly one word
        src = text[g[0]].split()
        for u in g[1:]:
            assert sum(x != y for x, y in zip(src, text[u].split())) == 1


def test_pages_corpus_is_deterministic_per_seed(tmp_path):
    def table(cache, seed):
        d = inputs.pages_corpus(str(cache), n=40, seed=seed, skew=True,
                                content_scale=1)
        return pq.read_table(f"{d}/web_pages.parquet")

    assert table(tmp_path / "a", 3).equals(table(tmp_path / "b", 3))
    assert not table(tmp_path / "a", 3).equals(table(tmp_path / "a", 4))


class _FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def _loop(fail_on: set[int], wrong_on: set[int] = frozenset()):
    clock = _FakeClock()
    calls = []

    def op():
        calls.append(1)
        clock.t += 0.1 if len(calls) in fail_on else 1.0   # failures are fast
        if len(calls) in fail_on:
            raise RuntimeError("forced failure")
        return len(calls)

    def check(out):
        if out in wrong_on:
            raise AssertionError("wrong output")

    cpu = iter(range(10**6))
    return closed_loop(op, check, seconds=3.5, min_samples=3, clock=clock,
                       sample=lambda: TreeSample(next(cpu), 0.0, 10.0))


def test_forced_failure_raises_failed_ratio_and_never_improves_throughput():
    clean = _loop(set())
    bad = _loop({2})
    wrong = _loop(set(), wrong_on={2})
    assert clean.failed == 0 and bad.failed == 1 and wrong.failed == 1
    for r in (bad, wrong):
        assert len(r.walls) == r.attempted >= clean.attempted   # none dropped
        assert math.isinf(r.walls[1])
        assert r.docs_per_s(1000) <= clean.docs_per_s(1000)
        assert r.cpu_s_per_kdoc(1000) > clean.cpu_s_per_kdoc(1000)
    assert _loop({1, 2, 3, 4}).docs_per_s(1000) == 0.0


def test_curated_check_rejects_two_survivors_in_a_group():
    from workloads import check_curated

    sha = {"a": "1", "b": "2", "c": "3"}
    check_curated([("a", "1", 10), ("c", "3", 30)], sha, [["a", "b"]])
    with pytest.raises(AssertionError):
        check_curated([("a", "1", 10), ("b", "2", 20)], sha, [["a", "b"]])
    with pytest.raises(AssertionError):
        check_curated([("a", "1", 10), ("c", "3", 10)], sha, [["a", "b"]])
    with pytest.raises(AssertionError):
        check_curated([("a", "9", 10)], sha, [["a", "b"]])


def test_a_missing_metric_fails_unless_its_probe_was_not_run():
    specs = [{"name": "a.x", "unit": "s"}, {"name": "runner.y", "unit": "s"}]
    got = pick_metrics(specs, {"a.x": 2, "runner.y": 3})
    assert got == {"a.x": {"value": 2.0, "unit": "s"},
                   "runner.y": {"value": 3.0, "unit": "s"}}
    assert pick_metrics(specs, {"a.x": 2}, ("runner.",))["runner.y"]["value"] == 0.0
    with pytest.raises(RuntimeError):
        pick_metrics(specs, {"a.x": 2})                  # lost to a bug
    with pytest.raises(RuntimeError):
        pick_metrics(specs, {"runner.y": 3}, ("runner.",))
