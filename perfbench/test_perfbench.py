"""Tests of the benchmark's pure parts (no Spark): percentile and failure
arithmetic, the result line, event-log folding into layer metrics, the
query oracles, and the metric spec in BENCHMARK.json.

Run: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random
import time

import numpy as np
import pandas as pd
import pytest

from perfbench import gold, stats
from perfbench.trace import Tracer, fold_layers, parse_event_log

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- percentiles and ratios --------------------------------------------------


def test_percentile_matches_numpy_linear_rule():
    rng = random.Random(7)
    for n in (1, 2, 3, 10, 101):
        xs = [rng.uniform(0, 100) for _ in range(n)]
        for q in (0, 25, 50, 90, 99, 100):
            assert stats.percentile(xs, q) == pytest.approx(
                float(np.percentile(xs, q)), abs=1e-12)


def test_median_odd_and_even():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5


@pytest.mark.parametrize("xs,q", [([], 50), ([1.0], -1), ([1.0], 101)])
def test_percentile_rejects_bad_input(xs, q):
    with pytest.raises(ValueError):
        stats.percentile(xs, q)


def test_failed_ratio():
    assert stats.failed_ratio(0, 7) == 0.0
    assert stats.failed_ratio(2, 8) == 0.25
    for failed, attempted in ((0, 0), (-1, 3), (4, 3)):
        with pytest.raises(ValueError):
            stats.failed_ratio(failed, attempted)


# --- metric names and the result line -------------------------------------------


@pytest.mark.parametrize("name", ["setup_s", "tagger.wall_s", "graph.bgp.rows",
                                  "a-b.c_d", "0x"])
def test_metric_name_accepted(name):
    assert stats.check_metric_name(name) == name


@pytest.mark.parametrize("name", ["", ".x", "_x", "a b", "a/b", "x" * 65,
                                  "tagger.wall(s)"])
def test_metric_name_rejected(name):
    with pytest.raises(ValueError):
        stats.check_metric_name(name)


def test_result_line_shape():
    line = stats.result_line(5, 1, {"op_s_p50": (1.25, "s")})
    out = json.loads(line)
    assert list(out) == ["correct", "attempted", "failed", "metrics"]
    assert out["correct"] is False and out["attempted"] == 5
    assert out["metrics"] == {"op_s_p50": {"value": 1.25, "unit": "s"}}
    assert json.loads(stats.result_line(2, 0, {}))["correct"] is True


def test_result_line_rejects_non_finite_and_bad_counts():
    with pytest.raises(ValueError):
        stats.result_line(1, 0, {"x": (float("nan"), "s")})
    with pytest.raises(ValueError):
        stats.result_line(0, 0, {"x": (1.0, "s")})


# --- event log → layer metrics ---------------------------------------------------


def _events(*evs) -> list[str]:
    return [json.dumps(e) for e in evs] + [""]


def _job(jid, t_ms, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Submission Time": t_ms, "Properties": props}


def _stage(sid, t_ms, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0,
                           "Submission Time": t_ms},
            "Properties": props}


def _task(sid, launch_ms, cpu_ns=0, gc_ms=0, spill=0, shuffle=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Stage Attempt ID": 0, "Task Info": {"Launch Time": launch_ms},
            "Task Metrics": {"Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
                             "Disk Bytes Spilled": spill,
                             "Shuffle Write Metrics": {
                                 "Shuffle Bytes Written": shuffle}}}


def _spans():
    # op_ (0..10 s) holds tagger. (1..4 s) and linking.probe_ (5..9 s)
    return [
        {"id": 0, "stem": "trace.op_", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "stem": "tagger.", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "stem": "linking.probe_", "parent": 0, "start": 5.0, "end": 9.0},
    ]


def test_fold_attributes_by_job_group_and_by_time():
    log = parse_event_log(_events(
        _job(0, 1500, "span-1"), _stage(0, 1500, "span-1"),
        _task(0, 1700, cpu_ns=2_000_000_000, gc_ms=300),
        _task(0, 2500, cpu_ns=1_000_000_000),
        # no group (submitted from another thread): falls back to the
        # innermost span holding its submission time
        _job(1, 6000), _stage(1, 6000),
        _task(1, 6000, cpu_ns=500_000_000, gc_ms=100, shuffle=2 * 1024 * 1024),
        # outside every span: dropped
        _job(2, 11000), _stage(2, 11000), _task(2, 11000, cpu_ns=10**10),
    ))
    out = fold_layers(_spans(), log)
    assert out["tagger.wall_s"] == pytest.approx(3.0)
    assert out["tagger.task_cpu_s"] == pytest.approx(3.0)
    assert out["tagger.task_wait_s"] == pytest.approx(0.2 + 1.0)
    assert out["tagger.gc_s"] == pytest.approx(0.3)
    assert out["tagger.jobs"] == 1
    assert out["linking.probe_task_cpu_s"] == pytest.approx(0.5)
    assert out["linking.probe_shuffle_write_mb"] == pytest.approx(2.0)
    assert out["linking.gc_s"] == pytest.approx(0.1)
    assert out["linking.probe_jobs"] == 1 and out["linking.jobs"] == 1
    assert out["trace.op_wall_s"] == pytest.approx(10.0)
    assert "trace.op_task_cpu_s" not in out  # the late job was dropped


def test_group_wins_over_time_window():
    # a stage tagged with span 2 but submitted inside span 1's interval
    log = parse_event_log(_events(_stage(0, 2000, "span-2"),
                                  _task(0, 2000, cpu_ns=10**9)))
    out = fold_layers(_spans(), log)
    assert out["linking.probe_task_cpu_s"] == pytest.approx(1.0)
    assert "tagger.task_cpu_s" not in out


def test_stage_submit_time_taken_from_completion_when_missing():
    submitted = _stage(0, None)
    del submitted["Stage Info"]["Submission Time"]
    completed = dict(_stage(0, 1000), Event="SparkListenerStageCompleted")
    log = parse_event_log(_events(submitted, completed, _task(0, 1500)))
    assert log["stages"][(0, 0)]["submit_ms"] == 1000
    assert fold_layers(_spans(), log)["tagger.task_wait_s"] == pytest.approx(0.5)


def test_tracer_records_nested_spans_and_counts():
    tr = Tracer()
    with tr.span("trace.op_"):
        with tr.span("tagger."):
            pass
    tr.count("tagger.pages", 3)
    tr.count("tagger.pages", 4)
    assert [s["stem"] for s in tr.spans] == ["trace.op_", "tagger."]
    assert tr.spans[1]["parent"] == 0
    assert all(s["end"] >= s["start"] for s in tr.spans)
    assert tr.counts["tagger.pages"] == 7
    with pytest.raises(ValueError):
        with tr.span("tagger"):
            pass


# --- query oracles ---------------------------------------------------------------


def test_bgp_chain():
    t = pd.DataFrame({"subj": [1, 2, 1, 5], "pred": ["works_for", "located_in",
                                                    "works_for", "located_in"],
                      "obj": [2, 3, 2, 6]})
    assert gold.bgp_chain(t, "works_for", "located_in") == {(1, 2, 3)}


def test_pagerank_matches_dense_power_iteration():
    edges = pd.DataFrame({"src": [1, 1, 2, 3, 3], "dst": [2, 3, 3, 1, 4],
                          "weight": [1.0, 3.0, 2.0, 1.0, 1.0]})
    got = gold.pagerank(edges)
    nodes = [1, 2, 3, 4]
    P = np.zeros((4, 4))
    for s, d, w in edges.itertuples(index=False):
        P[nodes.index(s), nodes.index(d)] += w
    row = P.sum(axis=1)
    dang = row == 0
    P[~dang] /= row[~dang, None]
    r = np.full(4, 0.25)
    for _ in range(2000):
        r = 0.15 / 4 + 0.85 * (r @ P + r[dang].sum() / 4)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)
    for i, v in enumerate(nodes):
        assert got[v] == pytest.approx(r[i], abs=1e-12)


def test_precision_recall():
    assert gold.precision_recall({1, 2}, {1, 2}) == (1.0, 1.0)
    assert gold.precision_recall({1, 2, 3}, {1, 2}) == (2 / 3, 1.0)
    assert gold.precision_recall(set(), set()) == (1.0, 1.0)


# --- operation timing ------------------------------------------------------------


def test_stopwatch_counts_cpu_inside_steps_only():
    from perfbench.workloads import Stopwatch

    def spin(seconds):
        end = time.perf_counter() + seconds
        while time.perf_counter() < end:
            pass

    sw = Stopwatch()
    with sw.step("busy"):
        spin(0.3)
    spin(0.3)  # between steps, as the checks are: counted in neither
    with sw.step("idle"):
        time.sleep(0.2)
    r = sw.result(extra=1.0)
    assert r["busy_s"] >= 0.3 and r["idle_s"] >= 0.2 and r["extra"] == 1.0
    assert r["op_s"] == pytest.approx(r["busy_s"] + r["idle_s"])
    # CPU ticks are 10 ms; a busy step may lose some CPU to other tenants
    assert 0.1 <= r["cpu_s"] <= r["busy_s"] + 0.05


# --- the benchmark spec ------------------------------------------------------------


def test_benchmark_spec_is_well_formed():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for name in names:
        stats.check_metric_name(name)
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25 and m["better"] in ("lower", "higher")
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
