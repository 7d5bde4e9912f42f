"""Tests of the benchmark's own checks and trace collector (no Spark
session needed):

    python3 -m pytest perfbench/ -q -p no:cacheprovider
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

from checks import Tally, ranked_equal, tail  # noqa: E402
from eventlog import PY_SENT, PY_TIME, Call, attribute, family, read_events  # noqa: E402


def _rows(qid, ranked):
    return [
        {"query_id": qid, "rank": i + 1, "doc_id": d, "bm25": s, "tier1": True}
        for i, (d, s) in enumerate(ranked)
    ]


def test_injected_mismatch_is_counted_in_failed_frac():
    workloads = pytest.importorskip("workloads")
    b = workloads.Bench(None, seed=1)
    exact = _rows(1, [(10, 3.0), (11, 2.0), (12, 1.0)]) + _rows(2, [(20, 5.0)])
    tiered = [dict(r) for r in exact]
    b.check_parity("tiered_wand_topk", tiered, exact, {1, 2}, "clean")
    assert (b.tally.attempted, b.tally.failed) == (1, 0)

    tiered[1]["bm25"] = 2.0 * (1 + 1e-6)  # one score off at rank 2
    b.check_parity("tiered_wand_topk", tiered, exact, {1, 2}, "injected")
    assert (b.tally.attempted, b.tally.failed) == (2, 1)
    assert b.tally.failed_frac == 0.5
    assert "tiered_wand_topk" in b.tally.failures[0]

    missing = [r for r in exact if r["query_id"] == 1]  # query 2 lost its result
    b.check_parity("wand_topk", missing, exact, {1, 2}, "dropped")
    assert (b.tally.attempted, b.tally.failed) == (3, 2)


def test_ranked_equal_allows_reordering_within_ties_only():
    want = [(1, 2.0), (2, 1.0), (3, 1.0)]
    assert ranked_equal([(1, 2.0), (3, 1.0), (2, 1.0)], want)
    assert not ranked_equal([(2, 2.0), (1, 1.0), (3, 1.0)], want)
    assert not ranked_equal([(1, 2.0), (2, 1.0), (4, 1.0)], want)
    assert not ranked_equal(want[:2], want)


def test_tally_counts_every_check():
    t = Tally()
    t.check(True, "a")
    t.check(False, "b")
    assert (t.attempted, t.failed, t.failures) == (2, 1, ["b"])


def test_tail_needs_ten_samples_beyond():
    assert tail([1.0] * 19) is None
    pct, val = tail([float(i) for i in range(20)])
    assert pct == 50.0 and val == pytest.approx(9.5)
    pct, _ = tail([float(i) for i in range(100)])
    assert pct == 90.0


def _job(jid, t_ms, stages, py_time=250):
    yield {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t_ms,
           "Stage IDs": stages}
    for s in stages:
        yield {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": s}}
        yield {
            "Event": "SparkListenerTaskEnd", "Stage ID": s,
            "Task Info": {"Accumulables": [
                {"ID": 7, "Name": PY_TIME, "Update": py_time},
                {"ID": 8, "Name": PY_SENT, "Update": 1024 * 1024},
            ]},
            "Task Metrics": {
                "Executor Run Time": 1000, "Executor CPU Time": 5e8, "JVM GC Time": 100,
                "Disk Bytes Spilled": 0,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 2 * 1024 * 1024},
                "Input Metrics": {"Records Read": 40},
            },
        }
    yield {"Event": "SparkListenerJobEnd", "Job ID": jid}


def test_jobs_are_charged_to_the_call_holding_their_submission(tmp_path):
    events = [*_job(0, 1_000_500, [0, 1]), *_job(1, 1_002_500, [2]), *_job(2, 1_009_000, [3])]
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text("".join(json.dumps(e) + "\n" for e in events[:5]))
    (d / "events_2_local-1").write_text("".join(json.dumps(e) + "\n" for e in events[5:]))
    calls = [Call("build.build_index", "setup", 1000.0, 1002.0),
             Call("query.wand_topk", "timed", 1002.0, 1003.0, result_rows=20)]
    att = attribute(read_events(str(tmp_path)), calls)
    assert [u.jobs for u in att.usage] == [1, 1]
    assert [u.tasks for u in att.usage] == [2, 1]
    assert att.unattributed == [(2, 1009.0)]
    f = family(calls, att.usage, "query.wand_topk", {"timed"}, with_rows=True)
    assert f["wall_s"] == 1.0 and f["task_run_s"] == 1.0 and f["task_cpu_s"] == 0.5
    assert f["python_s"] == 0.25 and f["python_mb"] == 1.0 and f["shuffle_write_mb"] == 2.0
    assert f["rows_read_per_result"] == 2.0
    assert family(calls, att.usage, "streaming.compact_incremental", {"timed"})["jobs"] == 0


def test_python_time_unit_follows_the_plan_metric_type():
    def plan(metric_type):
        return {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
                "sparkPlanInfo": {"metrics": [], "children": [{"metrics": [
                    {"name": PY_TIME, "accumulatorId": 7, "metricType": metric_type},
                ], "children": []}]}}

    calls = [Call("query.wand_topk", "timed", 1000.0, 1001.0)]
    for events in ([plan("timing"), *_job(0, 1_000_500, [0])],
                   [plan("nsTiming"), *_job(0, 1_000_500, [0], py_time=250_000_000)],
                   list(_job(0, 1_000_500, [0]))):  # no plan event: Spark's timing (ms)
        att = attribute(events, calls)
        assert family(calls, att.usage, "query.wand_topk", {"timed"})["python_s"] == 0.25
