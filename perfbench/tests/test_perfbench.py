"""Tests of the benchmark itself: the record check, the oracle check, span
folding, and a tiny-size smoke run of every workload.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

from perfbench import run, trace  # noqa: E402
from perfbench.treegen import TINY, Tree, diff_records, expected_record  # noqa: E402


# -- the record model and check ---------------------------------------------------
def test_reference_rules():
    assert expected_record("/a.log", None, b"abc", True) == ("logs", "/a.log", 0, b"abc")
    assert expected_record("/a.log", b"abc", b"abcde", True) == ("logs", "/a.log", 3, b"de")
    # rotation to a larger file: prefix broken, whole body
    assert expected_record("/a.log", b"abc", b"xyzde", True) == ("logs", "/a.log", 0, b"xyzde")
    # rotation to a smaller file: empty body
    assert expected_record("/a.log", b"abc", b"x", True) == ("logs", "/a.log", 0, b"")
    assert expected_record("/a.csv", b"abc", b"abcde", False) == ("csvs", "/a.csv", 0, b"abcde")
    assert expected_record("/a.csv", b"abc", b"abc", False) == ("csvs", "/a.csv", 0, b"")


def test_tree_model_tracks_churn(tmp_path):
    tree = Tree(str(tmp_path / "t"), TINY, seed=7)
    first = tree.expected_records()
    assert len(first) == len(tree.files) == TINY.active_logs + TINY.active_csvs + TINY.idle_files
    assert all(off == 0 and value for _, _, off, value in first)
    for path, body in tree.files.items():
        with open(path, "rb") as fh:
            assert fh.read() == body
    tree.mutate()
    second = tree.expected_records()
    assert len(second) == TINY.appends + TINY.rotations + TINY.rewrites
    assert sum(1 for r in second if r[2] > 0) == TINY.appends
    assert tree.expected_records() == []


def test_same_seed_same_tree(tmp_path):
    a = Tree(str(tmp_path / "a"), TINY, seed=3)
    b = Tree(str(tmp_path / "b"), TINY, seed=3)
    a.mutate()
    b.mutate()
    assert list(a.files.values()) == list(b.files.values())


RECORDS = [
    ("logs", "/t/a.log", 10, b"tail"),
    ("logs", "/t/b.log", 0, b"whole"),
    ("csvs", "/t/c.csv", 0, b""),
]


def test_record_check_accepts_exact_output_in_any_order():
    assert diff_records(RECORDS, list(reversed(RECORDS))) == []


@pytest.mark.parametrize(
    "actual",
    [
        RECORDS[:2],  # dropped
        RECORDS + [RECORDS[0]],  # duplicated
        [("logs", "/t/a.log", 0, b"tail")] + RECORDS[1:],  # wrong offset
        [("logs", "/t/a.log", 10, b"tai!")] + RECORDS[1:],  # wrong value
    ],
    ids=["dropped", "duplicated", "wrong-offset", "wrong-value"],
)
def test_record_check_rejects(actual):
    assert diff_records(RECORDS, actual)


def test_oracle_check_rejects_wrong_query_result():
    from check_oracle import compare

    good = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert compare("q", good, good.iloc[::-1].reset_index(drop=True)) == []
    assert compare("q", good, pd.DataFrame({"k": [1, 2], "v": [0.5, 1.6]}))
    assert compare("q", good, good.iloc[:1])


# -- span folding ------------------------------------------------------------------
def _events(*evs):
    return [json.dumps(e) + "\n" for e in evs]


def _task(stage, launch, finish, run_ms, **extra):
    accs = [{"Name": k, "Update": str(v)} for k, v in extra.items()]
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Failed": False,
                      "Accumulables": accs},
        "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6 // 2,
                         "JVM GC Time": 1, "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                         "Output Metrics": {"Records Written": 5}},
    }


def test_fold_attributes_jobs_and_tasks_to_innermost_span():
    t = trace.Tracer()
    # outer 1000..2000 ms with an inner child 1200..1500 ms (epoch seconds)
    t.spans = [
        trace.Span("commit", 1.0, 2.0, None, "warm", children_s=0.3),
        trace.Span("snapshot", 1.2, 1.5, 0, "warm"),
        trace.Span("commit", 3.0, 3.1, None, "cold"),
    ]
    log = _events(
        {"Event": "SparkListenerApplicationStart"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1250, "Stage IDs": [0]},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1450},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1600, "Stage IDs": [1]},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1700},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 5000, "Stage IDs": [2]},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 5100},
        _task(0, 1260, 1400, 100, **{trace.PY_TIME: 40, trace.PY_RECEIVED: 1000}),
        _task(0, 1270, 1420, 120),
        _task(1, 1610, 1690, 50),
        _task(2, 5010, 5090, 50),
        {"Event": "SparkListenerTaskStart", "Stage ID": 0},
    )
    jobs, tasks = trace.parse_event_log(log)
    assert [j.job_id for j in jobs] == [0, 1, 2]
    folded = trace.fold(t.spans, jobs, tasks)
    assert [j.job_id for j in folded.jobs[1]] == [0]
    assert [j.job_id for j in folded.jobs[0]] == [1]
    assert 2 not in folded.jobs  # outside every span
    got = trace.layer_metrics(t.spans, folded, ("snapshot", "commit"), phase="warm", units=1)
    snap, commit = got["snapshot"], got["commit"]
    assert (snap["jobs"], snap["tasks"], commit["jobs"], commit["tasks"]) == (1, 2, 1, 1)
    assert snap["ms"] == pytest.approx(300)
    assert snap["driver_ms"] == pytest.approx(100)  # 300 ms minus the 200 ms job
    assert commit["ms"] == pytest.approx(700)  # self time: 1000 ms minus the child
    assert commit["driver_ms"] == pytest.approx(600)
    assert snap["task_run_ms"] == 220 and snap["task_wait_ms"] == (140 - 100) + (150 - 120)
    assert snap["python_ms"] == 40 and snap["python_received"] == 1000
    assert snap["shuffle_bytes"] == 200 and commit["output_records"] == 5
    with pytest.raises(RuntimeError, match="never fired"):
        trace.layer_metrics(t.spans, folded, ("sink",), phase="warm", units=1)


def test_fetch_rows_come_from_the_fetch_operator_only():
    def node(simple, acc_id, children=()):
        return {"nodeName": simple.split(" ")[0], "simpleString": simple,
                "metrics": [{"name": "number of output rows", "accumulatorId": acc_id}],
                "children": list(children)}

    plan = node("Project [path#1]", 10, [node("MapInPandas fetch_partition(path#1)#4, [path#5]", 11)])
    replan = node("MapInPandas fetch_partition(path#1)#4, [path#5]", 12)
    rows = lambda acc_id, n: {"ID": acc_id, "Name": "number of output rows", "Update": str(n)}  # noqa: E731
    task = _task(0, 1260, 1400, 100)
    task["Task Info"]["Accumulables"] = [rows(10, 7), rows(11, 3), rows(12, 2)]
    log = _events(
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "sparkPlanInfo": plan},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 0, "sparkPlanInfo": replan},
        task,
    )
    _, tasks = trace.parse_event_log(log)
    assert tasks[0].accums[trace.FETCH_ROWS] == 5  # 3 + 2; the Project's 7 rows are not fetched


def test_wrap_fails_loudly_when_the_function_is_gone():
    class Owner:
        pass

    with pytest.raises(RuntimeError, match="cannot trace"):
        trace.Tracer().wrap(Owner, "default_listing", "listing")


def test_benchmark_json_names_every_printed_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == run.per_layer_names()
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert m["unit"] == run.unit_of(m["name"])
    assert {w["name"] for w in spec["workloads"]} == {"log_tail", "analytics_queries"}


# -- smoke: every workload prints every metric --------------------------------------
@pytest.mark.parametrize("workload", ["log_tail", "analytics_queries"])
@pytest.mark.parametrize("traced", [0, 1])
def test_tiny_run_prints_every_metric(workload, traced):
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(traced), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = run.per_layer_names() if traced else list(run.END_TO_END)
    assert list(result["metrics"]) == want
    for name, m in result["metrics"].items():
        assert m["unit"] == run.unit_of(name)
    if not traced:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    else:
        # the workload's own layers fired; the others are named as not run
        ran = run.TICK_LAYERS if workload == "log_tail" else run.QUERY_LAYERS
        assert all(result["metrics"][f"{layer}.ms"]["value"] > 0 for layer in ran)
        not_run = json.loads(lines[-2])["perfbench_detail"]["not_run"]
        assert set(not_run) == set(run.ALL_LAYERS) - set(ran) | (
            set(run.RATIOS) - set(run.got_ratios(workload)))
