"""The benchmark's own arithmetic: percentile rule, self time, error rate,
index-metadata job classification and stage ownership.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import spans as T  # noqa: E402


def test_percentile_needs_ten_samples_beyond_it():
    xs = list(range(1, 100))  # 99 samples: p90 is rank 90, 9 lie beyond
    assert T.percentile(xs, 0.9) is None
    xs = list(range(1, 101))  # 100 samples: p90 is 90, 10 lie beyond
    assert T.percentile(xs, 0.9) == 90
    assert T.percentile(list(range(1, 21)), 0.5) == 10
    assert T.percentile(list(range(1, 20)), 0.5) is None
    assert T.percentile([], 0.5) is None


def _span(sid, start, end, parent=None, layer="l"):
    return T.Span(sid, layer, "exec", start, end, parent, 1)


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span("p", 0.0, 10.0),
        _span("a", 1.0, 4.0, "p"),
        _span("b", 3.0, 6.0, "p"),  # overlaps a on [3, 4]
        _span("c", 9.0, 12.0, "p"),  # runs past the parent's end
        _span("g", 1.5, 2.0, "a"),  # grandchild: not subtracted from p
    ]
    got = T.self_times(spans)
    assert got["p"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert got["a"] == pytest.approx(3.0 - 0.5)
    assert got["b"] == pytest.approx(3.0)
    assert got["g"] == pytest.approx(0.5)


def test_error_rate_counts_failed_wrong_and_unexpected_refusals():
    outcomes = [T.OK] * 6 + [T.REFUSED_AS_EXPECTED, T.REFUSED, T.FAILED, T.WRONG]
    assert T.error_rate(outcomes) == pytest.approx(3 / 10)
    assert T.error_rate([T.OK, T.REFUSED_AS_EXPECTED]) == 0.0
    with pytest.raises(ValueError):
        T.error_rate([])


def test_outcomes_mark_ops_whose_output_failed_a_check():
    ops = [("q1", 0.1, T.OK), ("q1", 0.1, T.OK), ("q2", 0.2, T.OK),
           ("replay", 0.1, T.REFUSED_AS_EXPECTED), ("q3", 0.3, T.FAILED)]
    checks = [("q1", False, "row 0 differs"), ("q2", True, ""), ("survivors", False, "3 ids")]
    got = T.outcomes(ops, checks)
    assert got == [T.WRONG, T.WRONG, T.OK, T.REFUSED_AS_EXPECTED, T.FAILED, T.WRONG]
    assert T.error_rate(got) == pytest.approx(4 / 6)


SQL_PAYLOAD = [
    {"id": 0, "description": "collect at /idx/x.py:10",
     "planDescription": "== Physical Plan ==\n* FileScan json [max_id#1] Location: "
                        "InMemoryFileIndex(1 paths)[file:/w/sig_idx/_sig_meta]",
     "successJobIds": [3, 4], "failedJobIds": [], "runningJobIds": []},
    {"id": 1, "description": "json at NativeMethodAccessorImpl.java:0",
     "planDescription": "Execute InsertIntoHadoopFsRelationCommand file:/w/ivfpq_idx/_ivfpq_meta, "
                        "false, JSON, [path=/w/ivfpq_idx/_ivfpq_meta]",
     "successJobIds": [7], "failedJobIds": [8], "runningJobIds": []},
    {"id": 2, "description": "save at NativeMethodAccessorImpl.java:0",
     "planDescription": "FileScan parquet [sig#3] PartitionFilters: [isnotnull(sig_bucket#4)] "
                        "Location: InMemoryFileIndex[file:/w/sig_idx/sigs/sig_bucket=3]",
     "successJobIds": [9], "failedJobIds": [], "runningJobIds": []},
    {"id": 3, "description": "collect",
     "planDescription": "FileScan text Location: [file:/w/idx/_idx_kind]",
     "successJobIds": [11], "failedJobIds": [], "runningJobIds": []},
    {"id": 4, "description": "collect", "planDescription": "FileScan parquet [file:/w/my_meta_data]",
     "successJobIds": [12], "failedJobIds": [], "runningJobIds": []},
]


def test_meta_jobs_are_read_from_the_sql_plan_text():
    assert T.meta_job_ids(SQL_PAYLOAD) == {3, 4, 7, 8, 11}


def test_attribute_gives_each_stage_to_the_first_job_that_lists_it():
    jobs = [
        {"jobId": 1, "jobGroup": "pb1", "stageIds": [10, 11], "status": "SUCCEEDED",
         "submissionTime": "2026-01-01T00:00:00.000GMT", "completionTime": "2026-01-01T00:00:01.500GMT"},
        {"jobId": 2, "jobGroup": "pb2", "stageIds": [11, 12], "status": "SUCCEEDED",
         "submissionTime": "2026-01-01T00:00:02.000GMT", "completionTime": "2026-01-01T00:00:02.250GMT"},
        {"jobId": 3, "jobGroup": None, "stageIds": [13], "status": "SUCCEEDED",
         "submissionTime": "2026-01-01T00:00:03.000GMT", "completionTime": "2026-01-01T00:00:04.000GMT"},
    ]
    stages = [
        {"stageId": 10, "status": "COMPLETE", "shuffleWriteBytes": 5},
        {"stageId": 11, "status": "COMPLETE", "shuffleWriteBytes": 7},
        {"stageId": 11, "status": "SKIPPED", "shuffleWriteBytes": 0},
        {"stageId": 12, "status": "COMPLETE", "shuffleWriteBytes": 1},
    ]
    got = T.attribute(jobs, stages, meta_ids={2})
    assert set(got) == {"pb1", "pb2"}  # ungrouped jobs are not the benchmark's
    (j1,), (j2,) = got["pb1"], got["pb2"]
    assert T.stage_sum([j1], "shuffleWriteBytes") == 12
    assert T.stage_sum([j2], "shuffleWriteBytes") == 1
    assert (j1.meta, j2.meta) == (False, True)
    assert j1.end - j1.start == pytest.approx(1.5)


def test_python_eval_nodes_counts_python_operators():
    plan = ("MapInPandas run(path#1)\n+- ArrowEvalPython [crop(pixels#2)]\n"
            "   +- FlatMapGroupsInPandas [subject#3]\n      +- Project [a#1]")
    assert T.python_eval_nodes(plan) == 3


def test_tracing_overhead_counts_nested_blocks_once():
    tr = T.Tracer()
    with tr.charged():
        time.sleep(0.02)
        with tr.charged():
            time.sleep(0.02)
    assert 0.04 <= tr.overhead_s < 0.07
