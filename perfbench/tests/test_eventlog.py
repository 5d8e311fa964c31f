"""Event-log attribution and self time, on a small fixture log.

Run from the root of a checkout: ``python3 -m pytest perfbench/tests -q``.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eventlog import interval_union, read_event_log, self_time, span_stats  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "small_eventlog.json")

# s0 is an operation; s1 and s2 are its layers and overlap each other
SPANS = [
    {"id": "s0", "name": "pipeline", "parent": None, "start": 1000.0, "end": 1003.0},
    {"id": "s1", "name": "people", "parent": "s0", "start": 1000.8, "end": 1001.5},
    {"id": "s2", "name": "cluster", "parent": "s0", "start": 1001.4, "end": 1002.0},
]


@pytest.fixture(scope="module")
def log():
    return read_event_log(FIXTURE)


def test_stage_belongs_to_first_job_that_lists_it(log):
    assert log["stages"] == {0: 0, 1: 1, 2: 2, 3: 3}
    # job 1 lists stage 0 but skips it: stage 0's tasks stay with job 0
    assert log["jobs"][0]["tasks"] == 2
    assert log["jobs"][1]["tasks"] == 1


def test_task_metrics_summed_per_job(log):
    job0 = log["jobs"][0]
    assert job0["run_s"] == pytest.approx(1.0)
    assert job0["cpu_s"] == pytest.approx(0.8)
    assert job0["gc_s"] == pytest.approx(0.05)
    assert job0["shuffle_write_mb"] == pytest.approx(3.0)
    assert log["jobs"][1]["shuffle_read_mb"] == pytest.approx(3.0)
    assert log["jobs"][3]["records_written"] == 7
    assert log["jobs"][0]["group"] == "s0" and log["jobs"][3]["group"] is None


def test_jobs_attributed_by_job_group(log):
    stats = span_stats(SPANS, log)
    assert stats["s0"]["jobs"] == 1 and stats["s0"]["short_jobs"] == 0
    # the probe group (s1.probe) and the group-less job belong to no span
    assert stats["s1"]["jobs"] == 1 and stats["s1"]["short_jobs"] == 1
    assert stats["s1"]["tasks"] == 1
    assert stats["s2"]["jobs"] == 0 and stats["s2"]["run_s"] == 0


def test_self_time_subtracts_union_of_children():
    # children cover [1000.8, 1002.0]: 1.2 s of the root's 3 s
    assert self_time(SPANS[0], SPANS[1:]) == pytest.approx(1.8)
    assert self_time(SPANS[1], []) == pytest.approx(0.7)
    # a child running past its parent's end only counts inside the parent
    late = {"start": 1002.5, "end": 1004.0}
    assert self_time(SPANS[0], [late]) == pytest.approx(2.5)


def test_gap_is_span_time_with_no_job_running(log):
    stats = span_stats(SPANS, log)
    # jobs run over [1000.0, 1000.5], [1001.0, 1001.1], [1001.2, 1001.3]
    # and [1002.5, 1002.7]: 0.9 s of the root's 3 s
    assert stats["s0"]["gap_s"] == pytest.approx(2.1)
    assert stats["s0"]["wall_s"] == pytest.approx(3.0)
    # s1 [1000.8, 1001.5] overlaps two jobs for 0.2 s
    assert stats["s1"]["gap_s"] == pytest.approx(0.5)


def test_interval_union_merges_overlaps():
    assert interval_union([]) == 0.0
    assert interval_union([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert interval_union([(5, 6), (0, 1), (1, 2)]) == pytest.approx(3.0)
