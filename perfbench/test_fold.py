"""Tests of the event-log fold on a small canned log.

    python3 -m pytest perfbench/test_fold.py -q
"""

from __future__ import annotations

import json

import pytest
from fold import fold, read_event_log, table, union_length

T0 = 1_800_000_000.0  # epoch seconds


def ms(t: float) -> int:
    return int(round((T0 + t) * 1000))


def stage_completed(stage_id: int, start: float, end: float, run_ms: int, cpu_ns: int, shuffle: int):
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {
            "Stage ID": stage_id,
            "Stage Attempt ID": 0,
            "Submission Time": ms(start),
            "Completion Time": ms(end),
            "Accumulables": [
                {"ID": 1, "Name": "number of output rows", "Value": "7"},
                {"ID": 2, "Name": "internal.metrics.executorRunTime", "Value": run_ms},
                {"ID": 3, "Name": "internal.metrics.executorCpuTime", "Value": cpu_ns},
                {"ID": 4, "Name": "internal.metrics.shuffle.write.bytesWritten", "Value": shuffle},
                {"ID": 5, "Name": "internal.metrics.shuffle.read.localBytesRead", "Value": shuffle},
            ],
        },
    }


# Two jobs: job 0 (stage 0) inside span "a.child", job 1 (stages 1 and 2,
# stage 2 skipped) inside "a" but outside its child, and job 2 before any
# span. Stage 1 runs past the end of span "a".
CANNED = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": ms(1.5), "Stage IDs": [0]},
    stage_completed(0, 1.6, 2.6, run_ms=3000, cpu_ns=2_000_000_000, shuffle=500_000),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": ms(2.7)},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": ms(6.0), "Stage IDs": [1, 2]},
    stage_completed(1, 6.0, 11.0, run_ms=1000, cpu_ns=500_000_000, shuffle=0),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": ms(11.0)},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": ms(-5.0), "Stage IDs": [3]},
    stage_completed(3, -5.0, -4.0, run_ms=10, cpu_ns=1, shuffle=0),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": ms(-4.0)},
]

SPANS = [
    {"id": 1, "name": "a", "parent": None, "start": T0 + 0.0, "end": T0 + 10.0, "run": "t"},
    {"id": 2, "name": "a.child", "parent": 1, "start": T0 + 1.0, "end": T0 + 3.0, "run": "t"},
    {"id": 3, "name": "a.child", "parent": 1, "start": T0 + 2.5, "end": T0 + 4.0, "run": "t"},
    {"id": 4, "name": "b", "parent": None, "start": T0 + 20.0, "end": T0 + 21.0, "run": "t"},
]


@pytest.fixture
def canned_log(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text("".join(json.dumps(e) + "\n" for e in CANNED[:5]))
    (d / "events_2_local-1").write_text("".join(json.dumps(e) + "\n" for e in CANNED[5:]))
    return str(d)


def rows_by_id(log):
    jobs, stages = read_event_log(log)
    return {r["id"]: r for r in fold(SPANS, jobs, stages)}


def test_read_event_log_orders_rolling_files_and_converts_units(canned_log):
    jobs, stages = read_event_log(canned_log)
    assert [j["id"] for j in jobs] == [2, 0, 1]  # by submission time
    assert jobs[1]["submit"] == pytest.approx(T0 + 1.5)
    assert jobs[1]["end"] == pytest.approx(T0 + 2.7)
    s0 = next(s for s in stages if s["id"] == 0)
    assert s0["run_s"] == pytest.approx(3.0)
    assert s0["cpu_s"] == pytest.approx(2.0)
    assert s0["shuffle_bytes"] == 1_000_000
    assert {s["id"] for s in stages} == {0, 1, 3}  # skipped stage 2 never completed


def test_self_time_subtracts_the_union_of_children(canned_log):
    r = rows_by_id(canned_log)
    # children cover [1, 3] and [2.5, 4]: union 3 s of a's 10 s
    assert r[1]["wall_s"] == pytest.approx(10.0)
    assert r[1]["self_s"] == pytest.approx(7.0)
    assert r[2]["self_s"] == pytest.approx(2.0)  # a leaf's self time is its wall time


def test_idle_time_is_wall_minus_union_of_stage_intervals(canned_log):
    r = rows_by_id(canned_log)
    # stages in a's subtree: [1.6, 2.6] and [6, 11] clipped to [6, 10]
    assert r[1]["idle_s"] == pytest.approx(10.0 - 1.0 - 4.0)
    assert r[2]["idle_s"] == pytest.approx(2.0 - 1.0)
    assert r[3]["idle_s"] == pytest.approx(1.5)  # no stage submitted inside it
    assert r[4]["idle_s"] == pytest.approx(1.0)


def test_jobs_and_stages_go_to_the_innermost_open_span(canned_log):
    r = rows_by_id(canned_log)
    assert (r[2]["jobs"], r[2]["stages"]) == (1, 1)  # job 0 inside the first child
    assert (r[3]["jobs"], r[3]["stages"]) == (0, 0)
    # a's subtree: job 0 through its child plus job 1 of its own
    assert (r[1]["jobs"], r[1]["stages"]) == (2, 2)
    assert r[1]["run_s"] == pytest.approx(4.0)
    assert r[1]["cpu_s"] == pytest.approx(2.5)
    assert r[1]["shuffle_mb"] == pytest.approx(1.0)
    assert (r[4]["jobs"], r[4]["stages"]) == (0, 0)  # job 2 ran before every span


def test_table_sums_per_span_name(canned_log):
    jobs, stages = read_event_log(canned_log)
    t = {row["name"]: row for row in table(fold(SPANS, jobs, stages))}
    assert t["a.child"]["spans"] == 2
    assert t["a.child"]["wall_s"] == pytest.approx(3.5)
    assert t["a.child"]["jobs"] == 1


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert union_length([(-1, 2), (8, 12)], 0, 10) == pytest.approx(4.0)
    assert union_length([(11, 12)], 0, 10) == 0.0
