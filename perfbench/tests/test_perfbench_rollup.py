"""Event-log parsing and span roll-up on a tiny recorded event log.

``data/eventlog_tiny.jsonl`` is a trimmed Spark 4.1 event log of two jobs
run under job groups ``pb1`` (a shuffle: two stages) and ``pb2`` (one
stage), then one job with no group.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import rollup  # noqa: E402

LOG = os.path.join(HERE, "data")


def _log():
    return rollup.parse(rollup.read_events(LOG))


def test_jobs_carry_their_group_and_window():
    log = _log()
    groups = sorted((j["group"] or "") for j in log["jobs"].values())
    assert groups == ["", "pb1", "pb2"]
    for j in log["jobs"].values():
        assert j["end"] >= j["submit"] > 1e9  # epoch seconds


def test_tasks_attributed_through_stage_groups():
    log = _log()
    by_group: dict = {}
    for t in log["tasks"]:
        by_group.setdefault(t["group"], []).append(t)
    assert set(by_group) == {"pb1", "pb2", None}
    # pb1 is a shuffle: its map stage writes shuffle bytes
    assert len({t["stage"] for t in by_group["pb1"]}) == 2
    a = rollup.agg(by_group["pb1"])
    assert a["shuffle_mb"] > 0
    assert a["task_s"] >= a["cpu_s"] >= 0
    assert a["failed_tasks"] == 0 and a["retried_tasks"] == 0
    assert all(t["job"] is not None for t in log["tasks"])


def test_span_rollup_self_time_and_jobs():
    log = _log()
    jobs = sorted(log["jobs"].values(), key=lambda j: j["submit"])
    s1 = {"id": 1, "name": "outer", "kind": "call", "parent": None,
          "start": jobs[0]["submit"] - 1.0, "end": jobs[-1]["end"] + 1.0}
    s2 = {"id": 2, "name": "inner", "kind": "stage", "parent": 1,
          "start": jobs[1]["submit"], "end": jobs[1]["end"]}
    rolled = {r["id"]: r for r in rollup.span_rollup([s1, s2], log)}
    assert rolled[1]["jobs"] == 1 and rolled[2]["jobs"] == 1
    assert rolled[2]["self_s"] == rolled[2]["wall_s"]
    assert abs(rolled[1]["self_s"] - (rolled[1]["wall_s"] - rolled[2]["wall_s"])) < 1e-9
    assert rolled[1]["tasks"] > 0 and rolled[2]["tasks"] > 0


def test_covered_merges_overlaps_and_clips():
    assert rollup.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert rollup.covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2.0
    assert rollup.covered([], 0, 1) == 0
