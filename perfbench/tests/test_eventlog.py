import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def folded():
    return eventlog.fold(eventlog.read_events(LOG))


def test_tasks_follow_their_job_group(folded):
    groups = {r["stage"]: r["group"] for r in folded["stages"]}
    # stage 0 is listed again by group "c" after it ran: its tasks stay in "a";
    # stage 1 is listed but never runs a task, so it has no row
    assert groups == {0: "a", 2: "b", 3: eventlog.NO_GROUP}
    assert folded["jobs"] == {"a": 1, "b": 1, eventlog.NO_GROUP: 1, "c": 1}


def test_group_metrics(folded):
    a = eventlog.group_metrics(folded, "a", 900, 2300)
    assert a["tasks"] == 2 and a["jobs"] == 1
    assert a["shuffle_mb"] == pytest.approx(2.0)
    assert a["py_mb"] == pytest.approx(3.0)
    assert a["spill_mb"] == 0.0
    assert a["task_skew"] == pytest.approx(1000 / 750)
    # busy [1000, 2100] inside the 1.4 s window
    assert a["idle_s"] == pytest.approx(0.3)

    b = eventlog.group_metrics(folded, "b", 2900, 4300)
    assert b["tasks"] == 3
    assert b["task_skew"] == pytest.approx(1200 / 300)
    assert b["spill_mb"] == pytest.approx(1.0)
    assert b["idle_s"] == pytest.approx(0.2)

    none = eventlog.group_metrics(folded, "missing", 0, 1000)
    assert none["tasks"] == 0 and none["jobs"] == 0 and none["idle_s"] == 1.0
    assert none["task_skew"] == 1.0


def test_busy_merges_overlaps_and_clips():
    iv = [(0, 100), (50, 150), (300, 400), (390, 500)]
    assert eventlog.busy_s(iv, 0, 1000) == pytest.approx(0.35)
    assert eventlog.busy_s(iv, 100, 420) == pytest.approx(0.17)
    assert eventlog.busy_s([], 0, 1000) == 0.0


def test_stage_table_labels(folded):
    rows = eventlog.stage_table(folded, ["a"])
    assert len(rows) == 1
    r = rows[0]
    assert r["scopes"] == "Exchange|MapInPandas"
    assert r["sql"].startswith("Execute InsertIntoHadoopFsRelationCommand file:/out/z=12")
    assert r["output_mb"] == pytest.approx(2.0)
    assert r["exec_cpu_s"] == pytest.approx(1.0)
    assert r["wall_s"] == pytest.approx(1.1)
    assert "durations" not in r and "intervals" not in r
