"""Protocol-tooling CI guards (VERDICT r4 #7): a cheap end-to-end smoke of
bench.py's JSON contract plus unit tests of its pre-registered steal rule —
so tooling regressions can't silently corrupt a multi-hour protocol run."""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


@pytest.mark.slow
def test_bench_smoke_json_contract():
    """bench.py at tiny scale (one cheap section) must emit ONE parseable
    JSON line with the driver-contract fields."""
    env = dict(os.environ,
               BENCH_ONLY="tile_assign",
               BENCH_PAGES="2000",
               BENCH_REPS="1",
               SPARK_GRAFT_CPUS="4",
               SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001")
    out = subprocess.run([sys.executable, os.path.join(ROOT, "bench.py")],
                         capture_output=True, text=True, env=env, timeout=900)
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    assert lines, f"no JSON line from bench.py:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}"
    j = json.loads(lines[-1])
    for key in ("metric", "value", "unit", "queries", "sf", "cpus",
                "reps", "isolated_sections", "failed_sections"):
        assert key in j, f"missing contract key {key}"
    assert j["failed_sections"] == []
    assert j["queries"].get("tile_assign", 0) > 0
    assert j["sf"] == 0.001
    assert j["cpus"] == 4


@pytest.mark.slow
def test_bench_failed_section_named():
    """A section whose child crashes must land in failed_sections while the
    run still emits valid JSON (ADVICE r3 regression guard)."""
    env = dict(os.environ,
               BENCH_ONLY="dedup_minhash",
               BENCH_PAGES="2000",
               BENCH_REPS="1",
               SPARK_GRAFT_CPUS="4",
               SPARK_GRAFT_SF_DIR="/nonexistent_sf_dir")
    out = subprocess.run([sys.executable, os.path.join(ROOT, "bench.py")],
                         capture_output=True, text=True, env=env, timeout=900)
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    assert lines
    j = json.loads(lines[-1])
    assert j["failed_sections"] == ["dedup_minhash"]


def test_bench_section_steal_rule(monkeypatch):
    """bench.py's per-section runner applies the same pre-registered rule:
    over-threshold sections re-run (bounded), the kept attempt is annotated
    with its steal percentage and attempt count (VERDICT r5 #1)."""
    import bench as B

    # steal snapshots: each attempt spans one (pre, post) pair; steal%
    # = 100 * d_steal / d_total -> attempts at 5%, 4%, 0.5%
    snaps = iter([(0, 0), (50, 1000), (50, 1000), (90, 2000),
                  (90, 2000), (95, 3000)])
    monkeypatch.setattr(B, "_steal_snap", lambda: next(snaps))
    calls = {"n": 0}

    def fake_section(name):
        calls["n"] += 1
        return {"queries": {name: 1.0}, "v": calls["n"]}

    monkeypatch.setattr(B, "_run_section", fake_section)
    monkeypatch.setattr(B, "STEAL_MAX", 2.0)
    monkeypatch.setattr(B, "STEAL_RETRIES", 2)
    r = B._run_section_with_steal_rule("tile_assign")
    assert r["v"] == 3 and r["tile_assign_steal_attempts"] == 3
    assert r["tile_assign_steal_pct_of_box"] == 0.5
    assert r["tile_assign_steal_pcts"] == [5.0, 4.0, 0.5]

    # every attempt over the threshold -> the least-steal attempt is kept:
    # 5%, 8.5%, then 3% keeps the third
    snaps = iter([(0, 0), (50, 1000), (50, 1000), (135, 2000),
                  (135, 2000), (165, 3000)])
    monkeypatch.setattr(B, "_steal_snap", lambda: next(snaps))
    calls["n"] = 0
    r = B._run_section_with_steal_rule("tile_assign")
    assert r["v"] == 3 and r["tile_assign_steal_attempts"] == 3
    assert r["tile_assign_steal_pct_of_box"] == 3.0
    assert r["tile_assign_steal_pcts"] == [5.0, 8.5, 3.0]
    # ... also when it is not the last attempt: 5%, 3%, 8.5% keeps the second
    snaps = iter([(0, 0), (50, 1000), (50, 1000), (80, 2000),
                  (80, 2000), (165, 3000)])
    monkeypatch.setattr(B, "_steal_snap", lambda: next(snaps))
    calls["n"] = 0
    r = B._run_section_with_steal_rule("tile_assign")
    assert r["v"] == 2 and r["tile_assign_steal_attempts"] == 3
    assert r["tile_assign_steal_pct_of_box"] == 3.0
    assert r["tile_assign_steal_pcts"] == [5.0, 3.0, 8.5]

    # a crashed section short-circuits (no re-run loop on None)
    monkeypatch.setattr(B, "_steal_snap", lambda: (0, 1))
    monkeypatch.setattr(B, "_run_section", lambda name: None)
    assert B._run_section_with_steal_rule("tile_assign") is None
