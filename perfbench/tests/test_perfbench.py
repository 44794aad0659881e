"""Tests for the benchmark's own code: the input generators, the
statistics helpers and the span arithmetic, plus a tiny-size smoke run of
each workload.

    python3 -m pytest perfbench/tests -q            # everything (about 5 min)
    python3 -m pytest perfbench/tests -q -m "not smoke"
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
from spans import Job, Span, driver_gap_ms, percentile, self_ms, union_ms  # noqa: E402


def _frames_equal(a: dict, b: dict) -> bool:
    return a.keys() == b.keys() and all(a[k].equals(b[k]) for k in a)


class TestGenerators:
    def test_grid_deterministic_per_seed(self):
        a, b = gen.grid_tables(3, 9, 12, 48), gen.grid_tables(3, 9, 12, 48)
        assert _frames_equal(a, b)

    def test_grid_differs_across_seeds(self):
        a, b = gen.grid_tables(3, 9, 12, 48), gen.grid_tables(4, 9, 12, 48)
        assert not a["gfs_run"].equals(b["gfs_run"])
        assert not a["near_land"].equals(b["near_land"])

    def test_grid_matches_the_fixture_schema(self):
        from w4h_etl_container_spark.sources import gridgen

        t = gen.grid_tables(1, 9, 12, 48)
        assert list(t["gfs_run"].columns) == list(gridgen.gfs_run().columns)
        assert list(t["gfs_run_prev"].columns) == list(gridgen.gfs_run_prev().columns)
        assert t["gfs_run"]["ts"].dtype == gridgen.gfs_run()["ts"].dtype

    def test_grid_exercises_the_retention_clip_and_the_merge(self):
        t = gen.grid_tables(1, 9, 12, 48)
        cutoff = pd.Timestamp("2026-07-31T19:00:00")
        prev, run = t["gfs_run_prev"], t["gfs_run"]
        assert (prev["ts"] < cutoff).any() and (prev["ts"] >= cutoff).any()
        assert run[gen.VALUE_COLS].isna().any(axis=None)

    def test_source_listing_is_new_every_cycle(self):
        urls = [gen.source_listing(c)["url"].max() for c in range(5)]
        assert len(set(urls)) == 5

    def test_lake_batches_deterministic_and_changing(self):
        a = gen.lake_batch(5, 2, 4, 5, 24)
        assert a.equals(gen.lake_batch(5, 2, 4, 5, 24))
        assert not a.equals(gen.lake_batch(6, 2, 4, 5, 24))
        prev = gen.lake_batch(5, 1, 4, 5, 24).set_index(["lat", "lon", "ts"])
        cur = a.set_index(["lat", "lon", "ts"])
        common = cur.index.intersection(prev.index)
        assert len(common) > 0 and len(cur.index.difference(prev.index)) > 0
        # re-forecast cell-hours carry new values, not a replay
        assert (cur.loc[common, "utci"] != prev.loc[common, "utci"]).mean() > 0.99

    def test_gate_tables_deterministic_per_seed(self):
        a, b = gen.gate_tables(7, 0.001), gen.gate_tables(7, 0.001)
        assert a.keys() == set(gen.GATE_TABLES)
        for k in a:
            pd.testing.assert_frame_equal(a[k], b[k])
        c = gen.gate_tables(8, 0.001)
        assert not a["lineitem"].equals(c["lineitem"])


class TestStatistics:
    def test_percentile_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))
        assert percentile(xs, 90) == 90  # 10 samples above it
        assert percentile(xs[:99], 90) is None  # only 9 above
        assert percentile(list(range(1, 21)), 50) == 10

    def test_percentile_empty(self):
        assert percentile([], 50) is None

    def test_union(self):
        assert union_ms([(0, 10), (5, 15), (20, 30)]) == 25
        assert union_ms([(0, 10), (5, 15)], lo=8, hi=12) == 4
        assert union_ms([]) == 0


class TestSchedule:
    def _ctx(self, trace=False):
        import workloads
        from spans import Tracer

        ctx = workloads.Ctx(seed=1, seconds=0.0, size="tiny", work="", t_start=0.0)
        ctx.tracer = Tracer(None)
        ctx.tracer.enabled = trace
        return ctx

    def _rounds(self, ctx, **kwargs):
        n = 0
        while ctx.keep_going(0.0, n, **kwargs):
            n += 1
        return n

    def test_minimum_rounds(self):
        assert self._rounds(self._ctx()) == 2
        assert self._rounds(self._ctx(trace=True)) == 4
        assert self._rounds(self._ctx(), minimum=3) == 3

    def test_whole_cycles(self):
        assert self._rounds(self._ctx(), every=4) == 4
        assert self._rounds(self._ctx(trace=True), every=4) == 8
        assert self._rounds(self._ctx(), minimum=5, every=4) == 8


class TestSpanArithmetic:
    def test_self_time_subtracts_overlapping_children_once(self):
        parent = Span(0, "job", "op", None, 0.0, 100.0)
        kids = [Span(1, "a", "op", 0, 10.0, 40.0), Span(2, "b", "op", 0, 30.0, 50.0),
                Span(3, "c", "op", 0, 90.0, 120.0)]
        assert self_ms(parent, kids) == pytest.approx(100 - 40 - 10)

    def test_driver_gap_is_wall_minus_job_union(self):
        sp = Span(0, "q", "op", None, 1000.0, 2000.0)
        jobs = [Job(1, "pb-0", 1100.0, 1300.0, []), Job(2, "pb-0", 1200.0, 1500.0, []),
                Job(3, "pb-0", 1900.0, 2100.0, [])]
        assert driver_gap_ms(sp, jobs) == pytest.approx(1000 - 400 - 100)

    def test_no_jobs_means_all_gap(self):
        sp = Span(0, "q", "op", None, 0.0, 250.0)
        assert driver_gap_ms(sp, []) == 250.0


@pytest.mark.smoke
@pytest.mark.parametrize("workload", ["etl_cycle", "gate_read", "lakehouse_mix"])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    for m in out["metrics"].values():
        assert np.isfinite(m["value"])
    if trace:
        layers = json.loads(next(ln for ln in p.stdout.splitlines() if ln.startswith("layers "))[7:])
        assert layers["session.core_busy_ratio"] > 0
        assert any("trace_overhead_ms" in ln for ln in p.stdout.splitlines())
    else:
        assert all(out["metrics"][k]["value"] > 0 for k in out["metrics"])


def test_refuses_to_run_without_the_program(tmp_path):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "etl_cycle", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
