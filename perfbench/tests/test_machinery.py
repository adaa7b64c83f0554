"""Tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import harness as H  # noqa: E402
import ledger as L  # noqa: E402
import run as R  # noqa: E402

CAPTURED = os.path.join(HERE, "data", "eventlog_small.jsonl")


# -- percentile plus sample count ---------------------------------------------


def test_betainc_matches_the_binomial_sum():
    # for whole a, b: I_x(a, b) = P(Binomial(a + b - 1, x) >= a)
    for a in range(1, 12):
        for b in range(1, 12):
            n = a + b - 1
            for x in (0.001, 0.2, 0.5, 0.77, 0.999):
                exact = sum(math.comb(n, j) * x**j * (1 - x) ** (n - j) for j in range(a, n + 1))
                assert H.betainc(a, b, x) == pytest.approx(exact, abs=1e-12)
    assert H.betainc(2.4, 0.6, 0.0) == 0.0
    assert H.betainc(2.4, 0.6, 1.0) == 1.0


def test_percentile_harrell_davis():
    xs = list(range(1, 51))
    assert H.percentile(xs, 50) == pytest.approx(25.5)  # symmetric samples: the middle
    assert H.percentile(xs, 80) == pytest.approx(40.5)  # n * p + 1/2 on evenly spaced samples
    assert H.percentile(reversed(xs), 80) == pytest.approx(40.5)
    assert H.percentile([7.0], 80) == pytest.approx(7.0)
    assert H.percentile([4.0] * 9, 80) == pytest.approx(4.0)  # the weights sum to one
    assert H.percentile([3, 1, 2], 50) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        H.percentile([], 50)


def test_p80_needs_fifty_samples_for_ten_beyond():
    assert H.beyond(50, 80) == 10
    assert H.tail_percentile(50) == 80
    assert H.beyond(25, 80) == 5
    assert H.tail_percentile(25) == 60
    assert H.beyond(25, 60) == 10
    assert H.tail_percentile(10) is None


# -- failure accounting -------------------------------------------------------


def test_tally_counts_failures_and_mismatches():
    t = H.Tally()
    t.ok(3)
    assert t.check(True, "fine")
    assert not t.check(False, "mismatch")
    t.fail("raised")
    assert (t.attempted, t.failed) == (6, 2)
    assert t.error_rate == pytest.approx(2 / 6)
    assert t.problems == ["mismatch", "raised"]
    assert H.Tally().error_rate == 0.0


class _Flaky:
    """A workload whose second unit raises."""

    name = "flaky"

    def __init__(self):
        self.calls = 0

    def unit(self, spark, tracer, tally):
        self.calls += 1
        if self.calls == 2:
            raise RuntimeError("boom")
        tally.ok()
        return {"wall": 0.0}


def test_failed_unit_is_counted_and_the_loop_goes_on():
    wl, tally = _Flaky(), H.Tally()
    units = R.timed_units(wl, None, L.Tracer(), tally, seconds=0.0)
    assert len(units) == 1 and tally.failed == 0  # one unit is the minimum
    wl, tally = _Flaky(), H.Tally()
    calls = iter([0.0] * 4 + [99.0] * 10)
    orig = R.time.perf_counter
    R.time.perf_counter = lambda: next(calls)
    try:
        units = R.timed_units(wl, None, L.Tracer(), tally, seconds=1.0)
    finally:
        R.time.perf_counter = orig
    assert tally.failed == 1 and tally.attempted == 1 + len(units)
    assert "flaky unit: RuntimeError: boom" in tally.problems[0]


# -- spans --------------------------------------------------------------------


class _FakeSc:
    def __init__(self):
        self.props = {}

    def setJobGroup(self, group, desc):
        self.props["spark.jobGroup.id"] = group

    def setLocalProperty(self, k, v):
        self.props[k] = v


def test_tracer_nests_groups_and_restores_them():
    sc = _FakeSc()
    tr = L.Tracer(sc, enabled=True)
    with tr.span("outer", "g1"):
        with tr.span("inner") as inner:
            assert sc.props["spark.jobGroup.id"] == "g1"
        with tr.span("other", "g2"):
            assert sc.props["spark.jobGroup.id"] == "g2"
        assert sc.props["spark.jobGroup.id"] == "g1"
    assert sc.props["spark.jobGroup.id"] is None
    assert [s["parent"] for s in tr.spans] == [None, 0, 0]
    assert inner["group"] == "g1" and inner["end"] >= inner["start"]
    off = L.Tracer()
    with off.span("x") as rec:
        assert rec is None
    assert off.spans == []


def test_union_of_intervals():
    assert L._union([(0, 2), (1, 3), (5, 6)]) == 4
    assert L._union([(2, 1)]) == 0
    assert L._union([]) == 0


# -- the ledger fold on a captured event log ----------------------------------


@pytest.fixture(scope="module")
def captured():
    with open(CAPTURED) as f:
        meta = json.loads(f.readline())
        events = [json.loads(line) for line in f if line.strip()]
    return meta, L.fold(events)


def test_fold_groups_jobs_and_tasks(captured):
    meta, led = captured
    for g in ("cells", "spatial_join", "tile_agg", "part"):
        row = led.groups[g]
        assert row["jobs"] >= 1 and row["tasks"] >= 1
        assert row["run_s"] > 0 and row["cpu_s"] > 0
        assert led.job_wall(g) > 0
    assert led.select("")["tasks"] == sum(r["tasks"] for r in led.groups.values())
    assert led.groups["tile_agg"]["shuffle_write_bytes"] > 0


def test_fold_spatial_funnel_broadcast_path(captured):
    meta, led = captured
    f = led.spatial("spatial_join")
    assert f["probe_rows"] == meta["points"] * meta["cover_resolutions_broadcast"]
    assert f["accepted_rows"] == meta["joined_rows_broadcast"]
    assert 0 < f["accepted_rows"] <= f["refine_rows"] <= f["probe_rows"]
    assert f["python_s"] > 0 and f["exec_s"] > 0
    assert f["accept_ratio"] == f["accepted_rows"] / f["probe_rows"]


def test_fold_spatial_funnel_partitioned_path(captured):
    meta, led = captured
    f = led.spatial("part")
    assert f["accepted_rows"] == meta["joined_rows_partitioned"]
    assert f["shuffle_bytes"] > 0
    assert led.plan_count("part", "join") >= 1
    assert led.plan_count("part", "cover") >= 1


def test_fold_python_time_is_per_group(captured):
    meta, led = captured
    assert led.groups["spatial_join"]["python_s"] > 0
    assert led.groups["cells"]["python_s"] == 0
