"""bench.run_flags: a gate timeout alone is not a degraded point."""

from __future__ import annotations

import bench

CALM_PROBE = bench.PROBE_THRESHOLD_SEC / 3
SLOW_PROBE = bench.PROBE_THRESHOLD_SEC * 2
CALM_LOAD = bench.IDLE_LOAD_THRESHOLD / 4
HIGH_LOAD = bench.IDLE_LOAD_THRESHOLD * 2
CLEAN_TOTAL = bench.HEADLINE_RECORD_SEC
SLOW_TOTAL = bench.HEADLINE_RECORD_SEC * bench.RERUN_FACTOR * 2


def flags(timeout=False, probe=CALM_PROBE, load0=CALM_LOAD, midrun=CALM_LOAD,
          total=CLEAN_TOTAL, outliers=()):
    return bench.run_flags(timeout, probe, load0, {"q": midrun}, total, list(outliers))


def test_clean_run_is_neither():
    assert flags() == {"gate_timeout": False, "degraded": False}


def test_gate_timeout_with_calm_probe_and_clean_pass_is_not_degraded():
    # the r15 official point: loadavg gate timed out, probe 0.075 s,
    # load1 0.34 at start, mid-run max 1.79, no outlier
    assert flags(timeout=True) == {"gate_timeout": True, "degraded": False}


def test_gate_timeout_with_slow_probe_is_degraded():
    assert flags(timeout=True, probe=SLOW_PROBE) == {"gate_timeout": True, "degraded": True}


def test_each_pass_signal_still_degrades():
    assert flags(load0=HIGH_LOAD)["degraded"]
    assert flags(midrun=HIGH_LOAD, total=SLOW_TOTAL)["degraded"]
    assert not flags(midrun=HIGH_LOAD)["degraded"]  # breach, but a fast total
    assert flags(outliers=["join_multiway_star"])["degraded"]
    assert flags(timeout=True, outliers=["join_multiway_star"]) == {
        "gate_timeout": True, "degraded": True,
    }
