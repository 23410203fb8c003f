"""Steal-gate unit tests (bench.py:gated_phase).

The gate accepts a phase attempt when its /proc/stat steal delta is
under ``max(absolute floor, STEAL_RATE_CAP x secs x cpus x USER_HZ)``:
an absolute tick budget for short phases, a steal-rate cap for long
ones (a 34 s phase at a 2% steal rate accumulates more ticks than a
1 s phase at 70% — only the second is a contaminated measurement).
No Spark session needed: the meter and the clock are faked.
"""

import os
import sys
import time
import types

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


class FakeMeter:
    def __init__(self, ticks_seq):
        self.seq = list(ticks_seq)
        self.deltas = {}

    def reset(self):
        pass

    def lap(self, name):
        return {"steal_ticks": self.seq.pop(0), "pgmajfault": 0}


def _with_clock(durations, fn):
    """Run fn with time.monotonic faked so attempt i takes durations[i]."""
    seq = []
    t = 0.0
    for d in durations:
        seq.extend([t, t + d])
        t += d
    real = bench.time
    bench.time = types.SimpleNamespace(monotonic=lambda: seq.pop(0))
    try:
        return fn()
    finally:
        bench.time = real


def test_rate_cap_accepts_long_low_rate_phase(monkeypatch):
    """2,321 ticks over 34 s on 32 cpus is a ~2% steal rate — clean. The
    cpu count is faked like the clock and the meter, so the same rate is
    checked on every host (on 4 cpus those ticks are a ~17% rate, which
    the gate rightly rejects)."""
    monkeypatch.setattr(bench.os, "cpu_count", lambda: 32)
    cont, log = {}, {}
    meter = FakeMeter([2321])
    _, secs = _with_clock(
        [34.0],
        lambda: bench.gated_phase(
            meter, cont, log, "long", bench.STEAL_SERVE_TICKS, lambda: "v"
        ),
    )
    assert secs == 34.0
    assert cont == {}
    assert log["long"][0]["allowed_ticks"] >= 2321
    assert log["long"][0]["allowed_ticks"] == bench._allowed_ticks(
        bench.STEAL_SERVE_TICKS, 34.0
    )


def test_floor_rejects_short_high_rate_phase_then_retries():
    """The same 2,321 ticks inside a 1 s phase breach the absolute floor;
    the retry's clean attempt is the one accepted."""
    cont, log = {}, {}
    meter = FakeMeter([2321, 100])
    _, secs = _with_clock(
        [1.0, 1.0],
        lambda: bench.gated_phase(
            meter, cont, log, "short", bench.STEAL_SERVE_TICKS, lambda: "v"
        ),
    )
    assert cont == {}
    assert len(log["short"]) == 2
    assert log["short"][1]["steal_ticks"] == 100


def test_no_clean_attempt_stamps_contaminated_with_worst_ticks():
    cont, log = {}, {}
    meter = FakeMeter([2321, 2500, 3000])
    _with_clock(
        [1.0, 1.0, 1.0],
        lambda: bench.gated_phase(
            meter, cont, log, "bad", bench.STEAL_SERVE_TICKS, lambda: "v"
        ),
    )
    assert cont == {"bad": 3000}
    assert len(log["bad"]) == 3  # STEAL_RETRIES=2 -> 3 attempts


def test_allowed_ticks_floor_and_rate():
    cpus = os.cpu_count() or 1
    assert bench._allowed_ticks(2000, 0.1) == 2000
    long_allow = bench._allowed_ticks(2000, 60.0)
    assert long_allow == max(2000, int(bench.STEAL_RATE_CAP * 60.0 * cpus * 100))
