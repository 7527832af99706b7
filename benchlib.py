"""Shared load-gate for the bench harnesses: bench.py at the repo root,
scripts/scaling_bench.py, scripts/decode_attrib.py, scripts/lm_bench.py,
scripts/hh_bench.py and perfbench/run.py.

Each harness gates its timed sections on a quiet 1-minute load
average — the sandbox host carries fluctuating external load that
swings committed walls ±30% (BENCH/BASELINE.md, round-4 section) — and
must label a measurement that proceeded loaded after the gate
timed out.  One implementation keeps the committed artifacts
(BENCH_r{N}.json and BENCH/BASELINE.md) comparable: the round-5 review
found the duplicated copies had already diverged (float-returning gate
vs bool-returning gate, no timeout labeling in one of them).
"""

from __future__ import annotations

import os
import time


def loadavg_1m() -> float:
    """1-minute load average (linux /proc; os.getloadavg fallback)."""
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except Exception:
        return os.getloadavg()[0]


def wait_for_quiet(
    max_load: float = 5.0, timeout_s: int = 240, poll_s: int = 10
) -> tuple[float, bool]:
    """Block until the 1-minute loadavg drops below ``max_load`` or
    ``timeout_s`` elapses.

    Returns ``(load, timed_out)``: the loadavg observed when the gate
    opened (or at timeout) and whether the gate TIMED OUT — a timed-out
    measurement proceeds on a loaded host and callers must label the
    result (``gate_timed_out``) rather than leave readers to infer it
    from the start load.
    """
    t0 = time.time()
    load1 = loadavg_1m()
    while load1 >= max_load:
        if time.time() - t0 >= timeout_s:
            return load1, True
        time.sleep(poll_s)
        load1 = loadavg_1m()
    return load1, False
