"""The shared bench harness library (benchlib.py), without Spark: the
load gate's (load, timed_out) contract is what lets committed BENCH
artifacts self-label their measurement window; the host sizing and the
best-of-N timer are what every bench script's walls rest on."""

from __future__ import annotations

import pytest

import benchlib


def test_gate_opens_immediately_when_quiet(monkeypatch):
    monkeypatch.setattr(benchlib, "loadavg_1m", lambda: 1.25)
    load, timed_out = benchlib.wait_for_quiet(max_load=5.0, timeout_s=60)
    assert load == 1.25 and timed_out is False


def test_gate_times_out_loaded(monkeypatch):
    monkeypatch.setattr(benchlib, "loadavg_1m", lambda: 9.0)
    load, timed_out = benchlib.wait_for_quiet(
        max_load=5.0, timeout_s=0, poll_s=0)
    assert load == 9.0 and timed_out is True


def test_gate_waits_for_load_to_drop(monkeypatch):
    seq = iter([8.0, 7.0, 2.0])
    monkeypatch.setattr(benchlib, "loadavg_1m", lambda: next(seq))
    monkeypatch.setattr(benchlib.time, "sleep", lambda s: None)
    load, timed_out = benchlib.wait_for_quiet(
        max_load=5.0, timeout_s=60, poll_s=0)
    assert load == 2.0 and timed_out is False


@pytest.mark.parametrize("nproc,ram_gb", [(1, 0.5), (4, 15.6), (64, 512.0)])
def test_host_sizing_fits_the_host(monkeypatch, nproc, ram_gb):
    monkeypatch.setattr(benchlib, "host_nproc", lambda: nproc)
    monkeypatch.setattr(benchlib, "host_ram_gb", lambda: ram_gb)
    for asked in (None, 1, nproc):
        cores, driver_memory = benchlib.host_sizing(asked)
        assert 1 <= cores <= nproc
        assert driver_memory.endswith("m")
        assert 0 < int(driver_memory[:-1]) <= ram_gb * 1024
    assert benchlib.host_sizing()[0] == nproc
    with pytest.raises(ValueError, match=f"this host has {nproc}"):
        benchlib.host_sizing(nproc + 1)


def test_best_of_times_passes_after_an_untimed_warmup(monkeypatch):
    clock = [0.0]
    monkeypatch.setattr(benchlib.time, "perf_counter", lambda: clock[0])
    calls = []

    def fn():
        # the warm-up (first call) is slow; it must not show in the walls
        clock[0] += 100.0 if not calls else 2.0
        calls.append(1)

    assert benchlib.best_of(fn, 3) == [2.0, 2.0, 2.0]
    assert len(calls) == 4
