"""The one bench harness library of bench.py at the repo root,
scripts/scaling_bench.py, scripts/decode_attrib.py, scripts/lm_bench.py,
scripts/hh_bench.py and scripts/dedup_bench.py (perfbench/run.py uses
the load gate): the host-sized session, the noop sink, the parquet
fixtures, the best-of-N timer and the fresh-interpreter worker runner.

The load gate: each harness gates its timed sections on a quiet 1-minute
load average — a shared host carries fluctuating external load that
swings committed walls ±30% (BENCH/BASELINE.md, round-4 section) — and
labels a measurement that proceeded loaded after the gate timed out.
Duplicated copies of harness code diverge: in round 5 two
gates already disagreed (float vs bool result, one without timeout
labeling).
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

from ensembl_datacheck_spark.session import (
    host_driver_memory,
    host_nproc,
    host_ram_gb,
)


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


def host_sizing(cores: int | None = None) -> tuple[int, str]:
    """``(cores, driver_memory)`` of a bench session on this host: every
    core unless ``cores`` asks for fewer, and a quarter of physical RAM.
    Asking for more cores than the host has raises: an oversubscribed
    ``local[N]`` would time thread contention, not N cores."""
    nproc = host_nproc()
    cores = cores or nproc
    if cores > nproc:
        raise ValueError(f"{cores} cores asked for; this host has {nproc}")
    return cores, host_driver_memory(host_ram_gb())


def host_spark(app: str, cores: int | None = None):
    """The bench session: ``host_sizing`` cores and driver memory, and
    ``max(cores, 16)`` shuffle partitions."""
    from ensembl_datacheck_spark.session import get_spark

    cores, driver_memory = host_sizing(cores)
    return get_spark(app, cores=cores, shuffle_partitions=max(cores, 16),
                     driver_memory=driver_memory)


def consume(df) -> None:
    """noop sink: executes every output column of ``df`` without moving
    rows to the driver (count() would let Catalyst prune projections).
    There is no fallback: a wall timed over a pruned plan must never be
    recorded."""
    df.write.format("noop").mode("overwrite").save()


def scratch_dir(prefix: str) -> str:
    """A temporary directory removed when the process exits."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, True)
    return path


def to_parquet(spark, df, path: str):
    """Write ``df`` to parquet at ``path`` and read it back, so a bench
    times the operator over an on-disk input, not the generator."""
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def suite_fixture(spark, data_dir: str, rows: int | None = None,
                  n_partitions: int = 256) -> dict:
    """The default suite's tables over the on-disk fixture in
    ``data_dir``: ``sequences`` with synth's planted violations, the
    ``sources`` dimension, and ``baseline_stats`` of a clean twin.  With
    ``rows`` the fixture is (re)generated first.  No ``meta`` table: the
    spec-pack meta checks skip in microseconds (BENCH/BASELINE.md)."""
    from ensembl_datacheck_spark.sources import synth

    def gen(dirty: bool):
        return synth.gen_sequences(spark, rows, n_partitions=n_partitions,
                                   median_tok=64, max_tok=1024,
                                   inject_violations=dirty)

    if rows is not None:
        gen(True).write.mode("overwrite").parquet(f"{data_dir}/sequences")
        synth.gen_baseline_stats(spark, gen(False)).write.mode(
            "overwrite").parquet(f"{data_dir}/baseline")
    return {"sequences": spark.read.parquet(f"{data_dir}/sequences"),
            "sources": synth.gen_sources(spark),
            "baseline_stats": spark.read.parquet(f"{data_dir}/baseline")}


def best_of(fn, passes: int) -> list[float]:
    """One untimed warm-up call of ``fn`` (JIT, codegen, page cache),
    then ``passes`` timed calls; returns their walls in seconds.  Read
    ``min(walls)``: steady state, with ambient-load spikes absorbed."""
    fn()
    walls = []
    for _ in range(passes):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return walls


def run_worker(script: str, *args) -> dict:
    """Run ``python <script> --worker <args>`` in a fresh interpreter
    (its own JVM: a session cannot change its master) and return the
    JSON object it prints last.  A failed worker exits this process with
    the worker's stderr tail, i.e. its Spark traceback."""
    argv = [str(a) for a in args]
    out = subprocess.run([sys.executable, script, "--worker", *argv],
                         capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"{Path(script).name} --worker {' '.join(argv)} exited "
                 f"{out.returncode}; stderr tail:\n"
                 + "\n".join(out.stderr.strip().splitlines()[-30:]))
    return json.loads(out.stdout.strip().splitlines()[-1])
