#!/usr/bin/env python3
"""Benchmark of the ensembl_datacheck_spark engine on one host.

    python3 perfbench/run.py --workload suite_resume --seed 1 \
        --seconds 20 --trace 0

Runs one workload (``workloads.WORKLOADS``) as a closed loop with one
client on one ``local[nproc]`` session, checks its outputs, and prints
as the last line of standard output one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones (BENCHMARK.json ``end_to_end``);
with ``--trace 1`` they are the per-layer ones (``per_layer``).  The
line before it is a JSON ``detail`` object: the host block, the
workload's own headline figures, sample counts and any failures.

Inputs are generated from ``--seed`` inside ``.perfbench_work/`` under
the directory holding ``perfbench/``, which is removed at exit.  See
perfbench/README.md for workloads, metrics and the layer mapping.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(ROOT, "BENCHMARK.json")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_ram_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("no MemTotal in /proc/meminfo")


def driver_memory(ram_gb: float) -> str:
    """A quarter of host RAM, at most 3 GiB: the working sets are small
    and the host is shared."""
    return f"{max(1, min(3, int(ram_gb // 4)))}g"


def steal_s() -> float:
    """CPU time this machine's virtual CPUs waited for the hypervisor
    (the ``steal`` column of /proc/stat), in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM this process launched (and
    with it the Python workers it forked) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        # the launched JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave it running
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    started = time.perf_counter()
    args = parse_args(argv)
    # Python workers are forked by the JVM from this process's
    # environment: put the repo root on their path so the package's UDFs
    # unpickle whatever directory this was launched from
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    try:
        import ensembl_datacheck_spark  # noqa: F401
        from benchlib import loadavg_1m, wait_for_quiet
        from ensembl_datacheck_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    with open(SPEC) as f:
        spec = json.load(f)

    import workloads
    from tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    import pyspark

    nproc = os.cpu_count() or 1
    ram = host_ram_gb()
    load_start, gate_timed_out = wait_for_quiet(
        max_load=nproc + 1.0, timeout_s=3, poll_s=1)
    host = {"nproc": nproc, "pyspark": pyspark.__version__,
            "ram_gb": round(ram, 1), "driver_memory": driver_memory(ram),
            "loadavg_start": load_start, "gate_timed_out": gate_timed_out}
    steal_start = steal_s()

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(
            "perfbench", cores=nproc, driver_memory=driver_memory(ram),
            extra_conf={
                "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
                "spark.local.dir": os.path.join(work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            })
        spark.range(1).collect()
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")

        bench = workloads.Bench(
            spark=spark, work=work, seed=args.seed, seconds=args.seconds,
            tracer=Tracer(spark, enabled=bool(args.trace)),
            trace=bool(args.trace), started=started)
        t1 = time.perf_counter()
        out = workloads.WORKLOADS[args.workload](bench)
        bench.layer["session.start_s"] = session_s
        setup_s = (session_s + bench.layer["sources.fixture_gen_s"]
                   + out["cold_s"])
        e2e = {"setup_s": setup_s, "pass_cpu_s": out["pass_cpu_s"]}
        bench.layer["pass.wall_s"] = out["pass_s"]
        bench.layer["peak_rss_mb"] = bench.tracer.rss_mb("VmHWM")
        bench.detail["peak_rss_mb"] = bench.layer["peak_rss_mb"]
        run_s = time.perf_counter() - t1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    host["loadavg_end"] = loadavg_1m()
    host["steal_s"] = steal_s() - steal_start
    ops_failed_share = bench.failed / max(bench.attempted, 1)
    chosen = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = bench.layer if args.trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in chosen}
    detail = {"workload": args.workload, "seed": args.seed, "host": host,
              "run_s": run_s, "end_to_end": e2e, "pass_s": out["pass_s"],
              "ops_failed_share": ops_failed_share,
              **bench.detail}
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({"correct": bench.failed == 0 and bench.attempted > 0,
                      "attempted": bench.attempted, "failed": bench.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
