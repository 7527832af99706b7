#!/usr/bin/env python
"""Scaling-efficiency protocol (BASELINE.json north_rule): run the
identical full check suite on the identical on-disk `sequences` input at
two parallelism levels — local[N] and local[4N] — and report throughput
at both plus efficiency = (T_4N / T_N) / 4 (target ≥ 0.8).

Each level runs in a **fresh subprocess** (a JVM cannot change its
master), reading the same pre-generated parquet.  Results are written to
BENCH/BASELINE.md.

Usage: python scripts/scaling_bench.py [--rows 4000000] [--n 8]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
from benchlib import wait_for_quiet  # noqa: E402  (shared load gate)

WORKER = r"""
import json, sys, time
sys.path.insert(0, "{repo}")
from ensembl_datacheck_spark.session import get_spark
from ensembl_datacheck_spark.plans.runner import Runner
from ensembl_datacheck_spark import registry
from ensembl_datacheck_spark.sources import synth
import ensembl_datacheck_spark.checks  # register

cores = {cores}
spark = get_spark("scaling-bench", cores=cores,
                  shuffle_partitions=max(cores, 16), driver_memory="48g")
seq = spark.read.parquet("{data}/sequences")
tables = {{
    "sequences": seq,
    "sources": synth.gen_sources(spark),
    "baseline_stats": spark.read.parquet("{data}/baseline"),
}}
# warm-up: one full untimed suite run (JIT-compiles the generated code,
# faults the input into page cache) — we measure steady-state throughput,
# the regime a long-running validation job lives in
Runner(spark, tables, n_buckets=64).run(registry.default_suite(), write_checkpoints=False,
                                        parallelism=4)
# the shared gate helper, not a re-inlined /proc read: benchlib exists
# precisely because duplicated copies of this code diverged once
from benchlib import loadavg_1m as _load1

load_start = _load1()
walls, best_summary = [], None
for _ in range(2):
    t0 = time.perf_counter()
    summary = Runner(spark, tables, n_buckets=64).run(
        registry.default_suite(), write_checkpoints=False, parallelism=4)
    w = time.perf_counter() - t0
    if not walls or w < min(walls):
        best_summary = summary
    walls.append(w)
wall = min(walls)
n_failed = best_summary.n_failed
# per-check wall attribution from the BEST run: the round-5 quantile
# regression needed a same-data A/B bisect to attribute because only the
# total wall was reported — the slowest-checks list makes the next one a
# one-read diagnosis.  Per-check runtimes overlap in the runner's thread
# pool (their sum exceeds the wall); read them as relative weight.  Checks
# fused into one shared scan report identical (started, runtime) — they
# collapse to one entry so the list stays diagnostic — but the label
# checks REAL fused membership (row_predicates, the runner's own fusion
# rule): small pooled checks can land in the same rounded timing bucket
# by scheduling coincidence and must not masquerade as the fused scan.
fused_names = {{s.name for s in registry.default_suite()
                if s.row_predicates is not None}}
groups = {{}}
for r in best_summary.results:
    groups.setdefault((round(r.started, 2), round(r.runtime, 2)), []).append(
        r.check_name)
slowest = sorted(groups.items(), key=lambda kv: -kv[0][1])[:5]
def _label(names):
    if len(names) == 1:
        return names[0]
    kind = ("fused" if all(n in fused_names for n in names)
            else "co-timed")
    return f"{{names[0]}} x{{len(names)}} {{kind}}"
slowest = {{_label(names): key[1] for key, names in slowest}}
# load_end includes this worker's own threads; read it relative to
# `cores`, not as ambient
print(json.dumps({{"wall": wall, "walls": walls, "cores": cores,
                   "n_failed": n_failed, "rows": seq.count(),
                   "slowest_checks": slowest,
                   "loadavg_start": round(load_start, 2),
                   "loadavg_end": round(_load1(), 2)}}))
"""


def generate(data_dir: str, rows: int) -> None:
    code = f"""
import sys
sys.path.insert(0, "{REPO}")
from ensembl_datacheck_spark.session import get_spark
from ensembl_datacheck_spark.sources import synth
spark = get_spark("gen", cores=32, shuffle_partitions=64, driver_memory="48g")
seq = synth.gen_sequences(spark, {rows}, n_partitions=256, median_tok=64,
                          max_tok=1024)
seq.write.mode("overwrite").parquet("{data_dir}/sequences")
clean = synth.gen_sequences(spark, {rows}, n_partitions=256, median_tok=64,
                            max_tok=1024, inject_violations=False)
synth.gen_baseline_stats(spark, clean).write.mode("overwrite").parquet(
    "{data_dir}/baseline")
"""
    subprocess.run([sys.executable, "-c", code], check=True)


def run_level(data_dir: str, cores: int) -> dict:
    code = WORKER.format(repo=REPO, cores=cores, data=data_dir)
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True
    )
    if out.returncode != 0:
        # surface the worker's actual Spark traceback — a bare
        # CalledProcessError hides the captured stderr behind the huge
        # '-c' command string and costs a multi-minute rerun to rediagnose
        sys.exit(
            f"worker (cores={cores}) exited {out.returncode}; stderr tail:\n"
            + "\n".join(out.stderr.strip().splitlines()[-30:])
        )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=4_000_000)
    ap.add_argument("--n", type=int, default=8, help="small parallelism level N")
    ap.add_argument("--data", default="/tmp/dcheck_scaling_data")
    ap.add_argument("--skip-gen", action="store_true")
    ap.add_argument("--one-level", type=int, default=None,
                    help="run a single parallelism level, print JSON, exit")
    ap.add_argument("--json-out", default=None)
    ap.add_argument("--report-from", nargs=2, metavar=("N_JSON", "FOURN_JSON"),
                    help="assemble BENCH/BASELINE.md from two saved level JSONs")
    ap.add_argument("--append-section", metavar="TITLE", default=None,
                    help="append the pair as a dated '## TITLE' section to "
                    "BENCH/BASELINE.md instead of overwriting the file — "
                    "the file accumulates measurement history across "
                    "rounds and a full rewrite would erase it")
    args = ap.parse_args()

    if args.report_from:
        res_n = json.load(open(args.report_from[0]))
        res_4n = json.load(open(args.report_from[1]))
        args.n = res_n["cores"]
        if res_4n["cores"] != 4 * res_n["cores"]:
            sys.exit(f"not an N/4N pair: cores {res_n['cores']} vs "
                     f"{res_4n['cores']}")
    else:
        # generation completeness = Spark's _SUCCESS markers in BOTH
        # outputs: sequences is written first, so an interrupted
        # generation can leave sequences present but baseline missing —
        # --skip-gen must regenerate, not crash the worker mid-bench
        complete = all(
            os.path.exists(f"{args.data}/{d}/_SUCCESS")
            for d in ("sequences", "baseline")
        )
        if not args.skip_gen or not complete:
            print(f"generating {args.rows:,} rows at {args.data} ...", file=sys.stderr)
            generate(args.data, args.rows)
        if args.one_level:
            _, timed_out = wait_for_quiet()
            res = run_level(args.data, args.one_level)
            res["gate_timed_out"] = timed_out
            out = json.dumps(res)
            if args.json_out:
                with open(args.json_out, "w") as f:
                    f.write(out)
            print(out)
            return
        _, timed_out_n = wait_for_quiet()
        res_n = run_level(args.data, args.n)
        res_n["gate_timed_out"] = timed_out_n
        _, timed_out_4n = wait_for_quiet()
        res_4n = run_level(args.data, args.n * 4)
        res_4n["gate_timed_out"] = timed_out_4n
    # throughput from the MEASURED row count the workers report, never
    # the --rows flag: --skip-gen against a dir generated with a
    # different --rows would otherwise commit wrong seqs/sec to the
    # report (applies to live runs and --report-from alike)
    measured = res_n.get("rows") or res_4n.get("rows")
    if measured:
        if res_n.get("rows") and res_4n.get("rows") \
                and res_n["rows"] != res_4n["rows"]:
            sys.exit("level JSONs measured different row counts")
        if measured != args.rows:
            print(f"note: using measured row count {measured:,} "
                  f"(--rows {args.rows:,} does not match the data dir)",
                  file=sys.stderr)
        args.rows = measured
    thr_n = args.rows / res_n["wall"]
    thr_4n = args.rows / res_4n["wall"]
    eff = (thr_4n / thr_n) / 4

    if args.append_section:
        header = (f"## {args.append_section} "
                  f"({time.strftime('%Y-%m-%d %H:%M')})")
    else:
        header = "# BENCH/BASELINE.md — scaling-efficiency measurement"
    report = f"""{header}

Protocol (BASELINE.md): identical full check suite (the full default
registry,
fused row scan + uniqueness + referential + drift) on the identical
on-disk parquet `sequences` table at two parallelism levels, fresh JVM
per level.  One full untimed warm-up suite run per level (JIT + page
cache), then the best of two timed runs — steady-state throughput, the
regime of a long-running 100 TB validation job.

| quantity | value |
|---|---|
| rows | {args.rows:,} |
| input partitions | 256 |
| buckets (partition_id) | 64 |
| N (cores) | {args.n} |
| 4N (cores) | {args.n * 4} |
| wall @ N | {res_n['wall']:.2f} s |
| wall @ 4N | {res_4n['wall']:.2f} s |
| throughput @ N | {thr_n:,.0f} seqs/sec |
| throughput @ 4N | {thr_4n:,.0f} seqs/sec |
| **scaling efficiency (T_4N/T_N)/4** | **{eff:.3f}** (target ≥ 0.8) |
| measurement window @ N | loadavg_start {res_n.get('loadavg_start', '?')}, \
gate {'TIMED OUT (loaded)' if res_n.get('gate_timed_out') else 'opened clean'} |
| measurement window @ 4N | loadavg_start {res_4n.get('loadavg_start', '?')}, \
gate {'TIMED OUT (loaded)' if res_4n.get('gate_timed_out') else 'opened clean'} |

Spark conf deltas from defaults: shuffle.partitions = max(cores, 16),
AQE on (coalesce + skewJoin), broadcast threshold 64 MB, Arrow enabled.
Measured {time.strftime('%Y-%m-%d %H:%M:%S')} on local mode (single JVM;
cluster-mode N/4N executor scaling is modeled by core scaling per
BASELINE.md sandbox protocol).
"""
    out_path = REPO / "BENCH" / "BASELINE.md"
    out_path.parent.mkdir(exist_ok=True)
    if args.append_section:
        with open(out_path, "a") as f:
            f.write("\n" + report)
    else:
        out_path.write_text(report)
    print(report)
    print(json.dumps({"throughput_N": thr_n, "throughput_4N": thr_4n,
                      "efficiency": eff}))


if __name__ == "__main__":
    main()
