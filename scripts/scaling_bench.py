#!/usr/bin/env python
"""Scaling-efficiency protocol (BASELINE.json north_rule): run the
identical full check suite on the identical on-disk `sequences` input at
two parallelism levels — local[N] and local[4N] — and report throughput
at both plus efficiency = (T_4N / T_N) / 4 (target ≥ 0.8).

Each level runs in a **fresh subprocess** (a JVM cannot change its
master: ``scaling_bench.py --worker level <data> <cores>``), reading the
same pre-generated parquet.  Results are written to
BENCH/BASELINE.md.

Usage: python scripts/scaling_bench.py [--rows 4000000] [--n nproc/4]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
from benchlib import (  # noqa: E402  (the shared bench harness)
    best_of,
    host_nproc,
    host_sizing,
    host_spark,
    loadavg_1m,
    run_worker,
    suite_fixture,
    wait_for_quiet,
)


def worker(kind: str, data: str, n: str) -> None:
    """One fresh-JVM job, run as ``scaling_bench.py --worker <kind>
    <data> <n>``: ``gen`` writes the n-row fixture at ``data``; ``level``
    times the suite over it at n cores.  Prints one JSON line."""
    import ensembl_datacheck_spark.checks  # noqa: F401  (register)
    from ensembl_datacheck_spark import registry
    from ensembl_datacheck_spark.plans.runner import Runner

    if kind == "gen":
        suite_fixture(host_spark("gen"), data, rows=int(n), n_partitions=256)
        print(json.dumps({"rows": int(n)}))
        return
    cores = int(n)
    spark = host_spark("scaling-bench", cores=cores)
    tables = suite_fixture(spark, data)
    load_start = loadavg_1m()
    summaries = []
    # one untimed warm-up suite run (JIT-compiles the generated code,
    # faults the input into page cache), then best of two: steady-state
    # throughput, the regime a long-running validation job lives in
    walls = best_of(lambda: summaries.append(Runner(
        spark, tables, n_buckets=64).run(
            registry.default_suite(), write_checkpoints=False,
            parallelism=4)), 2)
    best_summary = summaries[1 + walls.index(min(walls))]
    # per-check wall attribution from the BEST run, a one-read diagnosis
    # of the next regression.  Per-check runtimes overlap in the pool:
    # read them as relative weight.  Checks fused into one shared scan
    # report identical (started, runtime) and collapse to one entry,
    # labelled "fused" only for REAL fused membership (row_predicates):
    # small pooled checks can share a rounded timing bucket by chance.
    fused_names = {s.name for s in registry.default_suite()
                   if s.row_predicates is not None}
    groups: dict[tuple, list[str]] = {}
    for r in best_summary.results:
        groups.setdefault((round(r.started, 2), round(r.runtime, 2)),
                          []).append(r.check_name)

    def label(names):
        if len(names) == 1:
            return names[0]
        how = ("fused" if all(n in fused_names for n in names)
               else "co-timed")
        return f"{names[0]} x{len(names)} {how}"

    slowest = sorted(groups.items(), key=lambda kv: -kv[0][1])[:5]
    # load_end includes this worker's own threads; read it relative to
    # `cores`, not as ambient
    print(json.dumps({"wall": min(walls), "walls": walls, "cores": cores,
                      "n_failed": best_summary.n_failed,
                      "rows": tables["sequences"].count(),
                      "slowest_checks": {label(names): key[1]
                                         for key, names in slowest},
                      "loadavg_start": round(load_start, 2),
                      "loadavg_end": round(loadavg_1m(), 2)}))


def run_level(data_dir: str, cores: int) -> dict:
    _, timed_out = wait_for_quiet()
    return {**run_worker(__file__, "level", data_dir, cores),
            "gate_timed_out": timed_out}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=4_000_000)
    ap.add_argument("--n", type=int, default=max(1, host_nproc() // 4),
                    help="small parallelism level N (default: a quarter "
                    "of this host's cores, so 4N uses them all)")
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
        for cores in [args.one_level] if args.one_level else [args.n, 4 * args.n]:
            host_sizing(cores)  # fail before the generation, not after
        complete = all(
            os.path.exists(f"{args.data}/{d}/_SUCCESS")
            for d in ("sequences", "baseline")
        )
        if not args.skip_gen or not complete:
            print(f"generating {args.rows:,} rows at {args.data} ...", file=sys.stderr)
            run_worker(__file__, "gen", args.data, args.rows)
        if args.one_level:
            out = json.dumps(run_level(args.data, args.one_level))
            if args.json_out:
                with open(args.json_out, "w") as f:
                    f.write(out)
            print(out)
            return
        res_n = run_level(args.data, args.n)
        res_4n = run_level(args.data, args.n * 4)
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
    if sys.argv[1:2] == ["--worker"]:
        worker(*sys.argv[2:])
    else:
        main()
