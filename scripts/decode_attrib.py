#!/usr/bin/env python
"""Bandwidth attribution for the fused row scan's sub-linear core scaling.

The round-2 measurement showed the fused scan speeding up 3.09x from 2->8
cores while pure aggregations hit 3.6-4.0x, and attributed the gap to
token-array decode being memory-bandwidth-bound in local mode (all
threads share ONE node's memory bus; on a real cluster each executor
brings its own).  This script tests that attribution directly on the same
on-disk table by timing, at two parallelism levels in fresh JVMs:

  suite_full    the default check suite (fused scan decodes `tokens`)
  suite_no_tok  the suite with the two token-decoding checks
                (SequencesCompleteness, TokenInvariants) toggled off --
                column pruning then drops `tokens` from the parquet read
                (the worker asserts this against the physical plan)
  decode_only   the minimal job that must decode every token array:
                sum(size)/sum(array_min)/sum(array_max) in one aggregate
  narrow_only   the same aggregate shape over narrow columns only
                (doc_id, n_tok, source)

If the attribution is right, decode_only's 2->8x speedup lands near the
fused scan's (~3.1x) while narrow_only lands near linear, and the
suite_full - suite_no_tok wall delta accounts for most of the fused
scan's cost.  Decoded bandwidth is derived from sum(n_tok) * 4 bytes.

Each (job, level) runs in a fresh subprocess
(``decode_attrib.py --worker <job> <data> <cores>``) over the fixture
``scripts/scaling_bench.py`` generates.

Usage: python scripts/decode_attrib.py [--data /tmp/dcheck_scaling_data] \
           [--levels 2 8] [--json-out /tmp/attrib.json]
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
from benchlib import (  # noqa: E402  (the shared bench harness)
    best_of,
    host_spark,
    run_worker,
    suite_fixture,
    wait_for_quiet,
)

JOBS = ("suite_full", "suite_no_tok", "decode_only", "narrow_only")
TOKEN_CHECKS = {"SequencesCompleteness", "TokenInvariants"}


def worker(job: str, data: str, cores: str) -> None:
    """Time one job at ``cores`` in this fresh JVM, run as
    ``decode_attrib.py --worker <job> <data> <cores>``; prints one JSON
    line."""
    from pyspark.sql import functions as F

    import ensembl_datacheck_spark.checks  # noqa: F401  (register)
    from ensembl_datacheck_spark.plans.runner import Runner
    from ensembl_datacheck_spark.registry import registry

    cores = int(cores)
    spark = host_spark("decode-attrib", cores=cores)
    tables = suite_fixture(spark, data)
    seq = tables["sequences"]

    def run_once():
        if job == "suite_full":
            Runner(spark, tables, n_buckets=64).run(
                registry.default_suite(), write_checkpoints=False,
                parallelism=4)
        elif job == "suite_no_tok":
            specs = [s for s in registry.default_suite()
                     if s.name not in TOKEN_CHECKS]
            Runner(spark, tables, n_buckets=64).run(
                specs, write_checkpoints=False, parallelism=4)
        elif job == "decode_only":
            seq.agg(F.sum(F.size("tokens")).alias("total_tok"),
                    F.sum(F.array_min("tokens")).alias("s_min"),
                    F.sum(F.array_max("tokens")).alias("s_max")).collect()
        else:  # narrow_only
            seq.agg(F.count(F.lit(1)).alias("n"),
                    F.sum("n_tok").alias("total_tok"),
                    F.min("doc_id").alias("d0"),
                    F.max("source").alias("s1")).collect()

    # warm-up run (JIT + page cache), then best-of-2 steady-state walls
    walls = best_of(run_once, 2)
    total_tok = seq.agg(F.sum("n_tok")).collect()[0][0]
    out = {"job": job, "cores": cores, "wall": min(walls), "walls": walls,
           "rows": seq.count(), "total_tok": int(total_tok)}
    if job == "suite_no_tok":
        # prove column pruning: rebuild the exact fused-counts plan from
        # the no-token predicate set and assert `tokens` is absent from
        # the parquet ReadSchema
        from ensembl_datacheck_spark.operators.fused import (
            fused_violation_counts,
        )
        from ensembl_datacheck_spark.plans.runner import CheckContext

        runner = Runner(spark, tables, n_buckets=64)
        ctx = CheckContext(spark, tables, runner.config,
                           bucket_key=runner.bucket_key, n_buckets=64,
                           fact_table=runner.fact_table)
        preds, scan2 = [], seq
        for s in registry.default_suite():
            if s.row_predicates is not None and s.name not in TOKEN_CHECKS:
                ps, scan2 = s.row_predicates(ctx, scan2)
                preds.extend(ps)
        plan = fused_violation_counts(scan2, preds, runner._bucket())
        txt = plan._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
        out["tokens_pruned"] = "tokens" not in txt
        out["n_fused_preds_no_tok"] = len(preds)
    print(json.dumps(out))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", default="/tmp/dcheck_scaling_data")
    ap.add_argument("--levels", type=int, nargs=2, default=[2, 8])
    ap.add_argument("--jobs", nargs="*", choices=JOBS, default=list(JOBS))
    ap.add_argument("--json-out", default=None)
    args = ap.parse_args()

    results: dict[str, dict[int, dict]] = {}
    for job in args.jobs:
        results[job] = {}
        for cores in args.levels:
            loadavg_start, gate_timed_out = wait_for_quiet()
            r = run_worker(__file__, job, args.data, cores)
            r.update(loadavg_start=loadavg_start,
                     gate_timed_out=gate_timed_out)
            results[job][cores] = r
            print(f"{job}@{cores}: wall={r['wall']:.2f}s walls={[f'{w:.2f}' for w in r['walls']]}",
                  file=sys.stderr)

    lo, hi = args.levels
    rows = None
    table = []
    for job in args.jobs:
        a, b = results[job][lo], results[job][hi]
        rows = a["rows"]
        speedup = a["wall"] / b["wall"]
        gbs_hi = a["total_tok"] * 4 / b["wall"] / 1e9
        table.append({"job": job, f"wall_{lo}c": a["wall"],
                      f"wall_{hi}c": b["wall"], "speedup": speedup,
                      "decoded_gb_per_s_at_hi": gbs_hi})
    summary = {"rows": rows, "levels": args.levels, "table": table,
               "tokens_pruned_no_tok": results.get("suite_no_tok", {})
                   .get(hi, {}).get("tokens_pruned")}
    print(json.dumps(summary, indent=2))
    if args.json_out:
        Path(args.json_out).write_text(json.dumps(
            {"results": {j: {str(c): v for c, v in cs.items()}
                         for j, cs in results.items()},
             "summary": summary}, indent=2))


if __name__ == "__main__":
    if sys.argv[1:2] == ["--worker"]:
        worker(*sys.argv[2:])
    else:
        main()
