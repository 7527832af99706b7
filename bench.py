#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "seqs_per_sec": <checks-validated sequences/sec on the synthetic
                    sequences table — the BASELINE.json metric>, ...}

The sequences-suite throughput section generates a deterministic
`sequences` table (rows scaled with sf), writes it to parquet (untimed),
then times the full built-in check suite over it.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "validation_summary",
    "tpch_q1",
    "revenue_by_nation",
    "count_distinct_parts_by_flag",
    "topk_orders_per_priority",
    "event_gaps",
    "priority_drift_halves",
    "json_props_events",
    "dedup_exact_documents",
    "ngram_jaccard_pairs",
    "minhash_lsh_candidates",
    "simhash_near_duplicates",
    "ann_bruteforce_topk",
    "quality_features_by_lang",
    "contamination_eval_vs_train",
    "incremental_dedup_documents",
    "repetition_signals_documents",
    "hot_keys_orders",
    "quantile_drift_halves",
]


from benchlib import loadavg_1m, wait_for_quiet  # noqa: E402  (shared gate)


def _consume(df):
    """Execute the full plan without driver materialization cost for wide
    results: noop datasource when available, else count."""
    try:
        df.write.format("noop").mode("overwrite").save()
    except Exception:
        df.count()


def bench_queries(spark, sf_dir: str, passes: int = 3) -> dict[str, float]:
    """Best-of-``passes`` wall per headline query (same steady-state
    protocol as the sequences suite below and scripts/scaling_bench.py).
    A single-pass protocol let one transient ambient-load spike
    permanently inflate whichever query it hit — the committed BENCH_r03
    and BENCH_r04 artifacts both showed phantom regressions that cost a
    full investigation each (BENCH/BASELINE.md rounds 3-4).  Three passes,
    not two: the host's load bursts last 20-60 s (round-5 interleaved
    probes, BENCH/BASELINE.md), so one burst can straddle both sweeps of
    a 2-pass run; a third sweep (~25 s) makes a fully-contaminated
    minimum require three independent hits."""
    from ensembl_datacheck_spark.plans.entry_queries import QUERIES

    times: dict[str, float] = {}
    for _ in range(passes):
        for name in HEADLINE:
            fn = QUERIES[name]
            t0 = time.perf_counter()
            _consume(fn(spark, sf_dir))
            wall = round(time.perf_counter() - t0, 3)
            times[name] = min(times.get(name, wall), wall)
    return times


def bench_sequences_suite(spark, n_rows: int, n_buckets: int = 64):
    """Generate (untimed) then validate (timed) — returns
    (seqs_per_sec, wall_sec, n_rows)."""
    import ensembl_datacheck_spark.checks  # noqa: F401
    from ensembl_datacheck_spark import registry
    from ensembl_datacheck_spark.plans.runner import Runner
    from ensembl_datacheck_spark.sources import synth

    tmp = tempfile.mkdtemp(prefix="dcheck_bench_")
    try:
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        seq = synth.gen_sequences(
            spark, n_rows, n_partitions=n_part, median_tok=64, max_tok=1024
        )
        seq.write.mode("overwrite").parquet(f"{tmp}/sequences")
        seq_disk = spark.read.parquet(f"{tmp}/sequences")
        clean_stats = synth.gen_baseline_stats(
            spark,
            synth.gen_sequences(spark, n_rows, n_partitions=n_part,
                                median_tok=64, max_tok=1024,
                                inject_violations=False),
        )
        clean_stats.write.mode("overwrite").parquet(f"{tmp}/baseline")
        # NOTE: no `meta` table here — the seqs/sec protocol times the
        # sequences fact-table families (BENCH/BASELINE.md); the meta
        # spec-pack checks skip in microseconds and are covered by
        # pytest + the verify drive
        tables = {
            "sequences": seq_disk,
            "sources": synth.gen_sources(spark),
            "baseline_stats": spark.read.parquet(f"{tmp}/baseline"),
        }
        # one untimed warm-up (JIT + page cache), then best-of-3 timed
        # runs — steady-state throughput with ambient-load spikes
        # absorbed, same protocol as scripts/scaling_bench.py
        Runner(spark, tables, n_buckets=n_buckets).run(
            registry.default_suite(), write_checkpoints=False,
        )
        # the violation-injecting fixture makes exactly these checks fail
        # (synth.py residues; scale-independent).  Pinning the set guards
        # the headline against a regression that ERRORS checks out early:
        # error-as-fail verdicts in milliseconds would otherwise collapse
        # the wall and print an absurd seqs/sec as an "improvement".
        expected_failed = {
            "DocIdUnique", "SequencesCompleteness",
            "SourceReferential", "TokenInvariants",
        }
        walls = []
        for _ in range(3):
            runner = Runner(spark, tables, n_buckets=n_buckets)
            t0 = time.perf_counter()
            summary = runner.run(registry.default_suite(),
                                 write_checkpoints=False)
            walls.append(time.perf_counter() - t0)
            failed = {r.check_name for r in summary.results
                      if r.status.value == "fail"}
            assert failed == expected_failed, (
                f"suite verdicts drifted: failed={sorted(failed)}"
            )
        wall = min(walls)
        return round(n_rows / wall, 1), round(wall, 3), n_rows
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]
    from ensembl_datacheck_spark.session import get_spark

    spark = get_spark("dcheck-bench", cores=cpus,
                      shuffle_partitions=max(cpus, 16), driver_memory="48g")

    # untimed session warm-up: JVM JIT, codegen compiler, Arrow python
    # worker pool, parquet footer cache — so the first timed query
    # measures the query, not session bring-up
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # warm the Arrow python-worker pool too (mapInPandas/pandas_udf
    # queries otherwise pay ~1-2 s of one-time worker fork + import in
    # whichever headline query happens to run first)
    import pandas as _pd

    spark.range(10_000).mapInPandas(
        lambda it: (b.assign(id=b["id"]) for b in it), "id long"
    ).write.format("noop").mode("overwrite").save()
    from ensembl_datacheck_spark.plans.entry_queries import _t

    _consume(next(iter(_t(spark, sf_dir).values())).limit(1000))

    # load-gate the timed section: wait for a quiet 1-min loadavg and
    # record start/end loads in the JSON so a loaded run self-labels
    loadavg_start, gate_timed_out = wait_for_quiet()
    times = bench_queries(spark, sf_dir)

    # sequences throughput scaled with sf (sf0.1 -> 1M rows)
    try:
        seq_rows = max(100_000, int(float(sf) * 10_000_000))
    except ValueError:
        seq_rows = 1_000_000
    seqs_per_sec, suite_wall, n_rows = bench_sequences_suite(spark, seq_rows)
    times["sequences_check_suite"] = suite_wall

    out = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "cpus": cpus,
        "seqs_per_sec": seqs_per_sec,
        "seq_rows": n_rows,
        # loadavg_end includes this bench's own 32-thread load (a 1-min
        # loadavg cannot decay within the run) — read it as "how hot was
        # the box overall", not as ambient load; ambient is gated at
        # start and absorbed per-query by the best-of-3 protocol
        "loadavg_start": round(loadavg_start, 2),
        "loadavg_end": round(loadavg_1m(), 2),
        "gate_timed_out": gate_timed_out,
        "bench_passes": 3,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
