#!/usr/bin/env python
"""Heavy-hitter plan bench: bucket candidates + exact recount
(operators/skew.heavy_hitter_keys) vs the full GROUP BY histogram on a
mostly-distinct keyspace — the standing datum for why the recount is
the 100 TB plan when nearly every key is unique (shingles, n-grams,
URLs) and map-side combine stops helping.

Planted ground truth (the hard regression signal, dedup_bench.py
model): 10 hot keys at 2x the phi threshold; everything else is
~unique.  BOTH plans must return exactly the 10 planted keys with
exact counts; the bench prints per-plan walls plus the histogram's
shuffle-row proxy (its distinct keys).

Input is materialized to parquet first so both plans time the
OPERATOR, not generation; runs are interleaved best-of-N and gated on
the shared quiet-host protocol.  Results -> BENCH/HEAVY_HITTERS.md
(hand-pasted with host context).

Usage: python scripts/hh_bench.py [n_obs] [runs]
"""

from __future__ import annotations

import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from benchlib import (  # noqa: E402  (the shared bench harness)
    host_spark,
    loadavg_1m,
    scratch_dir,
    to_parquet,
    wait_for_quiet,
)
from ensembl_datacheck_spark.operators.skew import heavy_hitter_keys  # noqa: E402

PHI = 0.001
N_HOT = 10


def main() -> None:
    n_obs = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    spark = host_spark("hh-bench")
    # 10 hot keys at share 2*PHI each (planted positives); the rest of
    # the mass is ~unique background keys (the regime where the full
    # histogram's shuffle is ~the corpus)
    hot_every = int(1 / (2 * PHI * N_HOT))  # 1 obs in 50 is a hot key
    keys = to_parquet(spark, spark.range(n_obs).selectExpr(
        f"CASE WHEN id % {hot_every} < {N_HOT} "
        f"THEN concat('hot_', id % {hot_every}) "
        "ELSE concat('t_', id) END AS key"
    ), scratch_dir("hh_bench_") + "/keys")
    total = keys.count()
    expected = {
        (f"hot_{i}", n_obs // hot_every) for i in range(N_HOT)
    }

    def recount():
        return {(r.key, r.cnt) for r in heavy_hitter_keys(
            keys, "key", PHI).collect()}

    def run_histogram():
        return {
            (r.key, r.cnt)
            for r in keys.groupBy("key")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") >= F.lit(PHI) * F.lit(total))
            .collect()
        }

    plans = {"bucket_recount": recount, "full_histogram": run_histogram}
    walls: dict[str, list[float]] = {k: [] for k in plans}
    for fn in plans.values():  # warm-up (JIT + page cache), untimed
        assert fn() == expected
    for _ in range(runs):
        for name, fn in plans.items():  # interleaved
            load, timed_out = wait_for_quiet()
            t0 = time.perf_counter()
            got = fn()
            walls[name].append(time.perf_counter() - t0)
            assert got == expected, f"{name} wrong answer: {len(got)} keys"
            print(f"{name}: {walls[name][-1]:.2f}s "
                  f"(loadavg {load:.2f}{' TIMED-OUT' if timed_out else ''})")

    distinct = keys.select("key").distinct().count()
    print(f"\nn_obs={total:,} distinct={distinct:,} "
          f"partitions={keys.rdd.getNumPartitions()}")
    print(f"shuffle-row proxy: histogram ~{distinct:,} rows")
    for name in plans:
        print(f"{name}: best {min(walls[name]):.2f}s of {walls[name]}")
    print(f"loadavg_end {loadavg_1m():.2f}")


if __name__ == "__main__":
    main()
