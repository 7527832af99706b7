"""LM-scoring tier bench: JVM broadcast-join tier vs row-local Arrow
tier at 1M sequences (~0.58B tokens, 50k vocab), plus the end-to-end
DSIR weight+top-k pipeline — the standing datum for the operators/lm.py
and operators/importance.py scale claims.

Input is materialized to parquet first so runs time the OPERATOR, not
synth generation; the LM fit (unigram_profile) is shared by both tiers
and timed separately.  Interleaved best-of-N; results →
BENCH/LM_1M.md (hand-pasted with host context).

Usage: python scripts/lm_bench.py [n_rows] [runs] [tiers]
  tiers: comma list from {jvm,arrow,dsir} (default all) — e.g. `jvm`
  for a scale-linearity sweep of the LM join tier alone.
"""

from __future__ import annotations

import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from benchlib import (  # noqa: E402  (the shared bench harness)
    consume,
    host_spark,
    loadavg_1m,
    scratch_dir,
    to_parquet,
    wait_for_quiet,
)
from ensembl_datacheck_spark.operators import importance as IMP  # noqa: E402
from ensembl_datacheck_spark.operators import lm as LM  # noqa: E402
from ensembl_datacheck_spark.sources import synth  # noqa: E402


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    tiers = set(
        (sys.argv[3] if len(sys.argv) > 3 else "jvm,arrow,dsir").split(",")
    )
    unknown = tiers - {"jvm", "arrow", "dsir"}
    if unknown:
        sys.exit(f"unknown tier(s) {sorted(unknown)}; choose from "
                 "jvm,arrow,dsir — failing fast BEFORE the minutes of "
                 "synth generation")
    spark = host_spark("lm-bench")
    tmp = scratch_dir("lm_bench_")
    seq = to_parquet(spark, synth.gen_sequences(
        spark, n_rows, n_partitions=64, inject_violations=False
    ), f"{tmp}/seq").select("doc_id", "tokens")
    n_tokens = seq.selectExpr("sum(size(tokens)) s").collect()[0]["s"]

    load0, timed_out = wait_for_quiet()
    print(f"rows={n_rows} tokens={n_tokens} "
          f"nproc={spark.sparkContext.defaultParallelism} driver_memory="
          f"{spark.sparkContext.getConf().get('spark.driver.memory')} "
          f"loadavg_start={load0:.2f} gate_timed_out={timed_out}")

    fit = None
    if tiers & {"jvm", "arrow"}:  # only the LM tiers read the fit
        t0 = time.monotonic()
        fit = to_parquet(spark, LM.fit_unigram_lm(seq), f"{tmp}/vocab")
        vocab_size = fit.count()
        print(f"LM fit (unigram_profile + persist): "
              f"{time.monotonic() - t0:.2f}s ({vocab_size} vocab rows)")

    walls: dict[str, list[float]] = {"jvm_join": [], "arrow_rowlocal": [],
                                     "dsir_topk_portable": [],
                                     "dsir_topk_fast": []}
    for _ in range(runs):
        if "jvm" in tiers:
            t0 = time.monotonic()
            consume(LM.lm_cross_entropy(seq, fit))
            walls["jvm_join"].append(time.monotonic() - t0)
            print(f"jvm_join: {walls['jvm_join'][-1]:.2f}s")

        if "arrow" in tiers:
            t0 = time.monotonic()
            consume(LM.lm_cross_entropy_arrow(seq, fit))
            walls["arrow_rowlocal"].append(time.monotonic() - t0)
            print(f"arrow_rowlocal: {walls['arrow_rowlocal'][-1]:.2f}s")

        # DSIR end-to-end, FUSED path: profiles straight from token
        # arrays (shuffle bounded by B) and collected once, occurrence-
        # level scoring by direct index (one shuffle row per doc),
        # top-1000.  A per-document feature-bag
        # path, measured once at 813.91 s on this input (its (id, feat)
        # shuffle is ~10^9 rows), lost to it and was deleted; the
        # fused tier below is the only JVM scorer.  Target slice
        # = a deterministic 10% of docs (synth doc_ids are strings, so
        # slice by the portable md5 bucket).
        from ensembl_datacheck_spark.operators.corpus import split_bucket

        for tier in ("portable", "fast") if "dsir" in tiers else ():
            t0 = time.monotonic()
            target = IMP.feature_counts_from_docs(
                seq.filter(split_bucket("doc_id", 10) == 0),
                n_buckets=8192, hash_tier=tier,
            )
            raw = IMP.feature_counts_from_docs(
                seq, n_buckets=8192, hash_tier=tier
            )
            w = IMP.importance_log_weights_from_docs(
                seq, target, raw, hash_tier=tier
            )
            consume(IMP.select_top_k(w, 1000))
            walls[f"dsir_topk_{tier}"].append(time.monotonic() - t0)
            print(f"dsir_topk_{tier}: {walls[f'dsir_topk_{tier}'][-1]:.2f}s")

    for tier, ws in walls.items():
        if not ws:
            continue
        best = min(ws)
        print(
            f"BEST {tier}: {best:.2f}s  "
            f"({n_tokens / best / 1e6:.1f}M tokens/s, "
            f"{n_rows / best / 1e3:.1f}k docs/s)"
        )
    print(f"loadavg_end={loadavg_1m():.2f}")


if __name__ == "__main__":
    main()
