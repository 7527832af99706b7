#!/usr/bin/env python
"""Standing regression bench for the dedup/similarity tiers at 1M docs
(VERDICT r3 item 8): the sf0.1 driver bench exercises these operators on
~3k documents, far too small to catch plan regressions in LSH/banding —
this script runs the production tiers at 1,000,000 documents and prints
one JSON line per tier (wall, output size, correctness count against the
planted duplicates).

Corpus: deterministic synthetic documents, ~30 hash-derived words each;
1% planted exact duplicates (doc_id % 100 == 1 copies doc_id - 1), so
the true near-dup pair set is exactly {(i, i+1) : i % 100 == 0} —
10,000 pairs at 1M docs.  A tier that suddenly emits far more pairs has
a banding/hash-family regression (the r2 31-bit collision bug showed up
exactly this way); one that emits fewer lost recall; one whose wall
jumps regressed its plan.

All tiers run in ONE process (fair relative read under ambient host
load): warm-up job first, then each tier runs twice; the headline
`wall_sec` is the COLD first wall (the warm second wall rides the
signature cache and would hide plan regressions), both are reported.

Usage: python scripts/dedup_bench.py [--rows 1000000] [--json-out PATH]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
from benchlib import (  # noqa: E402  (the shared bench harness)
    host_spark,
    scratch_dir,
    to_parquet,
    wait_for_quiet,
)


def gen_docs(spark, n_rows: int, n_partitions: int, salt: str = "",
             start: int = 0):
    """Deterministic 1%-duplicated corpus, built entirely JVM-side.
    ``salt`` derives a disjoint vocabulary (novel ingest batches);
    ``start`` offsets doc ids."""
    from pyspark.sql import functions as F

    base = spark.range(start, start + n_rows, 1, n_partitions)
    seed = F.when(
        (F.col("id") % 100 == 1) & (F.col("id") > start), F.col("id") - 1
    ).otherwise(F.col("id"))
    word = lambda i: F.conv(  # noqa: E731
        F.substring(F.md5(F.concat(F.lit(salt), seed.cast("string"),
                                   F.lit("_"), i.cast("string"))), 1, 6),
        16, 10,
    )
    text = F.concat_ws(
        " ", F.transform(F.sequence(F.lit(1), F.lit(30)), word)
    )
    return base.select(F.col("id").alias("doc_id"), text.alias("text"))


def timed_action(df_fn, n: int = 2, action=None) -> tuple[list[float], object, object]:
    """Time the EXECUTION (``action``, default count), not the lazy plan
    build.  Both walls are reported: tiers with an internal signature
    cache (_cache_signatures) are cold on the first wall and warm on the
    second — regression tracking reads the cold wall (see headline())."""
    if action is None:
        action = lambda df: df.count()  # noqa: E731
    walls, df, res = [], None, None
    for _ in range(n):
        df = df_fn()
        t0 = time.perf_counter()
        res = action(df)
        walls.append(round(time.perf_counter() - t0, 2))
    return walls, df, res


def headline(walls: list[float]) -> float:
    """The COLD wall (walls[0]) is the regression-tracking number —
    min(walls) would read the signature-cache-flattered warm run and
    hide exactly the plan regressions this bench exists to catch."""
    return walls[0]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=1_000_000)
    ap.add_argument("--json-out", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from ensembl_datacheck_spark.operators import dedup
    from ensembl_datacheck_spark.operators.clusters import connected_components

    spark = host_spark("dedup-bench")
    cores = spark.sparkContext.defaultParallelism
    docs = to_parquet(spark, gen_docs(spark, args.rows, max(cores * 4, 64)),
                      scratch_dir("dedup_bench_") + "/docs")
    expected_pairs = args.rows // 100  # (i, i+1) for i % 100 == 0

    # warm-up: JIT, python workers, page cache
    docs.selectExpr("sum(length(text))").collect()
    load, timed_out = wait_for_quiet()  # the shared quiet-host gate
    print(f"loadavg_start={load:.2f} gate_timed_out={timed_out}",
          file=sys.stderr)

    results: dict[str, dict] = {}

    def run_tier(name, fn, count_true=None):
        walls, pairs_df, n_pairs = timed_action(fn)
        row = {"walls_sec": walls, "wall_sec": headline(walls), "n_pairs": n_pairs,
               "expected_true_pairs": expected_pairs}
        if count_true is not None:
            row["n_true_found"] = count_true(pairs_df)
        results[name] = row
        print(f"{name}: {row}", file=sys.stderr)

    def true_found(pairs_df):
        return (
            pairs_df.filter(
                (F.col("id_a") % 100 == 0)
                & (F.col("id_b") == F.col("id_a") + 1)
            ).count()
        )

    # 1. production text MinHash LSH (seeded-xxhash64 signatures, banding,
    #    capped hub-spoke pairing)
    run_tier(
        "minhash_lsh",
        lambda: dedup.minhash_lsh_candidates(
            docs, "doc_id", "text", ngram=3, n_hashes=64, n_bands=16
        ),
        true_found,
    )

    # 2. production SimHash (Arrow tier) near-dup candidates, DEFAULT
    #    arguments: band width comes from the scale-adaptive selector
    #    (dedup.simhash_band_bits), which must pick 32-bit bands at this
    #    corpus size — the fixed 16-bit legacy default emitted ~42M
    #    birthday-collision candidates at 1M docs (measured, r3/r4).
    #    32-bit bands detect Hamming < 2 (covers the planted exact dups)
    #    with ~0 random collisions; n_pairs =~ planted set is the hard
    #    regression signal for the DEFAULT path.
    from ensembl_datacheck_spark.operators.dedup import (
        simhash_near_duplicates,
    )

    run_tier(
        "simhash_default_adaptive",
        lambda: simhash_near_duplicates(docs, "doc_id", "text"),
        true_found,
    )

    # 3. sub-document passage dedup (corpus.passage_dedup, k=10): the
    #    planted exact-dup docs (1%) have ALL their passages removed —
    #    30 words / k=10 → 3 passages per doc, so expected removed =
    #    3 × rows/100.  Random cross-doc passage collisions are ~0
    #    (passages are md5-derived words), so sum(n_kept) is exact
    #    ground truth: a deviation is a digest/first-occurrence
    #    regression, a wall jump a plan regression (the operator is two
    #    shuffles: digest agg + per-doc reassembly).
    from ensembl_datacheck_spark.operators.corpus import passage_dedup

    walls_pd, _, agg = timed_action(
        lambda: passage_dedup(docs, "doc_id", "text", passage_words=10),
        action=lambda df: df.selectExpr(
            "sum(n_passages) AS np", "sum(n_kept) AS nk", "count(*) AS n_docs"
        ).collect()[0],
    )
    results["passage_dedup_k10"] = {
        "walls_sec": walls_pd,
        "wall_sec": headline(walls_pd),
        "n_docs": agg["n_docs"],
        "n_passages": agg["np"],
        "n_kept": agg["nk"],
        "expected_removed": 3 * args.rows // 100,
    }
    print(f"passage_dedup_k10: {results['passage_dedup_k10']}",
          file=sys.stderr)

    # 4. incremental passage dedup — the daily-drop story: a 10k batch
    #    (1% of corpus size) probes the passage-digest store of the FULL
    #    1M-doc corpus.  Half the batch copies corpus docs (every passage
    #    must be removed by the store anti-join); half is novel
    #    vocabulary (salt-disjoint), where only its own 1%-planted
    #    within-batch dups lose passages to first-occurrence.  Exact
    #    ground truth: kept = 3 * 5000 - 3 * (planted dups in the novel
    #    id range).  The probe wall is the number that must stay flat as
    #    the STORE grows — it is one digest-keyed anti-join.
    from ensembl_datacheck_spark.operators import incremental as inc

    store_walls, _, n_store = timed_action(
        lambda: inc.passage_store(docs, "text", passage_words=10)
    )
    store = inc.passage_store(docs, "text", passage_words=10).localCheckpoint(
        eager=True
    )
    half = 5_000
    copies = docs.filter(F.col("doc_id") < half).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    novel_start = 3_000_000
    novel = gen_docs(spark, half, 8, salt="novel", start=novel_start)
    novel = novel.select(F.col("doc_id"), "text")
    batch = copies.unionByName(novel).localCheckpoint(eager=True)
    novel_planted = sum(
        1 for i in range(novel_start, novel_start + half)
        if i % 100 == 1 and i > novel_start
    )
    walls_ip, _, agg_ip = timed_action(
        lambda: inc.incremental_passage_dedup(
            batch, store, "doc_id", "text", passage_words=10
        ),
        action=lambda df: df.selectExpr(
            "sum(n_passages) AS np", "sum(n_kept) AS nk", "count(*) AS nd"
        ).collect()[0],
    )
    results["incremental_passage_dedup"] = {
        "store_build_walls_sec": store_walls,
        "store_build_wall_sec": headline(store_walls),
        "n_store_digests": n_store,
        "probe_walls_sec": walls_ip,
        "probe_wall_sec": headline(walls_ip),
        "batch_docs": agg_ip["nd"],
        "n_passages": agg_ip["np"],
        "n_kept": agg_ip["nk"],
        "expected_kept": 3 * half - 3 * novel_planted,
    }
    print(f"incremental_passage_dedup: {results['incremental_passage_dedup']}",
          file=sys.stderr)

    # 5. connected components over the minhash candidate pairs
    #    (clusters the planted 2-cliques).  connected_components executes
    #    eagerly (per-round localCheckpoint), so wrapping the call is the
    #    correct timing; candidates are checkpointed first so only the
    #    clustering loop is measured.
    cands = dedup.minhash_lsh_candidates(
        docs, "doc_id", "text", ngram=3, n_hashes=64, n_bands=16
    ).localCheckpoint(eager=True)

    walls, _, labels = timed_action(
        lambda: cands, action=lambda c: connected_components(c)
    )
    n_nodes = labels.count()
    n_comp = labels.select("component").distinct().count()
    results["connected_components"] = {
        "walls_sec": walls,
        "wall_sec": headline(walls),
        "n_nodes": n_nodes,
        "n_components": n_comp,
    }
    print(f"connected_components: {results['connected_components']}",
          file=sys.stderr)

    # 6. ADVERSARIAL chain component (VERDICT r4 item 5): the planted
    #    2-cliques above converge in 2 rounds and never exercise pointer
    #    doubling — a doubling regression (the exact r3 bug class) would
    #    be invisible.  A 10k-node chain has diameter 9,999: min-label
    #    propagation alone needs ~10k rounds (i.e. hits the cap), with
    #    doubling the label horizon doubles per round so convergence is
    #    <= log2(diameter)+2 ≈ 16 rounds.  A rounds jump IS the
    #    regression signal; the wall corroborates.
    chain_n = 10_000
    chain = spark.range(chain_n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    ).localCheckpoint(eager=True)
    cc_stats: dict = {}
    t0 = time.perf_counter()
    chain_labels = connected_components(chain, stats=cc_stats)
    chain_comp = chain_labels.select("component").distinct().count()
    chain_wall = round(time.perf_counter() - t0, 2)
    import math

    max_rounds = int(math.log2(chain_n - 1)) + 2
    results["connected_components_chain10k"] = {
        "wall_sec": chain_wall,
        "n_nodes": chain_labels.count(),
        "n_components": chain_comp,
        "rounds": cc_stats.get("rounds"),
        "converged": cc_stats.get("converged"),
        "max_rounds_allowed": max_rounds,
        "rounds_ok": bool(
            cc_stats.get("converged") and cc_stats.get("rounds", 99) <= max_rounds
        ),
    }
    print(
        f"connected_components_chain10k: "
        f"{results['connected_components_chain10k']}",
        file=sys.stderr,
    )

    out = json.dumps({"rows": args.rows, "cores": cores, **results})
    if args.json_out:
        Path(args.json_out).write_text(out)
    print(out)


if __name__ == "__main__":
    main()
