#!/usr/bin/env python
"""Regenerate PLANS.md: the `.explain("formatted")` evidence for the
engine's flagship physical plans, with commentary on why each shape is
the one you'd want at 100 TB.  Run after changing operator plan
construction: python scripts/dump_plans.py
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from ensembl_datacheck_spark.operators.fused import (  # noqa: E402
    RowPredicate,
    fused_violation_counts,
    with_dim_flag,
)
from ensembl_datacheck_spark.operators.referential import orphan_rows  # noqa: E402
from ensembl_datacheck_spark.operators.uniqueness import (  # noqa: E402
    exact_count_distinct_salted,
)
from ensembl_datacheck_spark.session import get_spark  # noqa: E402
from ensembl_datacheck_spark.sources import synth  # noqa: E402

SF = "/root/testdata/sf0.01"


def plan_str(df, mode="formatted"):
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


# a plan-literal array of many numbers, e.g. DSIR's per-feature log-ratios
_LONG_ARRAY = re.compile(r"\[(?:-?[\d.]+(?:E-?\d+)?,){16,}-?[\d.]+(?:E-?\d+)?\]")


def section(title, commentary, df, mode="formatted"):
    plan = _LONG_ARRAY.sub(lambda m: f"[<{m.group().count(',') + 1} doubles>]",
                           plan_str(df, mode).strip())
    return f"## {title}\n\n{commentary}\n\n```\n{plan}\n```\n"


def main():
    spark = get_spark("dump-plans", cores=4)
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    seq = synth.gen_sequences(spark, 1000, 4, median_tok=16, max_tok=64)
    sources = synth.gen_sources(spark)

    out = ["# PLANS — physical-plan evidence (generated by scripts/dump_plans.py)\n"]

    out.append(section(
        "Referential integrity: broadcast hash LEFT ANTI join",
        "The dimension broadcasts; the fact table is scanned once with "
        "no Exchange before the join — zero fact-side shuffle at any "
        "scale (north_rule: broadcast hash anti-join).",
        orphan_rows(li, "l_orderkey", orders, "o_orderkey").select("l_orderkey"),
    ))

    preds = [
        RowPredicate("doc_id_blank", F.col("doc_id").isNull() | (F.col("doc_id") == "")),
        RowPredicate("tokens_null", F.col("tokens").isNull()),
        RowPredicate("len_mismatch",
                     F.col("tokens").isNotNull() & (F.size("tokens") != F.col("n_tok"))),
        RowPredicate("domain",
                     F.col("tokens").isNotNull()
                     & ((F.array_min("tokens") < 0) | (F.array_max("tokens") >= 50257))),
    ]
    scan = with_dim_flag(seq, "source", sources, "source", "__m")
    preds.append(RowPredicate("orphan", F.col("source").isNotNull() & F.col("__m").isNull()))
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(64)).cast("int")
    out.append(section(
        "Fused row-check scan: N assertions, ONE scan, ONE shuffle",
        "Every row-level predicate (completeness, token invariants, "
        "dimension membership via broadcast flag) is a conditional "
        "counter in a single two-phase hash aggregation keyed by the "
        "stable bucket id: shuffle payload = n_buckets rows of counters, "
        "independent of table size.  The whole map side is one "
        "WholeStageCodegen span.",
        fused_violation_counts(scan, preds, bucket),
        "simple",
    ))

    out.append(section(
        "Salted exact COUNT(DISTINCT) under group-key skew",
        "Stage 1 dedups on the uniform composite (group, value); stage 2 "
        "pre-aggregates per (group, salt-of-value); stage 3 sums "
        "n_salt partials per group — no reducer ever holds a hot "
        "group's full value set.",
        exact_count_distinct_salted(li, "l_returnflag", "l_partkey", n_salt=16),
        "simple",
    ))

    from ensembl_datacheck_spark.operators.dedup import minhash_signatures
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out.append(section(
        "MinHash signatures: explode → one hash → codegen min-aggregate",
        "One xxhash64 per shingle; the 64 affine permutations are plain "
        "`min` aggregates inside a single two-phase hash aggregation "
        "(map-side partial min ⇒ the shuffle carries one signature row "
        "per doc, not shingles).  No higher-order-function lambdas in "
        "the per-shingle hot path — nested HOF trees evaluate "
        "interpreted and are not subexpression-eliminated.",
        minhash_signatures(docs, "doc_id", "text", ngram=3, n_hashes=16),
        "simple",
    ))

    from ensembl_datacheck_spark.operators.similarity import brute_force_topk
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out.append(section(
        "ANN brute-force top-k: partition-local top-k, tiny final shuffle",
        "The query matrix rides in the task closure; each corpus "
        "partition is one Arrow-batched numpy matmul emitting only its "
        "local top-k per query (MapInPandas), so the window's Exchange "
        "carries O(partitions × |Q| × k) rows regardless of corpus size.",
        brute_force_topk(emb, emb.filter(F.col("vec_id") < 4), k=3),
        "simple",
    ))

    out.append(section(
        "Parquet pushdown + pruning",
        "Filter reaches the scan (PushedFilters) and only referenced "
        "columns are read (ReadSchema).",
        li.filter(F.col("l_shipdate") < "1996-01-01").select("l_orderkey"),
    ))

    from ensembl_datacheck_spark.operators.asof import asof_join
    events = spark.read.parquet(f"{SF}/events.parquet")
    clicks = (events.filter(F.col("event_type") == "click")
              .select("user_id", "ts", F.col("event_id").alias("click_id")))
    purchases = (events.filter(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"), "user_id", "ts"))
    out.append(section(
        "As-of join: ONE shuffle on the key, sorted window match",
        "Both sides exchange once on user_id; the most-recent match is a "
        "running last(ignorenulls) inside the sorted window — same work "
        "profile as a sort-merge join, no per-row probing or range "
        "explosion.",
        asof_join(purchases, clicks, by=["user_id"], strict=True,
                  right_cols=["click_id"]),
        "simple",
    ))

    from ensembl_datacheck_spark.sources.io import write_bucketed

    a = spark.range(10_000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("x"))
    b = spark.range(10_000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("y"))
    write_bucketed(a, "plans_bkt_a", "k", 8, sort_by="k")
    write_bucketed(b, "plans_bkt_b", "k", 8, sort_by="k")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    out.append(section(
        "Bucketed co-located join: ZERO Exchange",
        "Both sides bucketed on the join key with equal bucket counts "
        "(sources/io.write_bucketed): SortMergeJoin reads co-located "
        "buckets directly — the shuffle is paid once at write time, "
        "never per query.  The 100-TB layout for fact↔fact joins.",
        spark.table("plans_bkt_a").join(spark.table("plans_bkt_b"), "k"),
        "simple",
    ))
    spark.sql("DROP TABLE IF EXISTS plans_bkt_a")
    spark.sql("DROP TABLE IF EXISTS plans_bkt_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))

    from ensembl_datacheck_spark.operators.dedup import (
        bucket_candidate_pairs,
        jaccard_pairs,
        portable_simhash_signatures,
    )

    out.append(section(
        "Jaccard shingle frequency cap: broadcast ANTI join on hot shingles",
        "With no candidate restriction, shingles above max_df document "
        "frequency are dropped BEFORE the shingle self-join via a "
        "broadcast left-anti join — the hot-shingle list is small by "
        "definition (≤ |shingle rows| / max_df), so the corpus-side "
        "scan takes no extra Exchange, and one stop-word shingle shared "
        "by 10^6 docs cannot emit ~10^12 join rows.",
        jaccard_pairs(docs.filter(F.col("doc_id") < 40), "doc_id", "text",
                      ngram=3, max_df=50),
        "simple",
    ))

    banded = seq.select(
        F.col("doc_id").alias("id"),
        F.pmod(F.xxhash64("source"), F.lit(8)).alias("bk"),
    )
    out.append(section(
        "Capped hub-spoke bucket pairing: linear output on degenerate buckets",
        "Candidate pairs from LSH buckets (shared by MinHash, SimHash, "
        "and embedding near-dup): window-ranked members (never a "
        "collect_list of a whole bucket), all-pairs only among the first "
        "`cap` members, plus a hub(min-id)→member pair for EVERY member "
        "— a bucket of k identical docs emits O(k + cap²) rows, not k², "
        "and connected components still recover the full cluster "
        "through the hub.",
        bucket_candidate_pairs(banded, cap=10),
        "simple",
    ))

    out.append(section(
        "Portable SimHash signatures: one scan, one two-phase aggregation",
        "60 conditional-sum bit aggregates over exploded word hashes "
        "fold into a single map-side-combinable hash aggregation (the "
        "shuffle carries one 60-column partial row per doc, not words); "
        "bit assembly is a codegen projection.  Every value is exact "
        "integer arithmetic reproducible by the DuckDB oracle.",
        portable_simhash_signatures(docs.filter(F.col("doc_id") < 40),
                                    "doc_id", "text"),
        "simple",
    ))

    from ensembl_datacheck_spark.operators.incremental import (
        exact_store,
        flag_incremental_duplicates,
    )

    store = exact_store(docs.filter(F.col("doc_id") < 250), "text")
    out.append(section(
        "Incremental exact dedup: batch vs persisted digest store",
        "The new batch is flagged against the accepted corpus WITHOUT "
        "rescanning it: one window on the uniform content digest marks "
        "within-batch repeats (no join-back), and store membership is "
        "one digest-keyed join against the distinct-digest store (here "
        "broadcast; at 10^12 stored docs the store is a digest-bucketed "
        "table, so the probe shuffles only the batch side).  Text never "
        "rides a shuffle — only 32-byte digests.",
        flag_incremental_duplicates(
            docs.filter(F.col("doc_id") >= 250), store, "text", "doc_id"
        ).select("doc_id", "dup_of_store", "dup_in_batch"),
        "simple",
    ))

    from ensembl_datacheck_spark.operators.skew import hot_keys

    out.append(section(
        "Skew profiler: multi-column hot keys in ONE scan",
        "Each row explodes into (column, value) pairs for every profiled "
        "column, counted in a two-phase hash aggregation (partial_count "
        "before the Exchange — the hot key itself is one group, so the "
        "profile never skews); the per-column top-k runs as a "
        "WindowGroupLimit (rank pushdown) over the small distinct-value "
        "counts, not a full sort of the table.",
        hot_keys(orders, ["o_orderpriority", "o_orderstatus"], top_k=3),
        "simple",
    ))

    from ensembl_datacheck_spark.operators.text import repetition_signals

    out.append(section(
        "Repetition quality signals: two explode→two-stage-count pipelines",
        "Gopher-style duplicate-line / top-n-gram fractions: lines and "
        "word n-grams each explode once and aggregate twice — "
        "(id, unit) counts with map-side partial combine, then per-id "
        "ratios — both keys uniform, no self-joins, no corpus-wide "
        "window, all exact integer counts + one final division "
        "(oracle-reproducible).",
        repetition_signals(docs.filter(F.col("doc_id") < 40), "doc_id", "text"),
        "simple",
    ))

    from ensembl_datacheck_spark.operators.corpus import passage_dedup

    out.append(section(
        "Passage-level exact dedup: skew-proof first-occurrence, no digest window",
        "Passages come from a zero-shuffle projection (transform+slice "
        "over the split word array, pidx via posexplode); first-occurrence "
        "keep is groupBy(md5(ptext)) · min(struct(id, pidx, ptext)) — note "
        "partial_min BEFORE the digest Exchange, so a passage duplicated "
        "10^9 times collapses per map partition, where a row_number "
        "window would pile every occurrence into one partition; "
        "reassembly is one per-doc aggregate bounded by document length.",
        passage_dedup(docs, "doc_id", "text", passage_words=10),
        "simple",
    ))

    from ensembl_datacheck_spark.operators.incremental import (
        incremental_passage_dedup,
        passage_store,
    )

    out.append(section(
        "Incremental passage dedup: one digest-keyed anti-join against the store",
        "The daily-drop probe: batch passages (batch-sized everywhere) "
        "first-occurrence-reduced, then ONE left-anti join on the passage "
        "digest against the persisted store — store rows are unique per "
        "digest (no fan-out); with a digest-bucketed store table the "
        "store side ships zero bytes per ingest.",
        incremental_passage_dedup(
            docs.filter(F.col("doc_id") >= 250),
            passage_store(docs.filter(F.col("doc_id") < 250), "text", 10),
            "doc_id", "text", 10,
        ),
        "simple",
    ))

    from ensembl_datacheck_spark.operators.sessions import session_stats

    events = spark.read.parquet(f"{SF}/events.parquet")
    out.append(section(
        "Gap-based sessionization + rollup: ONE Exchange on the user key",
        "lag flag + running sum share one window (single hash Exchange "
        "on user_id, per-user sort bounded by per-user event counts), "
        "and the per-session groupBy keys are a superset of the window "
        "partition key, so the rollup aggregates in place — no second "
        "Exchange of the fact rows at any scale.",
        session_stats(events, "user_id", "ts", 30),
        "simple",
    ))

    from ensembl_datacheck_spark.operators.pii import redact_pii

    out.append(section(
        "PII sweep: pure codegen projection, zero shuffle, zero Python",
        "Per-category regexp_count + chained regexp_replace are one "
        "whole-stage-codegen projection over the scan — redaction cost "
        "is strictly linear in bytes scanned and trivially "
        "partition-parallel at 100 TB.",
        redact_pii(docs, "text"),
        "simple",
    ))

    from ensembl_datacheck_spark.operators.corpus import chunk_sequences

    # the one token frame of the sections below: crc32 word ids folded
    # into INT range, so the frame also executes under ANSI mode (a plain
    # INT cast of crc32 overflows; the DSIR scorer runs its input)
    toks = docs.select(
        "doc_id",
        "source",
        F.transform(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            lambda w: F.pmod(F.crc32(w), F.lit(2**31 - 1)).cast("int"),
        ).alias("tokens"),
    )
    out.append(section(
        "Context-window chunking: zero shuffle, no UDF",
        "sequence + posexplode + slice are all codegen'd JVM "
        "expressions over the scan — no Exchange anywhere, so chunk "
        "emission is strictly linear in bytes scanned and the output "
        "inherits the input partitioning (downstream writers need no "
        "re-shuffle).",
        chunk_sequences(toks.drop("source"), "doc_id", "tokens",
                        chunk_len=16, stride=12),
        "simple",
    ))

    from ensembl_datacheck_spark.operators.skew import heavy_hitter_keys

    shingle_keys = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(tokens) - 1), "
                "i -> concat(CAST(tokens[i-1] AS STRING), '_', "
                "CAST(tokens[i] AS STRING)))"
            )
        ).alias("key")
    )
    out.append(section(
        "phi-heavy hitters: bucket-count pass + broadcast-pruned recount",
        "Scan 1 aggregates pmod(xxhash64(key), 131072) bucket counts — "
        "a BOUNDED keyspace, so map-side combine works and the shuffle "
        "is <= partitions x 131072 rows vs ~every distinct key for the "
        "full histogram (measured crossover: BENCH/HEAVY_HITTERS.md); "
        "N re-derives from the same bucket-count subtree (AQE reuses "
        "the exchange at runtime).  Scan 2 recounts only keys hashing "
        "into candidate buckets behind a BroadcastHashJoin — exact "
        "output, all JVM, no SortMergeJoin, no corpus-sized shuffle at "
        "any scale.",
        heavy_hitter_keys(shingle_keys, "key", phi=0.001),
        "simple",
    ))

    from ensembl_datacheck_spark.operators.drift import (
        source_unigram_divergence,
    )

    out.append(section(
        "Per-source unigram divergence: ONE corpus explode, reused exchange",
        "The static plan prints the (src, token) count subtree four "
        "times, but every consumer's exchange canonicalizes identically, "
        "so at runtime AQE executes the corpus explode+shuffle ONCE and "
        "the other consumers read its shuffle files (ReusedExchange in "
        "the executed adaptive plan — pinned in "
        "tests/test_pipeline_ops.py::TestSourceUnigramDivergence).  "
        "Everything downstream is bounded by vocab x n_sources, with "
        "the per-source and corpus totals broadcast back.",
        source_unigram_divergence(toks, "source", "tokens"),
        "simple",
    ))

    from ensembl_datacheck_spark.operators import importance as IMP
    from ensembl_datacheck_spark.operators import lm as LM

    out.append(section(
        "LM cross-entropy scoring: broadcast vocab, one shuffle row per doc",
        "The CCNet-style perplexity filter (operators/lm.py): the LM "
        "fit is the vocab-bounded explode+count; scoring joins the "
        "exploded token stream against the BroadcastExchange of that "
        "vocab (plus a 1-row totals broadcast via "
        "BroadcastNestedLoopJoin), and the per-document aggregate "
        "partially aggregates in the same stage as the explode — the "
        "only doc-sized Exchange carries one row per document, never "
        "per token.  No SortMergeJoin anywhere; at 10^12 rows the "
        "token stream never materializes past the map side.",
        LM.lm_cross_entropy(toks, LM.fit_unigram_lm(
            toks.filter(F.col("doc_id") % 2 == 0))),
        "simple",
    ))

    out.append(section(
        "DSIR importance top-k: direct-indexed log-ratios, partial top-k",
        "Fused DSIR selection (operators/importance.py): both "
        "distribution fits aggregate to <= n_buckets rows, and the "
        "scorer collects them once when called, checks them and "
        "builds the normalizer and the per-feature log-ratios, ONE "
        "array literal (printed below as its length).  Each exploded "
        "gram occurrence reads its term by direct index, "
        "element_at(x, feat + 1): no join, no broadcast, no totals "
        "cross-join.  The per-document weight aggregate partially "
        "aggregates in the same stage as the explode, so the only "
        "Exchange carries one row per document; the "
        "final top-k compiles to TakeOrderedAndProject — per-partition "
        "partial top-k, a driver-side merge of k rows per partition, "
        "and NO global sort.  This is the plan that survives scoring "
        "10^12 documents against a curated target slice.",
        IMP.select_top_k(
            IMP.importance_log_weights_from_docs(
                toks,
                IMP.feature_counts_from_docs(
                    toks.filter(F.col("doc_id") < 200), n_buckets=4096),
                IMP.feature_counts_from_docs(toks, n_buckets=4096),
            ),
            60,
        ),
        "simple",
    ))

    from ensembl_datacheck_spark.plans.entry_queries import QUERIES

    out.append(section(
        "Quality-filtered curation pipeline: five operators, one plan",
        "quality_prep_pipeline composes LM scoring (broadcast-vocab "
        "join), the CCNet tail cut (ntile — oracle tier; the "
        "thresholds tier replaces the sort at corpus scale), "
        "normalization (codegen regexp), exact dedup (one md5-keyed "
        "window) and the md5 split (pure projection) into ONE lazy "
        "plan: Catalyst pipelines the normalize/split projections into "
        "their neighbors, so the only corpus-wide exchanges are the "
        "per-doc score aggregate, the bucket sort, and the dedup "
        "window partition.",
        QUERIES["quality_prep_pipeline"](spark, SF),
        "simple",
    ))

    (REPO / "PLANS.md").write_text("\n".join(out))
    print(f"wrote {REPO / 'PLANS.md'}")


if __name__ == "__main__":
    main()
