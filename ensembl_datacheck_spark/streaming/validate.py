"""Streaming validation: run row-level check predicates continuously over
a stream (readStream → transform → writeStream), with watermarked
windowed aggregates for drift-style monitoring.

Batch/stream parity: the same `RowPredicate` list used by the batch
fused scan (operators/fused.py) drives the streaming violation filter, so
a check validated in batch behaves identically on the stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ensembl_datacheck_spark.operators.fused import (
    RowPredicate,
    fused_violation_rows,
)


def streaming_violations(
    stream: DataFrame,
    predicates: list[RowPredicate],
    key_col: str,
) -> DataFrame:
    """Tag violating rows on a stream: the batch fused_violation_rows,
    projected to (assertion, key); map-only, so safe for append-mode
    sinks."""
    if not predicates:
        raise ValueError("streaming_violations needs at least one predicate")
    return fused_violation_rows(
        stream, predicates, F.lit(-1), key_col
    ).select("assertion", "key")


def dedup_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: drop repeated keys arriving within the
    watermark horizon (`dropDuplicatesWithinWatermark` — state is bounded
    by the watermark, unlike global dropDuplicates).  The streaming
    counterpart of dedup.dedup_exact."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def windowed_event_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    category_col: str = "event_type",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked tumbling-window counts per category — the streaming
    analogue of the subtotals drift input.  Late rows beyond the
    watermark are dropped; state is bounded."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(category_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col(category_col),
            "n",
        )
    )


def running_source_stats(
    stream: DataFrame,
    source_col: str = "source",
    n_tok_col: str = "n_tok",
    violation_col: str | None = None,
) -> DataFrame:
    """Custom stateful operator (`applyInPandasWithState`): cumulative
    per-source validation stats — rows seen, violations seen, min/max
    n_tok — updated every micro-batch and emitted as a running snapshot.
    The streaming analogue of the per-partition checkpoint metrics: state
    is one tiny row per source (bounded by |sources|), arithmetic is
    numpy over the Arrow batch, no per-row Python."""
    import pandas as pd  # local: keep module import light for batch-only use

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{source_col} string, n_rows long, n_violations long, "
        "min_n_tok long, max_n_tok long"
    )
    state_schema = "n_rows long, n_violations long, min_n_tok long, max_n_tok long"

    def update(key, pdfs, state: GroupState):
        n_rows, n_viol, mn, mx = (
            state.get if state.exists else (0, 0, None, None)
        )
        for pdf in pdfs:
            n_rows += len(pdf)
            if violation_col is not None:
                n_viol += int(pdf[violation_col].fillna(False).sum())
            toks = pdf[n_tok_col].dropna()
            if len(toks):
                bmn, bmx = int(toks.min()), int(toks.max())
                mn = bmn if mn is None else min(mn, bmn)
                mx = bmx if mx is None else max(mx, bmx)
        state.update((n_rows, n_viol, mn, mx))
        yield pd.DataFrame(
            {
                source_col: [key[0]],
                "n_rows": [n_rows],
                "n_violations": [n_viol],
                "min_n_tok": [mn],
                "max_n_tok": [mx],
            }
        )

    return stream.groupBy(source_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def windowed_subtotals_drift(
    stream: DataFrame,
    baseline_props: DataFrame,
    ts_col: str = "ts",
    category_col: str = "event_type",
    window: str = "1 minute",
    watermark: str = "2 minutes",
    min_proportion: float = 0.5,
) -> DataFrame:
    """Streaming drift alerts: per-window category mix compared against a
    static baseline proportion table (category, prop) — the streaming
    analogue of row_subtotals (Test/DataCheck.pm:283-365).

    The baseline categories are compiled into ONE windowed aggregation
    (window total + a conditional counter per baseline category), because
    chained/multiple streaming aggregations are unsupported; a category
    whose windowed count falls below min_proportion·prop·window_total
    (including count 0 — missing entirely) emits an alert row.  Bounded
    state: one row per open window."""
    base = baseline_props.select("category", "prop").collect()
    cats = [r["category"] for r in base]
    props = {r["category"]: float(r["prop"]) for r in base}
    # when/otherwise(0), not sum(bool cast): a window whose rows ALL have
    # a NULL category would sum NULLs to NULL, and 'NULL < threshold'
    # silently suppresses the alert for exactly the total-category-
    # collapse case this monitor exists to catch
    counters = [
        F.sum(F.when(F.col(category_col) == c, 1).otherwise(0))
        .alias(f"__c_{i}")
        for i, c in enumerate(cats)
    ]
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"))
        .agg(F.count(F.lit(1)).alias("window_total"), *counters)
    )
    per_cat = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("category"),
                    F.col(f"__c_{i}").alias("n"),
                    F.lit(props[c]).alias("baseline_prop"),
                )
                for i, c in enumerate(cats)
            ]
        )
    ).alias("p")
    return (
        agg.select(F.col("win.start").alias("window_start"), "window_total", per_cat)
        .select(
            "window_start", "window_total",
            F.col("p.category").alias("category"),
            F.col("p.n").alias("n"),
            F.col("p.baseline_prop").alias("baseline_prop"),
        )
        .filter(
            F.col("n")
            < F.lit(min_proportion) * F.col("baseline_prop") * F.col("window_total")
        )
    )


def dedup_stream_against_store(
    stream: DataFrame,
    store: DataFrame,
    text_col: str,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming incremental dedup: the stream-static composition of
    operators/incremental.py — drop stream rows whose content digest is
    already in the accepted-corpus `store` (a STATIC DataFrame with a
    `content_hash` column, e.g. incremental.exact_store persisted
    bucketed by digest), then drop repeats arriving within the watermark
    horizon.

    Scale shape: the stream-static join is re-planned per micro-batch
    with only the batch on the streaming side — the store is never
    shuffled into state; state is bounded to the watermark's worth of
    within-stream digests.  This is the continuous-ingest form of the
    batch admit filter (incremental_dedup_exact): what the batch job does
    per ingest drop, this does per micro-batch.
    """
    from ensembl_datacheck_spark.operators.dedup import content_hash

    hashed = stream.withColumn(
        "__ch", content_hash(F.col(text_col))
    ).withWatermark(ts_col, watermark)
    st = store.select(F.col("content_hash").alias("__ch")).distinct()
    fresh = hashed.join(st, "__ch", "left_anti")
    # NULL-text rows must pass through untouched (NULL never equals NULL,
    # matching the batch operator and SQL semantics); the anti-join
    # already never matches a NULL key, but the dedup state operator
    # WOULD group NULL digests — so only non-NULL digests go through it
    deduped = fresh.filter(F.col("__ch").isNotNull()).dropDuplicatesWithinWatermark(
        ["__ch"] + (key_cols or [])
    )
    out = deduped.unionByName(fresh.filter(F.col("__ch").isNull()))
    return out.drop("__ch")


def snapshot_equality_stream(
    stream: DataFrame,
    snapshot: DataFrame,
    key_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Streaming twin of operators/snapshot.token_snapshot_diff: classify
    every ARRIVING row against a STATIC snapshot table — the per-row
    token-array-equality invariant running on data as it lands instead
    of in a nightly batch diff.

    Emits (key, diff_kind, n_tok_cur, n_tok_snap) violation rows, kinds

    * ``changed``        — key exists in the snapshot, token arrays
      differ (same null-safe codegen comparison as the batch operator);
    * ``new_in_current`` — key absent from the snapshot (growth).

    ``missing_in_current`` is UNDECIDABLE on an unbounded stream —
    absence of a key has no arrival event — so the batch check
    (TokenSnapshotEquality) keeps sole ownership of that kind; this twin
    covers the two kinds that are per-row facts.  Parity with the batch
    diff on those kinds is pinned in tests.

    Scale shape: a stream-static LEFT OUTER equi-join, re-planned per
    micro-batch with only the batch on the streaming side — the
    snapshot is never pulled into streaming state, so state size is
    zero (stateless select+join per batch).  For a large snapshot,
    persist it bucketed on the key (sources/io.write_bucketed) so each
    micro-batch joins shuffle-free on the static side.
    """
    from ensembl_datacheck_spark.functions.arrays import token_arrays_equal
    from ensembl_datacheck_spark.operators.snapshot import (
        CHANGED,
        NEW_IN_CURRENT,
    )

    snap = snapshot.select(
        F.col(key_col).alias("__k"),
        F.col(tokens_col).alias("__snap_toks"),
        F.lit(True).alias("__snap_present"),
    )
    j = stream.join(snap, stream[key_col] == F.col("__k"), "left_outer")
    kind = (
        F.when(F.col("__snap_present").isNull(), F.lit(NEW_IN_CURRENT))
        .when(
            ~token_arrays_equal(F.col(tokens_col), F.col("__snap_toks")),
            F.lit(CHANGED),
        )
    )
    return j.select(
        F.col(key_col),
        kind.alias("diff_kind"),
        F.size(tokens_col).alias("n_tok_cur"),
        F.size("__snap_toks").alias("n_tok_snap"),
    ).filter(F.col("diff_kind").isNotNull())


def lm_outliers_stream(
    stream: DataFrame,
    vocab: DataFrame,
    max_ce_nats: float,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    min_scored: int = 20,
    alpha: float = 1.0,
) -> DataFrame:
    """Streaming twin of the LmPerplexityOutliers check: score ARRIVING
    documents against a STATIC LM snapshot (a (token, count) vocabulary
    fitted on the accepted corpus) and emit the rows whose cross-entropy
    breaches ``max_ce_nats`` — quality filtering on data as it lands
    instead of in a nightly batch sweep.

    The threshold is a fixed literal, not the stream's own median: a
    quantile of an unbounded stream is undecidable without state, and
    CCNet itself precomputes per-language cut points once and reuses
    them for the whole crawl (operators/lm.py lm_bucket_thresholds is
    the batch stage that produces ``max_ce_nats`` — e.g. median + margin
    from the check, or a head/tail cut point).

    Scale shape: ``lm_cross_entropy_arrow`` is stateless per micro-batch
    (the LM rides inside the task closure, bounded by vocab size;
    mapInPandas + a row-local filter, zero streaming state, append-mode
    safe).  Batch parity with the join-tier scorer is pinned in tests at
    1e-9 (numpy/JVM log ulp — lm.py docstring).
    """
    from ensembl_datacheck_spark.operators.lm import lm_cross_entropy_arrow

    scored = lm_cross_entropy_arrow(
        stream, vocab, id_col=id_col, tokens_col=tokens_col, alpha=alpha
    )
    return scored.filter(
        (F.col("n_scored") >= min_scored) & (F.col("ce_nats") > max_ce_nats)
    )


def dsir_weights_stream(
    stream: DataFrame,
    target_counts: DataFrame,
    raw_counts: DataFrame,
    min_log_weight: float | None = None,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    n_buckets: int | None = None,
    alpha: float = 1.0,
    use_bigrams: bool = True,
) -> DataFrame:
    """Streaming twin of DSIR selection: score ARRIVING documents
    against STATIC target/raw hashed-ngram profiles and (optionally)
    keep only rows at or above ``min_log_weight`` — importance
    filtering on data as it lands.

    Global top-k is undecidable on an unbounded stream (like the
    stream quantile in lm_outliers_stream's docstring), so the
    streaming form is THRESHOLD selection: run the batch
    ``select_top_k`` once on a reference corpus, read the rank-k
    boundary weight, and pass it here — DSIR's resampling acceptance
    happens per row.  ``min_log_weight=None`` emits every scored row
    (weight tagging for a downstream sampler).  ``use_bigrams`` must
    match the gram set the profiles were fitted with; profiles record it
    on their ``feat`` column and a mismatch raises.

    Scale shape: ``importance_log_weights_arrow`` is stateless per
    micro-batch (both profiles ride in the task closure as
    B-bounded dense arrays; mapInPandas + a row-local filter, zero
    streaming state, append-mode safe).  Batch parity with the fused
    scorer is pinned in tests at 1e-9.
    """
    from ensembl_datacheck_spark.operators.importance import (
        importance_log_weights_arrow,
    )

    scored = importance_log_weights_arrow(
        stream, target_counts, raw_counts,
        n_buckets=n_buckets, alpha=alpha,
        id_col=id_col, tokens_col=tokens_col, use_bigrams=use_bigrams,
    )
    if min_log_weight is None:
        return scored
    return scored.filter(F.col("log_weight") >= min_log_weight)
