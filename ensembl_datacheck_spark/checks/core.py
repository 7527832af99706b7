"""The built-in datacheck suite for the `sequences` table
(doc_id string, tokens array<int32>, n_tok int, source string —
BASELINE.json input_hint).

Check granularity mirrors the reference's one-concern-per-check style
(lib/.../Checks/*); a row-level check IS its predicate factory, and the
Runner executes all of them in ONE scan (see operators/fused.py) — the
scale-out answer to the reference's scan-per-SQL model.

Family mapping (SURVEY.md §2.6):
  1. column stats / completeness → SequencesCompleteness, SequencesStats
  2. uniqueness                  → DocIdUnique
  3. referential integrity       → SourceReferential, InactiveSourceRows
  4. distribution drift          → NTokDrift, SourceDrift, RowTotals
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ensembl_datacheck_spark import assertions as A
from ensembl_datacheck_spark.operators import drift as D
from ensembl_datacheck_spark.operators import profile as P
from ensembl_datacheck_spark.operators.fused import RowPredicate, with_dim_flag
from ensembl_datacheck_spark.operators.uniqueness import duplicate_rows
from ensembl_datacheck_spark.registry import register
from ensembl_datacheck_spark.sources.synth import VOCAB_SIZE, ntok_bin
from ensembl_datacheck_spark.verdict import AssertionResult, Status

# ---------------------------------------------------------------------------
# family 1: completeness / column stats  (BlankNulls.pm, has_data semantics)
# ---------------------------------------------------------------------------


@register(
    "SequencesCompleteness",
    "No null/empty doc_id, source, tokens, or non-positive n_tok "
    "(has_data semantics, Test/DataCheck.pm:490-502; BlankNulls.pm:62-66)",
    groups=("sequences", "completeness", "row_fused"),
    tables=("sequences",),
    per_partition=True,
    row_predicates=True,
)
def sequences_completeness(ctx, scan):
    did, src, tok = F.col("doc_id"), F.col("source"), F.col("tokens")
    preds = [
        RowPredicate("doc_id_null_or_empty", did.isNull() | (did == ""), ("source", "n_tok")),
        RowPredicate("source_null_or_empty", src.isNull() | (src == ""), ("n_tok",)),
        RowPredicate("tokens_null", tok.isNull(), ("source", "n_tok")),
        RowPredicate("tokens_empty", tok.isNotNull() & (F.size(tok) == 0), ("source", "n_tok")),
        RowPredicate("n_tok_null_or_nonpositive",
                     F.col("n_tok").isNull() | (F.col("n_tok") <= 0), ("source",)),
    ]
    return preds, scan


@register(
    "TokenInvariants",
    "size(tokens) == n_tok and all token values in [0, vocab) — the "
    "per-row invariant family (input_hint; CheckJSONObjects.pm-style "
    "per-row validation, SURVEY.md S23)",
    groups=("sequences", "tokens", "row_fused"),
    tables=("sequences",),
    per_partition=True,
    row_predicates=True,
)
def token_invariants(ctx, scan):
    # ONE predicate definition each, shared with the standalone
    # operators (column_stats.token_length_violations /
    # token_domain_violations) — hand-synchronized copies had already
    # begun to diverge on the NULL-n_tok edge
    from ensembl_datacheck_spark.operators.column_stats import (
        token_domain_predicate,
        token_length_predicate,
    )

    preds = [
        RowPredicate(
            "token_length_mismatch",
            token_length_predicate("tokens", "n_tok"),
            ("n_tok",),
        ),
        RowPredicate(
            "token_out_of_domain",
            token_domain_predicate("tokens", VOCAB_SIZE),
            ("n_tok",),
        ),
    ]
    return preds, scan


def profile_memo_key(df) -> str:
    """Memo key for the shared fact profile: a fingerprint of the fact
    table's ANALYZED plan.  Within one Runner the table object is
    stable, so the key behaves exactly like the old per-run constant;
    under a fleet-shared SharedComputations (plans/fleet.py) targets
    validating the same DataFrame hash to the same key (one cube build
    per TABLE, not per Runner) while distinct tables can never collide —
    plans re-created from the same source carry fresh expression ids, so
    a fingerprint mismatch only ever costs a missed share, never serves
    the wrong table's profile."""
    import hashlib

    plan = df._jdf.queryExecution().analyzed().toString()
    return f"fact_profile:sequences:{hashlib.md5(plan.encode()).hexdigest()[:16]}"


def _profile_memo_key(ctx) -> str:
    return profile_memo_key(ctx.table("sequences"))


def _shared_fact_profile(ctx) -> P.FactProfile:
    """Run-scoped one-scan fact profile (operators/profile.py): the
    first aggregate check in a run builds the (source, n_tok) cube,
    persists it and collects its summary in one pass; every consumer
    (SequencesStats, RowTotals, SourceDrift, NTokDrift, SourcesUsed)
    then judges from the collected summary in Python, and
    NTokQuantileDrift reads its per-value counts from the cube the
    summary job cached — six independent full fact scans collapse to
    one, and the per-check re-aggregation jobs to none.  The build's
    jobs carry job group ``dcheck:__profile__``, not the group of
    whichever consumer asked first.  A standalone run_check gets a
    private memo (one scan, same answers)."""
    from ensembl_datacheck_spark.plans.runner import job_group

    def build() -> P.FactProfile:
        with job_group(ctx.spark, "__profile__"):
            return P.collect_profile(ctx.table("sequences"), ntok_bin())

    return ctx.shared.get(_profile_memo_key(ctx), build)


def _stat_rows(ctx, stat_key: str) -> list[tuple]:
    """(category, value) rows of one baseline stat.  In a run a small
    baseline table is a local relation, so this collect runs no job."""
    base = ctx.table("baseline_stats")
    return [
        (r["category"], r["value"])
        for r in base.filter(F.col("stat_key") == stat_key)
        .select("category", "value").collect()
    ]


@register(
    "SequencesStats",
    "Fused one-pass column statistics with threshold verdicts: null rates "
    "below tolerance, n_tok within [1, 8192] (advisory; the engine's "
    "generalization of the reference's per-column BlankNulls sweep, "
    "SURVEY.md S19/S5)",
    groups=("sequences", "stats"),
    severity="advisory",
    tables=("sequences",),
    shared_uses=("fact_profile",),
)
def sequences_stats(ctx):
    # narrow columns only: tokens-array stats already ride the fused row
    # scan (completeness/invariants); re-scanning the widest column here
    # would double the table's IO for an advisory check.  Stats come from
    # the shared profile summary (operators/profile.py) — null counts
    # for the cube's key columns fall out of their NULL groups, doc_id
    # nulls ride as a summed flag.
    prof = _shared_fact_profile(ctx).summary
    n = prof.n_rows or 1
    max_null_rate = ctx.config.get("max_null_rate", 0.001)
    for col in ("doc_id", "n_tok", "source"):
        rate = prof.null_counts[col] / n
        status = Status.OK if rate <= max_null_rate else Status.FAIL
        ctx.result.assertions.append(
            AssertionResult(
                f"null_rate_{col}", status,
                expected=f"<= {max_null_rate}", got=round(rate, 6),
            )
        )
    lo, hi = prof.ntok_min, prof.ntok_max
    ok = lo is not None and lo >= 1 and hi is not None and hi <= 8192
    ctx.result.assertions.append(
        AssertionResult("n_tok_range", Status.OK if ok else Status.FAIL,
                        expected="[1, 8192]", got=(lo, hi))
    )
    ctx.result.n_rows_checked = n


# ---------------------------------------------------------------------------
# family 2: uniqueness  (GeneStableID.pm:66-75 GROUP BY HAVING >1)
# ---------------------------------------------------------------------------


@register(
    "DocIdUnique",
    "doc_id is unique across the table (stable-ID uniqueness, "
    "GeneStableID.pm:66-75; exact, two-stage hash aggregation)",
    groups=("sequences", "uniqueness"),
    tables=("sequences",),
    per_partition=True,
)
def doc_id_unique(ctx):
    from ensembl_datacheck_spark.plans.checkpoint import bucket_col

    seq = ctx.table("sequences")
    # blank ids belong to the completeness check (has_data semantics), not
    # uniqueness — same split as the reference's separate BlankNulls vs
    # stable-id checks
    nonblank = seq.filter(F.col("doc_id") != "")
    keys = nonblank.groupBy("doc_id").count().filter(F.col("count") > 1)
    # ONE aggregation job yields per-bucket verdicts AND diagnostics:
    # all copies of a doc_id hash to the same bucket, so dup-row counts
    # per bucket derive from the dup-key list without joining back.
    # Samples are rank-capped BEFORE collect_list (spillable window, not
    # an unbounded agg buffer): a pathological corpus where millions of
    # keys duplicate must not materialize them all in one bucket's
    # aggregation buffer just to show 3 examples.
    from pyspark.sql import Window

    keys = keys.withColumn(
        "partition_id", bucket_col("doc_id", ctx.n_buckets)
    ).withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("partition_id").orderBy("doc_id")
        ),
    )
    per_bucket = (
        keys.groupBy("partition_id")
        .agg(
            F.sum("count").alias("n_dup_rows"),
            F.count(F.lit(1)).alias("n_dup_keys"),
            F.sort_array(
                F.collect_list(F.when(F.col("__rn") <= 3, F.col("doc_id")))
            ).alias("samples"),
        )
        .collect()
    )
    total = int(sum(r["n_dup_rows"] for r in per_bucket))
    # per-bucket attribution is sound ONLY when the runner buckets by the
    # unique key itself (all copies of a doc_id co-hash): under a foreign
    # bucket_key the copies can straddle buckets, so violations stay
    # unattributed — the runner then poisons every pending bucket on
    # failure instead of mapping dup counts onto unrelated partitions
    if ctx.bucket_key == "doc_id":
        ctx.result.partition_violations = {
            r["partition_id"]: int(r["n_dup_rows"]) for r in per_bucket
        }
    diag = []
    for r in per_bucket:
        diag.extend(f"duplicated doc_id: {k}" for k in r["samples"])
        if len(diag) >= 10:
            diag = diag[:10]
            break
    status = Status.OK if total == 0 else Status.FAIL
    # full violation rows stay lazy; only executed if a sink writes
    viol = (
        duplicate_rows(nonblank, ["doc_id"]).select("doc_id", "source", "n_tok")
        if total else None
    )
    ctx.record(
        (AssertionResult("doc_id_unique", status, expected=0, got=total,
                         diag=diag), viol),
        key_col="doc_id",
    )


# ---------------------------------------------------------------------------
# family 3: referential integrity  (fk primitive, Test/DataCheck.pm:395-419)
# ---------------------------------------------------------------------------


@register(
    "SourceReferential",
    "Every sequences.source exists in the sources dimension and inactive "
    "sources have zero rows (fk + constrained FK, Test/DataCheck.pm:395-419, "
    "ForeignKeys.pm:82-89; broadcast hash anti-join)",
    groups=("sequences", "referential", "row_fused"),
    tables=("sequences", "sources"),
    per_partition=True,
    row_predicates=True,
)
def source_referential(ctx, scan):
    sources = ctx.table("sources")
    scan = with_dim_flag(scan, "source", sources, "source", "__src_match")
    inactive = sources.filter(~F.col("active"))
    scan = with_dim_flag(scan, "source", inactive, "source", "__src_inactive")
    preds = [
        RowPredicate(
            "source_orphan",
            F.col("source").isNotNull() & (F.col("source") != "")
            & F.col("__src_match").isNull(),
            ("source",),
        ),
        RowPredicate(
            "source_inactive_has_rows",
            F.col("__src_inactive").isNotNull(),
            ("source",),
        ),
    ]
    return preds, scan


@register(
    "SourcesUsed",
    "Every active source has at least one sequence row (reverse FK, "
    "ForeignKeys.pm:91-98) — advisory",
    groups=("sequences", "referential"),
    severity="advisory",
    tables=("sequences", "sources"),
    shared_uses=("fact_profile",),
)
def sources_used(ctx):
    # reverse FK against the shared profile summary instead of the fact
    # table (operators/referential.childless_parents is the standalone
    # operator face): the sources that appear are exactly the summary's
    # non-null source groups, so the left-anti join runs on the driver
    # over the (local) dimension rows — no fact scan, no Spark job
    active = ctx.table("sources").filter(F.col("active")).select("source")
    present = _shared_fact_profile(ctx).summary.source_counts
    missing = [(r["source"],) for r in active.collect()
               if r["source"] is None or r["source"] not in present]
    ctx.record(
        A.rows_zero_local(ctx.spark, missing, "source string",
                          "active_source_has_rows"),
        key_col="source",
    )


# ---------------------------------------------------------------------------
# family 4: distribution drift vs baseline snapshot
#           (row_totals / row_subtotals, Test/DataCheck.pm:260-365)
# ---------------------------------------------------------------------------


@register(
    "RowTotals",
    "Total row count within tolerance of the baseline snapshot "
    "(row_totals, Test/DataCheck.pm:260-281; default min_proportion 0.95)",
    groups=("sequences", "drift"),
    tables=("sequences", "baseline_stats"),
    shared_uses=("fact_profile",),
)
def row_totals_check(ctx):
    base_total = sum(
        (v for _, v in _stat_rows(ctx, "source_count") if v is not None), 0.0
    )
    # current total from the shared profile summary — no count scan
    cur = _shared_fact_profile(ctx).summary.n_rows
    p = ctx.config.get("row_totals_min_proportion", 0.95)
    ok = cur >= base_total * p
    ctx.result.assertions.append(
        AssertionResult(
            "row_totals", Status.OK if ok else Status.FAIL,
            expected=f">= {base_total * p:.0f} ({p} * {base_total:.0f})", got=cur,
        )
    )
    ctx.result.n_rows_checked = cur


@register(
    "SourceDrift",
    "Per-source row counts within tolerance of baseline + chi-square on "
    "the source distribution (row_subtotals, Test/DataCheck.pm:283-365, "
    "CompareBiotypeGroup.pm:60 min_proportion=0.75)",
    groups=("sequences", "drift"),
    tables=("sequences", "baseline_stats"),
    shared_uses=("fact_profile",),
)
def source_drift(ctx):
    # identical to sequences.groupBy(source).count(), read from the
    # shared profile summary (one fact scan for the whole aggregate
    # family); the baseline rows are local, so the comparison runs on
    # the driver
    base = _stat_rows(ctx, "source_count")
    cur = list(_shared_fact_profile(ctx).summary.source_counts.items())
    tol = D.Tolerance(min_proportion=ctx.config.get("source_min_proportion", 0.75))
    ctx.record(
        A.rows_zero_local(ctx.spark, D.category_drift_rows(cur, base, tol),
                          D.CATEGORY_DRIFT_SCHEMA, "source_subtotals"),
        key_col="category",
    )

    # bidirectional option: also flag categories that GREW beyond
    # tolerance, by running the comparison flipped — the reference runs
    # the same subtotals check in both directions
    # (ComparePreviousVersionProbes.pm:59-60; asymmetry documented at
    # Test/DataCheck.pm:332-335)
    if ctx.config.get("source_drift_bidirectional", False):
        ctx.record(
            A.rows_zero_local(ctx.spark, D.category_drift_rows(base, cur, tol),
                              D.CATEGORY_DRIFT_SCHEMA,
                              "source_subtotals_reverse"),
            key_col="category",
        )

    stats = D.drift_statistics(
        [(s, float(c)) for s, c in cur],
        [(c, float(v)) for c, v in base],
    )
    alpha = ctx.config.get("chi2_alpha", 1e-4)
    min_l1 = ctx.config.get("chi2_min_effect_l1", 0.02)
    status = Status.FAIL if D.chi2_verdict(stats, alpha, min_l1) else Status.OK
    ctx.result.assertions.append(
        AssertionResult(
            "source_chi2", status,
            expected=f"p >= {alpha} or l1 < {min_l1}",
            got=f"chi2={stats.chi2:.2f} dof={stats.chi2_dof} "
                f"p={stats.chi2_pvalue:.2e} l1={stats.l1:.4f}",
            diag=[f"worst bins (base_share, cur_share): {stats.worst_bins[:3]}"]
            if status == Status.FAIL else [],
        )
    )


@register(
    "NTokDrift",
    "n_tok histogram (log2 bins) vs baseline: KS and chi-square statistics "
    "computed from per-partition bin counts combined exactly "
    "(SURVEY.md S22 generalization; never sampled)",
    groups=("sequences", "drift"),
    tables=("sequences", "baseline_stats"),
    shared_uses=("fact_profile",),
)
def ntok_drift(ctx):
    # identical to build_histogram(seq.filter(n_tok notnull), ntok_bin())
    # — the shared profile summary's bins over non-null n_tok
    base = _stat_rows(ctx, "n_tok_hist")
    bins = _shared_fact_profile(ctx).summary.ntok_bins
    stats = D.drift_statistics(
        [(str(b), float(c)) for b, c in bins.items()],
        [(c, float(v)) for c, v in base],
    )
    ks_max = ctx.config.get("ks_max", 0.05)
    alpha = ctx.config.get("chi2_alpha", 1e-4)
    min_l1 = ctx.config.get("chi2_min_effect_l1", 0.02)
    ks_status = Status.OK if stats.ks <= ks_max else Status.FAIL
    chi_status = (
        Status.FAIL if D.chi2_verdict(stats, alpha, min_l1) else Status.OK
    )
    ctx.result.assertions.append(
        AssertionResult(
            "n_tok_ks", ks_status, expected=f"<= {ks_max}", got=round(stats.ks, 4),
            diag=[f"worst bins: {stats.worst_bins[:3]}"] if ks_status == Status.FAIL else [],
        )
    )
    ctx.result.assertions.append(
        AssertionResult(
            "n_tok_chi2", chi_status, expected=f"p >= {alpha} or l1 < {min_l1}",
            got=f"chi2={stats.chi2:.2f} dof={stats.chi2_dof} "
                f"p={stats.chi2_pvalue:.2e} l1={stats.l1:.4f}",
        )
    )


@register(
    "NTokQuantileDrift",
    "n_tok quantiles vs the baseline snapshot's quantiles within 5% "
    "relative tolerance, with an automatic two-tier plan.  Exact tier "
    "(bounded domains — NTokDomain enforces [1, 8192]): a "
    "value-frequency histogram — one codegen two-stage count "
    "aggregation, fully map-side combinable, ~domain-size rows to the "
    "driver — beats a percentile sketch, whose single-reducer merge of "
    "per-partition sketches is a SERIAL tail that grows with accuracy "
    "and partition count (measurably hurts N→4N scaling).  The driver "
    "collect is guarded: above config[quantile_exact_max_card] distinct "
    "values (default 65536 — every collect is LIMIT-bounded, so an "
    "unbounded column can never flood the driver) the check runs the "
    "mergeable percentile_approx sketch tier (bounded rank error "
    "1/accuracy).",
    groups=("sequences", "drift"),
    tables=("sequences", "baseline_stats"),
    shared_uses=("fact_profile",),
)
def ntok_quantile_drift(ctx):
    from ensembl_datacheck_spark.plans.runner import SkipCheck

    base_q = {
        float(c): float(v) for c, v in _stat_rows(ctx, "n_tok_quantile")
    }
    if not base_q:
        raise SkipCheck("baseline snapshot carries no n_tok_quantile rows")
    rel_tol = ctx.config.get("quantile_rel_tol", 0.05)
    max_card = int(ctx.config.get("quantile_exact_max_card", 65_536))
    qs = tuple(sorted(base_q))
    # the LIMIT-guarded per-value collect over the shared profile cube
    # decides the tier and, below the cap, is the exact tier's input
    probe = (
        P.profile_ntok_counts(_shared_fact_profile(ctx).cube)
        .limit(max_card + 1)
        .collect()
    )
    if not probe:
        raise SkipCheck("sequences has no non-null n_tok rows")

    breaches: list[str] = []
    if len(probe) > max_card:
        # sketch tier: mergeable percentile_approx partials — one
        # aggregation whose shuffle carries one sketch per partition
        # regardless of cardinality.
        tier = f"sketch (> {max_card} distinct values)"
        nn = ctx.table("sequences").filter(F.col("n_tok").isNotNull())
        sketch_q = {
            float(r["q"]): float(r["value"])
            for r in D.quantile_profile(nn, "n_tok", qs, approx=True).collect()
            if r["value"] is not None
        }
        for q in qs:
            bv, cur = base_q[q], sketch_q.get(q)
            if cur is None or abs(cur - bv) > rel_tol * abs(bv):
                breaches.append(
                    f"q={q}: baseline {bv} vs current "
                    f"{'<missing>' if cur is None else round(cur, 2)}"
                )
    else:
        # exact linear-interpolated quantiles from (value, count) pairs —
        # identical definition to F.percentile / quantile_cont: position
        # h = (n-1)·q over the sorted values, interpolate neighbours
        tier = "exact-histogram"
        hist = sorted((r["n_tok"], r["cnt"]) for r in probe)
        values = [v for v, _ in hist]
        cums = []
        total = 0
        for _, c in hist:
            total += c
            cums.append(total)

        def value_at(idx: int) -> float:
            import bisect

            return float(values[bisect.bisect_right(cums, idx)])

        for q in sorted(base_q):
            h = (total - 1) * q
            lo, frac = int(h), h - int(h)
            cur = value_at(lo)
            if frac:
                cur += frac * (value_at(lo + 1) - cur)
            bv = base_q[q]
            if abs(cur - bv) > rel_tol * abs(bv):
                breaches.append(
                    f"q={q}: baseline {bv} vs current {round(cur, 2)}"
                )
    ctx.result.assertions.append(
        AssertionResult(
            "n_tok_quantile_drift",
            Status.OK if not breaches else Status.FAIL,
            expected=f"within {rel_tol:.0%} of baseline ({tier})",
            got=len(breaches),
            diag=breaches[:10],
        )
    )


# ---------------------------------------------------------------------------
# existence probe (S24) — the 'table has data' gate most reference checks
# start with (EmptyVariationTables.pm:38-51)
# ---------------------------------------------------------------------------


@register(
    "SequencesNonEmpty",
    "sequences table is non-empty (existence probe via limit(1), "
    "EmptyVariationTables.pm:38-51)",
    groups=("sequences", "completeness"),
    tables=("sequences",),
)
def sequences_non_empty(ctx):
    ctx.record(A.is_rows_nonzero(ctx.table("sequences"), "sequences_non_empty"))


# ---------------------------------------------------------------------------
# content-level dedup check (training-data tier; JVM content hash)
# ---------------------------------------------------------------------------


@register(
    "TokenContentDuplicates",
    "No two documents share identical token content (advisory): "
    "order-sensitive 64-bit content hash per row (JVM codegen), "
    "grouped on the 64-bit content hash — the sequence-payload analogue of the "
    "reference's duplicate-row checks (DuplicateXref kin) and the "
    "check-suite face of the exact-dedup operator",
    # deliberately NOT in the broad "sequences" group: --groups sequences
    # must not drag the whole-corpus dedup scan into a routine run
    groups=("dedup",),
    severity="advisory",
    tables=("sequences",),
    on_demand=True,
)
def token_content_duplicates(ctx):
    seq = ctx.table("sequences")
    # null/empty token arrays belong to the completeness check; a null
    # hash group would otherwise lump all of them as one "duplicate".
    # xxhash64 hashes the whole array inside whole-stage codegen — the
    # Arrow polynomial checksum (functions/arrays.token_checksum) exists
    # for cross-engine fingerprint parity and costs ~20x this scan
    # (measured: +90 s vs +4 s on 20M rows at 2 cores), wasted on
    # within-table dup grouping
    # group on the content hash alone — NOT the stored n_tok column,
    # which may itself be corrupted (TokenInvariants' concern) and would
    # split a true content-dup pair into different groups
    groups = (
        seq.filter(F.col("tokens").isNotNull() & (F.size("tokens") > 0))
        .select("doc_id", F.size("tokens").alias("len"), F.xxhash64("tokens").alias("ck"))
        .groupBy("ck")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("example_doc_id"),
            F.min("len").alias("n_tok"),
        )
        .filter(F.col("n_copies") > 1)
    )
    ctx.record(
        A.is_rows_zero(
            groups.select("example_doc_id", "n_tok", "n_copies"),
            "duplicate_token_content",
        ),
        key_col="example_doc_id",
    )


@register(
    "TokenPassageRedundancy",
    "Duplicated-passage fraction of the token corpus stays under "
    "config[max_dup_passage_fraction] (default 0.2): tokens are sliced "
    "into non-overlapping config[passage_tokens]-token passages "
    "(default 50, the exact-substring-dedup convention) by a pure "
    "projection, digested with xxhash64 over the raw int slice (whole-"
    "stage codegen, arrays hashed natively — no string join), and the "
    "redundant fraction is sum(n-1 over duplicated digests)/total from "
    "TWO map-side-combinable aggregations.  The check-suite face of "
    "operators/token_dedup.token_passage_dedup — it tells a pipeline "
    "WHEN the (more expensive) removal pass is worth running.",
    # like TokenContentDuplicates: a whole-corpus scan, not dragged into
    # routine --groups sequences runs
    groups=("dedup",),
    severity="advisory",
    tables=("sequences",),
    on_demand=True,
)
def token_passage_redundancy(ctx):
    from ensembl_datacheck_spark.operators.corpus import passage_array_expr

    seq = ctx.table("sequences")
    k = int(ctx.config.get("passage_tokens", 50))
    max_frac = float(ctx.config.get("max_dup_passage_fraction", 0.2))
    digests = (
        seq.filter(F.col("tokens").isNotNull() & (F.size("tokens") > 0))
        .select(F.col("tokens").alias("ta"))
        .select(
            F.explode(
                F.expr(passage_array_expr("ta", k, join_words=False))
            ).alias("parr")
        )
        .select(F.xxhash64("parr").alias("dg"))
    )
    per_digest = digests.groupBy("dg").agg(F.count(F.lit(1)).alias("n"))
    stats = per_digest.agg(
        F.sum("n").alias("n_passages"),
        F.sum(F.when(F.col("n") > 1, F.col("n") - 1).otherwise(0)).alias(
            "n_redundant"
        ),
    ).select(
        "n_passages",
        "n_redundant",
        (F.col("n_redundant") / F.col("n_passages")).alias("dup_fraction"),
    )
    breach = stats.filter(
        F.col("n_passages").isNotNull()
        & (F.col("dup_fraction") > F.lit(max_frac))
    )
    ctx.record(
        A.is_rows_zero(breach, f"dup_passage_fraction_<=_{max_frac}")
    )


@register(
    "TokenEvalContamination",
    "Held-out eval sources are not leaked into the training sources: "
    "per eval doc, the fraction of its distinct config[contamination_k]"
    "-token shingles (default 8, the GPT-3/PaLM decontamination "
    "convention) found anywhere in the train side stays under "
    "config[max_contamination] (default 0.05).  The check-suite face of "
    "operators/token_dedup.token_contamination: train collapses to its "
    "distinct xxhash64 shingle-key set before ONE left join (map-side "
    "combinable — linear in shingles, no doc x doc pairing); violation "
    "rows are the leaked eval docs with their overlap counts, "
    "is_rows_zero diagnostics semantics (Test/DataCheck.pm:283-318 "
    "kin).  Skips with a reason when no row carries an eval source "
    "(Manager.pm skip-with-reason semantics).",
    # whole-corpus shingle scan: on-demand like the other dedup-family
    # checks, never dragged into routine --groups sequences runs
    groups=("dedup",),
    severity="advisory",
    tables=("sequences",),
    on_demand=True,
)
def token_eval_contamination(ctx):
    from ensembl_datacheck_spark.operators.token_dedup import token_contamination

    seq = ctx.table("sequences").filter(
        F.col("tokens").isNotNull() & (F.size("tokens") > 0)
    )
    eval_sources = list(ctx.config.get("eval_sources", ["src_19"]))
    k = int(ctx.config.get("contamination_k", 8))
    max_frac = float(ctx.config.get("max_contamination", 0.05))
    ev = seq.filter(F.col("source").isin(eval_sources))
    if not ev.take(1):  # LIMIT-1 probe, never a count
        ctx.skip(f"no rows with eval source(s) {eval_sources}")
        return
    train = seq.filter(~F.col("source").isin(eval_sources))
    overlap = token_contamination(train, ev, "doc_id", "tokens", k=k)
    breach = overlap.filter(F.col("contamination") > F.lit(max_frac)).select(
        F.col("id"), "n_shingles", "n_contaminated", "contamination"
    )
    ctx.record(
        A.is_rows_zero(breach, f"eval_contamination_<=_{max_frac}"),
        key_col="id",
    )


@register(
    "TokenUnigramDrift",
    "Token CONTENT distribution vs baseline — the drift axis the "
    "length/source/quantile checks cannot see (a tokenizer or filter "
    "change that preserves n_tok but shifts which tokens appear): "
    "unigram histogram via explode -> two-stage count (map-side "
    "combinable, shuffle bounded by vocab size), folded onto the "
    "BASELINE's top-K token set "
    "+ __other__ bucket (at most K+1 rows to the driver), then the same "
    "chi-square machinery as SourceDrift plus an L1 (total-variation) "
    "bound.  Baseline rows: stat_key='token_unigram' "
    "(synth.gen_baseline_stats).  Whole-corpus token scan, so on-demand "
    "like the dedup checks.",
    groups=("drift", "tokens"),
    tables=("sequences", "baseline_stats"),
    on_demand=True,
)
def token_unigram_drift(ctx):
    from ensembl_datacheck_spark.plans.runner import SkipCheck

    base = ctx.table("baseline_stats")
    base_hist = [
        (r["category"], float(r["value"]))
        for r in base.filter(F.col("stat_key") == "token_unigram").collect()
    ]
    if not base_hist:
        raise SkipCheck("baseline snapshot carries no token_unigram rows")
    base_tokens = [int(c) for c, _ in base_hist if c != "__other__"]
    prof = D.unigram_profile(ctx.table("sequences"))
    cur_hist = D.collect_histogram(
        D.align_unigram_categories(prof, base_tokens), "category", "count"
    )
    # chi-square on the aligned categorical histograms (KS needs an
    # ordinal axis; token ids are nominal, so L1/total-variation is the
    # distance reported alongside)
    stats = D.drift_statistics(cur_hist, base_hist)
    alpha = ctx.config.get("chi2_alpha", 1e-4)
    min_l1 = ctx.config.get("chi2_min_effect_l1", 0.02)
    l1_max = ctx.config.get("unigram_l1_max", 0.05)
    chi_status = (
        Status.FAIL if D.chi2_verdict(stats, alpha, min_l1) else Status.OK
    )
    l1_status = Status.OK if stats.l1 <= l1_max else Status.FAIL
    ctx.result.assertions.append(
        AssertionResult(
            "token_unigram_chi2", chi_status,
            expected=f"p >= {alpha} or l1 < {min_l1}",
            got=f"chi2={stats.chi2:.2f} dof={stats.chi2_dof} "
                f"p={stats.chi2_pvalue:.2e} l1={stats.l1:.4f}",
            diag=[f"worst tokens (base_share, cur_share): {stats.worst_bins[:3]}"]
            if chi_status == Status.FAIL else [],
        )
    )
    ctx.result.assertions.append(
        AssertionResult(
            "token_unigram_l1", l1_status,
            expected=f"<= {l1_max}", got=round(stats.l1, 4),
        )
    )


@register(
    "TokenSnapshotEquality",
    "Per-row token-array equality against a previous snapshot — the "
    "north rule's per-row invariant as a check: full-outer diff on "
    "doc_id (operators/snapshot.py), rows classed changed / "
    "missing_in_current / new_in_current.  changed and missing are "
    "failures; new rows are growth and pass unless "
    "config[snapshot_forbid_new].  One aggregate job for the verdict, "
    "one bounded collect for diagnostics only on failure; violation "
    "rows persist distributed.  The payload-level generalization of the "
    "reference's ComparePreviousVersion* count diffs "
    "(ComparePreviousVersionProbes.pm:51-60).",
    groups=("sequences", "snapshot"),
    tables=("sequences", "sequences_snapshot"),
)
def token_snapshot_equality(ctx):
    from ensembl_datacheck_spark.operators import snapshot as SN

    diff = SN.token_snapshot_diff(
        ctx.table("sequences"), ctx.table("sequences_snapshot")
    )
    counts = {
        r["diff_kind"]: int(r["n"])
        for r in diff.groupBy("diff_kind").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    forbid_new = bool(ctx.config.get("snapshot_forbid_new", False))
    fail_kinds = [SN.CHANGED, SN.MISSING_IN_CURRENT] + (
        [SN.NEW_IN_CURRENT] if forbid_new else []
    )
    failing = [k for k in fail_kinds if counts.get(k, 0)]
    # diagnostics: one LIMIT-bounded collect PER failing kind (<= 3 jobs,
    # failure path only) so a dominant kind (millions of 'changed' rows)
    # cannot starve the others' samples.  CollectLimit scans partitions
    # incrementally and early-outs, which beats the single-job
    # alternative — row_number over (partition by diff_kind) — whose
    # shuffle would funnel the ENTIRE diff output into <= 3 tasks.
    diag_rows: dict[str, list[str]] = {}
    for k in failing:
        probe = (
            diff.filter(F.col("diff_kind") == k)
            .limit(A.MAX_DIAG_ROWS)
            .collect()
        )
        diag_rows[k] = [str(r.asDict()) for r in probe]
    for kind in fail_kinds:
        got = counts.get(kind, 0)
        ar = AssertionResult(
            f"snapshot_{kind}",
            Status.OK if got == 0 else Status.FAIL,
            expected=0, got=got,
            diag=diag_rows.get(kind, [])[: A.MAX_DIAG_ROWS],
        )
        viol = (
            diff.filter(F.col("diff_kind") == kind) if got else None
        )
        ctx.record((ar, viol), key_col="doc_id")
    if not forbid_new:
        ctx.result.assertions.append(
            AssertionResult(
                "snapshot_new_in_current", Status.OK,
                expected="growth allowed",
                got=counts.get(SN.NEW_IN_CURRENT, 0),
            )
        )


# ---------------------------------------------------------------------------
# token-rarity quality profile (training-data tier; operators/rarity.py)
# ---------------------------------------------------------------------------


@register(
    "TokenRarityProfile",
    "Token-rarity quality profile (operators/rarity.py — the "
    "integer-exact CCNet-style LM-quality proxy): corpus vocabulary "
    "health — hapax fraction of the vocab stays under "
    "config[max_hapax_vocab_fraction] (default 0.98; healthy Zipfian "
    "text sits near 0.4-0.6, ~1.0 means random ids / broken tokenizer) "
    "— plus per-document rare-token outliers: documents with at least "
    "config[rarity_min_scored] scoreable tokens (default 20) whose "
    "corpus-hapax share exceeds config[max_doc_hapax_ratio] (default "
    "0.8) are garbled-text candidates, emitted as violation rows (the "
    "reference's per-row outlier-diagnostic shape, "
    "Test/DataCheck.pm:283-365 kin).  Whole-corpus token scan + "
    "broadcast-vocab join, so on-demand like the dedup checks; the "
    "vocab histogram is persisted for the duration (it feeds both the "
    "summary aggregate and the scoring join) and unpersisted on exit.",
    groups=("tokens", "quality"),
    severity="advisory",
    tables=("sequences",),
    on_demand=True,
)
def token_rarity_profile(ctx):
    from pyspark import StorageLevel

    from ensembl_datacheck_spark.operators import rarity as R

    seq = ctx.table("sequences")
    max_vocab_hapax = float(ctx.config.get("max_hapax_vocab_fraction", 0.98))
    min_scored = int(ctx.config.get("rarity_min_scored", 20))
    max_doc_ratio = float(ctx.config.get("max_doc_hapax_ratio", 0.8))

    # recomputable lineage, not localCheckpoint — same fault-tolerance
    # rationale as the shared fact profile above
    vocab = D.unigram_profile(seq).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        srow = R.vocab_rarity_summary(vocab).collect()[0]  # 1-row aggregate
        frac = srow["hapax_vocab_fraction"]
        ctx.result.assertions.append(
            AssertionResult(
                "vocab_hapax_fraction",
                Status.OK
                if frac is not None and frac <= max_vocab_hapax
                else Status.FAIL,
                expected=f"<= {max_vocab_hapax}",
                got=None if frac is None else round(frac, 4),
                diag=[
                    f"vocab_size={srow['vocab_size']} "
                    f"hapax_vocab_n={srow['hapax_vocab_n']} "
                    f"total_tokens={srow['total_tokens']}"
                ],
            )
        )
        scores = R.token_rarity_scores(seq, vocab=vocab)
        viol = scores.filter(
            (F.col("n_scored") >= min_scored)
            & (
                F.col("hapax_n").cast("double")
                > F.col("n_scored").cast("double") * max_doc_ratio
            )
        ).select("doc_id", "n_scored", "hapax_n")
        ctx.record(
            A.is_rows_zero(viol, "rare_token_documents"), key_col="doc_id"
        )
    finally:
        vocab.unpersist()


@register(
    "LmPerplexityOutliers",
    "No document is wildly implausible under the corpus's own language "
    "model: an add-1 smoothed unigram LM is fitted on the corpus "
    "(operators/lm.py — the full CCNet-style perplexity filter, Wenzek "
    "et al. 2020, whose integer-exact proxy is TokenRarityProfile), "
    "every sequence with at least config[lm_min_scored] scoreable "
    "tokens (default 20) is scored by cross-entropy, and any scoring "
    "more than config[lm_outlier_margin_nats] (default 3.0) nats above "
    "that scored population's median — i.e. ppl more than e^margin "
    "times the median — is emitted as a violation row (the per-row "
    "outlier-diagnostic shape, Test/DataCheck.pm:283-365).  The margin "
    "is in nats, so the verdict is scale-free: the same distribution "
    "pair passes or fails identically at any corpus size (the "
    "chi2_min_effect_l1 lesson); and the median comes from the same "
    ">= lm_min_scored population the rule judges, so short-doc floods "
    "cannot drag the cut point.  "
    "Whole-corpus token scan + broadcast-vocab join + one "
    "percentile_approx aggregate, so on-demand like the other "
    "token-payload sweeps; the vocab and the scored table are "
    "persisted for their two consumers and unpersisted on exit.",
    groups=("tokens", "quality"),
    severity="advisory",
    tables=("sequences",),
    on_demand=True,
)
def lm_perplexity_outliers(ctx):
    from pyspark import StorageLevel

    from ensembl_datacheck_spark.operators import lm as LM

    seq = ctx.table("sequences")
    min_scored = int(ctx.config.get("lm_min_scored", 20))
    margin = float(ctx.config.get("lm_outlier_margin_nats", 3.0))

    # recomputable lineage, not localCheckpoint — same fault-tolerance
    # rationale as the shared fact profile
    vocab = D.unigram_profile(seq).persist(StorageLevel.MEMORY_AND_DISK)
    scored = None
    try:
        scored = (
            LM.lm_cross_entropy(seq, vocab)
            # the verdict population IS the scored population: the
            # median must come from the same >= min_scored documents
            # the outlier rule judges, or a flood of short OOV-heavy
            # docs would drag the cut point and mask real outliers
            .filter(F.col("n_scored") >= min_scored)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        med_row = scored.agg(
            F.percentile_approx("ce_nats", 0.5).alias("m")
        ).collect()[0]
        med = med_row["m"]
        if med is None:
            ctx.skip(
                f"no sequences with >= {min_scored} scoreable tokens "
                "(empty/NULL/short token arrays)"
            )
        viol = scored.filter(
            F.col("ce_nats") > med + margin
        ).select("doc_id", "n_scored", "oov_n", "ce_nats", "ppl")
        ctx.record(
            A.is_rows_zero(viol, "lm_perplexity_outliers"), key_col="doc_id"
        )
    finally:
        if scored is not None:
            scored.unpersist()
        vocab.unpersist()


@register(
    "SourceOverlapExcess",
    "No source is largely contained in another source: over the "
    "pairwise source-overlap matrix "
    "(operators/token_dedup.source_token_overlap, distinct "
    "config[source_overlap_k]-token shingle sets, default 8), every "
    "ordered pair's containment |A∩B|/|A| stays under "
    "config[max_source_containment] (default 0.5).  A breaching pair "
    "means the training mix double-counts a's content through b — the "
    "mix-level cousin of the per-document dedup checks.  Violation "
    "rows carry the pair and its exact set sizes.  The intersection "
    "join is shingle-keyed (≤ n_sources matches per key — linear in "
    "the corpus, never doc × doc) but still a whole-corpus token scan, "
    "so on-demand like the other dedup checks.",
    groups=("dedup", "tokens"),
    severity="advisory",
    tables=("sequences",),
    on_demand=True,
)
def source_overlap_excess(ctx):
    from ensembl_datacheck_spark.operators import token_dedup as TD

    seq = ctx.table("sequences")
    k = int(ctx.config.get("source_overlap_k", 8))
    max_containment = float(ctx.config.get("max_source_containment", 0.5))
    ov = TD.source_token_overlap(seq, "source", "tokens", k=k)
    viol = ov.filter(F.col("containment") > max_containment).select(
        "source_a", "source_b", "n_shingles_a", "overlap_n", "containment"
    )
    ctx.record(
        A.is_rows_zero(viol, "source_containment_excess"), key_col="source_a"
    )


@register(
    "EmbeddingHygiene",
    "Embedding-column well-formedness (operators/vectors.py): no NULL "
    "or empty vectors, no NaN/Inf elements, no exact-zero vectors; "
    "dimension matches config[embedding_expected_dim] when declared, "
    "else the corpus must be dimension-CONSISTENT (exactly one distinct "
    "dim); optional L2-norm band config[embedding_norm_band]=(lo, hi) "
    "on squared norms folded in DOUBLE in array order.  One degenerate "
    "vector silently poisons every downstream ANN / semantic-dedup "
    "consumer (a NaN makes every cosine against the row NaN; a zero "
    "vector divides by zero; a dim mismatch crashes a batched matmul "
    "hours in at 10^12 rows) — this is the fail-fast, row-naming face "
    "of those contracts.  The per-column null/blank sweep "
    "(BlankNulls.pm:62-66) and per-row invariant shape "
    "(Test/DataCheck.pm:283-365) applied to the vector payload.  The "
    "violation scan is one shuffle-free JVM projection; the "
    "dim-consistency probe is one count-distinct aggregate.",
    groups=("embeddings", "completeness"),
    tables=("embeddings",),
)
def embedding_hygiene(ctx):
    from ensembl_datacheck_spark.operators import vectors as V

    emb = ctx.table("embeddings")
    expected_dim = ctx.config.get("embedding_expected_dim")
    band = ctx.config.get("embedding_norm_band")
    viol = V.embedding_violations(
        emb,
        id_col=ctx.config.get("embedding_id_col", "vec_id"),
        vec_col=ctx.config.get("embedding_vec_col", "embedding"),
        expected_dim=int(expected_dim) if expected_dim is not None else None,
        norm_band=(float(band[0]), float(band[1])) if band else None,
    )
    counts = {
        r["violation"]: int(r["n"])
        for r in viol.groupBy("violation")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    kinds = [V.VEC_NULL, V.VEC_EMPTY]
    if expected_dim is not None:
        kinds.append(V.DIM_MISMATCH)
    kinds += [V.HAS_NAN, V.HAS_INF, V.ZERO_VECTOR]
    if band:
        kinds.append(V.NORM_OUT_OF_BAND)
    for kind in kinds:
        got = counts.get(kind, 0)
        ar = AssertionResult(
            f"embedding_{kind}",
            Status.OK if got == 0 else Status.FAIL,
            expected=0,
            got=got,
        )
        v = viol.filter(F.col("violation") == kind) if got else None
        ctx.record((ar, v), key_col="id")
    if expected_dim is None:
        # undeclared dim: the corpus itself must agree on ONE — the
        # profile's n_dims face, probed as a single aggregate
        vec = F.col(ctx.config.get("embedding_vec_col", "embedding"))
        n_dims = emb.filter(vec.isNotNull() & (F.size(vec) > 0)).agg(
            F.count_distinct(F.size(vec)).alias("n")
        ).collect()[0]["n"]
        ctx.result.assertions.append(
            AssertionResult(
                "embedding_dim_consistent",
                Status.OK if n_dims <= 1 else Status.FAIL,
                expected="<= 1 distinct dim",
                got=int(n_dims),
            )
        )


@register(
    "TokenBoilerplateExcess",
    "No document is mostly boilerplate: over per-document shingle "
    "novelty scores (operators/token_dedup.shingle_novelty, distinct "
    "config[novelty_k]-token shingles, default 8), every document with "
    "at least config[novelty_min_shingles] shingles (default 20) keeps "
    "its boilerplate fraction — the share of its shingles appearing in "
    "≥ config[novelty_common_df] documents (default 10) — at or under "
    "config[max_boilerplate] (default 0.9).  A breaching document is "
    "template/navigation text that near-dup banding may miss (its "
    "shingles are shared with MANY documents, not one near-twin) — the "
    "df-based curation signal, per-row-diagnostic shape of "
    "Test/DataCheck.pm:283-365.  Whole-corpus token scan (distinct "
    "pairs → df count → shingle-keyed join, linear, never doc × doc), "
    "so on-demand like the other dedup checks.",
    groups=("dedup", "tokens", "quality"),
    severity="advisory",
    tables=("sequences",),
    on_demand=True,
)
def token_boilerplate_excess(ctx):
    from ensembl_datacheck_spark.operators import token_dedup as TD

    seq = ctx.table("sequences")
    scores = TD.shingle_novelty(
        seq,
        "doc_id",
        "tokens",
        k=int(ctx.config.get("novelty_k", 8)),
        common_df=int(ctx.config.get("novelty_common_df", 10)),
    )
    min_sh = int(ctx.config.get("novelty_min_shingles", 20))
    max_bp = float(ctx.config.get("max_boilerplate", 0.9))
    viol = scores.filter(
        (F.col("n_shingles") >= min_sh) & (F.col("boilerplate") > max_bp)
    ).select("doc_id", "n_shingles", "common_n", "max_df", "boilerplate")
    ctx.record(
        A.is_rows_zero(viol, "boilerplate_documents"), key_col="doc_id"
    )


@register(
    "SourceUnigramDivergence",
    "No source's token distribution strays too far from the corpus "
    "mix: per-source exact L1 divergence vs the whole corpus "
    "(operators/drift.source_unigram_divergence — DECIMAL(38,0) "
    "integer sums, one IEEE division) stays at or under "
    "config[max_source_l1] (default 1.8, on the [0, 2] L1 scale) for "
    "every source with at least config[divergence_min_tokens] tokens "
    "(default 1000).  A breaching source is a different LANGUAGE or "
    "MODALITY of content than the rest of the mix (near-2.0 means "
    "almost disjoint vocabulary) — the mix-composition cousin of "
    "SourceDrift, which compares row counts against a baseline while "
    "this compares content against the mix itself, no baseline "
    "needed.  Whole-corpus token scan (one explode-aggregate; "
    "downstream bounded by vocab x n_sources), so on-demand like the "
    "other token-payload sweeps.",
    groups=("drift", "tokens", "sources"),
    severity="advisory",
    tables=("sequences",),
    on_demand=True,
)
def source_unigram_divergence_check(ctx):
    div = D.source_unigram_divergence(ctx.table("sequences"))
    min_tok = int(ctx.config.get("divergence_min_tokens", 1000))
    max_l1 = float(ctx.config.get("max_source_l1", 1.8))
    viol = div.filter(
        (F.col("n_tok_source") >= min_tok) & (F.col("l1") > max_l1)
    ).select("source", "n_tok_source", "vocab_source", "covered_mass", "l1")
    ctx.record(
        A.is_rows_zero(viol, "source_divergence_excess"), key_col="source"
    )


@register(
    "ShingleHeavyHitterExcess",
    "No single token shingle dominates the corpus: over all "
    "config[hh_shingle_k]-token shingles (default 2), no shingle "
    "accounts for more than config[max_shingle_share] (default 0.005) "
    "of the corpus's shingle observations "
    "(operators/skew.heavy_hitter_keys — hashed-bucket candidates + "
    "broadcast exact recount, so the verdict is exact and "
    "partition-independent without materializing the full shingle "
    "histogram).  A breaching shingle is corpus-level boilerplate — a "
    "navigation phrase or template fragment stamped across the mix — "
    "the corpus-level face of TokenBoilerplateExcess, which flags the "
    "DOCUMENTS carrying boilerplate while this names the PHRASE "
    "itself, with its exact count and share as the diagnostic.  Two "
    "corpus token scans (summary + recount), so on-demand like the "
    "other whole-corpus token sweeps.",
    groups=("dedup", "tokens", "quality"),
    severity="advisory",
    tables=("sequences",),
    on_demand=True,
)
def shingle_heavy_hitter_excess(ctx):
    from ensembl_datacheck_spark.operators.skew import heavy_hitter_keys

    k = int(ctx.config.get("hh_shingle_k", 2))
    max_share = float(ctx.config.get("max_shingle_share", 0.005))
    seq = ctx.table("sequences")
    shingles = seq.filter(
        F.col("tokens").isNotNull() & (F.size("tokens") >= k)
    ).select(
        F.explode(
            F.expr(
                f"transform(sequence(1, size(tokens) - {k - 1}), "
                f"i -> array_join(slice(tokens, i, {k}), '_'))"
            )
        ).alias("key")
    )
    viol = heavy_hitter_keys(shingles, "key", phi=max_share)
    ctx.record(
        A.is_rows_zero(viol, "shingle_heavy_hitters"), key_col="key"
    )
