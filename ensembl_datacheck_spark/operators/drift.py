"""Distribution-drift family (SURVEY.md §2.6 family 4).

Reference semantics generalized: row_totals / row_subtotals tolerance
comparisons against a previous release (Test/DataCheck.pm:260-365, with
the 0.75 / 0.9 / [0.95, 1.1] windows used by CompareBiotypeGroup.pm:60,
ComparePreviousVersionProbes.pm:51-60, CheckTableSizes.pm:99-110) are
extended to χ² and Kolmogorov–Smirnov statistics over histograms.

Scale discipline (north_rule: "computed per partition then combined"):
the *only* distributed work is building the histogram — `groupBy(bin)`
runs partial per-partition bin counts that combine exactly (never
sampled, SURVEY.md §7.3).  The χ²/KS combine then runs on the collected
histogram (a few dozen rows) at the driver.  This is exact: binned-first
statistics are identical whether computed globally or per-partition.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def build_histogram(df: DataFrame, bin_expr: Column, name: str = "bin") -> DataFrame:
    """(bin, count) histogram — partial-agg per partition, exact combine."""
    return df.groupBy(bin_expr.alias(name)).agg(F.count(F.lit(1)).alias("count"))


def _norm_sf(z: float) -> float:
    return 0.5 * math.erfc(z / math.sqrt(2.0))


def chi2_sf(stat: float, dof: int) -> float:
    """Survival function of χ²_k via the Wilson–Hilferty cube-root normal
    approximation (public statistical identity) — avoids a scipy
    dependency; accurate to ~1e-3 for k ≥ 3, fine for verdict thresholds."""
    if dof <= 0:
        return 1.0
    if stat <= 0:
        return 1.0
    z = ((stat / dof) ** (1.0 / 3.0) - (1 - 2.0 / (9 * dof))) / math.sqrt(
        2.0 / (9 * dof)
    )
    return _norm_sf(z)


@dataclass
class DriftStats:
    chi2: float
    chi2_dof: int
    chi2_pvalue: float
    ks: float
    l1: float  # total-variation distance 0.5*sum|p_i - q_i|, in [0, 1]
    n_current: float
    n_baseline: float
    worst_bins: list[tuple[str, float, float]]  # (bin, expected_share, got_share)


def chi2_verdict(stats: DriftStats, alpha: float, min_effect_l1: float) -> bool:
    """True iff the drift is BOTH statistically significant (chi2 p-value
    below ``alpha``) AND practically significant (total-variation distance
    at least ``min_effect_l1``).

    The p-value gate alone is scale-DEPENDENT: for a fixed fractional
    perturbation the two-sample chi2 statistic grows linearly with sample
    size, so a 0.03%-of-mass wobble that is invisible at 10^5 rows is
    "significant" at 10^6 and astronomically so at 10^12 — the very scale
    this engine targets.  The reference's own drift vocabulary is
    effect-sized for the same reason (proportion windows, never raw
    significance: Test/DataCheck.pm:260-365, CheckTableSizes.pm:99-110).
    Total variation is sample-size free, so the verdict for a given pair
    of *distributions* is stable across corpus scale."""
    return stats.chi2_pvalue < alpha and stats.l1 >= min_effect_l1


def drift_statistics(
    current_hist: list[tuple[str, float]],
    baseline_hist: list[tuple[str, float]],
) -> DriftStats:
    """Two-sample χ² and KS over aligned histograms (driver-side; inputs
    are tiny collected bin counts).

    χ²: bins union-aligned, zero-filled; two-sample form
    `sum((c_i*K1 - b_i*K2)^2 / (c_i + b_i))` with K1=sqrt(B/C), K2=1/K1.
    KS: max |CDF_cur - CDF_base| over bins sorted by bin label (bins are
    ordinal — log2 buckets or category names)."""
    cur = dict(current_hist)
    base = dict(baseline_hist)

    def _bin_key(b):
        # numeric labels sort by VALUE (KS needs true ordinal order —
        # the length-then-lexicographic key put '5' before '-1' before
        # '-2', corrupting the CDF accumulation for any histogram with
        # negative bins); non-numeric labels keep the stable
        # length-then-lex order after every numeric one
        try:
            return (0, float(b), "")
        except (TypeError, ValueError):
            s = str(b)
            return (1, float(len(s)), s)

    bins = sorted(set(cur) | set(base), key=_bin_key)
    C = sum(cur.values()) or 1.0
    B = sum(base.values()) or 1.0
    k1, k2 = math.sqrt(B / C), math.sqrt(C / B)
    chi2 = 0.0
    used = 0
    worst: list[tuple[str, float, float]] = []
    cdf_c = cdf_b = 0.0
    ks = 0.0
    l1 = 0.0
    for b in bins:
        c, o = cur.get(b, 0.0), base.get(b, 0.0)
        if c + o > 0:
            chi2 += (k1 * c - k2 * o) ** 2 / (c + o)
            used += 1
        cdf_c += c / C
        cdf_b += o / B
        # float summation of the CDFs can drift a few ulps past 1.0 for
        # fully-disjoint supports; KS is mathematically bounded by 1
        ks = min(1.0, max(ks, abs(cdf_c - cdf_b)))
        l1 += abs(c / C - o / B)
        worst.append((str(b), o / B, c / C))
    worst.sort(key=lambda t: abs(t[1] - t[2]), reverse=True)
    dof = max(used - 1, 1)
    return DriftStats(
        chi2=chi2,
        chi2_dof=dof,
        chi2_pvalue=chi2_sf(chi2, dof),
        ks=ks,
        l1=min(1.0, 0.5 * l1),  # same ulp guard as KS
        n_current=C,
        n_baseline=B,
        worst_bins=worst[:5],
    )


def collect_histogram(hist_df: DataFrame, bin_col: str = "bin",
                      count_col: str = "count") -> list[tuple[str, float]]:
    return [
        (str(r[bin_col]), float(r[count_col]))
        for r in hist_df.select(bin_col, count_col).collect()
    ]


@dataclass(frozen=True)
class Tolerance:
    """Reference tolerance vocabulary (SURVEY.md S22): `min_proportion`
    lower bound (new ≥ p·old), optional growth window [lo, hi] as share
    ratios (CheckTableSizes.pm:99-110 [0.95, 1.10])."""

    min_proportion: float | None = None
    window: tuple[float, float] | None = None

    def violated(self, baseline: float, current: float) -> bool:
        if self.min_proportion is not None and current < baseline * self.min_proportion:
            return True
        if self.window is not None and baseline > 0:
            lo, hi = self.window
            r = current / baseline
            if r < lo or r > hi:
                return True
        return False


def category_drift_violations(
    current_counts: DataFrame,
    baseline_counts: DataFrame,
    category_col: str,
    tolerance: Tolerance,
    count_col: str = "count",
    baseline_count_col: str = "value",
) -> DataFrame:
    """Per-category tolerance breaches — the distributed row_subtotals
    generalization.  Missing-in-current baseline categories count as 0
    (Test/DataCheck.pm:336); current-only categories ignored (332-335)."""
    cur = current_counts.select(
        F.col(category_col).alias("category"),
        F.col(count_col).cast("double").alias("cur_count"),
    )
    base = baseline_counts.select(
        F.col(category_col).alias("category"),
        F.col(baseline_count_col).cast("double").alias("base_count"),
    )
    j = base.join(cur, "category", "left_outer").fillna({"cur_count": 0.0})
    pred = F.lit(False)
    if tolerance.min_proportion is not None:
        pred = pred | (F.col("cur_count") < F.col("base_count") * tolerance.min_proportion)
    if tolerance.window is not None:
        lo, hi = tolerance.window
        ratio = F.col("cur_count") / F.nullif(F.col("base_count"), F.lit(0.0))
        # same base>0 guard as Tolerance.violated: a zero-baseline
        # category has no ratio and is not a window breach (the driver
        # and distributed paths must agree on the same Tolerance)
        pred = pred | (
            (F.col("base_count") > 0) & ((ratio < lo) | (ratio > hi))
        )
    return j.filter(pred)


#: the rows of category_drift_violations, as category_drift_rows returns them
CATEGORY_DRIFT_SCHEMA = "category string, base_count double, cur_count double"


def category_drift_rows(
    current: list[tuple],
    baseline: list[tuple],
    tolerance: Tolerance,
) -> list[tuple[str | None, float, float]]:
    """category_drift_violations on the driver, over collected
    (category, count) pairs: the same (category, base_count, cur_count)
    rows, for inputs small enough to hold (per-source counts, baseline
    rows).  It keeps the distributed plan's SQL semantics: a NULL
    category joins nothing; a current count that is NULL, NaN or absent
    is 0 (fillna); a NULL baseline count breaches nothing, while a NaN
    one breaches always (Spark orders NaN above every number); a
    category repeated in ``current`` pairs with each of its counts."""
    cur: dict[str, list[float]] = {}
    for k, v in current:
        if k is not None:
            fill = v is None or math.isnan(v)
            cur.setdefault(k, []).append(0.0 if fill else float(v))
    out = []
    for k, b in baseline:
        if b is None:
            continue
        b = float(b)
        for c in cur.get(k, [0.0]):
            if math.isnan(b) or tolerance.violated(b, c):
                out.append((k, b, c))
    return out


def unigram_profile(
    df: DataFrame,
    tokens_col: str = "tokens",
) -> DataFrame:
    """(token, count) unigram histogram of a token corpus — the drift
    axis the length/source/quantile checks cannot see: a tokenizer or
    filtering change that preserves n_tok but shifts token CONTENT.

    ``explode(tokens) → groupBy(token).count()``.  Partial aggregation
    runs in the same stage as the explode, so the shuffle carries at most
    vocab-size rows per task regardless of corpus size — at 10^12
    sequences the exploded 10^15 token rows never materialize past the
    map-side hash aggregate.  Any SQL engine reproduces it (the oracle
    replays it), and it beat an Arrow ``numpy.bincount`` tier 110M vs
    44M tokens/s at 1M×512 (BENCH/UNIGRAM_1M.md).

    Skips NULL/empty arrays (completeness checks own those) and
    NULL/negative elements (the domain check owns those).
    """
    return (
        df.filter(F.col(tokens_col).isNotNull() & (F.size(tokens_col) > 0))
        .select(F.explode(tokens_col).alias("token"))
        .filter(F.col("token").isNotNull() & (F.col("token") >= 0))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def align_unigram_categories(
    profile: DataFrame,
    baseline_tokens: list[int],
    other_label: str = "__other__",
) -> DataFrame:
    """Fold a (token, count) profile onto a BASELINE's category set: the
    baseline's top-K tokens keep their own bucket, everything else lumps
    into ``other_label``.  Aligning current to the baseline's token set
    (not re-selecting a top-K from current) keeps the two histograms
    comparable when ranks churn between snapshots — the standard
    guard against top-K selection instability.  Output is at most
    K+1 rows; safe to collect."""
    toks = [int(t) for t in baseline_tokens]
    cat = (
        F.when(F.col("token").isin(toks), F.col("token").cast("string"))
        .otherwise(F.lit(other_label))
    )
    return profile.groupBy(cat.alias("category")).agg(
        F.sum("count").alias("count")
    )


def quantile_profile(
    df: DataFrame,
    value_col: str,
    qs: tuple[float, ...] = (0.1, 0.25, 0.5, 0.75, 0.9, 0.99),
    group_col: str | None = None,
    approx: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """Distribution profile as quantiles: (group?, q, value) — the
    snapshot a pipeline persists per run and diffs against later
    (the continuous-column counterpart of the histogram baselines).

    Two tiers sharing one output shape:

    * exact (default): `percentile` with linear interpolation — one
      aggregation, values reproducible by any engine with quantile_cont
      (the oracle-verified tier);
    * ``approx=True``: `percentile_approx` — a mergeable sketch whose
      partials combine map-side, so the shuffle carries one sketch per
      partition regardless of row count.  At 10^12 rows the exact tier's
      per-group sort-based percentile is the bottleneck; the sketch tier
      is the scale path (bounded rank error 1/accuracy, engine-specific
      values — pytest-verified against the exact tier, no SQL oracle).
    """
    q_arr = F.array(*[F.lit(float(q)) for q in qs])
    agg_fn = (
        F.percentile_approx(value_col, q_arr, F.lit(accuracy))
        if approx
        else F.percentile(value_col, q_arr)
    )
    keys = [group_col] if group_col else []
    prof = df.groupBy(*keys).agg(agg_fn.alias("__qv"))
    return prof.select(
        *keys, F.posexplode("__qv").alias("__pos", "value")
    ).select(
        *keys,
        F.element_at(q_arr, F.col("__pos") + 1).alias("q"),
        F.col("value").cast("double").alias("value"),
    )


def quantile_drift_violations(
    current: DataFrame,
    baseline: DataFrame,
    abs_tol: float = 0.0,
    rel_tol: float = 0.0,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Per-quantile tolerance breaches between two quantile_profile
    outputs: |cur − base| > abs_tol + rel_tol·|base|.  Full-outer join
    keyed by (group…, q) — both sides are profile-sized (groups ×
    quantiles), so this never touches row-scale data; a baseline group
    missing from current surfaces as a NULL-current breach row, and a
    NEW group appearing only in current surfaces as a NULL-baseline
    breach row (both directions are drift).
    """
    on = (group_cols or []) + ["q"]
    # presence markers BEFORE the full_outer join: a NULL quantile value
    # (all-NULL group) is indistinguishable from an absent group after
    # the join — a baseline group with a NULL quantile that then vanishes
    # entirely from current must still breach (presence mismatch), which
    # value-NULL-ness alone cannot see (both sides NULL either way).
    cur = current.withColumnRenamed("value", "cur_value").withColumn(
        "__cur_present", F.lit(True)
    )
    base = baseline.withColumnRenamed("value", "base_value").withColumn(
        "__base_present", F.lit(True)
    )
    j = base.join(cur, on, "full_outer")
    present_mismatch = (
        F.coalesce(F.col("__cur_present"), F.lit(False))
        != F.coalesce(F.col("__base_present"), F.lit(False))
    )
    # among rows present on both sides, NULL-ness must DIFFER to be a
    # breach: a group whose value column is all-NULL in both snapshots
    # yields NULL quantiles on both sides — the snapshots agree, that is
    # not drift.  (Newly all-NULL, or NULL→value, is.)
    breach = (
        present_mismatch
        | (F.col("cur_value").isNull() != F.col("base_value").isNull())
        | (
            F.abs(F.col("cur_value") - F.col("base_value"))
            > F.lit(abs_tol) + F.lit(rel_tol) * F.abs(F.col("base_value"))
        )
    )
    return j.filter(breach).select(
        *on, "base_value", "cur_value",
        (F.col("cur_value") - F.col("base_value")).alias("delta"),
    )


def source_unigram_divergence(
    df: DataFrame,
    source_col: str = "source",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Per-source unigram divergence from the whole-corpus mix: for each
    source, the exact L1 distance between its token distribution and the
    corpus's — the mix-level drift diagnostic ("which source is pulling
    the training distribution", the per-source face of TokenUnigramDrift
    the way SourceOverlapExcess is the per-source face of the dedup
    family).

    One row per source:

    * ``n_tok_source``  BIGINT — tokens in the source (T_s);
    * ``vocab_source``  BIGINT — distinct tokens in the source;
    * ``covered_mass``  DOUBLE — share of the CORPUS token mass carried
      by tokens the source uses at all (Σ_{t∈s} c_g(t) / T_g);
    * ``l1``            DOUBLE — Σ_t |p_s(t) − p_g(t)| over the full
      vocabulary (tokens absent from the source contribute their whole
      corpus share), in [0, 2];
    * ``tv``            DOUBLE — total variation = l1 / 2 (an exact
      halving, so still one effective rounding).

    Exactness: every sum is over exact integers in DECIMAL(38,0) —
    Σ_{t∈s} |c_s(t)·T_g − c_g(t)·T_s| plus the absent-token term
    (T_g − Σ_{t∈s} c_g(t))·T_s — then ONE conversion of numerator and
    denominator to DOUBLE and ONE IEEE division, so any engine that
    sums exact integers (DuckDB's HUGEINT) reproduces the doubles
    bit-for-bit regardless of summation order.  BIGINT would overflow
    at Σ ≈ 2·T_s·T_g (a few 10^9 tokens); DECIMAL(38,0) holds to
    T_s·T_g < 10^37 — beyond any physical corpus.

    Scale shape: the corpus collapses to (source, token) counts
    (map-side combinable explode — the only corpus-sized stage), and
    every downstream aggregate (global histogram, per-source totals,
    corpus total) re-derives from that SAME count subtree, so AQE's
    exchange reuse executes the corpus explode+shuffle once and the
    other consumers read its shuffle output (plan-pinned in
    tests/test_pipeline_ops.py).  Everything after is bounded by
    vocab × n_sources: totals are broadcast-sized dimensions joined
    back, and the divergence is one groupBy(source) over the
    vocab-sized join.  NULL sources/tokens and empty arrays are
    excluded with the same hygiene as ``unigram_profile``.
    """
    DEC = "decimal(38,0)"
    tok = (
        df.filter(
            F.col(tokens_col).isNotNull()
            & (F.size(tokens_col) > 0)
            & F.col(source_col).isNotNull()
        )
        .select(
            F.col(source_col).alias("src"),
            F.explode(tokens_col).alias("token"),
        )
        .filter(F.col("token").isNotNull() & (F.col("token") >= 0))
    )
    per = tok.groupBy("src", "token").agg(F.count(F.lit(1)).alias("c_s"))
    glob = per.groupBy("token").agg(F.sum("c_s").alias("c_g"))
    ts = per.groupBy("src").agg(F.sum("c_s").cast(DEC).alias("t_s"))
    tg = glob.agg(F.sum("c_g").cast(DEC).alias("t_g"))

    # Each (src, token) row of ``per`` appears exactly once in the join
    # (glob is unique per token, ts per src, tg a single row), so
    # vocab_source folds into the same aggregate — no extra subtree.
    j = (
        per.join(glob, "token")
        .join(F.broadcast(ts), "src")
        .crossJoin(F.broadcast(tg))
    )
    num = j.groupBy("src").agg(
        F.sum(
            F.abs(
                F.col("c_s").cast(DEC) * F.col("t_g")
                - F.col("c_g").cast(DEC) * F.col("t_s")
            )
        ).alias("__present_num"),
        F.sum(F.col("c_g").cast(DEC)).alias("__cov_g"),
        F.count(F.lit(1)).cast("long").alias("vocab_source"),
        F.first("t_s").alias("t_s"),
        F.first("t_g").alias("t_g"),
    )
    l1_num = (
        F.col("__present_num")
        + (F.col("t_g") - F.col("__cov_g")) * F.col("t_s")
    ).cast("double")
    denom = (F.col("t_s") * F.col("t_g")).cast("double")
    out = num.select(
        F.col("src").alias(source_col),
        F.col("t_s").cast("long").alias("n_tok_source"),
        "vocab_source",
        (F.col("__cov_g").cast("double") / F.col("t_g").cast("double")).alias(
            "covered_mass"
        ),
        (l1_num / denom).alias("l1"),
        (l1_num / denom / F.lit(2.0)).alias("tv"),
    )
    return out
