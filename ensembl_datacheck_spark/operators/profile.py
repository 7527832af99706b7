"""One-scan shared fact-table profile for the aggregate check family.

The reference runs one SQL statement per check (DbCheck.pm's per-check
dba handle — every CompareBiotypeGroup / CheckTableSizes-style check
issues its own GROUP BY over the fact table).  The fused row scan
(operators/fused.py) already collapses the *row-predicate* checks into
one pass; this module does the same for the *aggregate* checks
(RowTotals, SourceDrift, NTokDrift, NTokQuantileDrift, SequencesStats,
SourcesUsed), which otherwise each issue an independent full scan of
the 10^12-row table — five redundant scans per suite run.

Design, in two levels:

1. The cube.  ONE `groupBy(source, n_tok)` aggregation over the fact
   rows — the minimal sufficient statistic for the whole family — NOT
   a grouping-sets plan over the fact rows.  Grouping sets expand every
   input row once per grouping set (Spark's Expand operator: 3 sets =
   3x the scanned rows through the partial aggregate), whereas the
   composite-key cube is a single map-side-combinable hash aggregation
   whose per-partition state is bounded by |sources| x |n_tok domain|
   (~10 x 8192 here — NTokDomain bounds n_tok to [1, 8192]).
2. The summary.  The cube is small, so the rollup the family needs is
   a grouping-sets plan OVER THE CUBE: `groupingSets([(), (source),
   (bin)])` with the Expand above the cube's aggregate, where it
   multiplies ~80k cube rows, not the fact rows.  Its output is
   collected once (`profile_summary`): the global row (row count, null
   counts, n_tok min/max), the per-source counts (NULL source kept) and
   the per-bin counts over non-null n_tok.  That is 1 + |sources| +
   |bins| rows (at most 32 log2 bins of an int n_tok).  The consumers
   then judge in Python:

     * global row       -> SequencesStats, RowTotals
     * per-source counts -> SourceDrift, SourcesUsed (reverse FK)
     * per-bin counts   -> NTokDrift
     * per-value counts (sum n over n_tok, from the cube) ->
       NTokQuantileDrift (its LIMIT-bounded driver collect guard is
       unchanged)

   Every Spark job these checks ran to re-aggregate the cube is gone:
   at small inputs each job is fixed planning and scheduling cost.

Skew: the composite (source, n_tok) key is strictly more uniform than
either key alone — a hot source spreads over its n_tok values, a hot
n_tok over sources — so the single shuffle this plan performs is safer
than the per-check shuffles it replaces.

Degenerate input: an unbounded/corrupt n_tok column makes the cube
large but it stays DISTRIBUTED (the materialization is a recomputable
persist(MEMORY_AND_DISK), never a driver collect); the only driver
transfers are the summary and the quantile consumer's LIMIT-bounded
value counts.

The profile is memoized per Runner run via plans/runner.SharedComputations
(checks/core._shared_fact_profile): under --parallelism the first
aggregate check to ask runs the scan while its co-consumers block on
that key only.  A standalone run_check is a one-check Runner with a memo
of its own: it pays one scan itself, shared with no other check.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: profile column names (the cube's contract with its consumers)
SRC, NTOK, N = "source", "n_tok", "n"
BIN = "bin"


def fact_profile(
    df: DataFrame,
    source_col: str = "source",
    ntok_col: str = "n_tok",
    null_count_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """(source, n_tok, n, <col>_nulls...) — one full-table scan, one
    map-side-combinable hash aggregation.  NULL source / n_tok rows form
    their own groups (group keys), so their counts are recoverable; the
    extra ``null_count_cols`` (non-key columns) ride as SUM(isNull)
    aggregates in the same pass."""
    aggs: list[Column] = [F.count(F.lit(1)).alias(N)]
    for c in null_count_cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls"))
    return df.groupBy(
        F.col(source_col).alias(SRC), F.col(ntok_col).alias(NTOK)
    ).agg(*aggs)


@dataclass(frozen=True)
class ProfileSummary:
    """The collected rollup of a profile cube.  ``null_counts`` holds
    the key columns' NULL-group counts and each ride-along column's
    summed flags; ``source_counts`` keys the NULL-source group as None,
    as ``fact.groupBy(source).count()`` would; ``ntok_bins`` counts
    non-null n_tok only."""

    n_rows: int
    null_counts: dict[str, int]
    ntok_min: int | None
    ntok_max: int | None
    source_counts: dict[str | None, int]
    ntok_bins: dict[int, int]


def _ride_along(cube: DataFrame) -> list[str]:
    """The cube's ride-along null-count columns (``<col>_nulls``)."""
    return [c for c in cube.columns if c.endswith("_nulls")]


def profile_summary_frame(cube: DataFrame, bin_expr: Column) -> DataFrame:
    """The summary plan: one grouping-sets aggregation over the cube,
    ``gid`` telling the sets apart (3: global, 1: per source, 2: per
    bin).  NULL n_tok gets a NULL bin — bin expressions such as
    floor(log2(greatest(x, 1))) would otherwise fold it into bin 0
    (greatest skips NULLs) — so its bin group only repeats the global
    row's NULL count."""
    binned = cube.withColumn(
        BIN, F.when(F.col(NTOK).isNotNull(), bin_expr)
    )
    aggs = [
        F.grouping_id().alias("gid"),
        F.sum(N).alias(N),
        F.sum(F.when(F.col(NTOK).isNull(), F.col(N))).alias(f"{NTOK}_nulls"),
        F.min(NTOK).alias("ntok_min"),
        F.max(NTOK).alias("ntok_max"),
    ]
    aggs += [F.sum(c).alias(c) for c in _ride_along(cube)]
    return binned.groupingSets([[], [SRC], [BIN]], SRC, BIN).agg(*aggs)


def profile_summary(cube: DataFrame, bin_expr: Column) -> ProfileSummary:
    """Collect the summary plan (1 + |sources| + |bins| rows).  An
    empty cube yields no global row under grouping sets; its summary
    is zero rows and counts with no n_tok range."""
    rows = profile_summary_frame(cube, bin_expr).collect()
    total = next((r for r in rows if r["gid"] == 3), None)
    sources = {r[SRC]: r[N] for r in rows if r["gid"] == 1}
    nulls = {c[: -len("_nulls")]: total[c] if total else 0
             for c in (f"{NTOK}_nulls", *_ride_along(cube))}
    nulls[SRC] = sources.get(None, 0)
    return ProfileSummary(
        n_rows=total[N] if total else 0,
        null_counts={c: n or 0 for c, n in nulls.items()},
        ntok_min=total["ntok_min"] if total else None,
        ntok_max=total["ntok_max"] if total else None,
        source_counts=sources,
        ntok_bins={r[BIN]: r[N] for r in rows
                   if r["gid"] == 2 and r[BIN] is not None},
    )


@dataclass(frozen=True)
class FactProfile:
    """The run-shared profile value: the persisted cube (kept for
    NTokQuantileDrift's per-value counts) and its collected summary."""

    cube: DataFrame
    summary: ProfileSummary

    def unpersist(self, blocking: bool = False) -> None:
        self.cube.unpersist(blocking)


def collect_profile(df: DataFrame, bin_expr: Column) -> FactProfile:
    """Build the cube over ``df``, persist it and collect its summary.
    Collecting the summary IS the one fact scan: it fills the cube's
    cache as it reads it, so later cube readers hit cached blocks.
    persist(MEMORY_AND_DISK), not localCheckpoint, keeps the lineage: a
    lost block recomputes from the fact table instead of failing every
    later reader."""
    cube = fact_profile(df).persist(StorageLevel.MEMORY_AND_DISK)
    return FactProfile(cube, profile_summary(cube, bin_expr))


def profile_ntok_counts(prof: DataFrame) -> DataFrame:
    """(n_tok, cnt) value-frequency rows over non-null n_tok — the
    NTokQuantileDrift exact-tier probe input (its LIMIT-bounded collect
    guard applies downstream, unchanged)."""
    return (
        prof.filter(F.col(NTOK).isNotNull())
        .groupBy(NTOK)
        .agg(F.sum(N).alias("cnt"))
    )
