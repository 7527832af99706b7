"""Explicit skew handling for joins (north_rule: "partitioning / shuffle
/ skew handled explicitly").

AQE's skew-join splitting (spark.sql.adaptive.skewJoin, on by default in
session.get_spark) covers sort-merge joins it can observe at runtime;
`salted_join` is the deterministic fallback for the cases AQE cannot
fix — e.g. a hot key on the BUILD side of a shuffled hash join, or when
runtime statistics are disabled.  The companion for aggregations is
operators/uniqueness.exact_count_distinct_salted (salted two-stage agg).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    salt_from: str | Column,
    n_salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where hot `on`-keys in `fact` are spread across
    ``n_salt`` reducers: the fact side gets a deterministic salt derived
    from ``salt_from`` (any roughly-unique fact column — NOT the join
    key), the dim side is replicated n_salt× via explode, and the join
    runs on (key, salt).  Output = exactly the plain join's rows.

    Cost model: dim is duplicated n_salt× through the shuffle — use for
    mid-size dims (too big to broadcast, small enough to replicate) with
    a skewed fact key; for small dims broadcast instead.

    Only fact-preserving join types are allowed: under right/full outer
    joins every unmatched dim REPLICA would surface as a spurious
    null-extended row (n_salt of them per unmatched key).
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "left_anti", "leftanti", "semi", "anti"}
    if how.replace("_", "").lower() not in {a.replace("_", "") for a in allowed}:
        raise ValueError(
            f"salted_join supports fact-preserving joins only, not {how!r}: "
            "the replicated dim side would emit one spurious null-extended "
            "row per unmatched (key, salt) replica under right/full outer"
        )
    if n_salt < 1:
        # pmod(h, 0) is NULL row-for-row (non-ANSI): an inner join would
        # silently return zero rows, a left join null-extend everything —
        # the opposite of the 'exactly the plain join's rows' contract
        raise ValueError(f"n_salt must be >= 1, got {n_salt}")
    sf = F.col(salt_from) if isinstance(salt_from, str) else salt_from
    f = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(sf.cast("string")), F.lit(n_salt)).cast("int")
    )
    d = dim.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)).cast("array<int>")),
    )
    return f.join(d, [on, "__salt"], how).drop("__salt")


def hot_keys(
    df: DataFrame, cols: list[str], top_k: int = 10
) -> DataFrame:
    """Skew profiler: (column, value, n, share) — the ``top_k`` most
    frequent values of each named column and their share of all rows.
    This is the measurement that decides WHERE salting / AQE skew
    handling is needed before a big join or aggregation: a key with
    share 0.3 at 10^12 rows means one reducer gets 3×10^11 rows unless
    the plan salts it.

    Plan: ONE lazy plan, ONE counting scan of the fact table — each row
    explodes into len(cols) (column, value) pairs (values canonicalized
    to string; NULL kept as a value, since NULL-heavy keys are the most
    common skew source) → two-stage count keyed by (column, value) —
    uniform even when the profiled key itself is hot, because the hot
    key IS one group — → per-column top-k rank window → broadcast-join
    of per-column totals for the share.

    The share denominator is NOT a ``sum().over(partitionBy(column))``
    window over the counts (that would funnel ALL distinct (value, n)
    rows of a column — up to row-count-many for a near-unique join key,
    exactly the kind of column one profiles before salting — into a
    single task), and NOT an eager ``df.count()`` either (an action at
    plan-build time = a second full scan of a 10^12-row fact table, and
    a surprise job inside what callers assume is lazy plan
    construction).  Instead: every row contributes exactly one pair per
    column, so the per-column total is ``sum(n)`` over the SAME counts
    aggregate — a len(cols)-row side aggregate whose subtree is the
    shuffle Spark already materialized for the rank window
    (ReuseExchange dedupes the scan), broadcast-joined back onto the
    ≤ len(cols) × top_k ranked rows.  The rank window is eligible for
    Spark's WindowGroupLimit push-down (per-partition top-k before the
    shuffle), so no task ever holds a column's full distinct-value set.
    Output is at most len(cols) × top_k rows.
    """
    from pyspark.sql import Window

    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"hot_keys: columns not in DataFrame: {missing}")
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("value"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    ).select("p.column", "p.value")
    counts = pairs.groupBy("column", "value").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counts.groupBy("column").agg(F.sum("n").alias("__total"))
    ranked = counts.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("column").orderBy(
                F.desc("n"), F.asc_nulls_first("value")
            )
        ),
    ).filter(F.col("rank") <= top_k)
    # __total >= n >= 1 for every surviving row (a (column, value) group
    # exists only if at least one row produced it), so the ANSI divide is
    # always well-defined
    return ranked.join(F.broadcast(totals), "column").select(
        "column",
        "value",
        "n",
        (F.col("n") / F.col("__total").cast("double")).alias("share"),
        "rank",
    )


# ---------------------------------------------------------------------------
# phi-heavy hitters over an unbounded keyspace (bucket candidates + exact recount)
# ---------------------------------------------------------------------------


def heavy_hitter_keys(
    df: DataFrame,
    key_col: str,
    phi: float,
    n_buckets: int = 1 << 17,
) -> DataFrame:
    """All keys occurring in at least ``phi`` of the key observations,
    with their EXACT counts — for keyspaces too large to histogram.

    ``hot_keys`` (above) and the unigram profile both build the full
    (key, count) table, which is the right plan when the keyspace is
    bounded (a BPE vocabulary, a join key's id range).  For an
    UNBOUNDED keyspace — shingles, n-grams, URLs — nearly every key is
    distinct, map-side combine stops helping, and the full histogram
    shuffles ~the whole corpus.  This is a two-pass
    candidates-then-exact-recount plan whose output is EXACT and
    independent of partitioning — the same table ``GROUP BY key HAVING
    count >= phi*N`` would produce, at a fraction of its shuffle:

    * scan 1 (all-JVM) aggregates counts of ``pmod(xxhash64(key),
      n_buckets)`` — a BOUNDED keyspace, so map-side combine works and
      the shuffle is ≤ partitions × n_buckets rows.  Any key with count
      ≥ phi·N lives in a bucket with count ≥ phi·N (superset property →
      no false negatives).  Collision false positives are bounded by
      mass concentration — background mass per bucket is ~N/n_buckets,
      so keep ``n_buckets ≫ 1/phi`` (the default 131072 suits phi ≥
      1e-4) and the recount aggregates a tiny key subset.
    * scan 2: the candidate bucket ids broadcast back, keys hashing
      into them are exactly recounted, and ``count ≥ phi·N`` removes
      every false positive.

    Stays in whole-stage codegen end to end.  Measured
    (BENCH/HEAVY_HITTERS.md): at 20M observations on local[32] the plain
    histogram still wins (single-node shuffle of 16M rows is nearly
    free), but at 200M observations / 160M distinct keys the histogram's
    corpus-sized shuffle spills and this plan is 1.5x faster — and the
    gap widens with corpus size, while on a real cluster (network
    shuffle) the crossover comes far earlier.  Columns: ``key`` (input
    type), ``cnt`` BIGINT, ``share`` DOUBLE (cnt/N).  NULL keys are
    ignored.
    """
    if not 0.0 < phi <= 1.0:
        raise ValueError(f"phi must be in (0, 1], got {phi}")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    bucketed = (
        df.select(F.col(key_col).alias("key"))
        .filter(F.col("key").isNotNull())
        .withColumn(
            "__bkt",
            F.pmod(F.xxhash64(F.col("key").cast("string")), F.lit(n_buckets)),
        )
    )
    bkt_counts = bucketed.groupBy("__bkt").agg(
        F.count(F.lit(1)).alias("__bc")
    )
    # N re-derives from the SAME bucket-count subtree, so AQE's exchange
    # reuse computes the corpus scan once (the source_unigram_divergence
    # pattern, plan-pinned in tests)
    total = bkt_counts.agg(F.sum("__bc").alias("n"))
    cand = (
        bkt_counts.crossJoin(F.broadcast(total))
        .filter(F.col("__bc") >= F.lit(phi) * F.col("n"))
        .select("__bkt")
    )
    return (
        bucketed.join(F.broadcast(cand), "__bkt")
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") >= F.lit(phi) * F.col("n"))
        .select(
            "key", "cnt",
            (F.col("cnt").cast("double") / F.col("n")).alias("share"),
        )
    )
