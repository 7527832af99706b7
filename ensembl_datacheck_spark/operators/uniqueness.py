"""Uniqueness family (SURVEY.md §2.6 family 2): duplicate detection and
exact count-distinct, skew-hardened.

Reference semantics: GROUP BY key HAVING COUNT(*) > 1 must be empty
(GeneStableID.pm:66-75 and ~30 sibling checks); one-to-many is the dual
(Test/DataCheck.pm:520-539).

Scale notes (north_rule: "exact count-distinct with salted two-stage
aggregation for skew"):

* `groupBy(key).count()` already runs Spark's two-phase hash aggregation
  (map-side partial_count before the shuffle), so duplicate detection on a
  high-cardinality key like doc_id shuffles one row per *distinct* key per
  partition — the safe default.
* Grouped COUNT(DISTINCT v) over a **skewed** group key (e.g. per-source
  distinct doc_ids where one source holds 40% of rows) is where naive
  plans melt: `exact_count_distinct_salted` below dedups on the uniform
  composite key first, then pre-aggregates per (group, salt-of-value)
  before the final per-group sum, so no single reducer ever sees a hot
  group's full value set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def duplicate_keys(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Distinct keys appearing more than once, with their multiplicity.
    Null keys are excluded (completeness checks own those)."""
    keyed = df
    for k in key_cols:
        keyed = keyed.filter(F.col(k).isNotNull())
    return keyed.groupBy(*key_cols).count().filter(F.col("count") > 1)


def duplicate_rows(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """All rows participating in a duplicated key — a left-semi join of the
    fact against the dup-key set (violation rows carry full context)."""
    dups = duplicate_keys(df, key_cols).select(*key_cols)
    return df.join(dups, on=key_cols, how="left_semi")


def exact_count_distinct_salted(
    df: DataFrame,
    group_col: str | Column,
    distinct_col: str | Column,
    n_salt: int = 64,
) -> DataFrame:
    """Per-group exact COUNT(DISTINCT distinct_col), salted three-stage
    (SURVEY.md §4 item 1):

      1. dedup on (group, value) — shuffle keyed by the *composite*, which
         is uniform even when group is hot;
      2. partial count per (group, salt(value)) — map-side combinable;
      3. final sum per group — at most n_salt rows per group reach the
         final reducer.

    Returns (group_key, n_distinct).
    """
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    v = F.col(distinct_col) if isinstance(distinct_col, str) else distinct_col
    # NULL vals ride THROUGH the dedup stage (so every input group stays
    # present in the output — SQL GROUP BY g returns all-NULL groups with
    # count 0) but are excluded from the count: F.count("val") skips
    # NULLs, exactly COUNT(DISTINCT v) semantics.  Still three exchanges,
    # no join-back.
    deduped = df.select(g.alias("group_key"), v.alias("val")).distinct()
    salted = (
        deduped.withColumn(
            "salt",
            F.pmod(F.coalesce(F.xxhash64("val"), F.lit(0)), F.lit(n_salt)),
        )
        .groupBy("group_key", "salt")
        .agg(F.count("val").alias("partial"))
    )
    return salted.groupBy("group_key").agg(F.sum("partial").alias("n_distinct"))

