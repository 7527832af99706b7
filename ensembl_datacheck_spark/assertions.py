"""Assertion primitives — the engine's public query API.

Each function mirrors one reference primitive from
lib/Bio/EnsEMBL/DataCheck/Test/DataCheck.pm (and Test/Compara.pm), but
takes **DataFrames/Columns** and returns ``(AssertionResult,
violations_df | None)``.  Violations stay distributed; only the first
MAX_DIAG_ROWS rows are ever collected for diagnostics
(Test/DataCheck.pm:47,163-178).

Execution-cost notes (the reference's "COUNT fast path",
Test/DataCheck.pm:51-66,80-82, is free on Spark):

* counting uses ``df.count()`` — partial counts per partition, nothing
  materialized on the driver;
* zero-checks first probe ``limit(MAX_DIAG_ROWS+1)`` so the passing path
  (the common case) can stop at the first matching row per partition and
  the full count is only computed on the failing path;
* existence probes use ``isEmpty`` (a one-row collect-limit: early-out
  scan).
"""

from __future__ import annotations

import operator as _op
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ensembl_datacheck_spark.operators.referential import orphan_rows
from ensembl_datacheck_spark.sources.io import local_frame
from ensembl_datacheck_spark.verdict import MAX_DIAG_ROWS, AssertionResult, Status

_OPS: dict[str, Callable[[Any, Any], bool]] = {
    "==": _op.eq,
    "!=": _op.ne,
    "<": _op.lt,
    "<=": _op.le,
    ">": _op.gt,
    ">=": _op.ge,
}


def is_rows(df: DataFrame, expected: int, name: str) -> tuple[AssertionResult, None]:
    """count(df) == expected (Test/DataCheck.pm:90-98)."""
    got = df.count()
    status = Status.OK if got == expected else Status.FAIL
    return AssertionResult(name, status, expected=expected, got=got), None


def cmp_rows(
    df: DataFrame, op: str, expected: int, name: str
) -> tuple[AssertionResult, None]:
    """count(df) <op> expected (Test/DataCheck.pm:116-124).  Operators are
    dispatched through a table, never eval'd (unlike the reference's
    string-eval in Test/Compara.pm:133)."""
    got = df.count()
    ok = _OPS[op](got, expected)
    return (
        AssertionResult(
            name, Status.OK if ok else Status.FAIL, expected=f"{op} {expected}", got=got
        ),
        None,
    )


def is_rows_zero(
    df: DataFrame, name: str, diag_cols: list[str] | None = None
) -> tuple[AssertionResult, DataFrame | None]:
    """The violation-row pattern (Test/DataCheck.pm:144-182): ``df`` is the
    *violation* DataFrame (rows matching the failure predicate); pass iff
    empty.  On failure returns ≤10 diagnostic rows in the verdict and the
    full distributed violation DataFrame for persistence."""
    probe_df = df.select(*diag_cols) if diag_cols else df
    probe = probe_df.limit(MAX_DIAG_ROWS + 1).collect()
    if not probe:
        return AssertionResult(name, Status.OK, expected=0, got=0), None
    got = df.count() if len(probe) > MAX_DIAG_ROWS else len(probe)
    diag = [str(r.asDict()) for r in probe[:MAX_DIAG_ROWS]]
    if got > MAX_DIAG_ROWS:
        # reference appends "Reached limit of diagnostic rows" + a
        # replication hint (Test/DataCheck.pm:170-178); we persist the full
        # violation set instead, so the hint names the violations table.
        diag.append(f"Reached limit of {MAX_DIAG_ROWS} diagnostic rows; "
                    f"full set persisted to violations table")
    return AssertionResult(name, Status.FAIL, expected=0, got=got, diag=diag), df


def rows_zero_local(
    spark, rows: list[tuple], schema: str, name: str
) -> tuple[AssertionResult, DataFrame | None]:
    """is_rows_zero over violation rows already on the driver (``rows``
    are tuples in the order of ``schema``, a DDL string): the verdict
    and diagnostics come from the rows themselves, with no Spark job,
    and the violation frame (sources.io.local_frame) is built only on
    failure."""
    if not rows:
        return AssertionResult(name, Status.OK, expected=0, got=0), None
    df = local_frame(spark, rows, schema)
    diag = [str(dict(zip(df.columns, r))) for r in rows[:MAX_DIAG_ROWS]]
    if len(rows) > MAX_DIAG_ROWS:
        diag.append(f"Reached limit of {MAX_DIAG_ROWS} diagnostic rows; "
                    f"full set persisted to violations table")
    return AssertionResult(name, Status.FAIL, expected=0, got=len(rows),
                           diag=diag), df


def is_rows_nonzero(df: DataFrame, name: str) -> tuple[AssertionResult, None]:
    """count > 0 via an early-out existence probe (Test/DataCheck.pm:
    194-202).  ``isEmpty`` runs as a collect-limit that stops at the
    first row; ``limit(1).count()`` would put the limit inside
    whole-stage codegen, whose counter variable Spark names from a
    JVM-global sequence, so every run compiled two new classes."""
    nonempty = not df.isEmpty()
    return (
        AssertionResult(
            name,
            Status.OK if nonempty else Status.FAIL,
            expected="> 0",
            got="> 0" if nonempty else 0,
        ),
        None,
    )


def row_totals(
    current: DataFrame,
    baseline: DataFrame,
    name: str,
    min_proportion: float | None = None,
    minimum_count: int = 0,
) -> tuple[AssertionResult, None]:
    """Total-count drift (Test/DataCheck.pm:260-281): pass if
    ``count_baseline * min_proportion <= count_current`` (equality when no
    proportion given); auto-pass when both counts < minimum_count."""
    c_cur, c_base = current.count(), baseline.count()
    if minimum_count and c_cur < minimum_count and c_base < minimum_count:
        return (
            AssertionResult(
                name, Status.OK, expected=f"both < {minimum_count}",
                got=(c_cur, c_base),
                diag=[f"auto-pass: both counts below minimum_count={minimum_count}"],
            ),
            None,
        )
    if min_proportion is None:
        ok = c_cur == c_base
        expected: Any = c_base
    else:
        ok = c_base * min_proportion <= c_cur
        expected = f">= {c_base * min_proportion:.1f} ({min_proportion} * {c_base})"
    return (
        AssertionResult(name, Status.OK if ok else Status.FAIL,
                        expected=expected, got=c_cur),
        None,
    )


def row_subtotals(
    current: DataFrame,
    baseline: DataFrame,
    category_col: str,
    name: str,
    min_proportion: float = 1.0,
    count_col: str = "count",
    minimum_count: int = 0,
) -> tuple[AssertionResult, DataFrame | None]:
    """Per-category count drift (Test/DataCheck.pm:283-365).

    Inputs are (category, count) DataFrames (i.e. already grouped — build
    with ``df.groupBy(cat).count()``).  Semantics: a category missing from
    the baseline side of the comparison is treated as 0 **in current**
    (Test/DataCheck.pm:336) while categories present only in current are
    ignored (comment at 332-335) — i.e. the test asks "did any baseline
    category shrink below proportion", directionally.  Run with the tables
    flipped for the other direction (ComparePreviousVersionProbes.pm:59-60).

    Distributed: LEFT join from baseline (current-only categories drop
    out by construction), missing current coalesced to 0, per-row
    tolerance predicate; violations = categories out of tolerance.
    """
    cur = current.select(
        F.col(category_col).alias("category"),
        F.col(count_col).cast("long").alias("cur_count"),
    )
    base = baseline.select(
        F.col(category_col).alias("category"),
        F.col(count_col).cast("long").alias("base_count"),
    )
    joined = (
        base.join(cur, "category", "left_outer")  # current-only categories ignored
        .select(
            "category",
            "base_count",  # left side of a left join is never null
            F.coalesce("cur_count", F.lit(0)).alias("cur_count"),
        )
    )
    pred = joined.base_count * F.lit(float(min_proportion)) > joined.cur_count
    if minimum_count:
        pred = pred & (
            (joined.base_count >= minimum_count) | (joined.cur_count >= minimum_count)
        )
    viol = joined.filter(pred)
    return is_rows_zero(viol, name)


def fk(
    table: DataFrame,
    col1: str,
    ref: DataFrame,
    col2: str,
    name: str,
    constraint: Column | None = None,
) -> tuple[AssertionResult, DataFrame | None]:
    """Referential integrity (Test/DataCheck.pm:395-419): rows of ``table``
    whose non-null ``col1`` has no match in ``ref.col2`` are violations.

    Physical plan: broadcast hash **left-anti join**
    (operators/referential.orphan_rows) — at fact-table scale the
    dimension side must broadcast so no shuffle of the fact table occurs
    (north_rule: broadcast hash anti-join)."""
    return is_rows_zero(orphan_rows(table, col1, ref, col2, constraint), name)


def denormalized(
    t1: DataFrame,
    key1: str,
    val1: str,
    t2: DataFrame,
    key2: str,
    val2: str,
    name: str,
) -> tuple[AssertionResult, DataFrame | None]:
    """Duplicated-column sync (Test/DataCheck.pm:442-470): inner equi-join
    on keys, rows where the duplicated values disagree are violations."""
    a = t1.select(F.col(key1).alias("__k"), F.col(val1).alias("__v1"))
    b = t2.select(F.col(key2).alias("__k"), F.col(val2).alias("__v2"))
    viol = (
        a.join(b, "__k", "inner")
        # null-SAFE inequality: plain != is NULL when either side is
        # NULL, silently passing a NULL-vs-value disagreement — the same
        # trap hash_diff documents; both-NULL counts as in sync
        .filter(~F.col("__v1").eqNullSafe(F.col("__v2")))
        .select(F.col("__k").alias(key1), F.col("__v1").alias(val1),
                F.col("__v2").alias(val2))
    )
    return is_rows_zero(viol, name)


def has_data(
    df: DataFrame, col: str, id_col: str, name: str
) -> tuple[AssertionResult, DataFrame | None]:
    """No NULL / '' / literal 'NULL' values (Test/DataCheck.pm:490-502,
    BlankNulls.pm:62-66 treats the string 'NULL' as blank too)."""
    c = F.col(col)
    viol = df.filter(
        c.isNull() | (c.cast("string") == "") | (F.upper(c.cast("string")) == "NULL")
    ).select(id_col, col)
    return is_rows_zero(viol, name)


def is_one_to_many(
    df: DataFrame, col: str, name: str
) -> tuple[AssertionResult, DataFrame | None]:
    """Every key appears more than once: GROUP BY col HAVING COUNT(*) = 1
    must be empty (Test/DataCheck.pm:520-539)."""
    viol = df.groupBy(col).count().filter(F.col("count") == 1).select(col)
    return is_rows_zero(viol, name)


# --- Compara-style primitives (Test/Compara.pm) ---


def has_tags(
    entity_tags: DataFrame,
    entity_col: str,
    tag_col: str,
    required: list[str],
    name: str,
) -> tuple[AssertionResult, DataFrame | None]:
    """Metadata completeness (Test/Compara.pm:62-97): every entity must
    carry all required tags.  Plan: collect_set per entity, array_except
    against the required list; violations list the missing tags."""
    req = F.array(*[F.lit(t) for t in required])
    viol = (
        entity_tags.groupBy(entity_col)
        .agg(F.collect_set(tag_col).alias("tags"))
        .withColumn("missing_tags", F.array_except(req, F.col("tags")))
        .filter(F.size("missing_tags") > 0)
        .select(entity_col, "missing_tags")
    )
    return is_rows_zero(viol, name)


def cmp_tag(
    df: DataFrame,
    tag_value_col: str,
    op: str,
    expected: float,
    name: str,
) -> tuple[AssertionResult, DataFrame | None]:
    """Tag-value comparison (Test/Compara.pm:109-146): rows whose value
    fails ``value <op> expected`` are violations.  Column-expression
    dispatch instead of the reference's string-eval."""
    col_ops: dict[str, Callable[[Column, Any], Column]] = {
        "==": lambda c, e: c == e,
        "!=": lambda c, e: c != e,
        "<": lambda c, e: c < e,
        "<=": lambda c, e: c <= e,
        ">": lambda c, e: c > e,
        ">=": lambda c, e: c >= e,
    }
    ok_pred = col_ops[op](F.col(tag_value_col), expected)
    viol = df.filter(~ok_pred | F.col(tag_value_col).isNull())
    return is_rows_zero(viol, name)


def check_id_range(
    df: DataFrame,
    key_col: str,
    id_col: str,
    prefix_len: int,
    name: str,
) -> tuple[AssertionResult, DataFrame | None]:
    """Id-prefix convention (Test/Compara.pm:163-187): per key, all ids
    share one prefix — COUNT(DISTINCT LEFT(id, len)) == 1."""
    viol = (
        df.groupBy(key_col)
        .agg(
            F.countDistinct(
                F.substring(F.col(id_col).cast("string"), 1, prefix_len)
            ).alias("n_prefixes")
        )
        .filter(F.col("n_prefixes") != 1)
    )
    return is_rows_zero(viol, name)


def same_scalar(
    current: DataFrame,
    baseline: DataFrame,
    expr: Column,
    name: str,
) -> tuple[AssertionResult, None]:
    """Single-value parity between current and baseline tables
    (Utils.pm:345-387 same_metavalue/same_assembly/same_geneset): evaluate
    one aggregate expression on both sides, compare."""
    cur = current.agg(expr.alias("v")).collect()[0]["v"]
    base = baseline.agg(expr.alias("v")).collect()[0]["v"]
    ok = cur == base
    return (
        AssertionResult(name, Status.OK if ok else Status.FAIL,
                        expected=base, got=cur),
        None,
    )


# --- Utils.pm set/dict diff operators ---


def array_diff(
    df1: DataFrame, df2: DataFrame, col: str, label1: str = "left", label2: str = "right"
) -> DataFrame:
    """Symmetric difference of two column-sets, labeled by side
    (Utils.pm:217-246).  Returns DataFrame (value, only_in)."""
    a = df1.select(F.col(col).alias("value")).distinct()
    b = df2.select(F.col(col).alias("value")).distinct()
    # null-SAFE anti joins: a NULL present in BOTH sides is not a
    # difference — plain equality never matches NULL = NULL and would
    # report it 'only_in' each side simultaneously
    return (
        a.join(b.withColumnRenamed("value", "__bv"),
               F.col("value").eqNullSafe(F.col("__bv")), "left_anti")
        .withColumn("only_in", F.lit(label1))
        .unionByName(
            b.join(a.withColumnRenamed("value", "__av"),
                   F.col("value").eqNullSafe(F.col("__av")), "left_anti")
            .withColumn("only_in", F.lit(label2))
        )
    )


def hash_diff(
    df1: DataFrame, df2: DataFrame, key_col: str, val_col: str
) -> DataFrame:
    """Dict diff (Utils.pm:269-307): keys only in one side, or same key
    with different value.  Full-outer join on key with explicit presence
    markers — a value column that is legitimately NULL on both sides is
    NOT a difference, so presence can't be inferred from value nullness."""
    a = df1.select(
        F.col(key_col).alias("key"), F.col(val_col).alias("left_value")
    ).withColumn("__lp", F.lit(1))
    b = df2.select(
        F.col(key_col).alias("key"), F.col(val_col).alias("right_value")
    ).withColumn("__rp", F.lit(1))
    j = a.join(b, "key", "full_outer")
    return j.filter(
        F.col("__lp").isNull()
        | F.col("__rp").isNull()
        | ~F.col("left_value").eqNullSafe(F.col("right_value"))
    ).drop("__lp", "__rp")
