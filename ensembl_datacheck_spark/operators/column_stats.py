"""Column stats / completeness family (SURVEY.md §2.6 family 1).

The reference runs *one SQL per column* when sweeping nullable columns
(BlankNulls.pm:41-67, WhitespaceCritical.pm:41-68).  At 10^12 rows that is
N full scans; here all per-column statistics are **fused into a single
aggregate pass** (SURVEY.md §4 item 4): one scan, one partial-agg shuffle
of a few hundred bytes per partition, regardless of column count.

Numeric/string stats use JVM-side built-ins (whole-stage codegen);
token-array statistics additionally have a vectorized Arrow path
(functions/arrays.py) per the input_hint's pandas/Arrow UDF mandate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _is_numeric(dt: T.DataType) -> bool:
    return isinstance(dt, T.NumericType)


def stats_exprs(df: DataFrame, columns: list[str] | None = None) -> list[Column]:
    """Build the fused expression list: for every column count/null-count,
    plus min/max/mean for numerics, empty-count for strings, size stats +
    null/empty counts for arrays.  Names: `<col>__<stat>`."""
    exprs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
    if columns is not None:
        # fail fast on misspelled columns (hot_keys' discipline): a
        # silently-skipped name yields a stats row with no entries and a
        # KeyError far from the cause — or worse, thresholds verifying
        # nothing
        missing = [c for c in columns if c not in df.columns]
        if missing:
            raise ValueError(f"unknown column(s) for stats: {missing}")
    fields = [f for f in df.schema.fields if columns is None or f.name in columns]
    for f in fields:
        c, n = F.col(f.name), f.name
        exprs.append(F.sum(c.isNull().cast("long")).alias(f"{n}__n_null"))
        if _is_numeric(f.dataType):
            exprs += [
                F.min(c).alias(f"{n}__min"),
                F.max(c).alias(f"{n}__max"),
                F.avg(c).alias(f"{n}__mean"),
            ]
        elif isinstance(f.dataType, T.StringType):
            exprs += [
                F.sum((c == "").cast("long")).alias(f"{n}__n_empty"),
                F.min(F.length(c)).alias(f"{n}__min_len"),
                F.max(F.length(c)).alias(f"{n}__max_len"),
            ]
        elif isinstance(f.dataType, T.ArrayType):
            sz = F.size(c)  # -1 for null in legacy mode; guard with isNull
            exprs += [
                F.sum((sz == 0).cast("long")).alias(f"{n}__n_empty"),
                F.min(F.when(c.isNotNull(), sz)).alias(f"{n}__min_size"),
                F.max(F.when(c.isNotNull(), sz)).alias(f"{n}__max_size"),
                F.avg(F.when(c.isNotNull(), sz)).alias(f"{n}__mean_size"),
            ]
    return exprs


def column_stats(
    df: DataFrame,
    columns: list[str] | None = None,
    by: Column | str | None = None,
) -> DataFrame:
    """One-pass fused stats.  ``by`` groups per partition bucket / source
    (per-partition verdict support); None → single global row."""
    exprs = stats_exprs(df, columns)
    if by is None:
        return df.agg(*exprs)
    key = F.col(by) if isinstance(by, str) else by
    return df.groupBy(key.alias("group_key")).agg(*exprs)


def token_domain_predicate(
    tokens_col: str = "tokens", vocab_size: int = 50257
) -> Column:
    """THE out-of-domain predicate — one definition shared by the
    standalone operator below and the fused TokenInvariants RowPredicate
    (checks/core.py builds from this, so the two can never diverge).
    `array_min/array_max` instead of `exists(lambda)`: equivalent for a
    range-domain test, and codegen'd (HOF lambdas are interpreted and
    contend across threads).  array_min/array_max SKIP null elements, so
    a null token would pass a pure min/max range test — the
    array_compact size-compare catches it (still codegen, no lambda)."""
    c = F.col(tokens_col)
    return c.isNotNull() & (
        (F.array_min(c) < 0)
        | (F.array_max(c) >= vocab_size)
        | (F.size(F.array_compact(c)) != F.size(c))
    )


def token_length_predicate(
    tokens_col: str = "tokens", n_tok_col: str = "n_tok"
) -> Column:
    """THE length-invariant predicate (input_hint: size(tokens) ==
    n_tok) — shared by the standalone operator and the fused check.
    Empty/null arrays belong to completeness; a NULL n_tok against a
    real array IS a violation ('size != NULL' is NULL and would silently
    pass the row)."""
    c = F.col(tokens_col)
    return (
        c.isNotNull()
        & (F.size(c) > 0)
        & (F.col(n_tok_col).isNull() | (F.size(c) != F.col(n_tok_col)))
    )


def token_domain_violations(
    df: DataFrame, tokens_col: str = "tokens", vocab_size: int = 50257
) -> DataFrame:
    """Rows whose token array contains out-of-domain values — see
    token_domain_predicate."""
    return df.filter(token_domain_predicate(tokens_col, vocab_size))


def token_length_violations(
    df: DataFrame, tokens_col: str = "tokens", n_tok_col: str = "n_tok"
) -> DataFrame:
    """Per-row invariant from input_hint — see token_length_predicate."""
    return df.filter(token_length_predicate(tokens_col, n_tok_col))
