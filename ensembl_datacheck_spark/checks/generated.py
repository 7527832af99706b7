"""Dynamically generated checks (SURVEY.md S19).

Reference pattern: BlankNulls.pm:41-67 / WhitespaceCritical.pm:41-68
enumerate columns from INFORMATION_SCHEMA and run one SQL per column.
Spark-first restatement: introspect `df.schema` and compile ONE fused
scan covering every generated per-column predicate (blank-null sweep,
whitespace sweep) — N columns, one pass.

These factories return RowPredicate lists compatible with both the
Runner's fused execution and streaming validation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ensembl_datacheck_spark.operators.fused import RowPredicate
from ensembl_datacheck_spark.registry import CheckSpec
from ensembl_datacheck_spark.verdict import Severity


def blank_null_predicates(df: DataFrame) -> list[RowPredicate]:
    """One predicate per nullable string column: value must not be the
    literal 'NULL'/'null' or whitespace-only when present
    (BlankNulls.pm:62-66 treats those as data bugs)."""
    preds = []
    for f in df.schema.fields:
        if isinstance(f.dataType, T.StringType) and f.nullable:
            c = F.col(f.name)
            preds.append(
                RowPredicate(
                    f"blank_null_{f.name}",
                    c.isNotNull()
                    & ((F.upper(c) == "NULL") | ((c != "") & (F.trim(c) == ""))),
                    (f.name,),
                )
            )
    return preds


def whitespace_predicates(df: DataFrame) -> list[RowPredicate]:
    """One predicate per string column: no carriage returns, tabs, or
    leading/trailing spaces (WhitespaceCritical.pm:63-67 flags REGEXP
    '\\r'; we sweep the common whitespace defects)."""
    preds = []
    for f in df.schema.fields:
        if isinstance(f.dataType, T.StringType):
            c = F.col(f.name)
            preds.append(
                RowPredicate(
                    f"whitespace_{f.name}",
                    c.isNotNull() & (c.rlike(r"[\r\t]") | (c != F.trim(c))),
                    (f.name,),
                )
            )
    return preds


def generated_check_specs(
    table_name: str,
    df: DataFrame,
    kinds: tuple[str, ...] = ("blank_nulls", "whitespace"),
) -> list[CheckSpec]:
    """Build registered-shape CheckSpecs for a concrete table's schema —
    the INFORMATION_SCHEMA-driven generation step, done once at plan
    time.  All generated specs are fused into the shared scan by the
    Runner, which skips them when its fused scan is another table."""
    specs = []

    if "blank_nulls" in kinds:

        def _bn_preds(ctx, scan, _df=df):
            return blank_null_predicates(_df), scan

        specs.append(
            CheckSpec(
                name=f"BlankNulls_{table_name}",
                description=f"generated blank-null sweep over string columns "
                            f"of {table_name} (BlankNulls.pm:41-67)",
                groups=("generated", "completeness", "row_fused"),
                severity=Severity.ADVISORY,
                tables=(table_name,),
                per_partition=True,
                row_predicates=_bn_preds,
            )
        )
    if "whitespace" in kinds:

        def _ws_preds(ctx, scan, _df=df):
            return whitespace_predicates(_df), scan

        specs.append(
            CheckSpec(
                name=f"Whitespace_{table_name}",
                description=f"generated whitespace sweep over string columns "
                            f"of {table_name} (WhitespaceCritical.pm:41-68)",
                groups=("generated", "completeness", "row_fused"),
                severity=Severity.ADVISORY,
                tables=(table_name,),
                per_partition=True,
                row_predicates=_ws_preds,
            )
        )
    return specs
