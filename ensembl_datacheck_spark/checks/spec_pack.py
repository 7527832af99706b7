"""Declarative check-spec pack: the authoring layer that closes the gap
to the reference's 267 ready-made Checks/*.pm files.

The reference ships hundreds of small named checks that are all instances
of a handful of shapes (meta-key completeness CompareMetaKeys.pm:99-144,
meta-key cardinality MetaKeyCardinality.pm:44-85, tag presence/comparison
Test/Compara.pm:62-146, duplicated-column sync Test/DataCheck.pm:442-470).
Here each shape is a frozen dataclass; `register_spec` compiles a spec
into a registered CheckSpec whose body builds the DataFrame plan through
the existing assertion primitives — authoring a new named check is one
declaration, no new plan code.

A default pack over the synthetic `meta` tag table (sources.synth
gen_meta) is registered at import, mirroring how the reference's index
ships with its standard battery.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import functions as F

from ensembl_datacheck_spark import assertions as A
from ensembl_datacheck_spark.registry import register
from ensembl_datacheck_spark.sources.io import local_frame
from ensembl_datacheck_spark.sources.synth import (
    META_REQUIRED_KEYS,
    META_SINGLETON_KEYS,
)


@dataclass(frozen=True)
class TagRequirementSpec:
    """Every entity carries all required tag keys (has_tags,
    Test/Compara.pm:62-97; CompareMetaKeys.pm:99-144)."""

    name: str
    description: str
    table: str
    entity_col: str
    tag_col: str
    required: tuple[str, ...]
    groups: tuple[str, ...] = ("meta",)
    severity: str = "critical"


@dataclass(frozen=True)
class CardinalitySpec:
    """Singleton tag keys appear at most ``max_count`` times per entity
    (MetaKeyCardinality.pm:44-85)."""

    name: str
    description: str
    table: str
    entity_col: str
    tag_col: str
    singleton_keys: tuple[str, ...]
    max_count: int = 1
    groups: tuple[str, ...] = ("meta",)
    severity: str = "critical"


@dataclass(frozen=True)
class TagValueSpec:
    """A tag's numeric value satisfies ``value <op> expected`` for every
    entity carrying it (cmp_tag, Test/Compara.pm:109-146).  Several
    (op, expected) clauses become several assertions in one check."""

    name: str
    description: str
    table: str
    entity_col: str
    tag_col: str
    value_col: str
    tag_key: str
    clauses: tuple[tuple[str, float], ...]
    groups: tuple[str, ...] = ("meta",)
    severity: str = "critical"


@dataclass(frozen=True)
class RowRuleSpec:
    """The workhorse shape of the reference's Checks/*: a SQL condition
    that must match NO rows (is_rows_zero over a filter).  The violation
    condition is a SQL boolean expression over the table's columns —
    authoring parity with the reference's raw-SQL checks, but compiled
    into the scan (Catalyst pushes the predicate down; the diag
    projection is pruned to key + diag_cols)."""

    name: str
    description: str
    table: str
    violation_sql: str
    key_col: str
    diag_cols: tuple[str, ...] = ()
    groups: tuple[str, ...] = ()
    severity: str = "critical"


@dataclass(frozen=True)
class PrefixSpec:
    """Per-key value-format conformance: for each (key value, regex)
    pair, every row whose ``match_col`` equals the key must have
    ``value_col`` matching the regex — the XrefPrefixes shape
    (XrefPrefixes.pm:60-107: a {source_name: pattern} map, one
    is_rows_zero per source).  Each pair becomes one assertion."""

    name: str
    description: str
    table: str
    match_col: str
    value_col: str
    prefixes: tuple[tuple[str, str], ...]  # (match value, regex)
    groups: tuple[str, ...] = ("format",)
    severity: str = "critical"


@dataclass(frozen=True)
class KeySetSpec:
    """Two key sets are identical — the CompareMetaKeys shape
    (CompareMetaKeys.pm:99-144: the distinct meta-key sets of two
    databases diffed both ways).  The comparison side is either another
    table's column or a static expected vocabulary; the diff is
    assertions.array_diff (distinct → two broadcast anti-joins), so each
    side is collapsed to its distinct keys before any join."""

    name: str
    description: str
    table1: str
    col1: str
    table2: str | None = None
    col2: str | None = None
    expected: tuple[str, ...] = ()  # static vocabulary when table2 is None
    label1: str = "current"
    label2: str = "expected"
    groups: tuple[str, ...] = ("meta",)
    severity: str = "critical"


@dataclass(frozen=True)
class DenormalizedSpec:
    """A value duplicated across two tables stays in sync
    (Test/DataCheck.pm:442-470)."""

    name: str
    description: str
    table1: str
    key1: str
    val1: str  # column expression source; see val1_builder in body
    table2: str
    key2: str
    val2: str
    # optional pre-filter applied to table1 (e.g. select one tag key)
    table1_filter: tuple[str, str] | None = None  # (col, value)
    cast: str | None = None  # cast both value sides before comparing
    groups: tuple[str, ...] = ("meta",)
    severity: str = "critical"


@dataclass(frozen=True)
class DuplicateRowsSpec:
    """No composite-key group appears more than once — the grouped
    ``HAVING COUNT(*) > 1`` duplicate shape (DuplicateXref.pm:40-53;
    DuplicateTranscriptNames.pm kin).  The violation set is the
    duplicated key tuples with their multiplicities, never the member
    rows — the aggregation buffer is a counter, not a list, so a
    degenerate table with 10^6 copies of one tuple costs O(1) state."""

    name: str
    description: str
    table: str
    cols: tuple[str, ...]
    groups: tuple[str, ...] = ()
    severity: str = "critical"


@dataclass(frozen=True)
class AggregateRuleSpec:
    """A table-level aggregate invariant: ``agg_sql`` evaluated over the
    (optionally filtered) table must land in ``[min_value, max_value]``
    — the tolerance-interval shape of CheckTableSizes.pm:95-110
    (current size within [95%, 110%] of the previous release).  The
    plan is one partial-aggregatable scan producing a single row; the
    assertion compares driver-side contract-small output."""

    name: str
    description: str
    table: str
    agg_sql: str  # SQL aggregate expression, e.g. "sum(weight_expected)"
    min_value: float
    max_value: float
    filter_sql: str | None = None
    groups: tuple[str, ...] = ()
    severity: str = "critical"


@dataclass(frozen=True)
class JsonValueSpec:
    """String values holding JSON documents parse, and carry required
    fields (CheckJSONObjects.pm:44-69: per-row decode_json, bad ids
    diagnosed).  Where the reference iterates rows through Perl's
    decode_json, the plan stays JVM-side: `get_json_object` returns
    NULL for unparseable documents AND for missing fields, so validity
    and field presence are both single codegen'd predicates — no UDF."""

    name: str
    description: str
    table: str
    value_col: str
    key_filter: tuple[str, str] | None  # (col, value) row pre-filter
    required_fields: tuple[str, ...]
    key_col: str = "entity_id"
    groups: tuple[str, ...] = ("meta",)
    severity: str = "critical"


def register_spec(spec, registry=None, fact_table: str = "sequences") -> None:
    """Compile a declarative spec into a registered check.  RowRuleSpec
    entries targeting ``fact_table`` compile to fused row predicates
    instead of a body, so the Runner folds them into its single row
    scan."""
    kw = {"_registry": registry} if registry is not None else {}
    extra_kw = {}

    if isinstance(spec, TagRequirementSpec):

        def body(ctx, spec=spec):
            t = ctx.table(spec.table)
            ctx.record(
                A.has_tags(
                    t, spec.entity_col, spec.tag_col, list(spec.required),
                    f"{spec.name}_required_tags",
                ),
                key_col=spec.entity_col,
            )

        tables = (spec.table,)
    elif isinstance(spec, CardinalitySpec):

        def body(ctx, spec=spec):
            t = ctx.table(spec.table)
            viol = (
                t.filter(F.col(spec.tag_col).isin(*spec.singleton_keys))
                .groupBy(spec.entity_col, spec.tag_col)
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > spec.max_count)
            )
            ctx.record(
                A.is_rows_zero(viol, f"{spec.name}_cardinality"),
                key_col=spec.entity_col,
            )

        tables = (spec.table,)
    elif isinstance(spec, TagValueSpec):

        def body(ctx, spec=spec):
            t = ctx.table(spec.table).filter(F.col(spec.tag_col) == spec.tag_key)
            # try_cast, not cast: under ANSI (Spark 4 default) a
            # malformed numeric tag value would abort the check with
            # CAST_INVALID_INPUT — for exactly the corruption it exists
            # to flag.  Uncastable values surface as their own violation
            # rows first (DenormalizedSpec's castability discipline).
            raw = F.col(spec.value_col)
            casted = raw.try_cast("double")
            bad = t.filter(raw.isNotNull() & casted.isNull()).select(
                spec.entity_col, spec.value_col
            )
            ctx.record(
                A.is_rows_zero(bad, f"{spec.name}_{spec.tag_key}_numeric"),
                key_col=spec.entity_col,
            )
            vals = t.select(spec.entity_col, casted.alias("__v"))
            for op, expected in spec.clauses:
                ctx.record(
                    A.cmp_tag(vals, "__v", op, expected,
                              f"{spec.name}_{spec.tag_key}_{op}_{expected}"),
                    key_col=spec.entity_col,
                )

        tables = (spec.table,)
    elif isinstance(spec, RowRuleSpec) and spec.table == fact_table:
        # a rule over the fact table IS a fused row predicate: N
        # registered rules cost one scan + one aggregation total, not a
        # scan each (the scale answer to the reference's one-SQL-per-check
        # model); a Runner whose fused scan is another table skips it
        from ensembl_datacheck_spark.operators.fused import RowPredicate

        def row_predicates(ctx, scan, spec=spec):
            cond = F.expr(spec.violation_sql)
            # force analysis NOW (schema access, no job) so an
            # unresolvable expression fails THIS check inside the
            # factory's containment, not the whole fused aggregation
            scan.select(cond.cast("boolean").alias("__rule_check")).schema
            return [
                RowPredicate(
                    f"{spec.name}_rule",
                    cond,
                    tuple(spec.diag_cols),
                )
            ], scan

        body = row_predicates  # the check's one implementation
        tables = (spec.table,)
        extra_kw = {"row_predicates": True, "per_partition": True}
    elif isinstance(spec, RowRuleSpec):
        # a rule over any other table: its body is its only path

        def body(ctx, spec=spec):
            t = ctx.table(spec.table)
            viol = t.filter(F.expr(spec.violation_sql)).select(
                spec.key_col, *spec.diag_cols
            )
            ctx.record(
                A.is_rows_zero(viol, f"{spec.name}_rule"),
                key_col=spec.key_col,
            )

        tables = (spec.table,)
    elif isinstance(spec, PrefixSpec):

        def body(ctx, spec=spec):
            t = ctx.table(spec.table)
            for match_value, pattern in spec.prefixes:
                viol = t.filter(
                    (F.col(spec.match_col) == match_value)
                    & ~F.col(spec.value_col).rlike(pattern)
                ).select(spec.match_col, spec.value_col)
                ctx.record(
                    A.is_rows_zero(viol, f"{spec.name}_{match_value}"),
                    key_col=spec.match_col,
                )

        tables = (spec.table,)
    elif isinstance(spec, KeySetSpec):

        def body(ctx, spec=spec):
            t1 = ctx.table(spec.table1)
            if spec.table2 is not None:
                t2 = ctx.table(spec.table2).select(
                    F.col(spec.col2).alias(spec.col1)
                )
            else:
                t2 = local_frame(
                    ctx.spark, [(v,) for v in spec.expected],
                    f"{spec.col1} string",
                )
            viol = A.array_diff(t1, t2, spec.col1, spec.label1, spec.label2)
            ctx.record(
                A.is_rows_zero(viol, f"{spec.name}_key_set"), key_col="value"
            )

        tables = (
            (spec.table1,) if spec.table2 is None
            else (spec.table1, spec.table2)
        )
    elif isinstance(spec, DenormalizedSpec):

        def body(ctx, spec=spec):
            t1 = ctx.table(spec.table1)
            if spec.table1_filter is not None:
                col, value = spec.table1_filter
                t1 = t1.filter(F.col(col) == value)
            t2 = ctx.table(spec.table2)
            if spec.cast:
                # try_cast + explicit castability assertions ON BOTH
                # SIDES: a corrupted non-numeric value must surface as
                # ITS OWN violation — a plain cast would either error the
                # whole check (ANSI) or go NULL and silently drop out of
                # the != comparison.  The table2 side gets the same guard
                # for DIAGNOSTIC clarity: A.denormalized's null-safe
                # inequality does flag a try_cast-NULL against a real
                # value as out-of-sync, but 'uncastable on side 2' is a
                # different defect than 'values disagree' and deserves
                # its own named assertion.
                bad = t1.filter(
                    F.col(spec.val1).isNotNull()
                    & F.col(spec.val1).try_cast(spec.cast).isNull()
                ).select(spec.key1, spec.val1)
                ctx.record(
                    A.is_rows_zero(bad, f"{spec.name}_value_castable"),
                    key_col=spec.key1,
                )
                bad2 = t2.filter(
                    F.col(spec.val2).isNotNull()
                    & F.col(spec.val2).try_cast(spec.cast).isNull()
                ).select(spec.key2, spec.val2)
                ctx.record(
                    A.is_rows_zero(bad2, f"{spec.name}_value2_castable"),
                    key_col=spec.key2,
                )
                t1 = t1.withColumn(
                    spec.val1, F.col(spec.val1).try_cast(spec.cast)
                )
                t2 = t2.withColumn(
                    spec.val2, F.col(spec.val2).try_cast(spec.cast)
                )
            ctx.record(
                A.denormalized(
                    t1, spec.key1, spec.val1, t2, spec.key2, spec.val2,
                    f"{spec.name}_sync",
                ),
                key_col=spec.key1,
            )

        tables = (spec.table1, spec.table2)
    elif isinstance(spec, DuplicateRowsSpec):

        def body(ctx, spec=spec):
            t = ctx.table(spec.table)
            viol = (
                t.groupBy(*spec.cols)
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > 1)
            )
            ctx.record(
                A.is_rows_zero(viol, f"{spec.name}_no_duplicates"),
                key_col=spec.cols[0],
            )

        tables = (spec.table,)
    elif isinstance(spec, AggregateRuleSpec):

        def body(ctx, spec=spec):
            t = ctx.table(spec.table)
            if spec.filter_sql:
                t = t.filter(F.expr(spec.filter_sql))
            agg = t.agg(F.expr(spec.agg_sql).cast("double").alias("value"))
            breach = agg.filter(
                F.col("value").isNull()
                | (F.col("value") < spec.min_value)
                | (F.col("value") > spec.max_value)
            ).select(
                F.lit(spec.agg_sql).alias("aggregate"),
                "value",
                F.lit(float(spec.min_value)).alias("min_allowed"),
                F.lit(float(spec.max_value)).alias("max_allowed"),
            )
            ctx.record(
                A.is_rows_zero(
                    breach,
                    f"{spec.name}_in_[{spec.min_value}, {spec.max_value}]",
                ),
                key_col="aggregate",
            )

        tables = (spec.table,)
    elif isinstance(spec, JsonValueSpec):

        def body(ctx, spec=spec):
            t = ctx.table(spec.table)
            if spec.key_filter is not None:
                col, value = spec.key_filter
                t = t.filter(F.col(col) == value)
            v = F.col(spec.value_col)
            # parseability: get_json_object(value, '$') echoes the
            # document when it parses, NULL when it does not — a pure
            # codegen predicate (the reference's per-row decode_json
            # loop, CheckJSONObjects.pm:59-66, without leaving the JVM)
            bad = t.filter(
                v.isNotNull() & F.get_json_object(v, "$").isNull()
            ).select(spec.key_col, spec.value_col)
            ctx.record(
                A.is_rows_zero(bad, f"{spec.name}_parses"),
                key_col=spec.key_col,
            )
            for field in spec.required_fields:
                missing = t.filter(
                    v.isNotNull()
                    & F.get_json_object(v, "$").isNotNull()
                    & F.get_json_object(v, f"$.{field}").isNull()
                ).select(spec.key_col, spec.value_col)
                ctx.record(
                    A.is_rows_zero(missing, f"{spec.name}_has_{field}"),
                    key_col=spec.key_col,
                )

        tables = (spec.table,)
    else:  # pragma: no cover - authoring error
        raise TypeError(f"unknown spec type {type(spec).__name__}")

    register(
        spec.name,
        spec.description,
        groups=spec.groups,
        severity=spec.severity,
        tables=tables,
        **extra_kw,
        **kw,
    )(body)


#: The default pack (reference kin in each description).  Authoring a new
#: named check = appending one declaration here.
DEFAULT_PACK = (
    TagRequirementSpec(
        name="MetaKeyRequired",
        description=(
            "Every meta entity carries the required keys "
            f"{', '.join(META_REQUIRED_KEYS)} (CompareMetaKeys.pm:99-144; "
            "has_tags Test/Compara.pm:62-97)"
        ),
        table="meta",
        entity_col="entity_id",
        tag_col="meta_key",
        required=tuple(META_REQUIRED_KEYS),
    ),
    CardinalitySpec(
        name="MetaKeyCardinality",
        description=(
            "Singleton meta keys appear at most once per entity "
            "(MetaKeyCardinality.pm:44-85)"
        ),
        table="meta",
        entity_col="entity_id",
        tag_col="meta_key",
        singleton_keys=tuple(META_SINGLETON_KEYS),
    ),
    TagValueSpec(
        name="MetaWeightRange",
        description=(
            "source.weight meta values lie in [0, 1] (cmp_tag "
            "Test/Compara.pm:109-146)"
        ),
        table="meta",
        entity_col="entity_id",
        tag_col="meta_key",
        value_col="meta_value",
        tag_key="source.weight",
        clauses=((">=", 0.0), ("<=", 1.0)),
    ),
    RowRuleSpec(
        name="NTokDomain",
        description=(
            "n_tok stays within the generation domain [1, 8192] — "
            "row-rule shape: a SQL violation condition compiled into the "
            "scan (the reference's raw-SQL check pattern, e.g. "
            "Checks/ExonRank.pm-style 'must return no rows' queries)"
        ),
        table="sequences",
        violation_sql="n_tok IS NOT NULL AND (n_tok < 1 OR n_tok > 8192)",
        key_col="doc_id",
        diag_cols=("n_tok", "source"),
        groups=("sequences", "tokens"),
    ),
    RowRuleSpec(
        name="DocIdFormat",
        description=(
            "Non-blank doc_id matches the canonical 'doc_' + 12-digit "
            "stable-id format — the stable-identifier format check "
            "(GeneStableID.pm:66-75 regexp shape; blank/NULL ids belong "
            "to the completeness check)"
        ),
        table="sequences",
        violation_sql=(
            "doc_id IS NOT NULL AND doc_id != '' "
            "AND doc_id NOT RLIKE '^doc_[0-9]{12}$'"
        ),
        key_col="doc_id",
        diag_cols=("source",),
        groups=("sequences", "format"),
    ),
    RowRuleSpec(
        name="MetaValueNotBlank",
        description=(
            "No NULL or whitespace-only meta_value (BlankNulls.pm:62-66 "
            "applied to the tag table)"
        ),
        table="meta",
        violation_sql="meta_value IS NULL OR trim(meta_value) = ''",
        key_col="entity_id",
        diag_cols=("meta_key",),
        groups=("meta",),
    ),
    RowRuleSpec(
        name="MetaActiveBooleanDomain",
        description=(
            "source.active meta values come from the boolean vocabulary "
            "{'true','false'} — controlled-vocabulary tag check "
            "(MetaKeyFormat.pm-style value-domain rules)"
        ),
        table="meta",
        violation_sql=(
            "meta_key = 'source.active' "
            "AND meta_value NOT IN ('true', 'false')"
        ),
        key_col="entity_id",
        diag_cols=("meta_value",),
        groups=("meta",),
    ),
    # --- dimension-table NOT-NULL / domain rules (the reference's
    # per-column sweeps applied to the tables that had no checks at all:
    # sources and baseline_stats — VERDICT r2 item 5) ---
    RowRuleSpec(
        name="SourceNameNotBlank",
        description=(
            "sources.source (the dimension PK) is never NULL or blank "
            "(BlankNulls.pm:62-66 applied to the dimension table)"
        ),
        table="sources",
        violation_sql="source IS NULL OR trim(source) = ''",
        key_col="source",
        diag_cols=("weight_expected",),
        groups=("sources", "completeness"),
    ),
    RowRuleSpec(
        name="SourceWeightDomain",
        description=(
            "sources.weight_expected is a valid share in [0, 1] "
            "(value-domain rule; the dimension-side analogue of "
            "MetaWeightRange, cmp_tag Test/Compara.pm:109-146)"
        ),
        table="sources",
        violation_sql=(
            "weight_expected IS NULL "
            "OR weight_expected < 0 OR weight_expected > 1"
        ),
        key_col="source",
        diag_cols=("weight_expected",),
        groups=("sources",),
    ),
    RowRuleSpec(
        name="SourceActiveNotNull",
        description=(
            "sources.active is never NULL — a three-valued active flag "
            "would silently drop rows from both the active and inactive "
            "referential checks (BlankNulls.pm kin on a boolean column)"
        ),
        table="sources",
        violation_sql="active IS NULL",
        key_col="source",
        groups=("sources", "completeness"),
    ),
    RowRuleSpec(
        name="SourcePrefixFormat",
        description=(
            "sources.source carries the canonical 'src_' prefix "
            "(XrefPrefixes.pm:60-107 prefix-conformance shape on the "
            "dimension PK)"
        ),
        table="sources",
        violation_sql="source IS NOT NULL AND source NOT RLIKE '^src_'",
        key_col="source",
        groups=("sources", "format"),
    ),
    RowRuleSpec(
        name="BaselineStatKeyVocabulary",
        description=(
            "baseline_stats.stat_key comes from the known stat "
            "vocabulary — an unknown key means the snapshot writer and "
            "the drift checks disagree about the schema "
            "(controlled-vocabulary rule, MetaKeyFormat.pm kin)"
        ),
        table="baseline_stats",
        violation_sql=(
            "stat_key IS NULL OR stat_key NOT IN "
            "('source_count', 'n_tok_hist', 'n_tok_quantile', 'token_unigram')"
        ),
        key_col="stat_key",
        diag_cols=("category",),
        groups=("baseline", "drift"),
    ),
    RowRuleSpec(
        name="BaselineValueDomain",
        description=(
            "baseline_stats.value is present and non-negative — counts, "
            "histogram bins and n_tok quantiles are all >= 0; a negative "
            "or NULL value poisons every drift comparison downstream"
        ),
        table="baseline_stats",
        violation_sql="value IS NULL OR value < 0",
        key_col="stat_key",
        diag_cols=("category", "value"),
        groups=("baseline", "drift"),
    ),
    RowRuleSpec(
        name="BaselineCategoryNotBlank",
        description=(
            "baseline_stats.category is never NULL or blank — a blank "
            "category silently merges with nothing during the drift "
            "joins (BlankNulls.pm:62-66 on the snapshot table)"
        ),
        table="baseline_stats",
        violation_sql="category IS NULL OR trim(category) = ''",
        key_col="stat_key",
        diag_cols=("value",),
        groups=("baseline", "completeness"),
    ),
    # --- key-set diffs (CompareMetaKeys shape) ---
    KeySetSpec(
        name="MetaKeyVocabulary",
        description=(
            "The distinct meta_key set equals the declared key "
            "vocabulary, both directions — a vanished key and an unknown "
            "key both fail (CompareMetaKeys.pm:99-144 key-set diff "
            "against a static expected set)"
        ),
        table1="meta",
        col1="meta_key",
        expected=(*META_REQUIRED_KEYS, "source.alias", "source.props"),
        label2="vocabulary",
    ),
    KeySetSpec(
        name="MetaEntitySetSync",
        description=(
            "Every sources.source has meta rows and every meta entity "
            "is a known source — symmetric entity-set diff between the "
            "tag table and the dimension (CompareMetaKeys.pm:99-144 "
            "shape across tables; array_diff Utils.pm:217-246)"
        ),
        table1="meta",
        col1="entity_id",
        table2="sources",
        col2="source",
        label1="meta",
        label2="sources",
    ),
    # --- per-key value-format conformance (XrefPrefixes shape) ---
    PrefixSpec(
        name="MetaValuePrefixes",
        description=(
            "Tag values carry their per-key canonical prefixes: "
            "source.name values look like 'src_…', source.alias values "
            "like 'alias_a_…'/'alias_b_…' (XrefPrefixes.pm:60-107: a "
            "{key: pattern} map, one assertion per key)"
        ),
        table="meta",
        match_col="meta_key",
        value_col="meta_value",
        prefixes=(
            ("source.name", "^src_"),
            ("source.alias", "^alias_[ab]_src_"),
        ),
        groups=("meta", "format"),
    ),
    DenormalizedSpec(
        name="MetaNameSync",
        description=(
            "source.name meta value equals the sources-dimension PK it "
            "annotates — second instantiation of the duplicated-column "
            "sync shape (Test/DataCheck.pm:442-470), string-typed (no "
            "cast arm)"
        ),
        table1="meta",
        key1="entity_id",
        val1="meta_value",
        table2="sources",
        key2="source",
        val2="source",
        table1_filter=("meta_key", "source.name"),
    ),
    DenormalizedSpec(
        name="MetaWeightSync",
        description=(
            "source.weight meta value equals sources.weight_expected — "
            "duplicated-column sync (Test/DataCheck.pm:442-470)"
        ),
        table1="meta",
        key1="entity_id",
        val1="meta_value",
        table2="sources",
        key2="source",
        val2="weight_expected",
        table1_filter=("meta_key", "source.weight"),
        cast="double",
    ),
    # --- round-3 widening: whitespace, case, duplicate-rows, aggregate
    # tolerance, JSON validity (VERDICT r2 item 5 continuation) ---
    RowRuleSpec(
        name="SequencesWhitespace",
        description=(
            "doc_id and source carry no control characters or "
            "leading/trailing whitespace (WhitespaceCritical.pm:63-67: "
            "REGEXP '\\r' over every text column; fused into the row "
            "scan here)"
        ),
        table="sequences",
        violation_sql=(
            "(doc_id IS NOT NULL AND (doc_id RLIKE '[\\t\\r\\n]' "
            "OR doc_id != trim(doc_id))) "
            "OR (source IS NOT NULL AND (source RLIKE '[\\t\\r\\n]' "
            "OR source != trim(source)))"
        ),
        key_col="doc_id",
        diag_cols=("source",),
        groups=("sequences", "format"),
    ),
    RowRuleSpec(
        name="SequencesSourceCase",
        description=(
            "sequences.source is lower-case — case-conformance rule on "
            "the fact FK so joins against the dimension never miss on "
            "case (AssemblySeqregion.pm:60-64 'BINARY name <> "
            "lower(name)' shape)"
        ),
        table="sequences",
        violation_sql="source IS NOT NULL AND source != lower(source)",
        key_col="doc_id",
        diag_cols=("source",),
        groups=("sequences", "format"),
    ),
    RowRuleSpec(
        name="SourceCaseConformance",
        description=(
            "sources.source (the dimension PK) is lower-case "
            "(AssemblySeqregion.pm:60-64 case-conformance shape)"
        ),
        table="sources",
        violation_sql="source IS NOT NULL AND source != lower(source)",
        key_col="source",
        groups=("sources", "format"),
    ),
    DuplicateRowsSpec(
        name="MetaNoDuplicateRows",
        description=(
            "No (entity_id, meta_key, meta_value) triple appears twice "
            "— exact-duplicate tag rows are double-counted by every "
            "aggregate over the tag table (DuplicateXref.pm:40-53 "
            "grouped HAVING COUNT(*) > 1 shape)"
        ),
        table="meta",
        cols=("entity_id", "meta_key", "meta_value"),
        groups=("meta", "uniqueness"),
    ),
    AggregateRuleSpec(
        name="SourceWeightShareSum",
        description=(
            "sources.weight_expected sums to 1 within a 2% tolerance — "
            "the expected-share column is a probability vector, and a "
            "drifted sum poisons every share-based drift comparison "
            "(CheckTableSizes.pm:95-110 tolerance-interval shape)"
        ),
        table="sources",
        agg_sql="sum(weight_expected)",
        min_value=0.98,
        max_value=1.02,
        groups=("sources", "drift"),
    ),
    JsonValueSpec(
        name="MetaPropsJson",
        description=(
            "source.props tag values are valid JSON documents carrying "
            "the name and active fields (CheckJSONObjects.pm:44-69: "
            "per-row decode_json validity with bad-id diagnostics)"
        ),
        table="meta",
        value_col="meta_value",
        key_filter=("meta_key", "source.props"),
        required_fields=("name", "active"),
        groups=("meta", "format"),
    ),
    RowRuleSpec(
        name="BaselineHistBinDomain",
        description=(
            "n_tok_hist baseline categories are non-negative integer "
            "bin labels — a non-numeric or negative bin silently "
            "mis-joins in the histogram drift comparison "
            "(value-domain rule on the snapshot table; "
            "MetaKeyFormat.pm-style controlled format)"
        ),
        table="baseline_stats",
        violation_sql=(
            "stat_key = 'n_tok_hist' AND ("
            "try_cast(category AS INT) IS NULL "
            "OR try_cast(category AS INT) < 0)"
        ),
        key_col="stat_key",
        diag_cols=("category",),
        groups=("baseline", "format"),
    ),
)

for _spec in DEFAULT_PACK:
    register_spec(_spec)
