"""Declarative spec-pack checks (meta-key completeness / cardinality /
tag-value / denormalized sync) against the synthetic meta table with
known injected defects."""

from __future__ import annotations

import pytest

from ensembl_datacheck_spark import registry
from ensembl_datacheck_spark.plans.runner import Runner
from ensembl_datacheck_spark.sources import synth
from ensembl_datacheck_spark.verdict import Status
import ensembl_datacheck_spark.checks  # noqa: F401  (registers suite)

PACK_NAMES = ["MetaKeyRequired", "MetaKeyCardinality", "MetaWeightRange",
              "MetaWeightSync"]


def _pack_specs():
    return registry.select(names=PACK_NAMES)


@pytest.fixture(scope="module")
def meta_world(spark):
    sources = synth.gen_sources(spark)
    return {
        "sources": sources,
        "meta": synth.gen_meta(spark, sources).cache(),
        "meta_clean": synth.gen_meta(spark, sources,
                                     inject_violations=False).cache(),
    }


def _run(spark, tables):
    runner = Runner(spark, tables, n_buckets=8)
    summary = runner.run(_pack_specs())
    return {r.check_name: r for r in summary.results}


def test_pack_registered_in_default_suite():
    names = {s.name for s in registry.default_suite()}
    assert set(PACK_NAMES) <= names


def test_clean_meta_all_ok(spark, meta_world):
    res = _run(spark, {"sources": meta_world["sources"],
                       "meta": meta_world["meta_clean"]})
    assert {n: r.status for n, r in res.items()} == {
        n: Status.OK for n in PACK_NAMES
    }


def test_injected_defects_detected_with_exact_counts(spark, meta_world):
    res = _run(spark, {"sources": meta_world["sources"],
                       "meta": meta_world["meta"]})
    assert all(r.status == Status.FAIL for r in res.values())
    # one entity lost a required key
    assert res["MetaKeyRequired"].n_violations == 1
    assert any(synth.META_MISSING_KEY_ENTITY in d
               for a in res["MetaKeyRequired"].assertions for d in a.diag)
    # one entity carries a singleton key twice
    assert res["MetaKeyCardinality"].n_violations == 1
    assert any(synth.META_DUP_KEY_ENTITY in d
               for a in res["MetaKeyCardinality"].assertions for d in a.diag)
    # one weight out of [0,1]
    assert res["MetaWeightRange"].n_violations == 1
    assert any(synth.META_RANGE_ENTITY in d
               for a in res["MetaWeightRange"].assertions for d in a.diag)
    # desynced weight on src_07 plus the out-of-range rewrite on src_09
    assert res["MetaWeightSync"].n_violations == 2
    diags = [d for a in res["MetaWeightSync"].assertions for d in a.diag]
    assert any(synth.META_DESYNC_ENTITY in d for d in diags)
    assert any(synth.META_RANGE_ENTITY in d for d in diags)


def test_missing_meta_table_skips(spark, meta_world):
    res = _run(spark, {"sources": meta_world["sources"]})
    assert all(r.status == Status.SKIP for r in res.values())
    assert all("meta" in (r.skip_reason or "") for r in res.values())


def test_register_spec_is_reusable_authoring_api(spark, meta_world):
    """A user-authored spec registers into a private registry and runs."""
    from ensembl_datacheck_spark.checks.spec_pack import (
        CardinalitySpec,
        register_spec,
    )
    from ensembl_datacheck_spark.registry import Registry

    reg = Registry()
    register_spec(
        CardinalitySpec(
            name="AliasAtMostTwice",
            description="aliases capped at 2 per entity",
            table="meta",
            entity_col="entity_id",
            tag_col="meta_key",
            singleton_keys=("source.alias",),
            max_count=2,
        ),
        registry=reg,
    )
    runner = Runner(spark, {"meta": meta_world["meta"]}, n_buckets=8)
    summary = runner.run(reg.default_suite())
    [r] = summary.results
    assert r.check_name == "AliasAtMostTwice" and r.status == Status.OK


def test_row_rule_spec(spark):
    """RowRuleSpec: SQL violation condition compiled into the scan;
    registered NTokDomain passes on clean data and a private-registry
    rule catches planted violations with pushdown-friendly plans."""
    from ensembl_datacheck_spark.checks.spec_pack import RowRuleSpec, register_spec
    from ensembl_datacheck_spark.registry import Registry

    assert "NTokDomain" in {s.name for s in registry.default_suite()}

    reg = Registry()
    register_spec(
        RowRuleSpec(
            name="NoNegativeAmounts",
            description="amounts must be non-negative",
            table="t",
            violation_sql="amount < 0",
            key_col="id",
            diag_cols=("amount",),
        ),
        registry=reg,
    )
    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, 0.0), (4, -1.0)], "id long, amount double"
    )
    runner = Runner(spark, {"t": df}, n_buckets=4)
    [r] = runner.run(reg.default_suite()).results
    assert r.status == Status.FAIL and r.n_violations == 2
    assert any("-5.0" in d or "-5" in d for a in r.assertions for d in a.diag)


def test_row_rule_bad_sql_contained_to_one_check(spark, meta_world):
    """An unresolvable violation_sql must fail/skip ONLY its own check —
    the fused run's other checks still produce verdicts (error
    containment parity with run_check)."""
    from ensembl_datacheck_spark.checks.spec_pack import RowRuleSpec, register_spec
    from ensembl_datacheck_spark.registry import Registry
    from ensembl_datacheck_spark.sources import synth

    reg = Registry()
    register_spec(
        RowRuleSpec(
            name="TypoRule",
            description="references a nonexistent column",
            table="sequences",
            violation_sql="n_tokk < 1",
            key_col="doc_id",
        ),
        registry=reg,
    )
    register_spec(
        RowRuleSpec(
            name="GoodRule",
            description="valid rule",
            table="sequences",
            violation_sql="n_tok IS NOT NULL AND n_tok < 0",
            key_col="doc_id",
        ),
        registry=reg,
    )
    seq = synth.gen_sequences(spark, 1000, n_partitions=4, median_tok=16,
                              max_tok=64)
    summary = Runner(spark, {"sequences": seq}, n_buckets=4).run(
        reg.default_suite()
    )
    by_name = {r.check_name: r for r in summary.results}
    assert by_name["TypoRule"].status == Status.FAIL
    assert "n_tokk" in (by_name["TypoRule"].error or "")
    assert by_name["GoodRule"].status == Status.OK


GUARD_NAMES = ["DocIdFormat", "MetaValueNotBlank", "MetaActiveBooleanDomain"]


def test_guard_rules_registered_and_pass_on_fixtures(spark, meta_world):
    """The format/vocabulary guard rules (stable-id format, blank tag
    values, boolean tag domain) are regression tripwires: registered in
    the default suite, OK on both the clean and the injected fixtures
    (the injected defects target other checks)."""
    names = {s.name for s in registry.default_suite()}
    assert set(GUARD_NAMES) <= names
    meta_res = {
        r.check_name: r
        for r in Runner(
            spark,
            {"sources": meta_world["sources"], "meta": meta_world["meta"]},
            n_buckets=8,
        ).run(registry.select(names=GUARD_NAMES[1:])).results
    }
    assert {n: r.status for n, r in meta_res.items()} == {
        n: Status.OK for n in GUARD_NAMES[1:]
    }


def test_doc_id_format_rule_flags_malformed_ids(spark):
    seq = spark.createDataFrame(
        [("doc_000000000001", "src_00", [1, 2], 2),
         ("DOC-BAD-FORMAT", "src_00", [1], 1),
         ("", "src_00", [1], 1),          # blank: completeness, not format
         (None, "src_00", [1], 1)],
        "doc_id string, source string, tokens array<int>, n_tok int",
    )
    res = {
        r.check_name: r
        for r in Runner(spark, {"sequences": seq}, n_buckets=4)
        .run(registry.select(names=["DocIdFormat"])).results
    }
    assert res["DocIdFormat"].status == Status.FAIL
    assert res["DocIdFormat"].n_violations == 1


def test_denormalized_val2_castability_guard(spark):
    """A corrupted non-numeric value on the TABLE2 side surfaces as its
    own castability violation instead of silently vanishing from the
    NULL-skipping sync comparison (ADVICE r2: the guard was previously
    asymmetric — table1-only)."""
    from ensembl_datacheck_spark.checks.spec_pack import (
        DenormalizedSpec,
        register_spec,
    )
    from ensembl_datacheck_spark.registry import Registry

    t1 = spark.createDataFrame(
        [("a", "1.5"), ("b", "2.5")], "k1 string, v1 string"
    )
    t2 = spark.createDataFrame(
        [("a", "1.5"), ("b", "not-a-number")], "k2 string, v2 string"
    )
    reg = Registry()
    register_spec(
        DenormalizedSpec(
            name="SyncGuard",
            description="sync with a val2-side corruption",
            table1="t1", key1="k1", val1="v1",
            table2="t2", key2="k2", val2="v2",
            cast="double",
        ),
        registry=reg,
    )
    [r] = Runner(spark, {"t1": t1, "t2": t2}, n_buckets=4).run(
        reg.default_suite()
    ).results
    assert r.status == Status.FAIL
    by = {a.name: a for a in r.assertions}
    assert by["SyncGuard_value2_castable"].status == Status.FAIL
    assert by["SyncGuard_value_castable"].status == Status.OK
    # null-safe inequality: the try_cast-NULL vs 2.5 pair IS out of sync
    # (NULL-vs-value disagreements no longer silently pass); the
    # castability assertion still names the root cause distinctly
    assert by["SyncGuard_sync"].status == Status.FAIL
    assert by["SyncGuard_sync"].got == 1


NEW_PACK_NAMES = [
    "SequencesWhitespace", "SequencesSourceCase", "SourceCaseConformance",
    "MetaNoDuplicateRows", "SourceWeightShareSum", "MetaPropsJson",
    "BaselineHistBinDomain",
]


def test_round3_pack_registered_and_green_on_synth(spark, meta_world):
    """The round-3 widening declarations are all in the default suite and
    pass on the synthetic world (none of them targets an injected
    defect; the injected meta defects live in other checks)."""
    assert set(NEW_PACK_NAMES) <= {s.name for s in registry.default_suite()}
    seq = synth.gen_sequences(spark, 2000, n_partitions=4, median_tok=16,
                              max_tok=64)
    clean = synth.gen_sequences(spark, 2000, n_partitions=4, median_tok=16,
                                max_tok=64, inject_violations=False)
    tables = {
        "sequences": seq,
        "sources": meta_world["sources"],
        "meta": meta_world["meta"],
        "baseline_stats": synth.gen_baseline_stats(spark, clean),
    }
    res = {r.check_name: r for r in
           Runner(spark, tables, n_buckets=4).run(
               registry.select(names=NEW_PACK_NAMES)).results}
    assert {n: r.status for n, r in res.items()} == {
        n: Status.OK for n in NEW_PACK_NAMES
    }


def test_duplicate_rows_spec(spark):
    """DuplicateRowsSpec: grouped HAVING COUNT(*)>1 (DuplicateXref.pm
    shape) — violations are the duplicated TUPLES with multiplicity,
    not member rows."""
    from ensembl_datacheck_spark.checks.spec_pack import (
        DuplicateRowsSpec,
        register_spec,
    )
    from ensembl_datacheck_spark.registry import Registry

    reg = Registry()
    register_spec(
        DuplicateRowsSpec(
            name="NoDupPairs",
            description="(k, v) pairs unique",
            table="t",
            cols=("k", "v"),
        ),
        registry=reg,
    )
    dup = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 1), ("b", 2), ("c", 3)],
        "k string, v int",
    )
    [r] = Runner(spark, {"t": dup}, n_buckets=4).run(
        reg.default_suite()
    ).results
    # one duplicated tuple ('a', 1) regardless of its multiplicity (3)
    assert r.status == Status.FAIL and r.n_violations == 1
    diags = [d for a in r.assertions for d in a.diag]
    assert any("a" in d and "3" in d for d in diags)

    clean = spark.createDataFrame([("a", 1), ("a", 2)], "k string, v int")
    [r2] = Runner(spark, {"t": clean}, n_buckets=4).run(
        reg.default_suite()
    ).results
    assert r2.status == Status.OK


def test_aggregate_rule_spec(spark):
    """AggregateRuleSpec: tolerance-interval invariant
    (CheckTableSizes.pm:95-110 shape) — in-range passes, out-of-range
    fails with the bounds in the diagnostic, NULL aggregate (empty
    filter result) is a breach, filter_sql applies."""
    from ensembl_datacheck_spark.checks.spec_pack import (
        AggregateRuleSpec,
        register_spec,
    )
    from ensembl_datacheck_spark.registry import Registry

    df = spark.createDataFrame(
        [("x", 0.5, True), ("y", 0.6, True), ("z", 9.0, False)],
        "k string, w double, active boolean",
    )

    def run_one(spec):
        reg = Registry()
        register_spec(spec, registry=reg)
        [r] = Runner(spark, {"t": df}, n_buckets=4).run(
            reg.default_suite()
        ).results
        return r

    ok = run_one(AggregateRuleSpec(
        name="ActiveWeightSum", description="active weights sum ~1",
        table="t", agg_sql="sum(w)", min_value=1.0, max_value=1.2,
        filter_sql="active",
    ))
    assert ok.status == Status.OK

    bad = run_one(AggregateRuleSpec(
        name="AllWeightSum", description="all weights sum ~1",
        table="t", agg_sql="sum(w)", min_value=1.0, max_value=1.2,
    ))
    assert bad.status == Status.FAIL and bad.n_violations == 1
    diags = [d for a in bad.assertions for d in a.diag]
    assert any("10.1" in d for d in diags)

    null_agg = run_one(AggregateRuleSpec(
        name="NoRowsSum", description="sum over empty filter is a breach",
        table="t", agg_sql="sum(w)", min_value=0.0, max_value=1.0,
        filter_sql="k = 'missing'",
    ))
    assert null_agg.status == Status.FAIL


def test_json_value_spec(spark):
    """JsonValueSpec: per-row JSON validity + required fields
    (CheckJSONObjects.pm:44-69) — unparseable documents and missing
    fields fail their own assertions; NULL values are the completeness
    check's business, not this one's."""
    from ensembl_datacheck_spark.checks.spec_pack import (
        JsonValueSpec,
        register_spec,
    )
    from ensembl_datacheck_spark.registry import Registry

    reg = Registry()
    register_spec(
        JsonValueSpec(
            name="PropsJson",
            description="props parse and carry name/active",
            table="m",
            value_col="meta_value",
            key_filter=("meta_key", "props"),
            required_fields=("name", "active"),
        ),
        registry=reg,
    )
    m = spark.createDataFrame(
        [
            ("e1", "props", '{"name": "e1", "active": true}'),   # valid
            ("e2", "props", '{"name": "e2"'),                    # truncated
            ("e3", "props", '{"name": "e3"}'),                   # no active
            ("e4", "props", None),                               # NULL: skip
            ("e5", "other", "not json at all"),                  # filtered out
        ],
        "entity_id string, meta_key string, meta_value string",
    )
    [r] = Runner(spark, {"m": m}, n_buckets=4).run(
        reg.default_suite()
    ).results
    assert r.status == Status.FAIL
    by = {a.name: a for a in r.assertions}
    assert set(by) == {"PropsJson_parses", "PropsJson_has_name",
                       "PropsJson_has_active"}
    assert by["PropsJson_parses"].status == Status.FAIL
    assert any("e2" in d for d in by["PropsJson_parses"].diag)
    assert by["PropsJson_has_active"].status == Status.FAIL
    assert any("e3" in d for d in by["PropsJson_has_active"].diag)
    # e2 (unparseable) fails ONLY the parse assertion — field assertions
    # guard on parseability so one bad document yields one diagnosis,
    # not one per required field
    assert by["PropsJson_has_name"].status == Status.OK

    clean = m.filter("entity_id in ('e1', 'e4', 'e5')")
    [r2] = Runner(spark, {"m": clean}, n_buckets=4).run(
        reg.default_suite()
    ).results
    assert r2.status == Status.OK


def test_whitespace_rule_catches_planted(spark):
    """SequencesWhitespace flags control characters and edge whitespace
    in doc_id/source (WhitespaceCritical.pm:63-67 kin)."""
    seq = synth.gen_sequences(spark, 500, n_partitions=2, median_tok=16,
                              max_tok=64, inject_violations=False)
    planted = seq.unionByName(
        spark.createDataFrame(
            [
                ("doc_bad\r", [1, 2], 2, "src_00"),
                ("doc_ok", [1, 2], 2, " src_00"),
            ],
            "doc_id string, tokens array<int>, n_tok int, source string",
        )
    )
    res = Runner(spark, {"sequences": planted}, n_buckets=4).run(
        registry.select(names=["SequencesWhitespace"])
    ).results
    [r] = res
    assert r.status == Status.FAIL and r.n_violations == 2


def test_tag_value_spec_malformed_value_is_violation_not_error(spark):
    """ANSI mode: a non-numeric tag value must surface as a castability
    VIOLATION (the corruption the check exists to flag), not abort the
    check with CAST_INVALID_INPUT."""
    from ensembl_datacheck_spark.checks.spec_pack import (
        TagValueSpec,
        register_spec,
    )
    from ensembl_datacheck_spark.registry import Registry

    meta = spark.createDataFrame(
        [("s1", "source.weight", "0.5"), ("s2", "source.weight", "oops")],
        "entity_id string, meta_key string, meta_value string",
    )
    reg = Registry()
    register_spec(TagValueSpec(
        name="WeightRangeT", description="t", table="meta",
        entity_col="entity_id", tag_col="meta_key", value_col="meta_value",
        tag_key="source.weight", clauses=(("<=", 1.0),),
    ), registry=reg)
    [res] = Runner(spark, {"meta": meta}, n_buckets=4).run(
        reg.default_suite()
    ).results
    assert res.error is None
    assert res.status.value == "fail"
    by = {a.name: a for a in res.assertions}
    [num_name] = [n for n in by if n.endswith("_numeric")]
    assert by[num_name].got == 1  # the 'oops' row
