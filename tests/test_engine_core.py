"""End-to-end engine tests: registry → runner → verdicts → checkpoint
resume, on the known-violation synthetic fixture (FIXTURES.md §1/§5)."""

from __future__ import annotations

import pytest

import ensembl_datacheck_spark.checks  # noqa: F401  (registers the suite)
from ensembl_datacheck_spark.plans.checkpoint import CheckpointStore
from ensembl_datacheck_spark.plans.runner import Runner, run_check
from ensembl_datacheck_spark.registry import registry
from ensembl_datacheck_spark.sources import synth
from ensembl_datacheck_spark.sources.io import Catalog
from ensembl_datacheck_spark.verdict import Status

EXPECTED = synth.expected_violation_counts(10_000)


def _tables(seq_fixture, baseline="baseline_same"):
    return {
        "sequences": seq_fixture["sequences"],
        "sources": seq_fixture["sources"],
        "baseline_stats": seq_fixture[baseline],
    }


def _by_name(summary):
    return {r.check_name: r for r in summary.results}


def test_registry_selection_and_index(tmp_path):
    assert len(registry) >= 8
    sel = registry.select(groups=["drift"])
    assert {s.name for s in sel} >= {"RowTotals", "SourceDrift", "NTokDrift"}
    sel = registry.select(patterns=["^Token"])
    assert {s.name for s in sel} == {
        "TokenInvariants", "TokenContentDuplicates", "TokenPassageRedundancy",
        "TokenUnigramDrift", "TokenSnapshotEquality", "TokenEvalContamination",
        "TokenRarityProfile", "TokenBoilerplateExcess",
    }
    sel = registry.select(names=["DocIdUnique"], severity="critical")
    assert len(sel) == 1
    # index round-trip (t/index.t semantics)
    p = tmp_path / "index.json"
    registry.write_index(p)
    assert registry.verify_index(p)
    # committed index stays in sync with the live registry
    # (hooks/pre-commit.sh analogue)
    import pathlib

    committed = pathlib.Path(__file__).parent.parent / "ensembl_datacheck_spark" / "index.json"
    assert registry.verify_index(committed), (
        "regenerate with: python -m ensembl_datacheck_spark.cli --write-index "
        "ensembl_datacheck_spark/index.json"
    )
    # CHECKS.md is generated from that index; it must not go stale either
    import subprocess
    import sys

    rc = subprocess.run(
        [sys.executable, "scripts/gen_checks_md.py", "--check"],
        cwd=committed.parent.parent,
        capture_output=True,
        text=True,
    )
    assert rc.returncode == 0, (
        rc.stdout + rc.stderr
        + "\nregenerate with: python scripts/gen_checks_md.py"
    )


def test_full_suite_verdicts_on_dirty_fixture(spark, seq_fixture):
    runner = Runner(spark, _tables(seq_fixture), n_buckets=16)
    summary = runner.run(list(registry), write_checkpoints=False)
    res = _by_name(summary)

    # known-answer verdicts (FIXTURES.md §5)
    comp = res["SequencesCompleteness"]
    assert comp.status == Status.FAIL
    a = {x.name: x for x in comp.assertions}
    assert a["doc_id_null_or_empty"].got == EXPECTED["null_doc_id"] + EXPECTED["empty_doc_id"]
    assert a["tokens_null"].got == EXPECTED["null_tokens"]
    assert a["tokens_empty"].got == EXPECTED["empty_tokens"]

    tok = res["TokenInvariants"]
    at = {x.name: x for x in tok.assertions}
    assert at["token_length_mismatch"].got == EXPECTED["len_mismatch"]
    assert at["token_out_of_domain"].got == EXPECTED["bad_token_rows"]

    dup = res["DocIdUnique"]
    assert dup.status == Status.FAIL
    # dup pairs + the two null-doc_id rows are excluded (null-keyed)
    assert dup.assertions[0].got == EXPECTED["dup_rows"]

    ref = res["SourceReferential"]
    ar = {x.name: x for x in ref.assertions}
    assert ar["source_orphan"].got == EXPECTED["orphan_source_rows"]
    assert ar["source_inactive_has_rows"].got == 0

    # drift vs same-distribution baseline: totals equal-ish, chi2 calm
    assert res["RowTotals"].status == Status.OK
    assert res["SequencesNonEmpty"].status == Status.OK


def test_drift_fails_on_shifted_baseline(spark, seq_fixture):
    runner = Runner(spark, _tables(seq_fixture, "baseline_shifted"), n_buckets=16)
    summary = runner.run(registry.select(groups=["drift"]), write_checkpoints=False)
    res = _by_name(summary)
    assert res["NTokDrift"].status == Status.FAIL  # histogram shifted one bin
    src = res["SourceDrift"]
    # hot source halved in baseline -> current = 2x baseline; subtotals
    # (shrink-only) pass, but chi-square flags the distribution change
    a = {x.name: x for x in src.assertions}
    assert a["source_chi2"].status == Status.FAIL
    # sketch-tier quantile check: baseline quantiles inflated 1.25x by
    # the shifted snapshot breach the 5% relative tolerance
    assert res["NTokQuantileDrift"].status == Status.FAIL
    # unigram baseline grossly reweighted (top-K x30, __other__ halved):
    # both the chi-square and the L1 total-variation bound breach
    uni = {x.name: x for x in res["TokenUnigramDrift"].assertions}
    assert uni["token_unigram_chi2"].status == Status.FAIL
    assert uni["token_unigram_l1"].status == Status.FAIL


def test_quantile_drift_passes_on_same_baseline(spark, seq_fixture):
    runner = Runner(spark, _tables(seq_fixture, "baseline_same"), n_buckets=16)
    summary = runner.run(registry.select(names=["NTokQuantileDrift"]),
                         write_checkpoints=False)
    res = _by_name(summary)
    # approx sketch vs exact snapshot of the same distribution stays
    # inside the 5% relative tolerance
    assert res["NTokQuantileDrift"].status == Status.OK


def test_clean_fixture_all_pass(spark, seq_fixture):
    tables = {
        "sequences": seq_fixture["sequences_clean"],
        "sources": seq_fixture["sources"],
        "baseline_stats": seq_fixture["baseline_same"],
    }
    runner = Runner(spark, tables, n_buckets=16)
    summary = runner.run(list(registry), write_checkpoints=False)
    bad = [r.check_name for r in summary.results if r.status == Status.FAIL]
    assert bad == [], f"unexpected failures: {bad}"
    assert summary.all_passed


def test_unigram_profile_tiers_agree(spark, seq_fixture):
    """The explode-agg histogram vs a Python Counter, bin-for-bin, on the
    DIRTY fixture (null arrays, out-of-domain first elements): NULL/empty
    arrays and NULL/negative elements are skipped, everything else
    counted."""
    from collections import Counter

    from ensembl_datacheck_spark.operators import drift as D

    seq = seq_fixture["sequences"]
    a = {r["token"]: r["count"] for r in D.unigram_profile(seq).collect()}
    b = Counter(
        t for r in seq.select("tokens").collect() for t in (r.tokens or [])
        if t is not None and t >= 0
    )
    assert len(a) > 1000
    assert a == dict(b)


def test_token_unigram_drift_passes_on_same_baseline(spark, seq_fixture):
    tables = {
        "sequences": seq_fixture["sequences_clean"],
        "baseline_stats": seq_fixture["baseline_same"],
    }
    result, _ = run_check(registry.get("TokenUnigramDrift"), spark, tables)
    assert result.status == Status.OK, [
        (x.name, x.got) for x in result.assertions
    ]


def test_token_snapshot_equality_counts_skip_and_forbid_new(spark, seq_fixture):
    from pyspark.sql import functions as F

    spec = registry.get("TokenSnapshotEquality")
    clean = seq_fixture["sequences_clean"]
    snap = synth.gen_sequences_snapshot(spark, clean, n_extra=5)
    # expected counts from the SAME hash predicates the fixture uses
    h = F.pmod(F.xxhash64("doc_id"), F.lit(97))
    hd = F.pmod(F.xxhash64("doc_id"), F.lit(89))
    exp_changed = clean.filter(
        (h == 0) & F.col("tokens").isNotNull() & (F.size("tokens") > 0)
    ).count()
    exp_new = clean.filter((hd == 0) & (h != 0)).count()
    assert exp_changed > 0 and exp_new > 0

    res, viols = run_check(
        spec, spark, {"sequences": clean, "sequences_snapshot": snap}
    )
    a = {x.name: x for x in res.assertions}
    assert res.status == Status.FAIL
    assert a["snapshot_changed"].got == exp_changed
    assert a["snapshot_missing_in_current"].got == 5
    # ADVICE r4: every failing kind gets its own bounded diag sample — a
    # dominant kind (changed >> MAX_DIAG_ROWS here) must not starve the
    # rare kind's diagnostics
    from ensembl_datacheck_spark import assertions as A

    assert exp_changed > A.MAX_DIAG_ROWS
    assert 0 < len(a["snapshot_changed"].diag) <= A.MAX_DIAG_ROWS
    assert 0 < len(a["snapshot_missing_in_current"].diag) <= A.MAX_DIAG_ROWS
    # growth is allowed by default: reported, not failed
    assert a["snapshot_new_in_current"].status == Status.OK
    assert a["snapshot_new_in_current"].got == exp_new
    # violation rows persist distributed, keyed by doc_id
    assert viols and all("key" in v.columns for v in viols)

    # forbid_new flips growth into a failure
    res_fn, _ = run_check(
        spec, spark, {"sequences": clean, "sequences_snapshot": snap},
        config={"snapshot_forbid_new": True},
    )
    afn = {x.name: x for x in res_fn.assertions}
    assert afn["snapshot_new_in_current"].status == Status.FAIL
    assert afn["snapshot_new_in_current"].got == exp_new

    # identical snapshot: every assertion OK
    res_ok, _ = run_check(
        spec, spark, {"sequences": clean, "sequences_snapshot": clean}
    )
    assert res_ok.status == Status.OK

    # snapshot table absent: skip with reason, not crash
    res_skip, _ = run_check(spec, spark, {"sequences": clean})
    assert res_skip.status == Status.SKIP
    assert "sequences_snapshot" in res_skip.skip_reason


def test_error_in_check_is_fail_not_crash(spark, seq_fixture):
    from ensembl_datacheck_spark.registry import CheckSpec

    def boom(ctx):
        raise RuntimeError("synthetic explosion")

    spec = CheckSpec(name="Boom", description="", body=boom)
    result, _ = run_check(spec, spark, _tables(seq_fixture))
    assert result.status == Status.FAIL
    assert "synthetic explosion" in result.error


def test_skip_with_reason(spark, seq_fixture):
    from ensembl_datacheck_spark.registry import CheckSpec

    def skipper(ctx):
        ctx.skip("not applicable here")

    spec = CheckSpec(name="Skippy", description="", body=skipper)
    result, _ = run_check(spec, spark, _tables(seq_fixture))
    assert result.status == Status.SKIP
    assert result.skip_reason == "not applicable here"


def _verdicts(results, violations, names):
    """Per check: status, counts, each assertion's verdict fields, and
    the violation rows as (assertion, partition_id, key)."""
    rows: dict[str, list] = {n: [] for n in names}
    for v in violations:
        for r in v.collect():
            if r["check_name"] in rows:
                rows[r["check_name"]].append(
                    (r["assertion"], r["partition_id"], r["key"]))
    return {
        r.check_name: (
            r.status, r.n_violations, r.n_rows_checked,
            [(a.name, a.status, a.expected, a.got, a.diag)
             for a in r.assertions],
            sorted(rows[r.check_name]),
        )
        for r in results if r.check_name in rows
    }


def _generated_case(spark):
    from ensembl_datacheck_spark.checks.generated import generated_check_specs

    df = spark.createDataFrame(
        [(1, "ok value", "fine"), (2, "NULL", "fine"), (3, "  ", "fine"),
         (4, "trailing ", "fine"), (5, "tab\there", "fine")],
        "id int, a string, b string",
    )
    specs = generated_check_specs("t", df)
    return specs, specs, {"t": df}, {
        "fact_table": "t", "bucket_key": "id", "n_buckets": 4}


@pytest.mark.parametrize("case", ["registry", "generated"])
def test_standalone_row_fused_check_matches_full_run(spark, seq_fixture,
                                                     case):
    """A standalone run_check of any check returns the verdict and
    violation rows a full Runner.run gives it: every default-suite
    check, body and row-fused, on the dirty fixture, and both generated
    sweeps on their own table."""
    if case == "registry":
        checks = suite = registry.default_suite()
        assert {s.name for s in registry if s.row_predicates is not None
                } <= {s.name for s in suite}
        tables = _tables(seq_fixture)
        kw = {"n_buckets": 16}
    else:
        checks, suite, tables, kw = _generated_case(spark)
    names = {s.name for s in checks}
    full_viols: list = []
    full = Runner(spark, tables, **kw).run(
        suite, write_checkpoints=False, violations_sink=full_viols.append)
    want = _verdicts(full.results, full_viols, names)
    kw.pop("fact_table", None)
    got: dict = {}
    for s in checks:
        res, viols = run_check(s, spark, tables, **kw)
        got.update(_verdicts([res], viols, {s.name}))
    assert got == want
    assert any(v[0] == Status.FAIL for v in want.values())


@pytest.mark.parametrize("impl", ["both", "neither"])
def test_check_spec_needs_exactly_one_implementation(impl):
    from ensembl_datacheck_spark.registry import CheckSpec

    def fn(ctx, *scan):
        return None

    kw = ({"body": fn, "row_predicates": fn} if impl == "both" else {})
    with pytest.raises(ValueError, match="exactly one of body"):
        CheckSpec(name="Twice", description="", **kw)


def test_checkpoint_resume(spark, seq_fixture, tmp_path):
    """Kill-and-resume semantics (FIXTURES.md §4): after a clean run,
    rerunning skips everything; after input change, lineage mismatch
    forces full re-validation."""
    catalog = Catalog(spark, tmp_path / "warehouse")
    store = CheckpointStore(catalog)
    tables = {
        "sequences": seq_fixture["sequences_clean"],
        "sources": seq_fixture["sources"],
        "baseline_stats": seq_fixture["baseline_same"],
    }
    specs = registry.select(names=["DocIdUnique", "SequencesCompleteness",
                                  "TokenInvariants", "SourceReferential"])
    r1 = Runner(spark, tables, n_buckets=16, checkpoint_store=store,
                lineage="snap-A")
    s1 = r1.run(specs)
    assert s1.all_passed
    cp = store.load()
    # per-partition checks wrote one row per bucket
    assert cp.filter("check_name = 'DocIdUnique'").count() == 16

    # rerun same lineage: everything skipped, no new checkpoint rows
    r2 = Runner(spark, tables, n_buckets=16, checkpoint_store=store,
                lineage="snap-A")
    s2 = r2.run(specs)
    assert all(r.status == Status.SKIP for r in s2.results), [
        (r.check_name, r.status) for r in s2.results
    ]

    # changed input (new lineage): full re-validation
    r3 = Runner(spark, tables, n_buckets=16, checkpoint_store=store,
                lineage="snap-B")
    s3 = r3.run(specs)
    assert all(r.status == Status.OK for r in s3.results)


def test_checkpoint_partial_resume(spark, seq_fixture, tmp_path):
    """Pre-populate K of M partitions complete → rerun validates exactly
    M−K partitions."""
    import time

    from ensembl_datacheck_spark.plans.checkpoint import CheckpointRow

    catalog = Catalog(spark, tmp_path / "warehouse2")
    store = CheckpointStore(catalog)
    now = time.time()
    done = [
        # the runner namespaces lineage with bucket count + key
        CheckpointRow("run_pre", "DocIdUnique", b, "ok", now - 10, now,
                      100, 0, "snap-A#nb16#bkdoc_id")
        for b in range(10)  # 10 of 16 buckets done
    ]
    store.append(done)
    tables = {
        "sequences": seq_fixture["sequences_clean"],
        "sources": seq_fixture["sources"],
    }
    r = Runner(spark, tables, n_buckets=16, checkpoint_store=store,
               lineage="snap-A")
    s = r.run(registry.select(names=["DocIdUnique"]))
    assert s.all_passed
    cp = store.load().filter("run_id != 'run_pre'")
    new_buckets = sorted(r["partition_id"] for r in cp.select("partition_id").collect())
    assert new_buckets == list(range(10, 16))


def test_violations_sink_and_reports(spark, seq_fixture, tmp_path):
    catalog = Catalog(spark, tmp_path / "wh3")
    sink_calls = []
    runner = Runner(spark, _tables(seq_fixture), n_buckets=16)
    summary = runner.run(
        registry.select(names=["SequencesCompleteness", "DocIdUnique",
                               "SourceReferential", "TokenInvariants"]),
        write_checkpoints=False,
        violations_sink=lambda df: sink_calls.append(
            catalog.write(df, "violations")
        ),
    )
    assert len(sink_calls) == 1
    viol = catalog.load("violations")
    total = viol.count()
    expected_total = (
        EXPECTED["null_doc_id"] + EXPECTED["empty_doc_id"]
        + EXPECTED["null_tokens"] + EXPECTED["empty_tokens"]
        + EXPECTED["len_mismatch"] + EXPECTED["bad_token_rows"]
        + EXPECTED["dup_rows"] + EXPECTED["orphan_source_rows"]
    )
    assert total == expected_total
    assert set(viol.columns) == {"check_name", "assertion", "partition_id",
                                 "key", "detail"}
    # report rendering
    j = summary.to_dict(failures_only=True)
    assert j["failed"] >= 3
    tap = "\n".join(r.to_tap() for r in summary.results)
    assert "not ok" in tap and "# Subtest" in tap


def test_token_content_duplicates_check(spark):
    """Advisory content-dup check: identical token arrays under different
    doc_ids fail; unique content passes."""
    spec = registry.get("TokenContentDuplicates")
    # note ("b", n_tok=2): a corrupted n_tok must not split a true
    # content-dup group (grouping is on the content hash alone)
    dup = spark.createDataFrame(
        [("a", [1, 2, 3], 3, "s"), ("b", [1, 2, 3], 2, "s"),
         ("c", [3, 2, 1], 3, "s"), ("d", None, 0, "s"), ("e", None, 0, "s"),
         ("f", [], 0, "s"), ("g", [], 0, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    res, viols = run_check(spec, spark, {"sequences": dup}, n_buckets=4)
    assert res.status.value == "fail"
    assert res.assertions[0].got == 1  # only the (a,b) group; null/empty exempt

    from pyspark.sql import functions as F

    uniq = dup.filter(F.col("doc_id").isin("a", "c"))
    res2, _ = run_check(spec, spark, {"sequences": uniq}, n_buckets=4)
    assert res2.status.value == "ok"


def test_fused_check_missing_table_skips_not_crashes(spark):
    """A fused check whose predicate factory needs an absent table must
    skip; its fused siblings still run (error containment in the shared
    scan)."""
    seq = synth.gen_sequences(spark, 2_000, 4, median_tok=16, max_tok=64)
    summary = Runner(spark, {"sequences": seq}, n_buckets=8).run(
        registry.default_suite()
    )
    by = {r.check_name: r for r in summary.results}
    assert by["SourceReferential"].status == Status.SKIP
    assert "sources" in (by["SourceReferential"].skip_reason or "")
    # fused sibling without the missing dependency still produced verdicts
    assert by["SequencesCompleteness"].assertions


def test_skipped_check_writes_no_ok_checkpoints(spark, tmp_path):
    """A skipped check must leave NO checkpoint rows — recording 'ok'
    buckets would make resume silently skip it forever."""
    from ensembl_datacheck_spark.sources.io import Catalog

    seq = synth.gen_sequences(spark, 2_000, 4, median_tok=16, max_tok=64)
    catalog = Catalog(spark, tmp_path / "wh")
    store = CheckpointStore(catalog)
    # no 'sources' table -> SourceReferential (fused) and SourcesUsed skip
    r1 = Runner(spark, {"sequences": seq}, n_buckets=8,
                checkpoint_store=store, lineage="L")
    s1 = r1.run(registry.default_suite())
    skipped = {r.check_name for r in s1.results if r.status == Status.SKIP}
    assert "SourceReferential" in skipped
    cp = store.load()  # appends live in per-batch subdirs
    recorded = {r["check_name"] for r in cp.select("check_name").distinct().collect()}
    assert recorded.isdisjoint(skipped)
    # re-run WITH the table: previously-skipped checks actually execute
    r2 = Runner(spark, {"sequences": seq, "sources": synth.gen_sources(spark)},
                n_buckets=8, checkpoint_store=store, lineage="L")
    s2 = r2.run(registry.default_suite())
    sr = next(r for r in s2.results if r.check_name == "SourceReferential")
    assert sr.status != Status.SKIP or "previous run" not in (sr.skip_reason or "")
    assert sr.assertions, "check must have really executed after resume"


def test_fleet_isolates_broken_target(spark):
    """One corrupt database must not abort its siblings."""
    from ensembl_datacheck_spark.plans.fleet import DbTarget, run_fleet

    good = DbTarget("good", {
        "sequences": synth.gen_sequences(spark, 1_000, 2, median_tok=16,
                                         max_tok=64, inject_violations=False),
        "sources": synth.gen_sources(spark),
    })
    class Boom:
        def __getattr__(self, item):
            raise RuntimeError("corrupt table")
    bad = DbTarget("bad", {"sequences": Boom()})
    fleet = run_fleet(spark, [good, bad], registry.default_suite(), n_buckets=4)
    assert "good" in fleet.by_db
    assert "bad" in fleet.errors and "corrupt table" in fleet.errors["bad"]
    assert not fleet.all_passed


def test_concurrent_checkpoint_appends_from_separate_stores(spark, tmp_path):
    """Two CheckpointStore instances (as two drivers sharing a warehouse
    would be — separate locks) appending concurrently must both land:
    each append commits its own subdirectory, so there is no shared
    _temporary committer dir to clobber."""
    import time as _t
    from concurrent.futures import ThreadPoolExecutor

    from ensembl_datacheck_spark.plans.checkpoint import CheckpointRow
    from ensembl_datacheck_spark.sources.io import Catalog

    cat = Catalog(spark, tmp_path / "wh")
    stores = [CheckpointStore(cat), CheckpointStore(cat)]
    now = _t.time()

    def append(i):
        rows = [CheckpointRow(f"run_{i}", f"Check{i}", b, "ok", now, now + 1,
                              10, 0, "L") for b in range(8)]
        stores[i].append(rows)

    with ThreadPoolExecutor(max_workers=2) as pool:
        list(pool.map(append, [0, 1]))

    cp = stores[0].load()
    assert cp.count() == 16
    assert {r["check_name"] for r in cp.select("check_name").distinct().collect()} \
        == {"Check0", "Check1"}


def test_completed_map_sees_another_stores_append(spark, tmp_path):
    """A store outlives runs, so its completed map must not be cached:
    after store B records 'fail' for a bucket store A has read as 'ok',
    A's next completed_map no longer lists that bucket."""
    import time as _t

    from ensembl_datacheck_spark.plans.checkpoint import CheckpointRow

    cat = Catalog(spark, tmp_path / "wh")
    a, b = CheckpointStore(cat), CheckpointStore(cat)
    now = _t.time()
    a.append([CheckpointRow("run_1", "C", p, "ok", now, now + 1, 10, 0, "L")
              for p in range(4)])
    done, rows = a.completed_map("L")
    assert done == {"C": {0, 1, 2, 3}}
    assert rows == {p: 10 for p in range(4)}
    b.append([CheckpointRow("run_2", "C", 2, "fail", now + 2, now + 3, 10, 1,
                            "L")])
    assert a.completed_map("L")[0] == {"C": {0, 1, 3}}


def test_cross_database_lookup_s25(spark, tmp_path):
    """S25 full tier: named catalog namespaces + cross-database join +
    checks resolving qualified table names through the session catalog."""
    from pyspark.sql import functions as F

    from ensembl_datacheck_spark.plans.runner import Runner
    from ensembl_datacheck_spark.registry import Registry, register
    from ensembl_datacheck_spark.sources.io import register_database

    core = str(tmp_path / "core_nation")
    func = str(tmp_path / "funcgen_counts")
    spark.createDataFrame(
        [(0, "ALGERIA"), (1, "ARGENTINA")], "n_nationkey long, n_name string"
    ).write.mode("overwrite").parquet(core)
    spark.createDataFrame(
        [(0, 10), (1, 20), (7, 5)], "n_nationkey long, n_features long"
    ).write.mode("overwrite").parquet(func)
    register_database(spark, "coredb", {"nation": core})
    register_database(spark, "funcgendb", {"counts": func})

    # cross-namespace join, addressed by qualified names
    joined = spark.table("funcgendb.counts").join(
        spark.table("coredb.nation"), "n_nationkey", "left_anti"
    )
    assert [r["n_nationkey"] for r in joined.collect()] == [7]

    # a check pulling a sibling-database table via ctx.table("db.table")
    reg = Registry()

    @register("CrossDbOrphans", "funcgen rows must reference core nations",
              tables=("funcgendb.counts", "coredb.nation"), _registry=reg)
    def body(ctx):
        from ensembl_datacheck_spark import assertions as A

        ctx.record(
            A.fk(ctx.table("funcgendb.counts"), "n_nationkey",
                 ctx.table("coredb.nation"), "n_nationkey",
                 "funcgen_nation_fk"),
            key_col="n_nationkey",
        )

    summary = Runner(spark, {}, n_buckets=4).run(reg.default_suite())
    [res] = summary.results
    assert res.status.value == "fail" and res.n_violations == 1

    # missing namespace -> skip with reason, not a crash
    @register("MissingDb", "absent namespace skips",
              tables=("nosuchdb.t",), _registry=reg)
    def body2(ctx):
        ctx.table("nosuchdb.t")

    summary2 = Runner(spark, {}, n_buckets=4).run(reg.select(names=["MissingDb"]))
    [res2] = summary2.results
    assert res2.status.value == "skip" and "nosuchdb.t" in res2.skip_reason


def test_register_database_rejects_injectable_names(spark, tmp_path):
    """DDL assembled textually must validate/quote identifiers and
    locations — a quote or backtick in any of them must raise, not break
    or inject SQL (VERDICT r2 item 4)."""
    import pytest as _pytest

    from ensembl_datacheck_spark.sources.io import register_database

    ok_path = str(tmp_path / "t_ok")
    spark.range(3).write.parquet(ok_path)
    with _pytest.raises(ValueError, match="invalid database name"):
        register_database(spark, "bad`db", {"t": ok_path})
    with _pytest.raises(ValueError, match="invalid table name"):
        register_database(spark, "okdb", {"bad name": ok_path})
    with _pytest.raises(ValueError, match="invalid table location"):
        register_database(spark, "okdb", {"t": ok_path + "'--"})
    # '.' rejected: _sql_ident quotes ONE segment — 'a.b' would register a
    # database literally named "a.b", addressable only as `a.b`.t
    # (ADVICE r3)
    with _pytest.raises(ValueError, match="no dots"):
        register_database(spark, "a.b", {"t": ok_path})
    with _pytest.raises(ValueError, match="unsupported format"):
        register_database(spark, "okdb", {"t": ok_path}, fmt="parquet; DROP")
    try:
        register_database(spark, "okdb_quoted", {"t": ok_path})
        assert spark.table("okdb_quoted.t").count() == 3
    finally:
        spark.sql("DROP TABLE IF EXISTS okdb_quoted.t")
        spark.sql("DROP DATABASE IF EXISTS okdb_quoted")
        spark.sql("DROP DATABASE IF EXISTS okdb")  # created before the raise


def test_lineage_reads_iceberg_snapshot_id_without_runtime(spark, tmp_path):
    """Iceberg table metadata is plain JSON on storage: lineage() returns
    the current snapshot id straight from metadata/vN.metadata.json, so
    the freshness gate (DbCheck.pm:806-820 analogue) maps to snapshot
    ids even where the Iceberg Spark runtime is absent."""
    import json

    cat = Catalog(spark, tmp_path / "wh_ice")
    t = tmp_path / "wh_ice" / "seq"
    (t / "metadata").mkdir(parents=True)
    (t / "metadata" / "v1.metadata.json").write_text(
        json.dumps({"current-snapshot-id": 111})
    )
    (t / "metadata" / "v2.metadata.json").write_text(
        json.dumps({"current-snapshot-id": 2222})
    )
    # no version hint: highest-numbered metadata file wins
    assert cat.lineage("seq") == "iceberg-snapshot:2222"
    (t / "metadata" / "version-hint.text").write_text("1")
    assert cat.lineage("seq") == "iceberg-snapshot:111"
    # a plain parquet dir still gets the manifest-hash lineage
    cat.write(spark.range(4).toDF("id"), "plain")
    assert not cat.lineage("plain").startswith("iceberg-snapshot:")


def test_catalog_iceberg_arm_roundtrip(spark, tmp_path):
    """format('iceberg') read/write arm — runs only where the runtime
    jars are present.  This sandbox has no network and no vendored jar,
    so the skip is a DECISION documented here and in README.md
    ("Iceberg runtime"): supply the artifact matching the installed
    PySpark (see skip reason) via spark.jars.packages / --packages /
    spark.jars and this test runs unmodified."""
    import pytest as _pytest
    from pyspark import __version__ as _pyspark_ver

    cat = Catalog(spark, tmp_path / "wh_ice2")
    if not cat.use_iceberg:
        major_minor = ".".join(_pyspark_ver.split(".")[:2])
        _pytest.skip(
            "Iceberg runtime not on the classpath: missing "
            f"org.apache.iceberg:iceberg-spark-runtime-{major_minor}_2.13 "
            "(no network in this sandbox to resolve it; supply via "
            "spark.jars.packages or spark.jars — see README.md "
            "'Iceberg runtime')"
        )
    cat.write(spark.range(5).toDF("id"), "t")
    assert cat.load("t").count() == 5
    assert cat.lineage("t").startswith("iceberg-snapshot:")


def test_token_passage_redundancy_check(spark):
    """Advisory redundancy check: a corpus where half the 2-token
    passages are copies breaches the default 0.2 threshold; a
    distinct-passage corpus passes; threshold is configurable."""
    spec = registry.get("TokenPassageRedundancy")
    # 4 docs x 2 passages of k=2; docs c,d duplicate a,b passage-for-
    # passage -> 8 passages, 4 redundant -> dup_fraction = 0.5
    dup = spark.createDataFrame(
        [("a", [1, 2, 3, 4], 4, "s"), ("b", [5, 6, 7, 8], 4, "s"),
         ("c", [1, 2, 3, 4], 4, "s"), ("d", [5, 6, 7, 8], 4, "s"),
         ("e", None, 0, "s"), ("f", [], 0, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    res, _ = run_check(spec, spark, {"sequences": dup},
                       config={"passage_tokens": 2}, n_buckets=4)
    assert res.status.value == "fail"
    assert "0.2" in res.assertions[0].name

    uniq = dup.filter("doc_id IN ('a', 'b', 'e', 'f')")
    res2, _ = run_check(spec, spark, {"sequences": uniq},
                        config={"passage_tokens": 2}, n_buckets=4)
    assert res2.status.value == "ok"

    # raising the threshold past the measured 0.5 flips the verdict
    res3, _ = run_check(
        spec, spark, {"sequences": dup},
        config={"passage_tokens": 2, "max_dup_passage_fraction": 0.6},
        n_buckets=4,
    )
    assert res3.status.value == "ok"


def test_token_eval_contamination_check(spark):
    """Leakage check: an eval-source doc whose 2-token shingles all occur
    in the train sources breaches the default threshold (FAIL with the
    leaked doc as the violation row); a disjoint eval passes; a corpus
    with no eval-source rows skips with a reason."""
    spec = registry.get("TokenEvalContamination")
    rows = [
        ("t1", [1, 2, 3, 4, 5], 5, "src_00"),
        ("t2", [9, 9, 9, 9], 4, "src_01"),
        ("leaked", [1, 2, 3, 4], 4, "src_19"),     # every 2-shingle in t1
        ("clean", [70, 80, 90], 3, "src_19"),      # disjoint from train
    ]
    seq = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    res, _ = run_check(spec, spark, {"sequences": seq},
                       config={"contamination_k": 2}, n_buckets=4)
    assert res.status == Status.FAIL
    [a] = res.assertions
    assert a.got == 1  # exactly the leaked doc
    res2, _ = run_check(
        spec, spark, {"sequences": seq.filter("doc_id <> 'leaked'")},
        config={"contamination_k": 2}, n_buckets=4,
    )
    assert res2.status == Status.OK
    res3, _ = run_check(
        spec, spark, {"sequences": seq.filter("source <> 'src_19'")},
        config={"contamination_k": 2}, n_buckets=4,
    )
    assert res3.skip_reason is not None and "src_19" in res3.skip_reason


def test_shared_fact_profile_one_scan_and_parity(spark, seq_fixture, monkeypatch):
    """The aggregate-check family (SequencesStats, RowTotals, SourceDrift,
    NTokDrift, NTokQuantileDrift, SourcesUsed) shares ONE profile-cube
    build per Runner run (operators/profile.fact_profile called exactly
    once), and the collected summary's numbers equal the direct
    per-check aggregations they replaced."""
    import ensembl_datacheck_spark.checks.core as core
    from ensembl_datacheck_spark.operators import profile as P
    from pyspark.sql import functions as F

    calls = {"n": 0}
    orig = P.fact_profile

    def counting(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    monkeypatch.setattr(core.P, "fact_profile", counting)
    names = ["SequencesStats", "RowTotals", "SourceDrift", "NTokDrift",
             "NTokQuantileDrift", "SourcesUsed"]
    runner = Runner(spark, _tables(seq_fixture), n_buckets=16)
    summary = runner.run(registry.select(names=names), write_checkpoints=False)
    assert calls["n"] == 1, "profile cube must be built once per run"
    assert {r.check_name for r in summary.results} == set(names)
    # every check produced a real verdict (none errored out)
    assert all(r.error is None for r in summary.results)

    # parity: the collected summary == direct aggregations over the fact
    # table, NULL source and NULL n_tok rows included
    from ensembl_datacheck_spark.operators import drift as D
    from ensembl_datacheck_spark.sources.synth import ntok_bin

    seq = seq_fixture["sequences"]
    fact = seq.unionByName(spark.createDataFrame([
        ("null_ntok", [1], None, "src_00"),
        ("null_source", [1, 2], 2, None),
        (None, [3], None, None),
    ], "doc_id string, tokens array<int>, n_tok int, source string"))
    got = P.profile_summary(orig(fact), ntok_bin())
    assert got.n_rows == fact.count()
    for c in ("doc_id", "source", "n_tok"):
        assert got.null_counts[c] == fact.filter(F.col(c).isNull()).count(), c
    assert got.null_counts["source"] > 0 and got.null_counts["n_tok"] > 0
    nn = fact.filter(F.col("n_tok").isNotNull())
    direct_minmax = nn.agg(F.min("n_tok"), F.max("n_tok")).collect()[0]
    assert (got.ntok_min, got.ntok_max) == tuple(direct_minmax)
    direct_src = {
        r["source"]: r["count"] for r in fact.groupBy("source").count().collect()
    }
    assert None in direct_src and got.source_counts == direct_src
    direct_hist = dict(D.collect_histogram(D.build_histogram(nn, ntok_bin())))
    assert {str(b): float(n) for b, n in got.ntok_bins.items()} == direct_hist

    # empty table: grouping sets yield no global row, the summary still
    # reads zero rows and no n_tok range
    empty = P.profile_summary(orig(seq.filter(F.lit(False))), ntok_bin())
    assert empty == P.ProfileSummary(
        n_rows=0, null_counts={"doc_id": 0, "source": 0, "n_tok": 0},
        ntok_min=None, ntok_max=None, source_counts={}, ntok_bins={})


def test_driver_side_drift_rows_match_distributed(spark):
    """drift.category_drift_rows (SourceDrift's driver-side comparison)
    returns exactly the rows of drift.category_drift_violations on the
    same inputs, in both directions and under both tolerance kinds:
    NULL categories, NULL and NaN counts and repeated categories
    included."""
    from ensembl_datacheck_spark.operators import drift as D

    nan = float("nan")
    cur = [("a", 100), ("b", 50), (None, 7), ("c", 0), ("g", 9)]
    base = [("a", 100.0), ("b", 100.0), ("d", 30.0), (None, 5.0),
            ("e", None), ("a", 200.0), ("f", nan), ("g", 0.0), ("c", nan)]

    def frame(rows):
        return spark.createDataFrame(
            [(k, None if v is None else float(v)) for k, v in rows],
            "source string, n double")

    for tol in (D.Tolerance(min_proportion=0.75),
                D.Tolerance(window=(0.95, 1.10)),
                D.Tolerance(min_proportion=0.5, window=(0.9, 1.2))):
        for c, b in ((cur, base), (base, cur)):
            want = D.category_drift_violations(
                frame(c), frame(b), "source", tol, count_col="n",
                baseline_count_col="n").collect()
            got = D.category_drift_rows(c, b, tol)
            assert sorted(map(str, got)) == sorted(
                str(tuple(r)) for r in want), (tol, c is cur)


def test_source_checks_driver_verdicts_match_distributed(spark, seq_fixture):
    """SourceDrift (both directions) and SourcesUsed judge from the
    collected profile summary on the driver; their violation rows equal
    the distributed plans on the same inputs: category_drift_violations
    over fact.groupBy(source) and a left-anti join of the active
    sources, with a dropped active source, a shifted baseline and an
    active source with a NULL name."""
    import json

    from pyspark.sql import functions as F

    from ensembl_datacheck_spark.operators import drift as D

    sources = seq_fixture["sources"].unionByName(spark.createDataFrame(
        [(None, 0.0, True)], seq_fixture["sources"].schema))
    fact = seq_fixture["sequences"].filter(F.col("source") != "src_01")
    base = seq_fixture["baseline_shifted"]
    tables = {"sequences": fact, "sources": sources, "baseline_stats": base}
    cfg = {"source_drift_bidirectional": True}

    def rows(viols, assertion):
        return sorted((
            (r["key"], tuple(sorted(json.loads(r["detail"] or "{}").items())))
            for v in viols for r in v.filter(
                F.col("assertion") == assertion).collect()), key=repr)

    res, viols = run_check(registry.get("SourceDrift"), spark, tables, cfg)
    assert res.error is None, res.error
    cur = fact.groupBy("source").count()
    base_kv = base.filter(F.col("stat_key") == "source_count").select(
        F.col("category").alias("source"), "value")
    tol = D.Tolerance(min_proportion=0.75)
    fwd = D.category_drift_violations(cur, base_kv, "source", tol)
    rev = D.category_drift_violations(
        base_kv.withColumnRenamed("value", "count"),
        cur.withColumnRenamed("count", "value"), "source", tol)

    def want(df):
        return sorted((
            (r["category"], (("base_count", r["base_count"]),
                             ("cur_count", r["cur_count"])))
            for r in df.collect()), key=repr)

    assert rows(viols, "source_subtotals") == want(fwd) != []
    assert rows(viols, "source_subtotals_reverse") == want(rev) != []
    got = {a.name: a.got for a in res.assertions}
    assert got["source_subtotals"] == fwd.count()
    assert got["source_subtotals_reverse"] == rev.count()

    res, viols = run_check(registry.get("SourcesUsed"), spark, tables)
    missing = sources.filter(F.col("active")).join(
        fact.select("source"), "source", "left_anti")
    assert rows(viols, "active_source_has_rows") == sorted(
        ((r["source"], ()) for r in missing.collect()), key=repr)
    assert res.assertions[0].got == missing.count() >= 2


def _gen_checks_md(tmp_path, monkeypatch, arg):
    """scripts/gen_checks_md.py loaded as a module, pointed at a tmp tree
    holding only index.json, with ``arg`` as its command line."""
    import importlib.util
    import pathlib
    import shutil
    import sys as _sys

    repo = pathlib.Path(__file__).parent.parent
    spec = importlib.util.spec_from_file_location(
        "gen_checks_md", repo / "scripts" / "gen_checks_md.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    (tmp_path / "ensembl_datacheck_spark").mkdir()
    shutil.copy(
        repo / "ensembl_datacheck_spark" / "index.json",
        tmp_path / "ensembl_datacheck_spark" / "index.json",
    )
    monkeypatch.setattr(mod, "REPO", str(tmp_path))
    monkeypatch.setattr(_sys, "argv", ["gen_checks_md.py", arg])
    return mod


def test_gen_checks_md_check_mode_reports_missing_file(tmp_path, capsys, monkeypatch):
    """--check on a tree without CHECKS.md reports stale (exit 1), not a
    FileNotFoundError traceback."""
    mod = _gen_checks_md(tmp_path, monkeypatch, "--check")
    assert mod.main() == 1
    assert "stale" in capsys.readouterr().out


@pytest.mark.parametrize("arg, code", [("--help", 0), ("--no-such-flag", 2)])
def test_gen_checks_md_help_and_bad_args_write_nothing(tmp_path, capsys,
                                                       monkeypatch, arg, code):
    """--help prints usage and an unknown argument exits 2; neither
    writes CHECKS.md."""
    mod = _gen_checks_md(tmp_path, monkeypatch, arg)
    with pytest.raises(SystemExit) as exc:
        mod.main()
    assert exc.value.code == code
    assert "usage:" in "".join(capsys.readouterr())
    assert not (tmp_path / "CHECKS.md").exists()


def test_register_database_rejects_jdbc_format(spark):
    """jdbc is readable via read_table but has no LOCATION semantics —
    'USING jdbc LOCATION <url>' creates a table whose every SELECT fails,
    so register_database refuses it up front."""
    import pytest as _pytest

    from ensembl_datacheck_spark.sources.io import register_database

    with _pytest.raises(ValueError, match="unsupported format"):
        register_database(spark, "okdb2", {"t": "jdbc:mysql://h/db"},
                          fmt="jdbc")


def test_catalog_exists_tolerates_stray_file(spark, tmp_path):
    """A plain FILE at a table path answers False, not
    NotADirectoryError from iterdir."""
    wh = tmp_path / "wh_stray"
    cat = Catalog(spark, wh)
    (wh / "checkpoints").write_text("not a table")
    assert cat.exists("checkpoints") is False


def test_manifest_lineage_file_churn_and_single_file(tmp_path):
    from ensembl_datacheck_spark.sources.io import manifest_lineage

    d = tmp_path / "tbl"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"aaaa")
    (d / "_SUCCESS").write_text("")          # marker files excluded
    l1 = manifest_lineage(d)
    (d / "_SUCCESS").write_text("x")
    assert manifest_lineage(d) == l1         # marker churn is invisible
    (d / "part-0.parquet").write_bytes(b"aaaab")
    assert manifest_lineage(d) != l1         # data churn is not
    # csv/json data files count too (not just parquet)
    (d / "part-1.csv").write_text("a,b\n")
    l3 = manifest_lineage(d)
    assert l3 != l1
    # single plain file: hashed directly
    f = tmp_path / "one.csv"
    f.write_text("x\n")
    assert manifest_lineage(f)


def test_empty_lineage_still_namespaced_by_bucket_count(spark, seq_fixture):
    """An EMPTY input lineage still resumes against the checkpoint store,
    so it carries the bucket-count namespace too: old partition ids from
    a different n_buckets must never be reinterpreted."""
    r8 = Runner(spark, {"sequences": seq_fixture["sequences_clean"]},
                n_buckets=8)
    r16 = Runner(spark, {"sequences": seq_fixture["sequences_clean"]},
                 n_buckets=16)
    assert r8.lineage == "#nb8#bkdoc_id"
    assert r16.lineage == "#nb16#bkdoc_id"


def test_tap_never_renders_skip_for_a_failing_check():
    """skip_reason + error together resolve to FAIL (error wins): the TAP
    line must be 'not ok', never 'ok ... # SKIP' — a SKIP directive would
    make TAP consumers count the failure as a pass, contradicting the
    JSON report and the exit code."""
    from ensembl_datacheck_spark.verdict import CheckResult

    r = CheckResult(check_name="c", skip_reason="waiting on table",
                    error="boom")
    assert r.status == Status.FAIL
    tap = r.to_tap(test_number=1)
    assert "not ok 1 - c" in tap
    assert "# SKIP" not in tap
    assert "# ERROR: boom" in tap
    # pure skip still renders the SKIP directive
    s = CheckResult(check_name="c2", skip_reason="no eval source")
    assert "# SKIP no eval source" in s.to_tap(test_number=2)


def test_unattributed_per_partition_failure_poisons_buckets(spark, seq_fixture, tmp_path):
    """A per-partition check whose failure carries only a -1-keyed
    (unattributed) violation count must checkpoint its pending buckets
    'fail' — {-1: n} previously marked every bucket 'ok' and the failure
    was skipped forever on the next resume."""
    from ensembl_datacheck_spark import assertions as A
    from ensembl_datacheck_spark.registry import CheckSpec

    def body(ctx):
        # count-style failing assertion, no violation frame: expected=0,
        # got=3 -> n_violations=3 with no bucket attribution
        ctx.record(A.is_rows(
            ctx.table("sequences").limit(3), 0, "three_rows_somewhere"))

    spec = CheckSpec(name="UnattributedFail", description="", body=body,
                     per_partition=True)
    store = CheckpointStore(Catalog(spark, tmp_path / "wh_unattr"))
    r = Runner(spark, {"sequences": seq_fixture["sequences_clean"]},
               n_buckets=8, checkpoint_store=store, lineage="u1")
    s = r.run([spec])
    assert s.results[0].status == Status.FAIL
    cp = store.load().select("partition_id", "status").collect()
    assert {row["status"] for row in cp} == {"fail"}
    # resume re-runs (nothing was falsely marked ok)
    r2 = Runner(spark, {"sequences": seq_fixture["sequences_clean"]},
                n_buckets=8, checkpoint_store=store, lineage="u1")
    s2 = r2.run([spec])
    assert s2.results[0].skip_reason is None
    assert s2.results[0].status == Status.FAIL


def test_comparison_assertion_does_not_inflate_violation_count(spark, seq_fixture):
    """A failing COUNT-COMPARISON assertion carries the observed total in
    `got` (e.g. 10k rows vs expected 5) — that is not a violation count
    and must not be added to n_violations."""
    from ensembl_datacheck_spark import assertions as A
    from ensembl_datacheck_spark.registry import CheckSpec

    def body(ctx):
        ctx.record(A.is_rows(ctx.table("sequences"), 5, "exactly_five"))

    spec = CheckSpec(name="CmpOnly", description="", body=body)
    res, _ = run_check(spec, spark,
                       {"sequences": seq_fixture["sequences_clean"]})
    assert res.status == Status.FAIL
    assert res.n_violations == 0   # 10_000 observed rows are not violations


def test_denormalized_flags_null_vs_value_disagreement(spark):
    from ensembl_datacheck_spark import assertions as A

    t1 = spark.createDataFrame([(1, None), (2, "x"), (3, None)],
                               "k long, v string")
    t2 = spark.createDataFrame([(1, "x"), (2, "x"), (3, None)],
                               "k long, v string")
    ar, viol = A.denormalized(t1, "k", "v", t2, "k", "v", "sync")
    assert ar.status == Status.FAIL
    assert ar.got == 1                      # key 1: NULL vs 'x'
    assert [r["k"] for r in viol.collect()] == [1]


def test_array_diff_null_in_both_sides_is_not_a_difference(spark):
    from ensembl_datacheck_spark import assertions as A

    d1 = spark.createDataFrame([("a",), (None,)], "v string")
    d2 = spark.createDataFrame([("b",), (None,)], "v string")
    got = {(r["value"], r["only_in"]) for r in A.array_diff(d1, d2, "v").collect()}
    assert got == {("a", "left"), ("b", "right")}


def test_doc_id_unique_unattributed_under_foreign_bucket_key(
        spark, seq_fixture, tmp_path):
    """Bucket attribution requires the runner to bucket by the unique key
    itself; under bucket_key='source' the dup counts stay unattributed
    (partition_violations unset) so a failure poisons pending buckets
    instead of mapping onto unrelated partitions."""
    spec = registry.get("DocIdUnique")
    res, _ = run_check(spec, spark, {"sequences": seq_fixture["sequences"]},
                       bucket_key="source", n_buckets=8)
    assert res.status == Status.FAIL
    # empty/falsy: exec_one treats it as unattributed (the {-1: n} path)
    assert not res.partition_violations
    # default key: attributed per doc_id-hash bucket as before
    res2, _ = run_check(spec, spark, {"sequences": seq_fixture["sequences"]},
                        n_buckets=8)
    assert res2.partition_violations
    assert sum(res2.partition_violations.values()) == res2.n_violations
    # through a Runner with a store, every bucket is checkpointed 'fail':
    # none may be skipped as 'ok' on resume
    store = CheckpointStore(Catalog(spark, tmp_path / "wh"))
    summary = Runner(spark, {"sequences": seq_fixture["sequences"]},
                     bucket_key="source", n_buckets=8,
                     checkpoint_store=store, lineage="foreign").run([spec])
    assert summary.results[0].status == Status.FAIL
    rows = store.load().filter("check_name = 'DocIdUnique'").collect()
    assert sorted((r["partition_id"], r["status"]) for r in rows) == [
        (b, "fail") for b in range(8)]


def _compiles(spark) -> int:
    """Classes Spark's CodeGenerator has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_session_reuses_generated_classes(spark, seq_fixture):
    """A second identical suite run on one session compiles (almost) no
    new classes: the suite's working set fits the codegen cache
    (session.CODEGEN_CACHE_ENTRIES), and no run-varying value lands in
    generated code.  At Spark's default of 100 entries the LRU cache
    evicts every class of this cyclic workload before its next use, so
    the second run compiles as much as the first.  An unusual bucket
    count keeps the first run's bucketing stages out of classes cached
    by earlier tests."""
    from ensembl_datacheck_spark.session import CODEGEN_CACHE_ENTRIES

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES)
    assert conf.get("spark.sql.codegen.useIdInClassName") == "false"
    counts, verdicts = [], []
    for _ in range(2):
        before = _compiles(spark)
        summary = Runner(spark, _tables(seq_fixture), n_buckets=13).run(
            registry.default_suite(), write_checkpoints=False)
        counts.append(_compiles(spark) - before)
        verdicts.append({r.check_name: r.status for r in summary.results})
    assert verdicts[0] == verdicts[1]
    assert counts[0] > 0, counts
    assert counts[1] <= 0.1 * counts[0], counts


def _checkpoint_rows():
    import time

    from ensembl_datacheck_spark.plans.checkpoint import CheckpointRow

    now = time.time()
    return [
        CheckpointRow("run_x", f"Check{i % 3}", i, ("ok", "fail")[i % 2],
                      now - i, now, 1000 * i, i % 2, "lin#nb16#bkdoc_id")
        for i in range(7)
    ]


def test_checkpoint_batch_is_a_local_relation(spark, tmp_path, monkeypatch):
    """The checkpoint append builds its batch on the JVM (an Arrow-fed
    local relation): no PythonRDD in its lineage, so writing it forks no
    Python worker.  The list-of-tuples frame it replaced did plan one."""
    from ensembl_datacheck_spark.plans.checkpoint import CHECKPOINT_SCHEMA

    seen = []
    orig = Catalog.append_atomic

    def capture(self, df, name):
        seen.append(df)
        return orig(self, df, name)

    monkeypatch.setattr(Catalog, "append_atomic", capture)
    CheckpointStore(Catalog(spark, tmp_path / "wh")).append(_checkpoint_rows())

    def lineage(df):
        return df._jdf.queryExecution().toRdd().toDebugString()

    [batch] = seen
    assert "PythonRDD" not in lineage(batch)
    tuples = spark.createDataFrame(
        [r.as_tuple() for r in _checkpoint_rows()], CHECKPOINT_SCHEMA)
    assert "PythonRDD" in lineage(tuples)


def test_checkpoint_batch_parquet_matches_tuple_path(spark, tmp_path):
    """The Arrow-built checkpoint batch writes the same parquet as the
    list-of-tuples frame did: the same Spark schema, the same parquet
    footer schema (with Spark's row metadata) and the same rows."""
    import glob

    import pyarrow.parquet as pq

    from ensembl_datacheck_spark.plans.checkpoint import CHECKPOINT_SCHEMA

    rows = _checkpoint_rows()
    store = CheckpointStore(Catalog(spark, tmp_path / "wh"))
    store.append(rows)
    old = str(tmp_path / "tuples")
    spark.createDataFrame([r.as_tuple() for r in rows], CHECKPOINT_SCHEMA
                          ).write.parquet(old)
    new = store.catalog.path(store.table)

    def footer(root):
        files = glob.glob(f"{root}/**/*.parquet", recursive=True)
        return pq.read_schema(files[0])

    assert footer(new).equals(footer(old), check_metadata=True)
    got, want = store.load(), spark.read.parquet(old)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


def test_fact_profile_cube_lost_blocks_recompute(spark, seq_fixture,
                                                 monkeypatch):
    """The shared fact-profile cube loses its cached blocks right after
    it is built (as when an executor holding them dies).  Its consumers
    read it through the cache entry, find no blocks, recompute the cube
    from its lineage and reach the same verdicts as an undisturbed
    run."""
    import ensembl_datacheck_spark.checks.core as core

    def verdicts(summary):
        def got(a):
            return round(a.got, 9) if isinstance(a.got, float) else a.got

        return {r.check_name: (r.status, r.error, [
            (a.name, a.status, got(a)) for a in r.assertions])
            for r in summary.results}

    specs = [s for s in registry.default_suite()
             if "fact_profile" in s.shared_uses]
    assert len(specs) >= 2
    want = verdicts(Runner(spark, _tables(seq_fixture), n_buckets=16).run(
        specs, write_checkpoints=False))

    jsc = spark.sparkContext._jsc
    dropped = []
    orig = core._shared_fact_profile

    def build_then_lose_blocks(ctx):
        before = set(jsc.getPersistentRDDs().keySet())
        prof = orig(ctx)
        for rdd_id, rdd in jsc.getPersistentRDDs().items():
            if rdd_id not in before:
                rdd.unpersist(True)
                dropped.append(rdd_id)
        return prof

    monkeypatch.setattr(core, "_shared_fact_profile", build_then_lose_blocks)
    got = verdicts(Runner(spark, _tables(seq_fixture), n_buckets=16).run(
        specs, write_checkpoints=False))
    assert dropped, "the cube was never built"
    assert not set(dropped) & set(jsc.getPersistentRDDs().keySet())
    assert got == want
