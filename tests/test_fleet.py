"""Multi-database fan-out (DbFactory analogue) tests."""

from __future__ import annotations

import pytest

import ensembl_datacheck_spark.checks  # noqa: F401
from ensembl_datacheck_spark.plans.checkpoint import CheckpointStore
from ensembl_datacheck_spark.plans.fleet import DbTarget, run_fleet
from ensembl_datacheck_spark.registry import registry
from ensembl_datacheck_spark.sources import synth
from ensembl_datacheck_spark.sources.io import Catalog
from ensembl_datacheck_spark.verdict import Status


def test_fleet_runs_per_db_and_resumes(spark, seq_fixture, tmp_path):
    sources = seq_fixture["sources"]
    targets = [
        DbTarget("db_dirty", {"sequences": seq_fixture["sequences"],
                              "sources": sources}, lineage="v1"),
        DbTarget("db_clean", {"sequences": seq_fixture["sequences_clean"],
                              "sources": sources}, lineage="v1"),
    ]
    specs = registry.select(names=["DocIdUnique", "SequencesCompleteness",
                                  "SourceReferential"])
    store = CheckpointStore(Catalog(spark, tmp_path / "fleet_wh"))
    fleet = run_fleet(spark, targets, specs, n_buckets=8,
                      checkpoint_store=store, max_parallel_dbs=2)
    assert not fleet.by_db["db_dirty"].all_passed
    assert fleet.by_db["db_clean"].all_passed
    assert not fleet.all_passed
    d = fleet.to_dict()
    assert set(d) == {"db_dirty", "db_clean"}

    # resume: clean db skips everything; dirty db re-runs failures only
    fleet2 = run_fleet(spark, targets, specs, n_buckets=8,
                       checkpoint_store=store)
    clean2 = fleet2.by_db["db_clean"]
    assert all(r.status == Status.SKIP for r in clean2.results)
    dirty2 = fleet2.by_db["db_dirty"]
    assert any(r.status == Status.FAIL for r in dirty2.results)


def test_fleet_shares_profile_cube_per_table(spark, seq_fixture, monkeypatch):
    """VERDICT r4 item 6: all fleet runners share ONE SharedComputations
    memo keyed by table fingerprint — two targets validating the SAME
    fact table trigger exactly one profile-cube build for the whole
    fleet, while a target with a DIFFERENT table builds its own (never
    cross-consumes).  Verdicts must match the unshared per-runner runs."""
    import ensembl_datacheck_spark.checks.core as core

    calls = {"n": 0}
    orig = core.P.fact_profile

    def counting(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    monkeypatch.setattr(core.P, "fact_profile", counting)
    sources = seq_fixture["sources"]
    clean = seq_fixture["sequences_clean"]
    base = {"sources": sources,
            "baseline_stats": seq_fixture["baseline_same"]}
    # two targets over the SAME DataFrame + one over a different table
    targets = [
        DbTarget("db_a", {"sequences": clean, **base}, lineage="v1"),
        DbTarget("db_b", {"sequences": clean, **base}, lineage="v1"),
        DbTarget("db_c", {"sequences": seq_fixture["sequences"], **base},
                 lineage="v1"),
    ]
    specs = registry.select(names=["SequencesStats", "SourceDrift"])
    fleet = run_fleet(spark, targets, specs)
    assert set(fleet.to_dict(failures_only=False)) == {"db_a", "db_b", "db_c"}
    assert not fleet.errors
    assert calls["n"] == 2, (
        f"expected one cube per TABLE (2 distinct tables), got {calls['n']}"
    )
    # same-table targets agree; distinct table keeps its own verdicts
    da = {r.check_name: r.status for r in fleet.by_db["db_a"].results}
    db = {r.check_name: r.status for r in fleet.by_db["db_b"].results}
    assert da == db
    assert fleet.by_db["db_a"].all_passed


def test_pooled_fused_scan_matches_serial(spark, seq_fixture, tmp_path):
    """The fused fact scan runs AS a pool task overlapping the small
    checks (the round-3 scaling fix).  Verdicts, violation counts, skip
    reasons AND checkpoint rows must be identical at 1 lane (one other
    check at a time beside the scan) and at 4 lanes."""
    from ensembl_datacheck_spark.plans.checkpoint import CheckpointStore
    from ensembl_datacheck_spark.plans.runner import Runner
    from ensembl_datacheck_spark.sources import synth
    from ensembl_datacheck_spark.sources.io import Catalog

    sources = seq_fixture["sources"]
    tables = {
        "sequences": seq_fixture["sequences"],
        "sources": sources,
        "meta": synth.gen_meta(spark, sources),
        "baseline_stats": seq_fixture["baseline_same"],
    }
    specs = registry.default_suite()

    stores = {}

    def run_with(par, wh):
        store = stores.setdefault(
            wh, CheckpointStore(Catalog(spark, tmp_path / wh))
        )
        s = Runner(spark, tables, n_buckets=8, checkpoint_store=store,
                   lineage="v1").run(specs, parallelism=par)
        cps = store.load()
        cp_rows = sorted(
            (r["check_name"], r["partition_id"], r["status"],
             r["n_violations"])
            for r in cps.collect()
        )
        verdicts = {
            r.check_name: (r.status, r.n_violations, r.skip_reason)
            for r in s.results
        }
        return verdicts, cp_rows

    v1, cp1 = run_with(1, "wh_serial")
    v4, cp4 = run_with(4, "wh_pooled")
    assert v1 == v4
    assert cp1 == cp4
    assert any(s == Status.FAIL for s, _, _ in v1.values())

    # resume under the pool: second run against the same checkpoints —
    # ok checks skip, failed checks re-run only their failed buckets,
    # identically in serial and pooled mode (north-rule resume semantics
    # must survive the concurrent fused scan)
    r1, _ = run_with(1, "wh_serial")
    r4, _ = run_with(4, "wh_pooled")
    assert r1 == r4
    skipped = {n for n, (s, _, _) in r4.items() if s == Status.SKIP}
    assert any(
        reason == "All tests passed in a previous run"
        for _, _, reason in r4.values()
    )
    assert {n for n, (s, _, _) in v4.items() if s == Status.OK} <= skipped
    assert {n for n, (s, _, _) in r4.items() if s == Status.FAIL} == {
        n for n, (s, _, _) in v4.items() if s == Status.FAIL
    }


def test_fleet_rejects_duplicate_target_names(spark, seq_fixture):
    """by_db is keyed by target name and checkpoint lineage is namespaced
    by it — a duplicate would silently drop one target's verdicts and
    cross-contaminate the other's resume buckets, so run_fleet refuses."""
    t = {"sequences": seq_fixture["sequences_clean"],
         "sources": seq_fixture["sources"]}
    targets = [DbTarget("core", t, lineage="v1"),
               DbTarget("core", t, lineage="v2")]
    with pytest.raises(ValueError, match="duplicate fleet target"):
        run_fleet(spark, targets, registry.select(names=["DocIdUnique"]),
                  n_buckets=8)
