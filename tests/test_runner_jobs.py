"""Spark jobs per suite run: job-group tags, small dimension tables as
local relations, and checkpoint row counts without extra scans; and the
Runner's fan-out: lane counts, verdict severities and checks that raise.

The dimension tables here are read from parquet: a frame built with
``createDataFrame`` from Python rows is a plan of unknown size, which
Spark would never broadcast, so the Runner never localizes it."""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

import ensembl_datacheck_spark.checks  # noqa: F401  (registers the suite)
from ensembl_datacheck_spark import registry
from ensembl_datacheck_spark.plans.checkpoint import CheckpointStore
from ensembl_datacheck_spark.plans.fleet import DbTarget, run_fleet
from ensembl_datacheck_spark.plans.runner import Runner
from ensembl_datacheck_spark.registry import CheckSpec, Severity
from ensembl_datacheck_spark.sources import synth
from ensembl_datacheck_spark.sources.io import Catalog, localize_if_small
from ensembl_datacheck_spark.verdict import Status

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"
RUNNER_GROUPS = {"dcheck:__fused__", "dcheck:__profile__", "dcheck:__tables__",
                 "dcheck:__checkpoint__", "dcheck:__funnel__"}


@pytest.fixture(scope="module")
def parquet_tables(spark, tmp_path_factory):
    """A 2k-row fact table plus dimension tables with one injected
    defect each: a blank ``sources.source`` and a negative
    ``baseline_stats.value``."""
    root = tmp_path_factory.mktemp("localized")
    gen = dict(n_partitions=4, median_tok=32, max_tok=256)
    seq = synth.gen_sequences(spark, 2000, **gen)
    clean = synth.gen_sequences(spark, 2000, inject_violations=False, **gen)
    sources = synth.gen_sources(spark)
    sources = sources.unionByName(
        spark.createDataFrame([("  ", 0.0, True)], sources.schema))
    baseline = synth.gen_baseline_stats(spark, clean).withColumn(
        "value",
        F.when((F.col("stat_key") == "n_tok_quantile")
               & (F.col("category") == "0.99"), F.lit(-1.0))
        .otherwise(F.col("value")))
    paths = {}
    for name, df in (("sequences", seq), ("sources", sources),
                     ("baseline_stats", baseline)):
        paths[name] = str(root / name)
        df.write.parquet(paths[name])
    return paths


def _read(spark, paths):
    return {name: spark.read.parquet(p) for name, p in paths.items()}


@contextmanager
def _threshold(spark, value):
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, value)
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD, old)


def _last_job(spark):
    return max(_jobs_since(spark, -1), default=-1)


def _jobs_since(spark, last):
    """{job id: job group} of the jobs after ``last``, read from Spark's
    status store once its listener bus has drained."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    out = {}
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() > last:
            g = j.jobGroup()
            out[j.jobId()] = g.get() if g.isDefined() else None
    return out


@pytest.mark.parametrize("parallelism", [1, 4, None])
def test_every_job_carries_its_check_group(spark, parquet_tables, tmp_path,
                                           parallelism):
    """Every Spark job of a suite run (first run and resume) is tagged
    ``dcheck:<check>`` or with one of the runner's own groups, at every
    parallelism; the shared scan's jobs are ``dcheck:__fused__``, and a
    thread's own job group survives the run."""
    specs = registry.default_suite()
    store = CheckpointStore(Catalog(spark, tmp_path / "wh"))
    allowed = {f"dcheck:{s.name}" for s in specs} | RUNNER_GROUPS
    sc = spark.sparkContext
    sc.setJobGroup("caller-group", "the caller's own group")
    try:
        for _ in range(2):  # first run, then resume
            # reading parquet infers its schema with a job of the caller's
            tables = _read(spark, parquet_tables)
            last = _last_job(spark)
            Runner(spark, tables, n_buckets=16,
                   checkpoint_store=store, lineage="tags").run(
                specs, violations_sink=lambda df: store.catalog.append_atomic(
                    df, "violations"),
                parallelism=parallelism)
            groups = set(_jobs_since(spark, last).values())
            assert groups <= allowed, groups - allowed
            assert "dcheck:__fused__" in groups
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)


def test_dimension_row_rule_launches_no_job(spark, parquet_tables):
    """A dimension row rule's probe runs against a local relation:
    filter and limit fold at optimization time, so its job group holds
    no job.  With localization off (threshold -1) the same probe reads
    parquet."""
    specs = [s for s in registry.default_suite()
             if s.name in ("SourceNameNotBlank", "BaselineValueDomain")]
    assert len(specs) == 2

    def jobs_by_check(threshold):
        with _threshold(spark, threshold):
            tables = _read(spark, parquet_tables)
            last = _last_job(spark)
            summary = Runner(spark, tables, n_buckets=16).run(specs)
            groups = list(_jobs_since(spark, last).values())
        assert {r.check_name: r.status.value for r in summary.results} == {
            "SourceNameNotBlank": "fail", "BaselineValueDomain": "fail"}
        return {s.name: groups.count(f"dcheck:{s.name}") for s in specs}

    assert jobs_by_check(spark.conf.get(THRESHOLD)) == {
        "SourceNameNotBlank": 0, "BaselineValueDomain": 0}
    off = jobs_by_check("-1")
    assert all(n > 0 for n in off.values()), off


def test_localized_run_matches_file_backed_run(spark, parquet_tables,
                                               tmp_path, monkeypatch):
    """Localized dimension tables change no output: verdicts, checkpoint
    rows (minus run id and timings) and violations rows equal a run with
    localization off, on the first run and on the resume.  Neither run
    counts the fact table for its checkpoint rows' ``n_rows``: the fused
    scan's counts fill the first run's, the lineage's checkpoint rows the
    resume's, which match the first run's bucket for bucket."""
    def no_full_count(self):
        raise AssertionError("full-table row count")

    monkeypatch.setattr(Runner, "_count_bucket_rows", no_full_count)
    specs = registry.default_suite()

    def verdicts(summary):
        def got(a):
            return round(a.got, 9) if isinstance(a.got, float) else a.got

        return {r.check_name: (r.status, r.n_violations, r.skip_reason,
                               r.error, [(a.name, a.status, got(a))
                                         for a in r.assertions])
                for r in summary.results}

    def run_pair(threshold, wh):
        store = CheckpointStore(Catalog(spark, tmp_path / wh))
        out = []
        with _threshold(spark, threshold):
            for _ in range(2):
                v = verdicts(Runner(
                    spark, _read(spark, parquet_tables), n_buckets=16,
                    checkpoint_store=store, lineage="parity").run(
                    specs, parallelism=4,
                    violations_sink=lambda df: store.catalog.append_atomic(
                        df, "violations")))
                out.append(v)
        cps = sorted(
            tuple(r) for r in store.load().select(
                "check_name", "partition_id", "status", "n_rows",
                "n_violations", "lineage").collect())
        viol = sorted(
            tuple(r) for r in store.catalog.load(
                "violations", recursive=True).collect())
        return out, cps, viol

    local = run_pair(spark.conf.get(THRESHOLD), "wh_local")
    files = run_pair("-1", "wh_files")
    assert local == files

    (first, resume), cps, viol = local
    failed = {n for n, v in first.items() if v[0].value == "fail"}
    assert {"SourceNameNotBlank", "BaselineValueDomain"} <= failed
    assert {n for n, v in resume.items() if v[0].value == "fail"} == failed
    assert viol
    # each bucket's n_rows is one figure across checks and both runs,
    # and the buckets add up to the table
    per_bucket: dict[int, set[int]] = {}
    for _, b, _, n_rows, _, _ in cps:
        per_bucket.setdefault(b, set()).add(n_rows)
    assert all(len(v) == 1 for v in per_bucket.values()), per_bucket
    total = spark.read.parquet(parquet_tables["sequences"]).count()
    assert per_bucket[-1] == {total}
    assert sum(next(iter(per_bucket[b])) for b in range(16)) == total


def test_small_dimensions_localize_once_others_stay_file_backed(
        spark, parquet_tables, tmp_path):
    """Within a run every check gets the same local relation for a small
    dimension table, while the fact table, a table above the broadcast
    threshold and a streaming table stay file-backed."""
    stream_dir = str(tmp_path / "stream")
    spark.read.parquet(parquet_tables["sources"]).write.parquet(stream_dir)
    tables = _read(spark, parquet_tables)
    src_schema = tables["sources"].schema
    tables["stream"] = spark.readStream.schema(src_schema).parquet(stream_dir)
    seen: dict[str, list] = {}

    def body(ctx):
        for name in ("sequences", "sources", "baseline_stats", "stream"):
            seen.setdefault(name, []).append(ctx.table(name))

    specs = [CheckSpec(name=f"Probe{i}", description="table probe",
                       body=body) for i in range(2)]

    def leaf(df):
        return df._jdf.queryExecution().analyzed().getClass().getSimpleName()

    size = int(str(tables["sources"]._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes()))
    # sources fits the threshold, baseline_stats (larger) does not
    with _threshold(spark, str(size)):
        Runner(spark, tables, n_buckets=16).run(specs, parallelism=2)
    a, b = seen["sources"]
    assert a is b and leaf(a) == "LocalRelation"
    assert all(leaf(df) != "LocalRelation"
               for name in ("sequences", "baseline_stats", "stream")
               for df in seen[name])
    assert all(df.isStreaming for df in seen["stream"])
    assert localize_if_small(spark, tables["stream"]) is tables["stream"]
    # outside a run, and from standalone run_check, tables stay as given
    from ensembl_datacheck_spark.plans.runner import run_check

    seen.clear()
    run_check(specs[0], spark, tables)
    assert seen["sources"][0] is tables["sources"]


def _clean_tables(seq_fixture):
    return {"sequences": seq_fixture["sequences_clean"],
            "sources": seq_fixture["sources"],
            "baseline_stats": seq_fixture["baseline_same"]}


def test_resume_keeps_each_checks_severity(spark, seq_fixture, tmp_path):
    """A check skipped because it passed in a previous run, or because
    the fact table is missing, reports its own severity: an advisory
    check stays ``advisory`` in the JSON verdict on the resume, for body
    checks (SequencesStats, SourcesUsed) and for a fused one."""
    specs = [replace(s, severity=Severity.ADVISORY)
             if s.name == "DocIdFormat" else s
             for s in registry.default_suite()]
    advisory = {s.name for s in specs if s.severity is Severity.ADVISORY}
    assert {"SequencesStats", "SourcesUsed", "DocIdFormat"} <= advisory
    store = CheckpointStore(Catalog(spark, tmp_path / "wh"))

    def severities(summary):
        return {r["check_name"]: (r["severity"], r["status"])
                for r in summary.to_dict(failures_only=False)["datachecks"]}

    for _ in range(2):  # first run, then resume
        got = severities(Runner(
            spark, _clean_tables(seq_fixture), n_buckets=8,
            checkpoint_store=store, lineage="sev").run(specs))
    for name in advisory:
        assert got[name] == ("advisory", "skip"), (name, got[name])
    assert {sev for sev, _ in got.values()} == {"advisory", "critical"}

    no_fact = Runner(spark, {"sources": seq_fixture["sources"]}).run(
        [s for s in specs if s.name == "DocIdFormat"])
    assert severities(no_fact) == {"DocIdFormat": ("advisory", "skip")}


def test_lane_count_below_one_fails_loud(spark, seq_fixture, monkeypatch,
                                         capsys):
    """A lane count below 1 is an error on every path, not a silent
    serial run: the CLI exits 2 before starting Spark, ``Runner.run``
    and ``run_fleet`` raise ValueError."""
    from ensembl_datacheck_spark import cli, session

    def no_session(*args, **kwargs):
        raise AssertionError("Spark started before argument validation")

    monkeypatch.setattr(session, "get_spark", no_session)
    for bad in ("0", "-3"):
        assert cli.main(["--sequences", "x", "--parallelism", bad]) == 2
        assert "--parallelism" in capsys.readouterr().err
    specs = registry.select(names=["DocIdUnique", "SequencesCompleteness"])
    tables = _clean_tables(seq_fixture)
    with pytest.raises(ValueError, match="parallelism"):
        Runner(spark, tables, n_buckets=8).run(specs, parallelism=0)
    with pytest.raises(ValueError):
        run_fleet(spark, [DbTarget("db", tables)], specs, n_buckets=8,
                  max_parallel_dbs=0)


def test_bucket_count_below_one_fails_loud(spark, seq_fixture):
    """A bucket count below 1 raises when the Runner is built, before
    any Spark job (the CLI exits 2 before starting Spark:
    tests/test_cli.py).  A zero count would otherwise fail mid-run in
    the fused scan's modulo, and a negative one yields negative bucket
    ids that never checkpoint, so per-partition checks could never
    resume."""
    specs = registry.select(names=["DocIdUnique"])
    tables = _clean_tables(seq_fixture)
    for bad in (0, -4):
        with pytest.raises(ValueError, match="n_buckets"):
            Runner(spark, tables, n_buckets=bad)
        # a fleet contains it per target, as any failed Runner
        fleet = run_fleet(spark, [DbTarget("db", tables)], specs,
                          n_buckets=bad)
        assert "n_buckets must be at least 1" in fleet.errors["db"]


FAMILY = ("SequencesStats", "RowTotals", "SourceDrift", "NTokDrift",
          "NTokQuantileDrift", "SourcesUsed")


def _input_records(spark, job_ids) -> int:
    """Records the given jobs' stages read: file rows, plus one per
    cached block batch read back."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stage_ids = set()
    for j in job_ids:
        ids = store.job(j).stageIds()
        stage_ids |= {ids.apply(i) for i in range(ids.size())}
    stages = store.stageList(None, False, False,
                             sc._gateway.new_array(sc._jvm.double, 0), None)
    return sum(s.inputRecords() for s in
               (stages.apply(i) for i in range(stages.size()))
               if s.stageId() in stage_ids)


def test_aggregate_family_job_budget(spark, parquet_tables):
    """The six fact-profile consumers share one collected profile
    summary: together they launch at most 8 jobs (the cube build with
    its summary, and NTokQuantileDrift's per-value counts over the
    cached cube) and read the fact table's rows once."""
    specs = registry.select(names=list(FAMILY))
    assert {s.name for s in specs} == set(FAMILY)
    assert all("fact_profile" in s.shared_uses for s in specs)
    tables = _read(spark, parquet_tables)
    n_fact = tables["sequences"].count()
    last = _last_job(spark)
    summary = Runner(spark, tables, n_buckets=16).run(
        specs, write_checkpoints=False)
    assert all(r.error is None for r in summary.results), [
        r.error for r in summary.results]
    mine = {f"dcheck:{n}" for n in FAMILY} | {"dcheck:__profile__"}
    jobs = [j for j, g in _jobs_since(spark, last).items() if g in mine]
    assert 0 < len(jobs) <= 8, len(jobs)
    assert n_fact <= _input_records(spark, jobs) < 2 * n_fact


@pytest.mark.parametrize("parallelism", [1, 4])
def test_shared_profile_build_runs_under_its_own_group(spark, parquet_tables,
                                                       parallelism):
    """The shared fact profile is built under ``dcheck:__profile__``, not
    under whichever consumer asks first: those jobs read the fact rows,
    and no consumer's job reads more than the cached cube's batches (one
    input record per cached partition, at most one per shuffle
    partition)."""
    specs = registry.select(names=list(FAMILY))
    tables = _read(spark, parquet_tables)
    n_fact = tables["sequences"].count()
    max_batches = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert max_batches < n_fact
    last = _last_job(spark)
    Runner(spark, tables, n_buckets=16).run(
        specs, write_checkpoints=False, parallelism=parallelism)
    by_group: dict[str, list[int]] = {}
    for j, g in _jobs_since(spark, last).items():
        by_group.setdefault(g, []).append(j)
    profile = by_group.get("dcheck:__profile__", [])
    assert n_fact <= _input_records(spark, profile) < 2 * n_fact
    for name in FAMILY:
        for j in by_group.get(f"dcheck:{name}", []):
            assert _input_records(spark, [j]) <= max_batches, (name, j)


def test_profile_summary_rolls_up_the_cube_not_the_rows(spark,
                                                         parquet_tables):
    """The summary's grouping sets expand cube rows: its plan holds one
    fact-table scan, and its only Expand sits above the cube's
    (source, n_tok) aggregate."""
    import re

    from ensembl_datacheck_spark.operators import profile as P

    fact = spark.read.parquet(parquet_tables["sequences"])
    cube = P.fact_profile(fact).persist()
    try:
        plan = P.profile_summary_frame(cube, synth.ntok_bin())._jdf \
            .queryExecution().executedPlan().toString().splitlines()
    finally:
        cube.unpersist()
    expand = [i for i, line in enumerate(plan) if "Expand [" in line]
    cube_aggs = [i for i, line in enumerate(plan) if re.search(
        r"HashAggregate\(keys=\[source#\d+, n_tok#\d+\]", line)]
    assert len(expand) == 1, plan
    assert cube_aggs and min(cube_aggs) > expand[0], plan
    assert sum("FileScan parquet" in line for line in plan) == 1, plan


def _explode(ctx, *scan):
    raise RuntimeError("exploded mid-fan-out")


RAISERS = [
    CheckSpec(name="BodyRaises", description="body raises", body=_explode,
              per_partition=True),
    CheckSpec(name="RowsRaise", description="row factory raises",
              per_partition=True, row_predicates=_explode),
]


@pytest.mark.parametrize("parallelism", [1, 4])
def test_check_raising_mid_fan_out_is_contained(spark, seq_fixture,
                                                tmp_path, parallelism):
    """A body check and a fused row-predicate factory that raise get FAIL
    verdicts carrying the traceback, while their siblings' verdicts and
    checkpoint rows equal a run without them, on the first run and on
    the resume.  The raisers' buckets are checkpointed ``fail``, so the
    resume runs them again."""
    tables = {"sequences": seq_fixture["sequences"],
              "sources": seq_fixture["sources"],
              "baseline_stats": seq_fixture["baseline_same"]}
    siblings = registry.select(names=[
        "DocIdFormat", "SequencesCompleteness", "SourceReferential",
        "DocIdUnique", "SequencesStats", "SourceNameNotBlank"])
    mixed = siblings[:2] + [RAISERS[0]] + siblings[2:] + [RAISERS[1]]

    def two_runs(specs, wh):
        store = CheckpointStore(Catalog(spark, tmp_path / wh))
        out = []
        for _ in range(2):  # first run, then resume
            summary = Runner(spark, tables, n_buckets=8,
                             checkpoint_store=store, lineage="boom").run(
                specs, parallelism=parallelism)
            verdicts = {r.check_name: (r.status, r.n_violations,
                                       r.skip_reason, r.error)
                        for r in summary.results}
            cps = sorted((r["check_name"], r["partition_id"], r["status"],
                          r["n_violations"])
                         for r in store.load().collect())
            out.append((verdicts, cps))
        return out

    raisers = {s.name for s in RAISERS}
    runs = zip(two_runs(mixed, "wh_mixed"), two_runs(siblings, "wh_ref"))
    for n_runs, ((v, cps), (v_ref, cps_ref)) in enumerate(runs, start=1):
        assert {n: x for n, x in v.items() if n not in raisers} == v_ref
        assert [r for r in cps if r[0] not in raisers] == cps_ref
        for name in raisers:
            status, _, skip_reason, error = v[name]
            assert status == Status.FAIL and skip_reason is None
            assert "Traceback" in error and "exploded mid-fan-out" in error
            # each run adds one 'fail' row per bucket
            mine = [r for r in cps if r[0] == name]
            assert sorted({r[1] for r in mine}) == list(range(8))
            assert {r[2] for r in mine} == {"fail"}
            assert len(mine) == 8 * n_runs
