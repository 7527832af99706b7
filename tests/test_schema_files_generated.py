"""Schema-contract diff (S20), filesystem reconciliation (S26),
generated per-column checks (S19), and parallel check execution."""

from __future__ import annotations

from pyspark.sql import functions as F

from ensembl_datacheck_spark.operators import files as FI
from ensembl_datacheck_spark.operators import schema_check as SC


def test_schema_contract_pass_and_fail(spark, seq_fixture):
    seq = seq_fixture["sequences"]
    diff = SC.compare_schema(seq, SC.SEQUENCES_CONTRACT)
    assert diff.ok, diff.describe()

    # drift: missing column, extra column, type change
    mutated = seq.drop("source").withColumn("extra", F.lit(1)).withColumn(
        "n_tok", F.col("n_tok").cast("long")
    )
    diff = SC.compare_schema(mutated, SC.SEQUENCES_CONTRACT)
    assert not diff.ok
    assert diff.missing == ["source"]
    assert diff.unexpected == ["extra"]
    assert diff.type_mismatch == [("n_tok", "int", "bigint")]
    # ignore_extra tolerates additive evolution
    diff2 = SC.compare_schema(mutated, SC.SEQUENCES_CONTRACT, ignore_extra=True)
    assert diff2.unexpected == []

    # nullability tightening
    diff3 = SC.compare_schema(seq, "doc_id STRING NOT NULL, tokens ARRAY<INT>, "
                                   "n_tok INT, source STRING")
    assert diff3.nullability == ["doc_id"]


def test_files_reconciliation(spark, tmp_path):
    root = tmp_path / "datafiles"
    (root / "sub").mkdir(parents=True)
    (root / "a.bw").write_bytes(b"x" * 10)
    (root / "sub" / "b.bw").write_bytes(b"y" * 20)
    (root / "orphan.bw").write_bytes(b"z")

    table = spark.createDataFrame(
        [("a.bw",), ("sub/b.bw",), ("missing.bw",)], "file_path string"
    )
    listing = FI.listing_df(spark, str(root))
    assert listing.count() == 3

    missing = FI.missing_files(table, "file_path", listing).collect()
    assert [r["file_path"] for r in missing] == ["missing.bw"]
    unreg = FI.unregistered_files(table, "file_path", listing).collect()
    assert [r["path"] for r in unreg] == ["orphan.bw"]


def test_generated_checks_fused(spark):
    from ensembl_datacheck_spark.checks.generated import generated_check_specs
    from ensembl_datacheck_spark.plans.runner import Runner
    from ensembl_datacheck_spark.verdict import Status

    df = spark.createDataFrame(
        [
            (1, "ok value", "fine"),
            (2, "NULL", "fine"),          # literal NULL string
            (3, "  ", "fine"),            # whitespace-only
            (4, "trailing ", "fine"),     # trailing space
            (5, "tab\there", "fine"),     # tab
        ],
        "id int, a string, b string",
    )
    specs = generated_check_specs("t", df)
    assert {s.name for s in specs} == {"BlankNulls_t", "Whitespace_t"}
    runner = Runner(spark, {"t": df}, fact_table="t", bucket_key="id", n_buckets=4)
    summary = runner.run(specs, write_checkpoints=False)
    res = {r.check_name: r for r in summary.results}
    bn = {a.name: a for a in res["BlankNulls_t"].assertions}
    assert bn["blank_null_a"].got == 2  # 'NULL' + whitespace-only
    assert bn["blank_null_b"].status == Status.OK
    ws = {a.name: a for a in res["Whitespace_t"].assertions}
    assert ws["whitespace_a"].got == 3  # '  ', 'trailing ', tab


def test_parallel_execution_matches_sequential(spark, seq_fixture):
    import ensembl_datacheck_spark.checks  # noqa: F401
    from ensembl_datacheck_spark.plans.runner import Runner
    from ensembl_datacheck_spark.registry import registry

    tables = {
        "sequences": seq_fixture["sequences"],
        "sources": seq_fixture["sources"],
        "baseline_stats": seq_fixture["baseline_same"],
    }
    specs = list(registry)
    seq_run = Runner(spark, tables, n_buckets=16).run(
        specs, write_checkpoints=False
    )
    par_run = Runner(spark, tables, n_buckets=16).run(
        specs, write_checkpoints=False, parallelism=4
    )
    a = sorted((r.check_name, r.status.value, r.n_violations) for r in seq_run.results)
    b = sorted((r.check_name, r.status.value, r.n_violations) for r in par_run.results)
    assert a == b


def test_generated_specs_skip_under_foreign_fused_scan(spark):
    """Fused checks declared over table X must not evaluate their
    predicates against a Runner whose fused scan is a different table —
    overlapping column names would silently score the wrong rows, and
    disjoint ones would abort the whole run."""
    from ensembl_datacheck_spark.checks.generated import generated_check_specs
    from ensembl_datacheck_spark.plans.runner import Runner
    from ensembl_datacheck_spark.verdict import Status

    meta = spark.createDataFrame(
        [("k", " padded ", "x")], "meta_key string, meta_value string, source string"
    )
    seq = spark.createDataFrame(
        [("d1", "src_00")], "doc_id string, source string"
    )
    specs = generated_check_specs("meta", meta)
    # runner's fused fact table is 'sequences' (has an overlapping
    # 'source' column) -> the generated specs must SKIP, not mis-score
    summary = Runner(spark, {"sequences": seq, "meta": meta},
                     n_buckets=4).run(specs, write_checkpoints=False)
    for r in summary.results:
        assert r.status == Status.SKIP, (r.check_name, r.status)
        assert "fused scan is 'sequences'" in r.skip_reason
    # the same rule holds for a core fused check: under a fused scan of
    # another table it skips, and the run returns its summary
    import ensembl_datacheck_spark.checks  # noqa: F401
    from ensembl_datacheck_spark.registry import registry

    t = spark.createDataFrame([(1, "x")], "id int, a string")
    [r] = Runner(spark, {"t": t}, fact_table="t", bucket_key="id").run(
        [registry.get("SequencesCompleteness")],
        write_checkpoints=False).results
    assert r.status == Status.SKIP
    assert r.skip_reason == ("SequencesCompleteness targets 'sequences' "
                             "but the fused scan is 't'")
