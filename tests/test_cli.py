"""In-process CLI tests (cli.main reuses the test SparkSession via
getOrCreate) — the run_datachecks.pl option-surface parity."""

from __future__ import annotations

import json

from ensembl_datacheck_spark.cli import main
from ensembl_datacheck_spark.sources import synth


def _write_tables(spark, tmp_path, dirty=True):
    seq = synth.gen_sequences(spark, 10_000, 8, median_tok=32, max_tok=128,
                              inject_violations=dirty)
    seq.write.mode("overwrite").parquet(str(tmp_path / "sequences"))
    synth.gen_sources(spark).write.mode("overwrite").parquet(
        str(tmp_path / "sources")
    )


def test_cli_run_fail_and_reports(spark, tmp_path):
    _write_tables(spark, tmp_path, dirty=True)
    rc = main([
        "--sequences", str(tmp_path / "sequences"),
        "--sources", str(tmp_path / "sources"),
        "--names", "DocIdUnique", "SequencesCompleteness", "SourceReferential",
        "--warehouse", str(tmp_path / "wh"),
        "--n-buckets", "8",
        "--output-json", str(tmp_path / "res.json"),
        "--output-tap", str(tmp_path / "res.tap"),
    ])
    assert rc == 1
    j = json.loads((tmp_path / "res.json").read_text())
    assert j["failed"] == 3
    assert all(d["severity"] == "critical" for d in j["datachecks"])
    tap = (tmp_path / "res.tap").read_text()
    assert "not ok" in tap and tap.strip().endswith("1..3")
    # violations persisted
    viol = (spark.read.option("recursiveFileLookup", "true")
            .parquet(str(tmp_path / "wh" / "violations")))
    assert viol.count() > 0

    # resume: same inputs -> all skip, exit 0
    rc2 = main([
        "--sequences", str(tmp_path / "sequences"),
        "--sources", str(tmp_path / "sources"),
        "--names", "DocIdUnique",
        "--warehouse", str(tmp_path / "wh"),
        "--n-buckets", "8",
    ])
    assert rc2 == 1  # failed checks re-run and still fail

    # advisory selection: exit 0 even when a check fails is covered in
    # test_multimodal_streaming; here check --type filtering
    rc3 = main([
        "--sequences", str(tmp_path / "sequences"),
        "--sources", str(tmp_path / "sources"),
        "--type", "advisory",
        "--warehouse", str(tmp_path / "wh2"),
        "--n-buckets", "8",
    ])
    assert rc3 == 0


def test_cli_clean_pass_then_skip(spark, tmp_path):
    _write_tables(spark, tmp_path, dirty=False)
    args = [
        "--sequences", str(tmp_path / "sequences"),
        "--sources", str(tmp_path / "sources"),
        "--names", "DocIdUnique", "SourceReferential",
        "--warehouse", str(tmp_path / "wh"),
        "--n-buckets", "8",
        "--output-json", str(tmp_path / "res.json"),
        "--passed",
    ]
    assert main(args) == 0
    j = json.loads((tmp_path / "res.json").read_text())
    assert j["passed"] == 2 and j["failed"] == 0
    # second run skips via checkpoint (unchanged lineage)
    assert main(args) == 0
    j2 = json.loads((tmp_path / "res.json").read_text())
    assert j2["skipped"] == 2
    # --force re-validates
    assert main(args + ["--force"]) == 0
    j3 = json.loads((tmp_path / "res.json").read_text())
    assert j3["passed"] == 2 and j3["skipped"] == 0


def test_cli_json_format_input(spark, tmp_path):
    """--format json --schema runs the same suite over a JSON-lines fact
    table (read_table dispatch; explicit schema, no inference scan)."""
    seq = synth.gen_sequences(spark, 2_000, 4, median_tok=16, max_tok=64)
    seq.write.mode("overwrite").json(str(tmp_path / "seq_json"))
    synth.gen_sources(spark).write.mode("overwrite").json(
        str(tmp_path / "src_json")
    )
    rc = main([
        "--sequences", str(tmp_path / "seq_json"),
        "--sources", str(tmp_path / "src_json"),
        "--format", "json",
        "--schema",
        "doc_id string, tokens array<int>, n_tok int, source string",
        "--names", "DocIdUnique", "SequencesCompleteness", "SourceReferential",
        "--warehouse", str(tmp_path / "whj"),
        "--n-buckets", "4",
        "--output-json", str(tmp_path / "resj.json"),
    ])
    assert rc == 1  # injected violations still found through the JSON path
    j = json.loads((tmp_path / "resj.json").read_text())
    assert j["failed"] == 3


def test_pyfiles_zip_importable(tmp_path):
    """The --py-files artifact must contain the full package and be
    importable from the zip alone (executor-side import path)."""
    import subprocess
    import sys

    out = tmp_path / "pkg.zip"
    r = subprocess.run(
        [sys.executable, "scripts/package_pyfiles.py", str(out)],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr
    probe = subprocess.run(
        [sys.executable, "-c",
         "import sys; sys.path.insert(0, sys.argv[1]); "
         "import ensembl_datacheck_spark.checks, ensembl_datacheck_spark.cli; "
         "from ensembl_datacheck_spark import registry; "
         "print(len(registry.default_suite()))",
         str(out)],
        capture_output=True, text=True,
    )
    assert probe.returncode == 0, probe.stderr
    assert int(probe.stdout.strip()) >= 10


def test_cli_meta_table_runs_spec_pack(spark, tmp_path):
    """--meta wires the tag table in so the spec-pack checks run (and
    fail at their exact injected counts) instead of skipping."""
    from ensembl_datacheck_spark.sources import synth

    sources = synth.gen_sources(spark)
    sources.write.mode("overwrite").parquet(str(tmp_path / "sources"))
    synth.gen_meta(spark, sources).write.mode("overwrite").parquet(
        str(tmp_path / "meta"))
    synth.gen_sequences(spark, 1000, n_partitions=4, median_tok=16,
                        max_tok=64).write.mode("overwrite").parquet(
        str(tmp_path / "sequences"))
    rc = main([
        "--sequences", str(tmp_path / "sequences"),
        "--sources", str(tmp_path / "sources"),
        "--meta", str(tmp_path / "meta"),
        "--groups", "meta",
        "--warehouse", str(tmp_path / "wh"),
        "--n-buckets", "8",
        "--output-json", str(tmp_path / "res.json"),
    ])
    assert rc == 1
    j = json.loads((tmp_path / "res.json").read_text())
    # exactly the four defect-targeted meta checks fail (name-based so the
    # assertion survives the meta group gaining further passing guards)
    assert sorted(d["check_name"] for d in j["datachecks"]) == [
        "MetaKeyCardinality", "MetaKeyRequired",
        "MetaWeightRange", "MetaWeightSync",
    ]
    assert j["failed"] == 4
    assert j["passed"] >= 2  # guard rules (blank/vocabulary/key-set...) pass
    # without --meta the same selection skips cleanly
    rc2 = main([
        "--sequences", str(tmp_path / "sequences"),
        "--groups", "meta",
        "--warehouse", str(tmp_path / "wh2"),
        "--n-buckets", "8",
        "--output-json", str(tmp_path / "res2.json"),
    ])
    assert rc2 == 0
    j2 = json.loads((tmp_path / "res2.json").read_text())
    # every check the --meta run executed now skips (same selection)
    assert j2["skipped"] == j["passed"] + j["failed"] and j2["failed"] == 0


def test_cli_jdbc_requires_table_option(spark, capsys):
    rc = main(["--sequences", "jdbc:mysql://h/db", "--format", "jdbc"])
    assert rc == 2
    assert "--jdbc-table" in capsys.readouterr().err


def test_parallelism_flag_parses():
    """--parallelism (analysis_capacity analogue) parses and defaults
    to None, which the Runner resolves to runner.lanes(spark); no Spark
    needed."""
    from ensembl_datacheck_spark.cli import build_parser

    p = build_parser()
    assert p.parse_args(["--sequences", "x"]).parallelism is None
    assert p.parse_args(
        ["--sequences", "x", "--parallelism", "1"]
    ).parallelism == 1


def test_cli_bucket_count_below_one_exits_before_spark(monkeypatch, capsys):
    """--n-buckets below 1 exits 2 with a message, before the JVM
    starts."""
    from ensembl_datacheck_spark import session

    def no_session(*args, **kwargs):
        raise AssertionError("Spark started before argument validation")

    monkeypatch.setattr(session, "get_spark", no_session)
    for bad in ("0", "-4"):
        assert main(["--sequences", "x", "--n-buckets", bad]) == 2
        assert "--n-buckets must be at least 1" in capsys.readouterr().err


def test_cli_snapshot_table_runs_equality_check(spark, tmp_path):
    """--snapshot wires the sequences_snapshot table through to
    TokenSnapshotEquality; omitting it makes the same selection skip."""
    clean = synth.gen_sequences(spark, 10_000, 8, median_tok=32,
                                max_tok=128, inject_violations=False)
    clean.write.mode("overwrite").parquet(str(tmp_path / "sequences"))
    synth.gen_sequences_snapshot(spark, clean).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "snapshot"))

    rc = main([
        "--sequences", str(tmp_path / "sequences"),
        "--snapshot", str(tmp_path / "snapshot"),
        "--names", "TokenSnapshotEquality",
        "--warehouse", str(tmp_path / "wh"),
        "--n-buckets", "8",
        "--output-json", str(tmp_path / "res.json"),
        "--passed",
    ])
    assert rc == 1  # changed + missing rows fail the check
    j = json.loads((tmp_path / "res.json").read_text())
    (d,) = j["datachecks"]
    names = {a["name"]: a for a in d["assertions"]}
    assert names["snapshot_changed"]["status"] == "fail"
    assert names["snapshot_missing_in_current"]["status"] == "fail"
    assert names["snapshot_new_in_current"]["status"] == "ok"

    rc2 = main([
        "--sequences", str(tmp_path / "sequences"),
        "--names", "TokenSnapshotEquality",
        "--warehouse", str(tmp_path / "wh2"),
        "--n-buckets", "8",
        "--output-json", str(tmp_path / "res2.json"),
        "--passed",
    ])
    assert rc2 == 0
    j2 = json.loads((tmp_path / "res2.json").read_text())
    assert j2["datachecks"][0]["status"] == "skip"


def test_cli_es_bulk_and_email_sinks(spark, tmp_path):
    _write_tables(spark, tmp_path, dirty=True)
    rc = main([
        "--sequences", str(tmp_path / "sequences"),
        "--sources", str(tmp_path / "sources"),
        "--names", "DocIdUnique", "SourceReferential",
        "--warehouse", str(tmp_path / "wh"),
        "--n-buckets", "8",
        "--output-json", str(tmp_path / "res.json"),
        "--es-bulk-file", str(tmp_path / "bulk.ndjson"),
        "--email-file", str(tmp_path / "summary.eml"),
        "--email-to", "ops@example.org",
        "--tag", "rel42",
    ])
    assert rc == 1
    lines = (tmp_path / "bulk.ndjson").read_text().strip().split("\n")
    assert len(lines) == 2 * (1 + 2)  # summary + 2 checks, action+source each
    run_doc = json.loads(lines[1])
    assert run_doc["doc_kind"] == "run_summary" and run_doc["failed"] == 2
    assert run_doc["input_details"]["tag"] == "rel42"
    eml = (tmp_path / "summary.eml").read_bytes().decode()
    assert "Subject: FAIL: Datacheck Summary (rel42)" in eml
    assert "To: ops@example.org" in eml
    # the JSON report rides along as the attachment (under the 2MB cap)
    assert "res.json" in eml


def test_spark_submit_pyfiles_end_to_end(spark, tmp_path):
    """The north_rule packaging path, run for real: build the --py-files
    zip, launch a SEPARATE driver via spark-submit with the package
    available ONLY from the zip (cwd outside the repo, PYTHONPATH
    stripped), and run the suite over a parquet fixture.

    Asserts (a) the submit's --master and --conf win (get_spark must not
    override them, session.py `submitted` path), (b) the package import
    resolves from the zip, (c) verdicts + JSON report match the
    in-process run.

    Reference kin: the production pipeline ships checks to workers and
    aggregates per-run results (DbDataChecks_conf.pm:214-306).
    """
    import os
    import shutil
    import subprocess
    import sys

    spark_submit = shutil.which(
        "spark-submit", path=os.pathsep.join(
            filter(None, [os.environ.get("PATH"), "/opt/spark/bin"])))
    if spark_submit is None:
        import pytest
        pytest.skip("spark-submit binary not on PATH nor in /opt/spark/bin")

    _write_tables(spark, tmp_path, dirty=True)
    zip_path = tmp_path / "pkg.zip"
    r = subprocess.run(
        [sys.executable, "scripts/package_pyfiles.py", str(zip_path)],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr

    driver = tmp_path / "driver.py"
    driver.write_text(
        "import sys\n"
        "from ensembl_datacheck_spark.session import get_spark\n"
        "spark = get_spark('pyfiles-smoke')\n"
        "print('SMOKE_MASTER=' + spark.sparkContext.master, flush=True)\n"
        "conf = spark.sparkContext.getConf()\n"
        "print('SMOKE_CODEGEN=' + ','.join(conf.get(k) for k in (\n"
        "    'spark.sql.codegen.cache.maxEntries',\n"
        "    'spark.sql.codegen.useIdInClassName')), flush=True)\n"
        "import ensembl_datacheck_spark as pkg\n"
        "print('SMOKE_PKG=' + pkg.__file__, flush=True)\n"
        "from ensembl_datacheck_spark.cli import main\n"
        "sys.exit(main(sys.argv[1:]))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [spark_submit, "--master", "local[4]", "--driver-memory", "4g",
         "--conf", "spark.ui.enabled=false",
         "--conf", "spark.sql.codegen.cache.maxEntries=321",
         "--py-files", str(zip_path), str(driver),
         "--sequences", str(tmp_path / "sequences"),
         "--sources", str(tmp_path / "sources"),
         "--names", "DocIdUnique", "SequencesCompleteness",
         "SourceReferential",
         "--warehouse", str(tmp_path / "wh_submit"),
         "--n-buckets", "8",
         "--output-json", str(tmp_path / "res_submit.json")],
        capture_output=True, text=True, cwd=str(tmp_path), env=env,
        timeout=420,
    )
    out = proc.stdout + proc.stderr
    # injected violations -> failures_fatal exit 1, same as the
    # in-process run in test_cli_run_fail_and_reports
    assert proc.returncode == 1, out[-4000:]
    assert "SMOKE_MASTER=local[4]" in out
    # the submit's --conf wins over the engine's codegen cache size; the
    # setting the submit left alone gets the engine default
    assert "SMOKE_CODEGEN=321,false" in out
    pkg_line = next(l for l in out.splitlines() if l.startswith("SMOKE_PKG="))
    assert "/root/repo" not in pkg_line, pkg_line  # imported from the zip
    j = json.loads((tmp_path / "res_submit.json").read_text())
    assert j["failed"] == 3 and j["passed"] == 0
    assert {d["check_name"] for d in j["datachecks"]} == {
        "DocIdUnique", "SequencesCompleteness", "SourceReferential"}
