"""CLI: ``python -m ensembl_datacheck_spark.cli`` — mirrors the
reference's scripts/run_datachecks.pl option surface
(run_datachecks.pl:165-187): check selection by name/pattern/group/type,
history (checkpoint) location, output files, force.

Example:

    python -m ensembl_datacheck_spark.cli \
        --sequences /data/sequences.parquet \
        --groups completeness uniqueness \
        --warehouse /tmp/dcheck_wh --output-json /tmp/results.json
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="ensembl_datacheck_spark")
    p.add_argument("--sequences", help="parquet path of the fact table "
                   "(required unless --list/--write-index)")
    p.add_argument("--sources", help="parquet path of the sources dimension")
    p.add_argument("--baseline", help="parquet path of baseline_stats")
    p.add_argument("--meta", help="parquet path of the meta tag table "
                   "(spec-pack meta checks skip when absent)")
    p.add_argument("--snapshot", help="parquet path of a previous-release "
                   "sequences snapshot (TokenSnapshotEquality skips when "
                   "absent)")
    p.add_argument("--names", nargs="*", help="exact check names")
    p.add_argument("--patterns", nargs="*", help="regex patterns over names")
    p.add_argument("--groups", nargs="*", help="check groups")
    p.add_argument("--type", dest="severity", choices=["critical", "advisory"])
    p.add_argument("--format", dest="fmt", default="parquet",
                   choices=["parquet", "orc", "json", "csv", "jdbc"],
                   help="input table format; jdbc treats each table arg "
                   "as a JDBC URL and needs --jdbc-table")
    p.add_argument("--jdbc-table", help="dbtable of the FACT relation "
                   "for --format jdbc; dimension args default to their "
                   "logical relation names (sources / baseline_stats / "
                   "meta) unless overridden below")
    p.add_argument("--jdbc-sources-table", default="sources")
    p.add_argument("--jdbc-baseline-table", default="baseline_stats")
    p.add_argument("--jdbc-meta-table", default="meta")
    p.add_argument("--jdbc-snapshot-table", default="sequences_snapshot")
    p.add_argument("--schema", help="DDL schema string for csv/json inputs "
                   "(skips the inference scan)")
    p.add_argument("--warehouse", default="/tmp/dcheck_warehouse",
                   help="checkpoint/violations table root")
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--cores", type=int, default=None)
    p.add_argument("--parallelism", type=int, default=None,
                   help="checks in flight concurrently (their jobs share "
                   "executor slots under Spark's FIFO scheduler; the fused "
                   "fact scan overlaps them) — the analogue of "
                   "the reference's analysis_capacity throttle "
                   "(DbDataChecks_conf.pm:214-295); default: a quarter of "
                   "the session's cores, at least 4 (runner.lanes)")
    p.add_argument("--force", action="store_true",
                   help="ignore checkpoints, re-run everything")
    p.add_argument("--no-failures-fatal", action="store_true")
    p.add_argument("--output-json", help="JSON report path")
    p.add_argument("--output-tap", help="TAP-style report path")
    p.add_argument("--es-bulk-file", help="write the Elasticsearch _bulk "
                   "payload for this run here (StoreResultToES.pm analogue; "
                   "offline relay mode — POST the file to {host}/_bulk)")
    p.add_argument("--es-index", default="datachecks",
                   help="ES index name for --es-bulk-file docs")
    p.add_argument("--email-file", help="write the summary email (.eml, "
                   "DataCheckSummary.pm analogue) here")
    p.add_argument("--email-to", nargs="*", default=["datachecks@localhost"],
                   help="To: recipients for --email-file")
    p.add_argument("--tag", help="submission tag echoed in the email "
                   "subject/body and ES input_details")
    p.add_argument("--passed", action="store_true",
                   help="include passing checks in the JSON report")
    p.add_argument("--list", action="store_true", help="list checks and exit")
    p.add_argument("--write-index", metavar="PATH",
                   help="write the registry index.json and exit")
    return p


def main(argv: list[str] | None = None) -> int:
    import ensembl_datacheck_spark.checks  # noqa: F401  (register suite)
    from ensembl_datacheck_spark import registry
    from ensembl_datacheck_spark.plans import reports, sinks
    from ensembl_datacheck_spark.plans.checkpoint import CheckpointStore
    from ensembl_datacheck_spark.plans.runner import Runner
    from ensembl_datacheck_spark.session import get_spark
    from ensembl_datacheck_spark.sources.io import Catalog

    args = build_parser().parse_args(argv)

    if args.write_index:
        registry.write_index(args.write_index)
        print(f"wrote {len(registry)} checks to {args.write_index}")
        return 0
    if args.list:
        for s in registry:
            print(f"{s.name}\t{s.severity.value}\t{','.join(s.groups)}\t"
                  f"{s.description[:70]}")
        return 0

    if not args.sequences:
        print("--sequences is required to run checks", file=sys.stderr)
        return 2
    # select() keeps on-demand checks (e.g. whole-corpus content dedup)
    # out unless a name/pattern/group explicitly picks them
    specs = registry.select(
        names=args.names, patterns=args.patterns, groups=args.groups,
        severity=args.severity,
    )
    if not specs:
        print("no checks selected", file=sys.stderr)
        return 2
    if args.force:
        from dataclasses import replace

        specs = [replace(s, force=True) for s in specs]

    from ensembl_datacheck_spark.sources.io import manifest_lineage, read_table

    # argument validation BEFORE the multi-second JVM spin-up
    if args.fmt == "jdbc" and not args.jdbc_table:
        print("--format jdbc needs --jdbc-table", file=sys.stderr)
        return 2
    if args.parallelism is not None and args.parallelism < 1:
        print("--parallelism must be at least 1", file=sys.stderr)
        return 2
    if args.n_buckets < 1:
        print("--n-buckets must be at least 1", file=sys.stderr)
        return 2
    spark = get_spark("dcheck-cli", cores=args.cores)

    def fmt_kw(relation: str | None) -> dict:
        # each table argument names ITS OWN relation: the fact table from
        # --jdbc-table, dimensions from their (overridable) logical names
        # — one shared dbtable would silently read the fact relation into
        # every slot
        return {"dbtable": relation} if args.fmt == "jdbc" else {}

    tables = {
        "sequences": read_table(spark, args.sequences, args.fmt, args.schema,
                                **fmt_kw(args.jdbc_table))
    }
    if args.sources:
        # --schema describes the fact table only; the small dimension can
        # afford inference when csv/json
        tables["sources"] = read_table(spark, args.sources, args.fmt,
                                       **fmt_kw(args.jdbc_sources_table))
    if args.baseline:
        tables["baseline_stats"] = read_table(
            spark, args.baseline, args.fmt,
            **fmt_kw(args.jdbc_baseline_table))
    if args.meta:
        tables["meta"] = read_table(spark, args.meta, args.fmt,
                                    **fmt_kw(args.jdbc_meta_table))
    if args.snapshot:
        tables["sequences_snapshot"] = read_table(
            spark, args.snapshot, args.fmt,
            **fmt_kw(args.jdbc_snapshot_table))

    catalog = Catalog(spark, args.warehouse)
    # the resume lineage must cover EVERY input a check reads: a changed
    # sources/baseline table invalidates referential/drift checkpoints
    # even when the fact table is untouched
    # every component is SLOT-LABELED ("sources=<hash>"): a bare
    # positional join with empty slots dropped would make different
    # assignments of the same files collide (--sources X --baseline Y vs
    # --baseline X --meta Y) and resume a stale pass against the wrong
    # table
    slots = [("sequences", args.sequences), ("sources", args.sources),
             ("baseline", args.baseline), ("meta", args.meta),
             ("snapshot", args.snapshot)]
    if args.fmt == "jdbc":
        # no files to fingerprint: lineage = url+table identity only (a
        # changed remote table is NOT detected — document-level caveat;
        # use --force when revalidating live databases)
        rels = [args.jdbc_table, args.jdbc_sources_table,
                args.jdbc_baseline_table, args.jdbc_meta_table,
                args.jdbc_snapshot_table]
        lineage = "|".join(
            f"{s}=jdbc:{p}:{r}" for (s, p), r in zip(slots, rels) if p)
    else:
        lineage = "|".join(
            f"{s}={manifest_lineage(p)}" for s, p in slots if p)
    runner = Runner(
        spark, tables, n_buckets=args.n_buckets,
        checkpoint_store=CheckpointStore(catalog),
        lineage=lineage,
    )
    summary = runner.run(
        specs,
        violations_sink=lambda df: catalog.append_atomic(df, "violations"),
        parallelism=args.parallelism,
    )

    if args.output_json:
        reports.write_json_report(summary, args.output_json,
                                  failures_only=not args.passed)
    if args.output_tap:
        reports.write_tap_report(summary, args.output_tap)
    if args.es_bulk_file:
        # hash the FULL lineage: a prefix truncation would keep only the
        # fact-table component, so runs differing just in baseline /
        # meta / snapshot inputs would collide on doc ids and silently
        # overwrite each other's verdicts in the index
        import hashlib
        sinks.store_to_elasticsearch(
            summary, args.es_index, path=args.es_bulk_file,
            run_id=hashlib.md5(lineage.encode()).hexdigest() if lineage
            else "run",
            input_details={"tag": args.tag, "names": args.names,
                           "groups": args.groups, "lineage": lineage},
        )
    if args.email_file:
        sinks.email_summary(
            summary, args.email_to, path=args.email_file, tag=args.tag,
            json_output_file=args.output_json, json_passed=args.passed,
        )
    print(reports.summary_line(summary))
    for name in reports.failed_names(summary):
        print(f"  FAILED: {name}", file=sys.stderr)
    return reports.exit_code(summary, failures_fatal=not args.no_failures_fatal)


if __name__ == "__main__":
    raise SystemExit(main())
