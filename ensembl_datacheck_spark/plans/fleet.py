"""Multi-database fan-out: the DbFactory → RunDataChecks analogue
(DbDataChecks_conf.pm:209-242) — one validation run per target database
(here: per sequences table), all within one SparkSession, results
aggregated into a single fleet summary and one shared checkpoint table.

Work-unit enumeration is the reference's species/database selection step
(run_datachecks.pl:221-242); capacity throttling maps to
``max_parallel_dbs`` (analysis_capacity=10, DbDataChecks_conf.pm:214).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from ensembl_datacheck_spark.plans.checkpoint import CheckpointStore
from ensembl_datacheck_spark.plans.runner import Runner, SharedComputations
from ensembl_datacheck_spark.registry import CheckSpec
from ensembl_datacheck_spark.verdict import RunSummary


@dataclass
class DbTarget:
    """One validation target: a named set of tables (db analogue)."""

    name: str
    tables: dict  # table name -> DataFrame
    lineage: str = ""


@dataclass
class FleetSummary:
    by_db: dict[str, RunSummary] = field(default_factory=dict)
    # targets whose whole run raised (corrupt input, driver error):
    # name -> traceback.  A broken database must not abort its siblings
    # (the reference's per-db hive jobs fail independently).
    errors: dict[str, str] = field(default_factory=dict)

    @property
    def all_passed(self) -> bool:
        return not self.errors and all(
            s.all_passed for s in self.by_db.values()
        )

    def to_dict(self, failures_only: bool = True) -> dict:
        out = {
            name: s.to_dict(failures_only=failures_only)
            for name, s in self.by_db.items()
        }
        if self.errors:
            out["__errors__"] = dict(self.errors)
        return out


def run_fleet(
    spark: SparkSession,
    targets: list[DbTarget],
    specs: list[CheckSpec],
    n_buckets: int = 64,
    checkpoint_store: CheckpointStore | None = None,
    max_parallel_dbs: int = 1,
    config: dict | None = None,
) -> FleetSummary:
    """Run the check set against every target.  One checkpoint table
    serves the whole fleet: rows are namespaced per db through the
    lineage fingerprint (``"<db>:<input lineage>"``), so resume matching
    is per-(db, check, partition) — the reference history file's
    dbname-level keying (Manager.pm:410-415).

    All runners share ONE SharedComputations memo: shared values are
    keyed by table fingerprint (checks/core.profile_memo_key), so a
    fan-out whose targets validate the same fact table pays one profile
    cube per TABLE for the whole fleet, while targets with distinct
    tables still build (and can never cross-consume) their own."""
    names = [t.name for t in targets]
    if len(set(names)) != len(names):
        # by_db is keyed by name and checkpoint lineage is namespaced by
        # name — a duplicate would silently drop one target's verdicts
        # AND cross-contaminate the other's resume buckets
        dupes = sorted({n for n in names if names.count(n) > 1})
        raise ValueError(f"duplicate fleet target name(s): {dupes}")
    fleet = FleetSummary()
    fleet_shared = SharedComputations()

    def one(target: DbTarget) -> tuple[str, RunSummary | None, str | None]:
        try:
            runner = Runner(
                spark,
                target.tables,
                n_buckets=n_buckets,
                checkpoint_store=checkpoint_store,
                lineage=f"{target.name}:{target.lineage}",
                config=config,
                shared=fleet_shared,
            )
            return target.name, runner.run(specs), None
        except Exception:
            import traceback

            return target.name, None, traceback.format_exc(limit=8)

    try:
        with ThreadPoolExecutor(max_workers=max_parallel_dbs) as pool:
            outs = list(pool.map(one, targets))
    finally:
        # the fleet owns the shared memo (runners received it injected,
        # so Runner.run left it alone): free the per-table cube blocks
        # once the whole fan-out is done
        fleet_shared.release()
    for name, summary, err in outs:
        if err is not None:
            fleet.errors[name] = err
        else:
            fleet.by_db[name] = summary
    return fleet
