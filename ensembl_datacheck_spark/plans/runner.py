"""Runner/orchestrator: the Spark-native restatement of Manager +
TAP harness + eHive fan-out/funnel (SURVEY.md §2.5, §3).

Execution model:

* one SparkSession; each check = one (or few) DataFrame actions — the
  analogue of one eHive worker per (db, check) (DataCheckFan.pm:32-66)
  without process fan-out cost;
* fan-out: every run uses one thread pool of ``parallelism`` lanes
  (default ``lanes(spark)``), the analogue of eHive's
  ``analysis_capacity`` throttle (DbDataChecks_conf.pm:214-295);
* **row-fused checks**: a check declared as a row-predicate factory is
  executed with its siblings in a single scan (operators/fused.py) —
  per-(bucket, assertion) counts in one aggregation + one violating-row
  projection — instead of one scan per check as the reference does;
* ``run_check`` is a one-check run: every check, standalone or not,
  executes through ``Runner``;
* funnel: verdicts united into a RunSummary, violations appended to the
  violations table, checkpoint rows appended once per run
  (DataCheckFunnel.pm:35-91 semantics: single merged write);
* resume: partitions whose latest checkpoint is ok under the current input
  lineage are filtered out *before* the scan (cheap bucket-id predicate,
  no extra shuffle); `force` bypasses (DbCheck.pm:101-105);
* error-in-check → failed verdict with diagnostic, run continues
  (BaseCheck.pm:131-139).
"""

from __future__ import annotations

import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ensembl_datacheck_spark.operators.fused import (
    RowPredicate,
    fused_violation_counts,
    fused_violation_rows,
)
from ensembl_datacheck_spark.plans.checkpoint import (
    CheckpointRow,
    CheckpointStore,
    bucket_col,
    new_run_id,
)
from ensembl_datacheck_spark.registry import CheckSpec
from ensembl_datacheck_spark.sources.io import localize_if_small
from ensembl_datacheck_spark.verdict import (
    AssertionResult,
    CheckResult,
    RunSummary,
    Status,
)


def lanes(spark: SparkSession) -> int:
    """Default number of checks in flight: a quarter of the session's
    task slots, at least 4.  The suite's few heavy shared-scan checks
    would otherwise queue as two waves on 4 lanes at 32 cores
    (BENCH/BASELINE.md, "core-adaptive suite pool lanes"), while small
    hosts keep the historical 4."""
    return max(4, spark.sparkContext.defaultParallelism // 4)


@contextmanager
def job_group(
    spark: SparkSession, name: str, pool: str | None = None
) -> Iterator[None]:
    """Tag every Spark job this thread launches inside the block with
    job group ``dcheck:<name>`` (and, given ``pool``, label its stages
    with that scheduler pool); the thread's previous properties come
    back afterwards.  Jobs AQE and broadcasts launch on the query's
    behalf inherit the tag, so Spark's status store attributes each job
    to the check (or runner step) that caused it."""
    sc = spark.sparkContext
    props = {
        "spark.jobGroup.id": f"dcheck:{name}",
        "spark.job.description": f"dcheck:{name}",
    }
    if pool is not None:
        props["spark.scheduler.pool"] = pool
    prev = {k: sc.getLocalProperty(k) for k in props}
    for k, v in props.items():
        sc.setLocalProperty(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)


class SkipCheck(Exception):
    def __init__(self, reason: str):
        super().__init__(reason)
        self.reason = reason


class SharedComputations:
    """Per-run memo for values several checks consume: the fact-table
    profile of checks/core.py (one cube scan and its collected summary
    replace six full scans), and the Runner's own per-run values.  Every
    consumer asks with a blocking ``get``: the first caller computes the
    value while later callers of the SAME key wait for it, under a lock
    per key, so unrelated keys never serialize behind each other."""

    def __init__(self) -> None:
        self._vals: dict[str, object] = {}
        self._locks: dict[str, threading.Lock] = {}
        self._meta = threading.Lock()

    def get(self, key: str, fn: Callable[[], object]) -> object:
        with self._meta:
            lock = self._locks.setdefault(key, threading.Lock())
        with lock:
            if key not in self._vals:
                self._vals[key] = fn()
            return self._vals[key]

    def release(self) -> None:
        """Unpersist cached DataFrame values and reset the memo.  Called
        by whoever OWNS the memo once every consumer is done (Runner.run
        for a private memo, run_fleet for a fleet-shared one): persisted
        values (the fact-profile cube) otherwise hold CacheManager
        entries for the SparkSession's lifetime — one InMemoryRelation
        per distinct table, accumulating without bound in a long-lived
        session.  Downstream plans built FROM a released value stay
        correct: persist() keeps recomputable lineage, so a late
        consumer recomputes rather than fails."""
        with self._meta:
            vals = list(self._vals.values())
            self._vals.clear()
            self._locks.clear()
        for v in vals:
            unpersist = getattr(v, "unpersist", None)
            if callable(unpersist):
                try:
                    unpersist(False)
                except Exception:
                    pass  # session already stopped: nothing to free


class CheckContext:
    """What a check body sees: tables, config, assertion recorder.  The
    analogue of the reference's dba + Test::More import surface.  The
    Runner builds one per check (Runner._exec_one) and one for the fused
    scan's factories (Runner._run_fused)."""

    def __init__(
        self,
        spark: SparkSession,
        tables: dict[str, DataFrame],
        config: dict | None,
        check_name: str,
        bucket_key: str,
        n_buckets: int,
        shared: SharedComputations,
        local_table: Callable[[str, DataFrame], DataFrame],
    ):
        self.spark = spark
        self.tables = tables
        self.config = config or {}
        self.result = CheckResult(check_name=check_name)
        self.violations: list[DataFrame] = []
        self.bucket_key = bucket_key
        self.n_buckets = n_buckets
        #: the run's memo for cross-check shared jobs (Runner.shared)
        self.shared = shared
        #: the run's table resolver (Runner._table_for: small dimension
        #: tables become local relations)
        self._local_table = local_table

    def table(self, name: str) -> DataFrame:
        if name in self.tables:
            return self._local_table(name, self.tables[name])
        if "." in name:
            # cross-database lookup (S25): a qualified name resolves
            # through the session catalog (io.register_database) — the
            # analogue of the reference's get_dna_dba sibling-database
            # fetch (DbCheck.pm:331-401)
            try:
                return self.spark.table(name)
            except Exception as exc:  # AnalysisException: missing ns/table
                raise SkipCheck(
                    f"required table '{name}' not available ({exc.__class__.__name__})"
                ) from exc
        raise SkipCheck(f"required table '{name}' not available")

    def skip(self, reason: str) -> None:
        raise SkipCheck(reason)

    def record(
        self,
        assertion_and_violations: tuple[AssertionResult, DataFrame | None],
        key_col: str | None = None,
    ) -> bool:
        """Record an assertion; standardize + stash its violation rows for
        the funnel write.  Returns ok-ness so bodies can early-out."""
        ar, viol = assertion_and_violations
        self.result.assertions.append(ar)
        # only zero-expected counts ARE violation counts: a failing
        # comparison assertion (row_totals, cmp_rows) carries the
        # OBSERVED total in `got` — adding a 10^9 row count would claim a
        # billion violations for one failed count comparison.  bool is
        # excluded (isinstance(True, int) is True in Python).
        if (
            ar.status == Status.FAIL
            and isinstance(ar.got, int)
            and not isinstance(ar.got, bool)
            and ar.expected == 0
        ):
            self.result.n_violations += ar.got
        if viol is not None:
            key_col = key_col or viol.columns[0]
            part = (
                bucket_col(self.bucket_key, self.n_buckets)
                if self.bucket_key in viol.columns
                else F.lit(-1)
            )
            detail_cols = [c for c in viol.columns if c != key_col][:6]
            detail = (
                F.to_json(F.struct(*detail_cols))
                if detail_cols
                else F.lit(None).cast("string")
            )
            self.violations.append(
                viol.select(
                    F.lit(self.result.check_name).alias("check_name"),
                    F.lit(ar.name).alias("assertion"),
                    part.alias("partition_id"),
                    F.col(key_col).cast("string").alias("key"),
                    detail.alias("detail"),
                )
            )
        return ar.ok


def run_check(
    spec: CheckSpec,
    spark: SparkSession,
    tables: dict[str, DataFrame],
    config: dict | None = None,
    bucket_key: str = "doc_id",
    n_buckets: int = 64,
    shared: SharedComputations | None = None,
) -> tuple[CheckResult, list[DataFrame]]:
    """Programmatic single-check entry point (reference §3.3:
    `My::Check->new(...)->run()`): a one-check Runner run whose fact
    table is the check's first table, so its verdict and violation rows
    are the ones a full run gives."""
    violations: list[DataFrame] = []
    summary = Runner(
        spark, tables,
        fact_table=spec.tables[0] if spec.tables else "sequences",
        bucket_key=bucket_key, n_buckets=n_buckets, config=config,
        shared=shared,
    ).run([spec], write_checkpoints=False,
          violations_sink=violations.append, parallelism=1)
    return summary.results[0], violations


def _skipped(
    spec: CheckSpec, reason: str | None = None, error: str | None = None
) -> CheckResult:
    """The verdict of a check the runner stopped before its assertions:
    skipped for ``reason`` or failed with ``error``, under the check's
    own severity."""
    return CheckResult(
        check_name=spec.name, severity=spec.severity.value,
        skip_reason=reason, error=error,
    ).finish()


class Runner:
    def __init__(
        self,
        spark: SparkSession,
        tables: dict[str, DataFrame],
        fact_table: str = "sequences",
        bucket_key: str = "doc_id",
        n_buckets: int = 64,
        checkpoint_store: CheckpointStore | None = None,
        lineage: str = "",
        config: dict | None = None,
        shared: SharedComputations | None = None,
    ):
        if n_buckets < 1:
            # 0 would fail mid-run in the fused scan's modulo; a negative
            # count yields negative bucket ids that never checkpoint
            raise ValueError(f"n_buckets must be at least 1, got {n_buckets}")
        self.spark = spark
        self.tables = dict(tables)
        self.fact_table = fact_table
        self.bucket_key = bucket_key
        self.n_buckets = n_buckets
        self.store = checkpoint_store
        # bucket count AND bucket key participate in the checkpoint
        # namespace: resuming under a different n_buckets (or a different
        # hash key) would reinterpret old partition ids as a different
        # row subset and skip rows that were never checked.
        # Unconditional — an EMPTY input lineage still resumes against
        # the store, so it needs the namespace just as much
        self.lineage = f"{lineage}#nb{n_buckets}#bk{bucket_key}"
        self.config = config or {}
        self.run_id = new_run_id()
        # Injectable so a fleet (plans/fleet.py) can hand every Runner ONE
        # memo: shared values are keyed by table fingerprint
        # (checks/core._profile_memo_key), so targets that validate the
        # SAME table share one cube build while distinct tables can never
        # collide.  Default: a memo of this Runner's own, released by
        # run() (the memo's owner releases it).
        self.shared = shared if shared is not None else SharedComputations()
        self._owns_shared = shared is None
        # per-run state, set up by run(): a memo for the dimension tables'
        # local relations (_table_for) and the lineage's checkpoint state
        # (_checkpoints), and the rows per bucket the fused scan
        # counted (partition -1 = the whole table)
        self._run_memo: SharedComputations | None = None
        self._scanned_rows: dict[int, int] = {}

    # --- helpers ---

    def _bucket(self) -> F.Column:
        return bucket_col(self.bucket_key, self.n_buckets)

    def _table_for(self, name: str, df: DataFrame) -> DataFrame:
        """What ``ctx.table(name)`` hands a check during a run: a
        non-fact table Spark would broadcast becomes a local relation on
        first use and is shared by every later check of the run
        (sources.io.localize_if_small); the fact table, and any table
        outside a run, stays as given."""
        cache = self._run_memo
        if cache is None or name == self.fact_table:
            return df

        def build() -> DataFrame:
            with job_group(self.spark, "__tables__"):
                return localize_if_small(self.spark, df)

        return cache.get(f"table:{name}", build)

    def _bucket_rows(self, need: set[int]) -> dict[int, int]:
        """Rows per bucket for the checkpoint rows' ``n_rows`` (partition
        -1: the whole table), from counts the run already holds: the
        fused scan's, then the lineage's checkpoint rows (a resume).  The
        fact table is counted only when neither covers every bucket in
        ``need``.  Runs without the fact table (e.g. a meta-only
        spec-pack suite) report no row counts rather than failing."""
        if self.fact_table not in self.tables:
            return {}
        known = dict(self._scanned_rows)
        if not need <= known.keys() and self.store is not None:
            for b, n in self._checkpoints()[1].items():
                known.setdefault(b, n)
        if -1 not in known and known.keys() >= set(range(self.n_buckets)):
            known[-1] = sum(known[b] for b in range(self.n_buckets))
        return known if need <= known.keys() else self._count_bucket_rows()

    def _count_bucket_rows(self) -> dict[int, int]:
        """One groupBy-count over the whole fact table."""
        rows = (
            self.tables[self.fact_table]
            .groupBy(self._bucket().alias("b"))
            .count()
            .collect()
        )
        counted = {r["b"]: r["count"] for r in rows}
        counted[-1] = sum(counted.values())
        return counted

    def _checkpoints(self) -> tuple[dict[str, set[int]], dict[int, int]]:
        """The lineage's completed map and rows per bucket
        (CheckpointStore.completed_map), loaded once per run: one load
        serves every check, and the run's own append comes after every
        check has read it."""

        def load() -> tuple[dict[str, set[int]], dict[int, int]]:
            with job_group(self.spark, "__checkpoint__"):
                return self.store.completed_map(self.lineage)

        return self._run_memo.get("checkpoints", load)

    def _pending_buckets(self, spec: CheckSpec) -> list[int] | None:
        """None = all pending.  Empty list = nothing to do (skip)."""
        if self.store is None or spec.force:
            return None
        done = self._checkpoints()[0].get(spec.name, set())
        if not done:
            return None
        all_b = set(range(self.n_buckets)) if spec.per_partition else {-1}
        pending = sorted(all_b - done)
        return pending

    def _filtered_tables(self, pending: list[int] | None) -> dict[str, DataFrame]:
        if pending is None:
            return self.tables
        t = dict(self.tables)
        t[self.fact_table] = t[self.fact_table].filter(
            self._bucket().isin(pending)
        )
        return t

    def _checkpoint_rows(
        self,
        spec: CheckSpec,
        result: CheckResult,
        viol_counts: dict[int, int],
        pending: list[int] | None,
        started: float,
    ) -> list[CheckpointRow]:
        """The check's checkpoint rows; ``n_rows`` is filled for the whole
        batch just before the append (_bucket_rows)."""
        finished = time.time()
        if result.skip_reason is not None:
            # a skipped check never ran: recording 'ok' buckets would make
            # resume silently skip it forever (the reference's history
            # only records finished runs, DbCheck.pm:767-804)
            return []
        if spec.per_partition:
            buckets = pending if pending is not None else list(range(self.n_buckets))
        else:
            buckets = [-1]
        # a failure that carries no per-bucket attribution (error, an
        # assertion counted only globally, or counts keyed -1 because the
        # violation frame had no bucket column) must poison every pending
        # bucket, not mark them 'ok' — {-1: n} on a per-partition check
        # previously checkpointed every bucket 'ok' and the failure was
        # skipped forever on resume
        unattributed_fail = result.status is not Status.OK and (
            not viol_counts or -1 in viol_counts
        )
        rows = []
        for b in buckets:
            nv = viol_counts.get(b, 0)
            if b == -1:
                status = result.status.value
            else:
                status = (
                    "fail"
                    if nv > 0 or result.error or unattributed_fail
                    else "ok"
                )
            rows.append(
                CheckpointRow(
                    run_id=self.run_id,
                    check_name=spec.name,
                    partition_id=b,
                    status=status,
                    started=started,
                    finished=finished,
                    n_rows=0,
                    n_violations=nv,
                    lineage=self.lineage,
                )
            )
        return rows

    # --- execution ---

    def run(
        self,
        specs: list[CheckSpec],
        write_checkpoints: bool = True,
        violations_sink: Callable[[DataFrame], None] | None = None,
        parallelism: int | None = None,
    ) -> RunSummary:
        """Run ``specs`` from one thread pool — the in-session analogue
        of the reference's per-check worker fan-out (DataCheckFan.pm:32-66)
        under its analysis_capacity throttle (DbDataChecks_conf.pm:270).
        The fused fact scan gets a slot of its own; ``parallelism`` other
        checks (default ``lanes(spark)``) run beside it, started in spec
        order, and take over the scan's slot once it is done.  Verdicts
        come back fused checks first, then the rest in spec order.  Spark
        schedules the concurrent jobs FIFO: each check's
        ``spark.scheduler.pool`` property only labels its stages, and its
        jobs carry job group ``dcheck:<check>`` (the scan's:
        ``dcheck:__fused__``, see job_group).

        The run's OWN shared memo is released once the run, funnel write
        included, completes or fails: a persist() without a paired
        unpersist() would hold one InMemoryRelation per distinct fact
        table for the SparkSession's lifetime.  A memo INJECTED by a
        fleet is left for run_fleet to release.  Per-run state (the
        dimension tables' local relations, the lineage's checkpoint map,
        the fused scan's row counts) lives only for the call."""
        if parallelism is None:
            parallelism = lanes(self.spark)
        if parallelism < 1:
            raise ValueError(
                f"parallelism must be at least 1, got {parallelism}"
            )
        self._run_memo = SharedComputations()
        self._scanned_rows = {}
        try:
            summary = RunSummary()
            all_violations: list[DataFrame] = []
            checkpoint_rows: list[CheckpointRow] = []

            fused = [s for s in specs if s.row_predicates is not None]
            rest = [s for s in specs if s not in fused]

            def pooled(spec: CheckSpec):
                with job_group(self.spark, spec.name, f"dcheck_{spec.name}"):
                    return self._exec_one(spec, write_checkpoints)

            def fused_pooled():
                with job_group(self.spark, "__fused__", "dcheck_fused_scan"):
                    # appends into summary/all_violations/checkpoint_rows
                    # directly; safe because pooled() tasks only RETURN
                    # their results — the shared lists are written by this
                    # thread during the pool phase and by the main thread
                    # strictly after pool shutdown
                    self._run_fused(
                        fused, summary, all_violations, checkpoint_rows
                    )

            # the fused fact scan runs AS a pool task in a slot of its own,
            # so the many contract-small checks (dimension/meta/baseline
            # rules, one-row aggregates) overlap it instead of queueing
            # behind it — measured at 20M rows/8 cores this serialization
            # was the single largest scaling drag (BENCH/BASELINE.md
            # round-3 attribution).  Under Spark's FIFO scheduler their
            # tiny jobs take executor slots as the scan's tasks finish.
            with ThreadPoolExecutor(parallelism + (1 if fused else 0)) as pool:
                fused_fut = pool.submit(fused_pooled) if fused else None
                outs = list(pool.map(pooled, rest))
                if fused_fut is not None:
                    fused_fut.result()

            for result, violations, cps in outs:
                summary.results.append(result)
                all_violations.extend(violations)
                checkpoint_rows.extend(cps)

            # --- funnel (DataCheckFunnel.pm: single merged write) ---
            if all_violations and violations_sink is not None:
                union = all_violations[0]
                for v in all_violations[1:]:
                    union = union.unionByName(v)
                with job_group(self.spark, "__funnel__"):
                    violations_sink(union)
            if write_checkpoints and self.store is not None:
                with job_group(self.spark, "__checkpoint__"):
                    if checkpoint_rows:
                        rows = self._bucket_rows(
                            {r.partition_id for r in checkpoint_rows}
                        )
                        for r in checkpoint_rows:
                            r.n_rows = rows.get(r.partition_id, 0)
                    self.store.append(checkpoint_rows)
            return summary
        finally:
            self._run_memo = None
            self._scanned_rows = {}
            if self._owns_shared:
                self.shared.release()

    def _context(
        self, tables: dict[str, DataFrame], check_name: str = ""
    ) -> CheckContext:
        """A check's view of ``tables`` in this run: the run's memo and
        table resolver, even when ``tables`` is resume-filtered —
        shared values are keyed by the analyzed plan of the table they
        were built from (checks/core._profile_memo_key), so a filtered
        fact table can never read or poison the full table's."""
        return CheckContext(
            self.spark, tables, self.config, check_name, self.bucket_key,
            self.n_buckets, self.shared, self._table_for,
        )

    def _exec_one(
        self, spec: CheckSpec, write_checkpoints: bool
    ) -> tuple[CheckResult, list[DataFrame], list[CheckpointRow]]:
        """Run one body check against its pending buckets; returns its
        verdict, violation frames and checkpoint rows.  A check that
        skips or raises stops there, and the run goes on
        (BaseCheck.pm:131-139)."""
        started = time.time()
        pending = self._pending_buckets(spec)
        if pending is not None and not pending:
            # DbCheck.pm:775 analogue
            return _skipped(spec, "All tests passed in a previous run"), [], []
        ctx = self._context(self._filtered_tables(pending), spec.name)
        ctx.result.severity = spec.severity.value
        try:
            spec.body(ctx)
        except SkipCheck as s:
            ctx.result.skip_reason = s.reason
        except Exception:
            ctx.result.error = traceback.format_exc(limit=8)
        result, violations = ctx.result.finish(), ctx.violations
        if self.store is None or not write_checkpoints:
            return result, violations, []
        # a check attributes its violations to buckets only through
        # partition_violations; an unattributed failure poisons every
        # pending bucket (the -1 key)
        viol_counts: dict[int, int] = {}
        if result.partition_violations:
            viol_counts = dict(result.partition_violations)
        elif result.n_violations:
            viol_counts = {-1: result.n_violations}
        cps = self._checkpoint_rows(spec, result, viol_counts, pending, started)
        return result, violations, cps

    def _run_fused(
        self,
        specs: list[CheckSpec],
        summary: RunSummary,
        all_violations: list[DataFrame],
        checkpoint_rows: list[CheckpointRow],
    ) -> None:
        """Execute all row-predicate checks in one scan.  Pending buckets
        are computed per check; the scan covers the union of pending
        buckets and per-check verdicts only consider that check's pending
        set."""
        started = time.time()
        # the fused scan is the run's fact table: a check declared over
        # another table skips rather than score that table's predicates
        # against the wrong rows (or fail to resolve them outside
        # per-check containment)
        ours = []
        for s in specs:
            target = s.tables[0] if s.tables else self.fact_table
            if target == self.fact_table:
                ours.append(s)
            else:
                summary.results.append(_skipped(
                    s, f"{s.name} targets '{target}' but the fused scan "
                       f"is '{self.fact_table}'"))
        specs = ours
        fact = self.tables.get(self.fact_table)
        if fact is None:
            # no fact table in this run (e.g. a meta-only spec-pack
            # suite): every fused check skips with a reason — the same
            # per-check containment ctx.table gives body checks, not a
            # KeyError that would abort the whole run
            reason = f"required table '{self.fact_table}' not available"
            summary.results.extend(_skipped(s, reason) for s in specs)
            return
        pending_by_check: dict[str, list[int] | None] = {
            s.name: self._pending_buckets(s) for s in specs
        }
        todo = [s for s in specs if pending_by_check[s.name] != []]
        summary.results.extend(
            _skipped(s, "All tests passed in a previous run")
            for s in specs if pending_by_check[s.name] == []
        )
        if not todo:
            return
        union_pending: set[int] | None = set()
        for s in todo:
            p = pending_by_check[s.name]
            if p is None:
                union_pending = None
                break
            union_pending |= set(p)
        scan = fact
        if union_pending is not None:
            scan = scan.filter(self._bucket().isin(sorted(union_pending)))

        ctx = self._context({**self.tables, self.fact_table: scan})
        preds: list[RowPredicate] = []
        pred_owner: dict[str, CheckSpec] = {}
        scan2 = scan
        healthy: list[CheckSpec] = []
        for s in todo:
            # a predicate factory that cannot run (missing table, bad
            # config) must skip/fail THIS check only — same error
            # containment as _exec_one (BaseCheck.pm:131-139), not a
            # crash of every sibling in the fused scan.  A failed
            # factory's pending buckets are checkpointed 'fail', as a
            # body check's error is, so a resume runs it again
            try:
                ps, scan2 = s.row_predicates(ctx, scan2)
            except SkipCheck as e:
                summary.results.append(_skipped(s, e.reason))
                continue
            except Exception:
                res = _skipped(s, error=traceback.format_exc(limit=8))
                summary.results.append(res)
                checkpoint_rows.extend(self._checkpoint_rows(
                    s, res, {}, pending_by_check[s.name], started))
                continue
            if not ps:
                # e.g. a generated sweep over a table with no applicable
                # columns: nothing to assert, and an empty predicate list
                # would crash the fused aggregation downstream
                summary.results.append(
                    _skipped(s, "no applicable columns/predicates"))
                continue
            for p in ps:
                if p.assertion in pred_owner:
                    raise ValueError(
                        f"duplicate fused assertion name {p.assertion!r} "
                        f"({pred_owner[p.assertion].name} vs {s.name}): "
                        "assertion names key the fused counts aggregation "
                        "and must be unique across fused checks"
                    )
                preds.append(p)
                pred_owner[p.assertion] = s
            healthy.append(s)
        todo = healthy
        if not todo:
            return

        bucket = self._bucket()
        counts = fused_violation_counts(scan2, preds, bucket).collect()
        viol_rows = fused_violation_rows(scan2, preds, bucket, self.bucket_key)
        # the counts carry every scanned bucket's row count (an absent
        # bucket has none): the checkpoint rows' n_rows need no separate
        # counting scan.  Only this thread writes _scanned_rows during
        # the pool phase; run() reads it after pool shutdown
        scanned = {r["partition_id"]: r["n_rows"] for r in counts}
        covered = (
            range(self.n_buckets) if union_pending is None else union_pending
        )
        self._scanned_rows.update({b: scanned.get(b, 0) for b in covered})
        if union_pending is None:
            self._scanned_rows[-1] = sum(scanned.values())

        # per-check verdicts from the fused counts
        for s in todo:
            own = [p for p in preds if pred_owner[p.assertion] is s]
            res = CheckResult(check_name=s.name)
            res.severity = s.severity.value
            res.started = started
            my_pending = pending_by_check[s.name]
            viol_counts: dict[int, int] = {}
            for p in own:
                total = 0
                for r in counts:
                    b = r["partition_id"]
                    if my_pending is not None and b not in my_pending:
                        continue
                    c = r[p.assertion] or 0
                    total += c
                    if c:
                        viol_counts[b] = viol_counts.get(b, 0) + c
                status = Status.OK if total == 0 else Status.FAIL
                diag = (
                    []
                    if total == 0
                    else [f"{total} violating rows; persisted to violations table"]
                )
                res.assertions.append(
                    AssertionResult(p.assertion, status, expected=0, got=total, diag=diag)
                )
                res.n_violations += total
            res.n_rows_checked = sum(
                n for b, n in scanned.items()
                if my_pending is None or b in my_pending
            )
            summary.results.append(res.finish())
            checkpoint_rows.extend(
                self._checkpoint_rows(s, res, viol_counts, my_pending, started)
            )
        own_assertions = [p.assertion for p in preds]
        tagged = viol_rows.withColumn(
            "check_name",
            F.element_at(
                F.map_from_arrays(
                    F.array(*[F.lit(a) for a in own_assertions]),
                    F.array(*[F.lit(pred_owner[a].name) for a in own_assertions]),
                ),
                F.col("assertion"),
            ),
        ).select("check_name", "assertion", "partition_id", "key", "detail")
        # the union scan covers EVERY fused check's pending buckets; a
        # check must persist violations only for ITS OWN pending set —
        # otherwise a row in a sibling's bucket is written under this
        # check's name while its counts/verdict/checkpoints exclude that
        # bucket (violations table contradicting the verdict on resume)
        out_of_scope = None
        for s in todo:
            p = pending_by_check[s.name]
            if p is None:
                continue
            cond = (F.col("check_name") == s.name) & ~F.col(
                "partition_id"
            ).isin(sorted(p))
            out_of_scope = cond if out_of_scope is None else (out_of_scope | cond)
        if out_of_scope is not None:
            tagged = tagged.filter(~out_of_scope)
        all_violations.append(tagged)
