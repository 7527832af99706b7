"""Checkpoint table + resume: the analogue of the reference's JSON history
file (Manager.pm:377-481) and its freshness gate (DbCheck.pm:767-804).

Reference semantics reproduced:

* history keyed `host:port → dbname → species_id → check_name` with
  `{started, finished, passed}` (Manager.pm:410-415, 460-470) → checkpoint
  rows keyed **(check_name, partition_id)** with status, timing, row
  counts, throughput and input lineage;
* a check is skipped on re-run iff it *passed* before AND the input is
  unchanged (`check_history` compares run start vs table update_time,
  DbCheck.pm:767-820) → here: status == 'ok' AND lineage fingerprint
  matches; failed partitions always re-run;
* `force` bypasses the gate (DbCheck.pm:101-105);
* concurrent writers: the reference retries around file locks
  (Manager.pm:386-399) → here appends are atomic per run (Iceberg commit
  or per-run parquet subdir), no locking needed.

Partition ids are **stable across runs** because they derive from the data
(`pmod(xxhash64(doc_id), n_buckets)`), never from task ids (SURVEY.md §4
item 6).
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ensembl_datacheck_spark.sources.io import Catalog, local_frame

CHECKPOINT_SCHEMA = (
    "run_id string, check_name string, partition_id int, status string, "
    "started double, finished double, n_rows long, n_violations long, "
    "throughput double, lineage string"
)


def bucket_col(key: str = "doc_id", n_buckets: int = 64) -> F.Column:
    """Deterministic partition bucket from the data itself."""
    return F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")


@dataclass
class CheckpointRow:
    run_id: str
    check_name: str
    partition_id: int
    status: str
    started: float
    finished: float
    n_rows: int
    n_violations: int
    lineage: str

    @property
    def throughput(self) -> float:
        dt = max(self.finished - self.started, 1e-9)
        return self.n_rows / dt

    def as_tuple(self):
        return (
            self.run_id,
            self.check_name,
            self.partition_id,
            self.status,
            self.started,
            self.finished,
            self.n_rows,
            self.n_violations,
            self.throughput,
            self.lineage,
        )


class CheckpointStore:
    #: the catalog table checkpoint rows are appended to
    table = "checkpoints"

    def __init__(self, catalog: Catalog):
        self.catalog = catalog
        # concurrent runners (fleet fan-out) share one store: parquet
        # append jobs to the same directory share a _temporary committer
        # dir, so writes must not overlap.  Iceberg's ACID commit makes
        # this lock unnecessary; the parquet fallback serializes instead
        # (the analogue of the reference's history-file lock,
        # Manager.pm:386-399).
        import threading

        self._write_lock = threading.Lock()

    def load(self) -> DataFrame | None:
        if not self.catalog.exists(self.table):
            return None
        if self.catalog.use_iceberg:
            # append() committed to one Iceberg table — read THAT arm; a
            # recursive parquet read of its directory would choke on the
            # metadata .avro files and double-count expired snapshots
            return self.catalog.load(self.table)
        # parquet arm: appends live in per-batch subdirectories (see
        # append); a recursive lookup reads them all as one flat table
        return (
            self.catalog.spark.read.option("recursiveFileLookup", "true")
            .schema(CHECKPOINT_SCHEMA)
            .parquet(self.catalog.path(self.table))
        )

    def append(self, rows: list[CheckpointRow]) -> None:
        """Each append writes its OWN subdirectory — concurrent appends
        to one parquet directory share the _temporary committer dir and
        can destroy each other's staged files (two CLIs on the same
        warehouse, fleet threads).  A fresh subdir per batch is the
        no-coordination atomic commit of the parquet fallback; with
        Iceberg on the classpath this becomes a table.append (ACID)."""
        if not rows:
            return
        df = local_frame(
            self.catalog.spark, [r.as_tuple() for r in rows], CHECKPOINT_SCHEMA
        )
        with self._write_lock:
            self.catalog.append_atomic(df, self.table)

    def completed_map(
        self, lineage: str
    ) -> tuple[dict[str, set[int]], dict[int, int]]:
        """The lineage's checkpoint state in ONE load + aggregation,
        uncached (another store on the same warehouse may append at any
        time; the Runner keeps one load per run):

        * ``{check_name: completed partition ids}`` — partitions whose
          **latest** checkpoint for the check is 'ok', skipped on resume
          (latest wins, as the reference's history merge,
          Manager.pm:460-470: newer run overwrites);
        * ``{partition_id: n_rows}`` recorded under the lineage (partition
          -1 carries the table total).  Every check's row for one bucket
          records the same count, and a lineage pins the input, so a
          resume fills its checkpoint rows' ``n_rows`` from here instead
          of recounting the fact table."""
        df = self.load()
        if df is None:
            return {}, {}
        latest = (
            # lineage scopes the history namespace (db + input state):
            # rows from other lineages must not shadow this one's latest
            df.filter(F.col("lineage") == lineage)
            .groupBy("check_name", "partition_id")
            .agg(F.max_by(F.struct("finished", "status", "n_rows"),
                          "finished").alias("last"))
            .select(
                "check_name", "partition_id",
                F.col("last.status").alias("status"),
                F.col("last.n_rows").alias("n_rows"),
            )
        )
        done: dict[str, set[int]] = {}
        rows: dict[int, int] = {}
        for r in latest.collect():
            if r["status"] == "ok":
                done.setdefault(r["check_name"], set()).add(r["partition_id"])
            if r["n_rows"] is not None:
                rows[r["partition_id"]] = r["n_rows"]
        return done, rows


def new_run_id() -> str:
    return f"run_{int(time.time())}_{uuid.uuid4().hex[:8]}"
