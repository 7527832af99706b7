"""Table IO: thin catalog over Iceberg when available, partitioned Parquet
otherwise (SURVEY.md §7.3 "No-Iceberg fallback").

The reference reads MySQL through DBAdaptors (DbCheck.pm:47-52) and keeps
freshness metadata in information_schema.tables.update_time
(DbCheck.pm:806-820).  Here a table is an Iceberg table (snapshot id =
lineage) or a Parquet directory (manifest hash of file names+sizes =
lineage).  Checkpoint/resume (plans/checkpoint.py) records this lineage so
a resumed run can detect stale checkpoints — the analogue of the
reference's history-vs-table-date gate (DbCheck.pm:767-804).
"""

from __future__ import annotations

import hashlib
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


def _iceberg_available(spark: SparkSession) -> bool:
    # Class.forName, NOT attribute access on spark._jvm: py4j resolves an
    # unknown class path to a JavaPackage object without raising, so the
    # attribute probe reports the runtime present even when it is not
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


class Catalog:
    """Named tables rooted at a warehouse directory.

    ``load(name)`` / ``write(df, name)`` / ``lineage(name)``.  Two arms,
    selected by ``use_iceberg`` (runtime-jar probe at construction):

    * **Iceberg arm** (runtime on the classpath): path-based
      ``format("iceberg")`` reads and writes against ``warehouse/name``,
      so table evolution is snapshot-tracked.  Not exercised in this
      sandbox — no Iceberg jars — the branch is covered by a test that
      skips when the runtime is absent (tests/test_engine_core.py).
    * **Parquet arm** (this sandbox): parquet directories with
      identical checkpoint semantics.

    ``lineage()`` is arm-INDEPENDENT: an Iceberg-layout directory
    (``metadata/vN.metadata.json``) yields its current snapshot id read
    straight from the metadata JSON — Iceberg table metadata is plain
    files, so the snapshot-id freshness gate (the analogue of the
    reference's information_schema.tables.update_time gate,
    DbCheck.pm:806-820) works even without the Spark runtime; any other
    directory yields an md5 manifest hash over its data files.
    """

    def __init__(self, spark: SparkSession, warehouse: str | Path):
        self.spark = spark
        self.warehouse = Path(warehouse)
        self.warehouse.mkdir(parents=True, exist_ok=True)
        self.use_iceberg = _iceberg_available(spark)

    def path(self, name: str) -> str:
        return str(self.warehouse / name)

    def exists(self, name: str) -> bool:
        p = Path(self.path(name))
        # is_dir, not exists: a stray plain FILE at a table path must
        # answer False, not raise NotADirectoryError from iterdir
        return p.is_dir() and any(p.iterdir())

    def load(self, name: str, recursive: bool = False) -> DataFrame:
        """``recursive=True`` reads tables grown with append_atomic.  On
        the parquet arm those are per-batch subdirectories (recursive
        file lookup); on the Iceberg arm append_atomic committed to ONE
        Iceberg table, so the flag is a no-op — a recursive PARQUET read
        of an Iceberg directory would ingest metadata .avro files and
        double-count expired snapshots' data files."""
        if self.use_iceberg:
            return self.spark.read.format("iceberg").load(self.path(name))
        reader = self.spark.read
        if recursive:
            reader = reader.option("recursiveFileLookup", "true")
        return reader.parquet(self.path(name))

    def write(self, df: DataFrame, name: str, mode: str = "overwrite") -> None:
        w = df.write.mode(mode)
        if self.use_iceberg:
            w.format("iceberg").save(self.path(name))
        else:
            w.parquet(self.path(name))

    def append_atomic(self, df: DataFrame, name: str) -> None:
        """Append safely under concurrency.  Iceberg arm: a plain append
        — Iceberg commits are ACID, concurrent writers retry on
        conflict.  Parquet arm: write a fresh subdirectory, because
        concurrent appends to one parquet directory share the
        _temporary committer dir and can destroy each other's staged
        files (two drivers on one warehouse); read back with
        ``load(name, recursive=True)``."""
        import uuid

        if self.use_iceberg:
            self.write(df, name, mode="append")
            return
        self.write(df, f"{name}/batch_{uuid.uuid4().hex}", mode="overwrite")

    def lineage(self, name: str) -> str:
        """Stable fingerprint of the current table state — see
        manifest_lineage (one shared definition; the CLI fingerprints
        its input paths with the same helper so the two can never
        drift)."""
        return manifest_lineage(self.path(name))


def manifest_lineage(path: str | Path) -> str:
    """Stable fingerprint of a table path (the update_time analogue,
    DbCheck.pm:767-820 freshness gate): the Iceberg current snapshot id
    when ``path`` is an Iceberg-layout directory (metadata JSON parsed
    directly — works with or without the runtime jars, and survives
    file-level churn like expired-snapshot cleanup that keeps the same
    current snapshot), else md5 over sorted (relpath, size, mtime_ns) of
    the DATA files — any format, not just parquet, so csv/json inputs
    don't all share one empty lineage; keyed by RELATIVE PATH (not
    basename) because moving a file between hive-partition directories
    changes its rows' partition-column values."""
    root = Path(path)
    if root.is_dir():
        snap = _iceberg_snapshot_id(root)
        if snap is not None:
            return f"iceberg-snapshot:{snap}"
    h = hashlib.md5()
    files = (
        sorted(
            p for p in root.rglob("*")
            if p.is_file() and not p.name.startswith(("_", "."))
        )
        if root.is_dir()
        else [root]
    )
    for p in files:
        st = p.stat()
        rel = p.relative_to(root) if root.is_dir() else p.name
        h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def _iceberg_snapshot_id(table_root: Path) -> int | None:
    """Current snapshot id of an Iceberg-layout table directory, or None
    if ``table_root`` is not one.  Reads the table-format files directly
    (version-hint.text → vN.metadata.json, falling back to the
    highest-numbered metadata file) — the format is specified as plain
    JSON on storage, so no Iceberg runtime is needed to answer "has this
    table changed since the checkpoint?"."""
    import json
    import re as _re

    meta_dir = table_root / "metadata"
    if not meta_dir.is_dir():
        return None
    meta_file = None
    hint = meta_dir / "version-hint.text"
    if hint.is_file():
        try:
            v = int(hint.read_text().strip())
            cand = meta_dir / f"v{v}.metadata.json"
            if cand.is_file():
                meta_file = cand
        except (ValueError, OSError):
            # OSError: the hint file can vanish mid-read while an Iceberg
            # commit rewrites it — fall back to the highest-numbered
            # metadata file below, same as a malformed hint
            pass
    if meta_file is None:
        versions = []
        for p in meta_dir.glob("*.metadata.json"):
            m = _re.match(r"v(\d+)\.metadata\.json$", p.name)
            if m:
                versions.append((int(m.group(1)), p))
        if not versions:
            return None
        meta_file = max(versions)[1]
    try:
        meta = json.loads(meta_file.read_text())
        snap = meta.get("current-snapshot-id")
        return int(snap) if snap is not None and int(snap) != -1 else None
    except (ValueError, OSError):
        return None


#: formats the IO layer accepts everywhere a table path is taken.
READABLE_FORMATS = ("parquet", "orc", "json", "csv", "jdbc")


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: str | None = None,
    **options,
) -> DataFrame:
    """Format-dispatched table read.  Columnar formats (parquet/orc) keep
    predicate pushdown + column pruning; for csv/json an explicit
    `schema` DDL string skips the inference scan (mandatory at scale —
    inference reads the data twice) and keeps types stable.  The
    reference's equivalent surface is DBAdaptor MySQL plus flat files
    (DataFilesExist.pm); here every check consumes DataFrames, so any
    readable format plugs into the same check suite unchanged.
    """
    if fmt not in READABLE_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {READABLE_FORMATS}")
    if fmt == "jdbc":
        # The reference's canonical source is a live MySQL server
        # (DbCheck.pm:47-52 adaptor types); this arm is the direct
        # migration path.  `path` is the JDBC URL; one of dbtable/query
        # selects the relation.  For scale, callers pass
        # partitionColumn/lowerBound/upperBound/numPartitions so the scan
        # fans out across executors instead of one serialized cursor
        # (the Spark-native answer to the reference's server-side
        # mysql_use_result streaming, CheckJSONObjects.pm:52-57).
        if not ("dbtable" in options or "query" in options):
            raise ValueError(
                "jdbc reads need a 'dbtable' or 'query' option"
            )
        if "partitionColumn" in options:
            needed = {"lowerBound", "upperBound", "numPartitions"}
            if not needed <= options.keys():
                raise ValueError(
                    "partitioned jdbc reads need all of partitionColumn/"
                    "lowerBound/upperBound/numPartitions"
                )
        reader = spark.read.format("jdbc").option("url", path)
        if schema is not None:
            # the JDBC relation derives its schema from the database and
            # REJECTS reader.schema(); type overrides go through the
            # source's customSchema option instead
            options.setdefault("customSchema", schema)
        return reader.options(**options).load()
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
        if schema is None:
            # Without a schema, csv loads every column as string (json
            # infers types natively); numeric baseline/source counts as
            # strings silently corrupt drift/subtotal arithmetic.  The
            # inference scan is the documented cost of schema-less csv.
            options.setdefault("inferSchema", "true")
    return reader.options(**options).format(fmt).load(path)


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A small driver-built frame: ``rows`` are tuples in the order of
    ``schema``, a DDL string.  The rows travel as one Arrow table typed
    from ``schema`` and become a JVM-side local relation.
    ``createDataFrame`` on a list of tuples plans a PythonRDD instead,
    whose first action forks Python workers just to unpickle the rows."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    arrow = to_arrow_schema(struct)
    table = pa.Table.from_pylist(
        [dict(zip(arrow.names, r)) for r in rows], schema=arrow
    )
    return spark.createDataFrame(table, struct)


def localize_if_small(spark: SparkSession, df: DataFrame) -> DataFrame:
    """``df`` as a JVM local relation when Spark would broadcast it, else
    ``df`` itself.  "Would broadcast" is Spark's own size rule: the
    optimized plan's estimated size is at most
    ``spark.sql.autoBroadcastJoinThreshold`` (so a threshold of -1 turns
    this off too); streaming frames are never localized.  The rows are
    collected and rebuilt on the JVM side, never through Python.

    On a local relation Catalyst folds filters, projections and limits
    at optimization time (``ConvertToLocalRelation``), so a probe such
    as ``filter(...).limit(11).collect()`` runs no Spark job, where the
    file-backed table costs a job or two per probe."""
    if df.isStreaming:
        return df
    jspark, jdf = spark._jsparkSession, df._jdf
    threshold = jspark.sessionState().conf().autoBroadcastJoinThreshold()
    size = int(str(jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    if not 0 <= size <= threshold:
        return df
    return DataFrame(
        jspark.createDataFrame(jdf.collectAsList(), jdf.schema()), spark
    )


SF_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def load_sf_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the driver-provided TPC-H-ish parquet tables (TESTDATA.md)."""
    return {
        t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")) for t in SF_TABLES
    }


def _sql_ident(name: str, what: str) -> str:
    """Backtick-quoted SINGLE identifier segment, rejecting anything that
    could escape the quoting (DDL here is assembled by f-string — a name
    carrying a backtick or control character would inject SQL).  Dots are
    rejected too: this quotes ONE segment, and `a.b` would otherwise
    become a backtick-quoted database literally named "a.b" — addressable
    only as `a.b`.t, which is never what a caller passing a multi-part
    name intends."""
    import re as _re

    if not _re.fullmatch(r"[A-Za-z0-9_\-]+", name):
        raise ValueError(
            f"invalid {what} {name!r}: only [A-Za-z0-9_-] allowed "
            "(one identifier segment — no dots)"
        )
    return f"`{name}`"


def register_database(
    spark: SparkSession,
    db: str,
    tables: dict[str, str],
    fmt: str = "parquet",
) -> None:
    """Register a NAMED database of external tables in the session
    catalog — the cross-database surface (SURVEY S25): the reference
    fetches sibling databases for the same species and joins across them
    (DbCheck.pm:331-401 get_dna_dba; DataFilesExist.pm:167-184).  Here a
    sibling database is a catalog namespace: each entry maps a table
    name to its storage path, and any query or check addresses it as
    ``db.table`` — joins across namespaces plan exactly like same-table
    joins (Catalyst resolves both to scans; broadcast/pushdown apply
    unchanged).  Identifiers and paths are validated/quoted — the DDL is
    assembled textually and a quote in a path must not break or inject
    it."""
    if fmt not in READABLE_FORMATS or fmt == "jdbc":
        # jdbc is readable through read_table (url + dbtable OPTIONS) but
        # has no LOCATION semantics: 'USING jdbc LOCATION <url>' creates
        # a table whose every SELECT fails (LOCATION maps to 'path', the
        # JDBC source needs 'url'/'dbtable')
        ok = tuple(f for f in READABLE_FORMATS if f != "jdbc")
        raise ValueError(f"unsupported format {fmt!r}; one of {ok}")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {_sql_ident(db, 'database name')}")
    for name, path in tables.items():
        if "'" in path or "\n" in path:
            raise ValueError(f"invalid table location {path!r}")
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS "
            f"{_sql_ident(db, 'database name')}.{_sql_ident(name, 'table name')} "
            f"USING {fmt} LOCATION '{path}'"
        )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_by: str,
    n_buckets: int = 64,
    sort_by: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (+optionally sorted) table in the session
    catalog.  Two tables bucketed on the join key with the same bucket
    count join with ZERO shuffle (SortMergeJoin reads co-located
    buckets) — the 100-TB layout for fact↔fact joins (dedup pair
    verification, sequences↔annotations): pay the shuffle once at write
    time, never again per query."""
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, bucket_by)
    if sort_by is not None:
        w = w.sortBy(sort_by)
    w.saveAsTable(table_name)
