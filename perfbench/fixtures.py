"""Seeded inputs for the benchmark workloads.

Everything the engine sees is generated here from ``--seed``:

* the ``sequences`` fact table (plus ``sources`` and a clean
  ``baseline_stats``) for the suite workload, built from
  ``synth.gen_sequences`` with the injected violations confined to a
  fixed 1/16 of the doc_id buckets (see ``build_suite_fixture``);
* the TPC-H-ish tables the entry queries read (``plans.entry_queries``
  loads ``<sf_dir>/<table>.parquet``), drawn with numpy and written with
  pyarrow in the shapes and value domains of the sf test tables
  (TESTDATA.md).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- suite fixture ---------------------------------------------------------

# Violations live in VIOLATION_BUCKETS of the N_BUCKETS doc_id buckets
# (the CLI's default bucket count): 4 / 64 = 1/16 of the table.
N_BUCKETS = 64
VIOLATION_BUCKETS = 4

# failing check -> fixture violation kinds that make it fail
CHECK_KINDS = {
    "SequencesCompleteness": ("null_doc_id", "empty_doc_id", "null_tokens",
                              "empty_tokens"),
    "TokenInvariants": ("len_mismatch", "bad_token_rows"),
    "SourceReferential": ("orphan_source_rows",),
    "DocIdUnique": ("dup_rows",),
}


def _kind_columns(source_names, vocab_size):
    """Engine-independent predicates for each injected violation kind
    (one boolean column per kind of ``synth.expected_violation_counts``),
    over rows tagged with a ``part`` column."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    did, tok = F.col("doc_id"), F.col("tokens")
    dup = F.count(F.lit(1)).over(Window.partitionBy("part", "doc_id")) > 1
    return {
        "null_doc_id": did.isNull(),
        "empty_doc_id": did == "",
        "dup_rows": did.isNotNull() & (did != "") & dup,
        "orphan_source_rows": ~F.col("source").isin(*source_names),
        "len_mismatch": tok.isNotNull() & (F.size(tok) > 0)
        & (F.size(tok) != F.col("n_tok")),
        "null_tokens": tok.isNull(),
        "empty_tokens": tok.isNotNull() & (F.size(tok) == 0),
        "bad_token_rows": F.exists(tok, lambda t: (t < 0) | (t >= vocab_size)),
    }


def _kind_counts(parts, source_names, vocab_size) -> dict:
    """Rows per violation kind in each part, and its row count under
    ``"rows"``, in one job: ``parts`` maps a part name to a fact-table
    DataFrame."""
    from functools import reduce

    from pyspark.sql import functions as F

    tagged = reduce(lambda a, b: a.unionByName(b), [
        df.select("doc_id", "tokens", "n_tok", "source",
                  F.lit(name).alias("part"))
        for name, df in parts.items()])
    cols = _kind_columns(source_names, vocab_size)
    flags = tagged.select("part", *[
        F.coalesce(c, F.lit(False)).cast("long").alias(k)
        for k, c in cols.items()])
    counts = {name: dict.fromkeys([*cols, "rows"], 0) for name in parts}
    for r in flags.groupBy("part").agg(
            *[F.sum(k).alias(k) for k in cols],
            F.count(F.lit(1)).alias("rows")).collect():
        counts[r["part"]] = {k: int(r[k]) for k in [*cols, "rows"]}
    return counts


def violation_buckets(spark) -> list[int]:
    """The confined buckets: those of the NULL and the empty doc_id (the
    completeness violations cannot move elsewhere), topped up with the
    lowest other bucket ids."""
    from ensembl_datacheck_spark.plans.checkpoint import bucket_col

    fixed = {
        r["b"] for r in spark.createDataFrame(
            [(None,), ("",)], "doc_id string"
        ).select(bucket_col("doc_id", N_BUCKETS).alias("b")).collect()
    }
    rest = [b for b in range(N_BUCKETS) if b not in fixed]
    return sorted(fixed) + rest[: VIOLATION_BUCKETS - len(fixed)]


def build_suite_fixture(spark, work: str, seed: int, n_rows: int) -> dict:
    """Write ``sequences``, ``sources`` and ``baseline_stats`` parquet
    under ``work`` and return their paths plus the expected verdicts.

    The fact table takes its rows from the violation-injecting generator
    where the doc_id bucket is one of ``violation_buckets`` and from the
    clean generator (same seed, so the same ids) everywhere else.  A row
    keeps its doc_id in both, so no id appears in both halves; a
    duplicated id copies its neighbour's id and so lands in the
    neighbour's bucket, which keeps duplicate pairs together.
    """
    from ensembl_datacheck_spark.plans.checkpoint import bucket_col
    from ensembl_datacheck_spark.sources import synth

    n_part = max(4, int(spark.conf.get("spark.sql.shuffle.partitions")))
    gen = dict(n_partitions=n_part, median_tok=64, max_tok=1024, seed=seed)
    dirty = synth.gen_sequences(spark, n_rows, **gen)
    clean = synth.gen_sequences(spark, n_rows, inject_violations=False, **gen)
    sources = synth.gen_sources(spark)

    vb = violation_buckets(spark)
    in_vb = bucket_col("doc_id", N_BUCKETS).isin(*vb)
    fact = dirty.filter(in_vb).unionByName(clean.filter(~in_vb))

    paths = {k: os.path.join(work, k) for k in
             ("sequences", "sources", "baseline_stats")}
    fact.write.mode("overwrite").parquet(paths["sequences"])
    sources.write.mode("overwrite").parquet(paths["sources"])
    synth.gen_baseline_stats(spark, clean).write.mode("overwrite").parquet(
        paths["baseline_stats"])

    source_names = pq.read_table(paths["sources"]).column("source").to_pylist()
    on_disk = spark.read.parquet(paths["sequences"])
    counts = _kind_counts(
        {"unconfined": dirty, "confined": on_disk.filter(in_vb),
         "outside": on_disk.filter(~in_vb)},
        source_names, synth.VOCAB_SIZE)
    n_fact = counts["confined"].pop("rows") + counts["outside"].pop("rows")
    counts["unconfined"].pop("rows")
    # the kind predicates must reproduce the generator's own golden
    # counts on the unconfined table before they are trusted on the
    # confined one
    golden = synth.expected_violation_counts(n_rows)
    golden_kinds = {k: golden[k] for k in counts["unconfined"]}
    if counts["unconfined"] != golden_kinds:
        raise RuntimeError("violation predicates disagree with synth: "
                           f"{counts['unconfined']} != {golden_kinds}")
    # every violation must sit in the confined buckets
    if any(counts["outside"].values()):
        raise RuntimeError("violations outside the confined buckets: "
                           f"{counts['outside']}")
    kinds = counts["confined"]
    failing = sorted(c for c, ks in CHECK_KINDS.items()
                     if sum(kinds[k] for k in ks))
    return {
        "paths": paths,
        "fact_rows": n_fact,
        "kinds": kinds,
        "violation_rows": sum(kinds.values()),
        "failing_checks": failing,
        "violation_buckets": vb,
        "mb": dir_mb(work),
    }


# --- entry-query tables ----------------------------------------------------

# row counts per table: the sf0.01 test tables' shape
SF_ROWS = {
    "customer": 1500, "orders": 15000, "lineitem": 60000, "part": 2000,
    "supplier": 100, "events": 10000, "documents": 500, "embeddings": 500,
}
_WORDS = ("join hash row batch scan column customer filter small slow merge "
          "order vector line table data agg value key stream window a spark "
          "part group big sort query fast the").split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ADJ = "blue cold hot large red small green steel".split()
_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n).astype("timedelta64[D]")
            ).astype("datetime64[us]")


def _money(x):
    return np.round(x, 2)


def _documents(rng, n):
    texts = []
    for i in range(n):
        k = int(rng.integers(16, 95))
        texts.append(" ".join(rng.choice(_WORDS, k)))
    # exact duplicates and near-duplicates for the dedup / LSH queries
    for i in range(0, n, 20):
        j = int(rng.integers(0, n))
        if j != i:
            texts[j] = texts[i] if (i // 20) % 2 else texts[i] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=[.1, .6, .1, .1, .1]),
        "source": [f"src{int(s)}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def build_sf_tables(out_dir: str, seed: int) -> None:
    """Write the ten sf tables as ``<out_dir>/<table>.parquet``."""
    rng = np.random.default_rng(seed)
    n = SF_ROWS
    os.makedirs(out_dir, exist_ok=True)
    nation = np.arange(25, dtype=np.int32)
    tables = {
        "region": pa.table({"r_regionkey": np.arange(5, dtype=np.int32),
                            "r_name": _REGIONS}),
        "nation": pa.table({"n_nationkey": nation,
                            "n_name": [f"NATION_{i}" for i in nation],
                            "n_regionkey": (nation % 5).astype(np.int32)}),
        "customer": pa.table({
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng.uniform(-999, 9999, n["customer"])),
            "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng.uniform(-999, 9999, n["supplier"])),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [f"{_ADJ[int(a)]} {_NOUN[int(b)]}" for a, b in
                       zip(rng.integers(0, 8, n["part"]),
                           rng.integers(0, 8, n["part"]))],
            "p_brand": [f"Brand#{int(b)}" for b in
                        rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(_PTYPES, n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": _money(900 + np.arange(n["part"]) * 0.1),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng.uniform(1000, 500000, n["orders"])),
            "o_orderdate": _days(rng, n["orders"], "1995-01-01", 2404),
            "o_orderpriority": rng.choice(_PRIORITIES, n["orders"]),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
            "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": _money(rng.uniform(900, 105000, n["lineitem"])),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
            "l_linestatus": rng.choice(["F", "O"], n["lineitem"]),
            "l_shipdate": _days(rng, n["lineitem"], "1995-01-02", 2498),
        }),
        "events": pa.table({
            "event_id": np.arange(n["events"], dtype=np.int64),
            "ts": (np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(
                rng.integers(1, 260_000_000, n["events"])
            ).astype("timedelta64[us]")),
            "user_id": rng.integers(0, 150, n["events"]),
            "event_type": rng.choice(_EVENTS, n["events"]),
            "value": _money(rng.uniform(0.01, 490, n["events"])),
            "props": [f'{{"k": {int(k)}}}' for k in
                      rng.integers(0, 100, n["events"])],
        }),
        "documents": _documents(rng, n["documents"]),
        "embeddings": pa.table({
            "vec_id": np.arange(n["embeddings"], dtype=np.int64),
            "embedding": list(rng.normal(0, 0.1, (n["embeddings"], 64))
                              .astype(np.float32)),
            "label": rng.integers(0, 10, n["embeddings"]).astype(np.int32),
        }),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20
