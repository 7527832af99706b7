"""Named-check coverage of the filesystem-reconciliation and
schema-contract operator families (VERDICT r2 item 4: both were
implemented but unreachable from --groups), plus the new spec-pack
shapes (KeySetSpec, PrefixSpec) and dimension-table rules."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import ensembl_datacheck_spark.checks  # noqa: F401  (registers the suite)
from ensembl_datacheck_spark.checks.ops_checks import gen_data_files
from ensembl_datacheck_spark.plans.runner import Runner
from ensembl_datacheck_spark.registry import registry
from ensembl_datacheck_spark.sources import synth
from ensembl_datacheck_spark.verdict import Status


def _run_one(spark, name, tables, config=None):
    summary = Runner(spark, tables, n_buckets=4, config=config or {}).run(
        registry.select(names=[name]), write_checkpoints=False
    )
    [res] = summary.results
    return res


# --- DataFilesExist ---------------------------------------------------------


def test_data_files_exist_reachable_by_group():
    names = {s.name for s in registry.select(groups=["files"])}
    assert "DataFilesExist" in names
    assert registry.get("DataFilesExist").force  # DataFilesExist.pm:37


def test_data_files_exist_both_directions(spark, tmp_path):
    root = str(tmp_path / "data")
    df = gen_data_files(spark, root, n_files=6, n_missing=2, n_unregistered=1)
    res = _run_one(
        spark, "DataFilesExist", {"data_files": df},
        config={"data_files_root": root},
    )
    assert res.status == Status.FAIL
    by = {a.name: a for a in res.assertions}
    assert by["files_missing_on_disk"].got == 2
    assert by["files_unregistered"].got == 1


def test_data_files_exist_clean_pass(spark, tmp_path):
    root = str(tmp_path / "data")
    df = gen_data_files(spark, root, n_files=4, n_missing=0, n_unregistered=0)
    res = _run_one(
        spark, "DataFilesExist", {"data_files": df},
        config={"data_files_root": root},
    )
    assert res.status == Status.OK


def test_data_files_exist_skips_without_root(spark, tmp_path):
    root = str(tmp_path / "data")
    df = gen_data_files(spark, root, n_missing=0, n_unregistered=0)
    res = _run_one(spark, "DataFilesExist", {"data_files": df})
    assert res.status == Status.SKIP
    assert "data_files_root" in res.skip_reason
    res = _run_one(
        spark, "DataFilesExist", {"data_files": df},
        config={"data_files_root": str(tmp_path / "nope")},
    )
    assert res.status == Status.SKIP and "does not exist" in res.skip_reason


# --- SchemaContract ---------------------------------------------------------


def test_schema_contract_pass_on_conforming(spark, seq_fixture):
    res = _run_one(
        spark, "SchemaContract", {"sequences": seq_fixture["sequences"]}
    )
    assert res.status == Status.OK


def test_schema_contract_reports_all_diff_kinds(spark):
    live = spark.createDataFrame(
        [("a", 1.0, "x")], "doc_id string, n_tok double, extra string"
    )
    res = _run_one(
        spark, "SchemaContract", {"sequences": live},
        config={
            "schema_contracts": {
                "sequences": (
                    "doc_id STRING, tokens ARRAY<INT>, n_tok INT, "
                    "source STRING"
                )
            }
        },
    )
    assert res.status == Status.FAIL
    [a] = res.assertions
    joined = "\n".join(a.diag)
    assert "missing column: tokens" in joined
    assert "missing column: source" in joined
    assert "type mismatch: n_tok expected int got double" in joined
    assert "unexpected column: extra" in joined
    # ignore_extra drops only the unexpected-column kind
    res2 = _run_one(
        spark, "SchemaContract", {"sequences": live},
        config={
            "schema_contracts": {
                "sequences": "doc_id STRING, n_tok DOUBLE, extra STRING"
            },
            "schema_ignore_extra": True,
        },
    )
    assert res2.status == Status.OK


def test_schema_contract_skips_on_missing_table(spark):
    res = _run_one(
        spark, "SchemaContract", {},
        config={"schema_contracts": {"sequences": "doc_id STRING"}},
    )
    assert res.status == Status.SKIP


# --- KeySetSpec / PrefixSpec / dimension rules ------------------------------


@pytest.fixture(scope="module")
def meta_tables(spark):
    sources = synth.gen_sources(spark)
    return {"sources": sources, "meta": synth.gen_meta(spark, sources)}


def test_meta_key_vocabulary_both_directions(spark, meta_tables):
    res = _run_one(spark, "MetaKeyVocabulary", meta_tables)
    assert res.status == Status.OK
    # an unknown key AND a fully vanished key both fail the set diff
    broken = meta_tables["meta"].withColumn(
        "meta_key",
        F.when(F.col("meta_key") == "source.alias", "source.unknown")
        .otherwise(F.col("meta_key")),
    )
    res = _run_one(
        spark, "MetaKeyVocabulary", {**meta_tables, "meta": broken}
    )
    assert res.status == Status.FAIL
    assert res.assertions[0].got == 2  # unknown in current + missing in vocab


def test_meta_entity_set_sync(spark, meta_tables):
    res = _run_one(spark, "MetaEntitySetSync", meta_tables)
    assert res.status == Status.OK
    res = _run_one(
        spark, "MetaEntitySetSync",
        {**meta_tables,
         "meta": meta_tables["meta"].filter(F.col("entity_id") != "src_00")},
    )
    assert res.status == Status.FAIL  # src_00 only in sources


def test_meta_value_prefixes(spark, meta_tables):
    res = _run_one(spark, "MetaValuePrefixes", meta_tables)
    assert res.status == Status.OK
    broken = meta_tables["meta"].withColumn(
        "meta_value",
        F.when(
            (F.col("meta_key") == "source.alias")
            & (F.col("entity_id") == "src_02")
            & F.col("meta_value").startswith("alias_a_"),
            F.lit("nonconforming"),
        ).otherwise(F.col("meta_value")),
    )
    res = _run_one(spark, "MetaValuePrefixes", {**meta_tables, "meta": broken})
    assert res.status == Status.FAIL
    by = {a.name: a for a in res.assertions}
    assert by["MetaValuePrefixes_source.alias"].got == 1
    assert by["MetaValuePrefixes_source.name"].status == Status.OK


def test_meta_name_sync(spark, meta_tables):
    res = _run_one(spark, "MetaNameSync", meta_tables)
    assert res.status == Status.OK
    broken = meta_tables["meta"].withColumn(
        "meta_value",
        F.when(
            (F.col("meta_key") == "source.name")
            & (F.col("entity_id") == "src_04"),
            F.lit("src_99_wrong"),
        ).otherwise(F.col("meta_value")),
    )
    res = _run_one(spark, "MetaNameSync", {**meta_tables, "meta": broken})
    assert res.status == Status.FAIL
    assert res.assertions[-1].got == 1


def test_dimension_rules_pass_and_fail(spark, meta_tables):
    for name in ("SourceNameNotBlank", "SourceWeightDomain",
                 "SourceActiveNotNull", "SourcePrefixFormat"):
        assert _run_one(spark, name, meta_tables).status == Status.OK
    dirty = spark.createDataFrame(
        [("src_ok", 0.5, True), ("bad name", 1.7, None), (None, -0.1, True)],
        "source string, weight_expected double, active boolean",
    )
    t = {"sources": dirty}
    assert _run_one(spark, "SourceNameNotBlank", t).assertions[0].got == 1
    assert _run_one(spark, "SourceWeightDomain", t).assertions[0].got == 2
    assert _run_one(spark, "SourceActiveNotNull", t).assertions[0].got == 1
    assert _run_one(spark, "SourcePrefixFormat", t).assertions[0].got == 1


def test_baseline_rules(spark, seq_fixture):
    base = seq_fixture["baseline_same"]
    t = {"baseline_stats": base}
    for name in ("BaselineStatKeyVocabulary", "BaselineValueDomain",
                 "BaselineCategoryNotBlank"):
        assert _run_one(spark, name, t).status == Status.OK
    dirty = base.unionByName(
        spark.createDataFrame(
            [("typo_key", "c", 1.0), ("source_count", " ", -2.0)],
            "stat_key string, category string, value double",
        )
    )
    t = {"baseline_stats": dirty}
    assert _run_one(spark, "BaselineStatKeyVocabulary", t).assertions[0].got == 1
    assert _run_one(spark, "BaselineValueDomain", t).assertions[0].got == 1
    assert _run_one(spark, "BaselineCategoryNotBlank", t).assertions[0].got == 1


# --- NTokQuantileDrift two-tier plan ---------------------------------------


def _ntok_quantile_tables(spark, n=4000):
    """sequences with a HIGH-cardinality n_tok (all distinct) plus a
    baseline_stats snapshot carrying that data's EXACT quantiles."""
    seq = spark.range(n).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.array(F.lit(1)).alias("tokens"),
        (F.col("id") + 1).cast("int").alias("n_tok"),
        F.lit("src_00").alias("source"),
    )
    qs = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    exact = seq.agg(
        F.percentile("n_tok", F.array(*[F.lit(q) for q in qs])).alias("qv")
    ).collect()[0]["qv"]
    base = spark.createDataFrame(
        [("n_tok_quantile", str(q), float(v)) for q, v in zip(qs, exact)],
        "stat_key string, category string, value double",
    )
    return {"sequences": seq, "baseline_stats": base}


def test_ntok_quantile_drift_auto_switches_to_sketch(spark):
    """Above the cardinality threshold the check must take the sketch
    tier (percentile_approx partials) instead of collecting the full
    per-value histogram — and the sketch must AGREE with the exact
    baseline within the 5% tolerance (VERDICT r3 item 7)."""
    tables = _ntok_quantile_tables(spark)
    res = _run_one(
        spark, "NTokQuantileDrift", tables,
        config={"quantile_exact_max_card": 100},
    )
    [a] = res.assertions
    assert "sketch" in a.expected, a.expected
    assert a.status == Status.OK, a.diag  # sketch within 5% of exact


def _count_quantile_scans(monkeypatch) -> dict[str, int]:
    """Count the check's fact aggregations: the shared profile cube build
    (profile.fact_profile) and the sketch tier's percentile pass
    (drift.quantile_profile)."""
    import ensembl_datacheck_spark.checks.core as core

    calls = {"fact_profile": 0, "quantile_profile": 0}
    origs = {"fact_profile": core.P.fact_profile,
             "quantile_profile": core.D.quantile_profile}

    def counted(key):
        def wrap(*a, **kw):
            calls[key] += 1
            return origs[key](*a, **kw)
        return wrap

    monkeypatch.setattr(core.P, "fact_profile", counted("fact_profile"))
    monkeypatch.setattr(core.D, "quantile_profile", counted("quantile_profile"))
    return calls


@pytest.mark.parametrize("max_card, sketch", [(100_000, 0), (100, 1)],
                         ids=["exact", "sketch"])
def test_ntok_quantile_joins_shared_profile_standalone(spark, monkeypatch,
                                                       max_card, sketch):
    """NTokQuantileDrift always gets the shared profile by a blocking
    get: standalone it builds the cube once (the exact tier needs nothing
    else; the sketch tier adds one percentile pass), and with a memo a
    sibling already seeded it builds no cube at all."""
    import ensembl_datacheck_spark.checks.core as core
    from ensembl_datacheck_spark.plans.runner import (
        SharedComputations,
        run_check,
    )
    from ensembl_datacheck_spark.sources.synth import ntok_bin

    calls = _count_quantile_scans(monkeypatch)
    tables = _ntok_quantile_tables(spark)
    [spec] = registry.select(names=["NTokQuantileDrift"])
    cfg = {"quantile_exact_max_card": max_card}

    res, _ = run_check(spark=spark, spec=spec, tables=tables, config=cfg)
    assert res.status == Status.OK, res.assertions
    assert calls == {"fact_profile": 1, "quantile_profile": sketch}

    shared = SharedComputations()
    shared.get(
        core.profile_memo_key(tables["sequences"]),
        lambda: core.P.collect_profile(tables["sequences"], ntok_bin()),
    )
    for k in calls:
        calls[k] = 0
    try:
        [res] = Runner(spark, tables, config=cfg, shared=shared).run(
            [spec], write_checkpoints=False, parallelism=1).results
    finally:
        shared.release()
    assert res.status == Status.OK, res.assertions
    assert calls == {"fact_profile": 0, "quantile_profile": sketch}


def test_runner_quantile_joins_shared_build(spark, monkeypatch):
    """A pooled Runner.run over part of the aggregate family builds the
    shared profile cube once, NTokQuantileDrift included."""
    calls = _count_quantile_scans(monkeypatch)
    tables = _ntok_quantile_tables(spark)
    specs = registry.select(
        names=["SequencesStats", "RowTotals", "NTokQuantileDrift"]
    )
    summary = Runner(spark, tables, n_buckets=8).run(
        specs, write_checkpoints=False, parallelism=4
    )
    assert summary.n_failed == 0, [r.to_dict() for r in summary.results]
    assert calls == {"fact_profile": 1, "quantile_profile": 0}


def test_ntok_quantile_drift_exact_tier_below_threshold(spark):
    """Below the threshold the exact-histogram tier runs (bit-exact
    against the baseline's exact quantiles: zero breaches even at zero
    effective tolerance margin)."""
    tables = _ntok_quantile_tables(spark)
    res = _run_one(
        spark, "NTokQuantileDrift", tables,
        config={"quantile_exact_max_card": 100_000},
    )
    [a] = res.assertions
    assert "exact-histogram" in a.expected, a.expected
    assert a.status == Status.OK, a.diag


def test_resume_lone_quantile_consumer_builds_profile_once(spark, tmp_path,
                                                          monkeypatch):
    """On a resume where its siblings passed before, NTokQuantileDrift
    is the only pending consumer of the shared profile: it builds the
    cube once (and, in the sketch tier, runs its percentile pass)."""
    from ensembl_datacheck_spark.plans.checkpoint import CheckpointStore
    from ensembl_datacheck_spark.sources.io import Catalog

    calls = _count_quantile_scans(monkeypatch)
    tables = _ntok_quantile_tables(spark)
    store = CheckpointStore(Catalog(spark, str(tmp_path / "wh")))
    cfg = {"quantile_exact_max_card": 100}  # sketch tier

    # run 1: only the sibling consumers -> one shared cube build,
    # checkpointed ok
    r1 = Runner(spark, tables, n_buckets=8, checkpoint_store=store,
                lineage="L1", config=cfg)
    s1 = r1.run(registry.select(names=["SequencesStats", "RowTotals"]),
                parallelism=4)
    assert s1.n_failed == 0
    assert calls == {"fact_profile": 1, "quantile_profile": 0}

    # run 2: full family; siblings skip via checkpoint, the quantile
    # check builds the cube for itself
    for k in calls:
        calls[k] = 0
    r2 = Runner(spark, tables, n_buckets=8, checkpoint_store=store,
                lineage="L1", config=cfg)
    s2 = r2.run(registry.select(
        names=["SequencesStats", "RowTotals", "NTokQuantileDrift"]),
        parallelism=4)
    by_name = {r.check_name: r for r in s2.results}
    assert by_name["SequencesStats"].status == Status.SKIP
    assert by_name["RowTotals"].status == Status.SKIP
    assert by_name["NTokQuantileDrift"].status == Status.OK
    assert "sketch" in by_name["NTokQuantileDrift"].assertions[0].expected
    assert calls == {"fact_profile": 1, "quantile_profile": 1}


def test_shared_profile_cube_released_after_run(spark, monkeypatch):
    """The memo owner unpersists the profile cube once the run is done:
    without the paired unpersist every distinct table leaves an
    InMemoryRelation in the CacheManager for the session's lifetime
    (round-5 review finding).  Covers both owners: Runner.run (its own
    memo, also under a standalone run_check's one-check Runner) and
    run_fleet (fleet-shared memo)."""
    import ensembl_datacheck_spark.checks.core as core
    from ensembl_datacheck_spark.plans.fleet import DbTarget, run_fleet
    from ensembl_datacheck_spark.plans.runner import run_check

    captured = []
    orig = core.P.fact_profile

    def capturing(*a, **kw):
        df = orig(*a, **kw)
        captured.append(df)
        return df

    monkeypatch.setattr(core.P, "fact_profile", capturing)

    def all_released():
        return all(
            not d.storageLevel.useMemory and not d.storageLevel.useDisk
            for d in captured)

    tables = _ntok_quantile_tables(spark)
    specs = registry.select(names=["SequencesStats", "RowTotals"])

    Runner(spark, tables, n_buckets=8).run(specs, write_checkpoints=False,
                                           parallelism=4)
    assert len(captured) == 1 and all_released()

    run_check(specs[0], spark, tables)  # its one-check Runner owns the memo
    assert len(captured) == 2 and all_released()

    run_fleet(spark, [DbTarget("db1", tables), DbTarget("db2", tables)],
              specs, n_buckets=8)
    # same table object -> same memo key -> ONE build for the fleet
    assert len(captured) == 3 and all_released()


# --- TokenRarityProfile -----------------------------------------------------


def test_token_rarity_profile_clean_fixture_passes(spark, seq_fixture):
    """The synth corpus is uniform over a 50k vocab at ~13 expected
    occurrences per token: hapax mass is negligible, so both the vocab
    summary and the per-doc outlier probe pass with defaults."""
    res = _run_one(
        spark, "TokenRarityProfile",
        {"sequences": seq_fixture["sequences_clean"]},
    )
    assert res.status == Status.OK
    by = {a.name: a for a in res.assertions}
    assert by["vocab_hapax_fraction"].status == Status.OK
    assert by["rare_token_documents"].got == 0


def test_token_rarity_profile_flags_garbled_docs(spark):
    """A corpus of 50 healthy docs over a tiny shared vocab plus 2
    garbled docs of unique ids: the garbled docs exceed the hapax-share
    bound and surface as violation rows; the vocab-level fraction also
    breaches the (tightened) config bound."""
    healthy = spark.range(50).selectExpr(
        "format_string('doc_%04d', id) AS doc_id",
        "transform(sequence(1, 30), i -> CAST((id + i) % 11 AS INT)) AS tokens",
        "30 AS n_tok", "'web' AS source",
    )
    garbled = spark.range(2).selectExpr(
        "format_string('bad_%04d', id) AS doc_id",
        "transform(sequence(1, 30), i -> CAST(1000 + id * 100 + i AS INT)) AS tokens",
        "30 AS n_tok", "'web' AS source",
    )
    res = _run_one(
        spark, "TokenRarityProfile",
        {"sequences": healthy.unionAll(garbled)},
        config={"max_hapax_vocab_fraction": 0.5},
    )
    assert res.status == Status.FAIL
    by = {a.name: a for a in res.assertions}
    # 60 unique garbled ids vs 11 shared healthy ids -> fraction ~ 60/71
    assert by["vocab_hapax_fraction"].status == Status.FAIL
    assert by["rare_token_documents"].got == 2


def test_token_rarity_profile_short_docs_exempt(spark):
    """Documents under rarity_min_scored tokens never flag — a 3-token
    doc of hapaxes is statistically meaningless, not garbled."""
    df = spark.range(5).selectExpr(
        "format_string('doc_%04d', id) AS doc_id",
        "transform(sequence(1, 3), i -> CAST(id * 10 + i AS INT)) AS tokens",
        "3 AS n_tok", "'web' AS source",
    )
    res = _run_one(spark, "TokenRarityProfile", {"sequences": df})
    by = {a.name: a for a in res.assertions}
    assert by["rare_token_documents"].got == 0


# --- LmPerplexityOutliers ---------------------------------------------------


def test_lm_perplexity_outliers_clean_fixture_passes(spark, seq_fixture):
    """Uniform synth corpus: every document's cross-entropy sits near
    the corpus median (same token distribution), so no row breaches the
    median + 3-nat margin."""
    res = _run_one(
        spark, "LmPerplexityOutliers",
        {"sequences": seq_fixture["sequences_clean"]},
    )
    assert res.status == Status.OK
    by = {a.name: a for a in res.assertions}
    assert by["lm_perplexity_outliers"].got == 0


def test_lm_perplexity_outliers_flags_implausible_doc(spark):
    """60 healthy docs over a tiny shared vocab (smoothed counts ~e^5)
    plus one doc of corpus-hapaxes (smoothed count 2): its ce sits
    ~ln(healthy_count/2) > 4 nats above the median — a FAIL row; a
    SHORT hapax doc stays exempt under lm_min_scored."""
    healthy = spark.range(60).selectExpr(
        "format_string('doc_%04d', id) AS doc_id",
        "transform(sequence(1, 30), i -> CAST((id + i) % 11 AS INT)) AS tokens",
        "30 AS n_tok", "'web' AS source",
    )
    outlier = spark.sql(
        "SELECT 'bad_0000' AS doc_id, "
        "transform(sequence(1, 30), i -> CAST(9000 + i AS INT)) AS tokens, "
        "30 AS n_tok, 'web' AS source"
    )
    short_hapax = spark.sql(
        "SELECT 'tiny_0000' AS doc_id, "
        "transform(sequence(1, 5), i -> CAST(8000 + i AS INT)) AS tokens, "
        "5 AS n_tok, 'web' AS source"
    )
    res = _run_one(
        spark, "LmPerplexityOutliers",
        {"sequences": healthy.unionAll(outlier).unionAll(short_hapax)},
    )
    assert res.status == Status.FAIL
    by = {a.name: a for a in res.assertions}
    assert by["lm_perplexity_outliers"].got == 1
    assert any("bad_0000" in str(d) for d in by["lm_perplexity_outliers"].diag)


def test_lm_perplexity_outliers_median_ignores_short_docs(spark):
    """The cut point comes from the >= lm_min_scored population, not the
    whole corpus: a flood of SHORT OOV-heavy docs (high ce, each under
    min_scored) must not drag the median up and mask a genuine long-doc
    outlier."""
    long_fluent = spark.range(40).selectExpr(
        "format_string('doc_%04d', id) AS doc_id",
        "transform(sequence(1, 30), i -> CAST((id + i) % 7 AS INT)) AS tokens",
        "30 AS n_tok", "'web' AS source",
    )
    # 200 short docs of unique hapax tokens: high ce, n_scored=5 < 20
    short_noise = spark.range(200).selectExpr(
        "format_string('noise_%04d', id) AS doc_id",
        "transform(sequence(1, 5), i -> CAST(50000 + id * 10 + i AS INT)) AS tokens",
        "5 AS n_tok", "'web' AS source",
    )
    long_outlier = spark.sql(
        "SELECT 'bad_0000' AS doc_id, "
        "transform(sequence(1, 30), i -> CAST(90000 + i AS INT)) AS tokens, "
        "30 AS n_tok, 'web' AS source"
    )
    res = _run_one(
        spark, "LmPerplexityOutliers",
        {"sequences": long_fluent.unionAll(short_noise).unionAll(long_outlier)},
    )
    assert res.status == Status.FAIL
    by = {a.name: a for a in res.assertions}
    assert by["lm_perplexity_outliers"].got == 1
    assert any("bad_0000" in str(d) for d in by["lm_perplexity_outliers"].diag)


def test_lm_perplexity_outliers_skips_empty_corpus(spark):
    df = spark.sql(
        "SELECT 'd1' AS doc_id, CAST(NULL AS ARRAY<INT>) AS tokens, "
        "CAST(NULL AS INT) AS n_tok, 'web' AS source"
    )
    res = _run_one(spark, "LmPerplexityOutliers", {"sequences": df})
    assert res.status == Status.SKIP


# --- SourceOverlapExcess ----------------------------------------------------


def test_source_overlap_excess_clean_fixture_passes(spark, seq_fixture):
    """Synth sources draw uniform tokens from a 50k vocab: distinct
    8-token shingles virtually never repeat across sources, so no pair
    approaches the containment bound."""
    res = _run_one(
        spark, "SourceOverlapExcess",
        {"sequences": seq_fixture["sequences_clean"]},
    )
    assert res.status == Status.OK


def test_source_overlap_excess_flags_contained_source(spark):
    """Source 'copy' is a strict subset of source 'web': containment
    1.0 breaches the default 0.5 bound in the copy->web direction only
    (web is much bigger, so web->copy stays small)."""
    web = spark.range(40).selectExpr(
        "format_string('w_%04d', id) AS doc_id",
        "transform(sequence(1, 20), i -> CAST(id * 100 + i AS INT)) AS tokens",
        "20 AS n_tok", "'web' AS source",
    )
    copy = spark.range(4).selectExpr(
        "format_string('c_%04d', id) AS doc_id",
        "transform(sequence(1, 20), i -> CAST(id * 100 + i AS INT)) AS tokens",
        "20 AS n_tok", "'copy' AS source",
    )
    res = _run_one(
        spark, "SourceOverlapExcess", {"sequences": web.unionAll(copy)}
    )
    assert res.status == Status.FAIL
    [a] = res.assertions
    assert a.got == 1  # exactly the copy->web direction


# --- EmbeddingHygiene -------------------------------------------------------


def test_embedding_hygiene_clean_passes_with_dim_consistency(spark):
    from ensembl_datacheck_spark.sources import synth

    emb = synth.gen_embeddings(spark, 2_000, inject_violations=False)
    res = _run_one(spark, "EmbeddingHygiene", {"embeddings": emb})
    assert res.status == Status.OK
    by = {a.name: a for a in res.assertions}
    # undeclared dim -> the consistency probe runs and sees exactly one
    assert by["embedding_dim_consistent"].got == 1
    assert "embedding_dim_mismatch" not in by
    assert "embedding_norm_out_of_band" not in by


def test_embedding_hygiene_flags_each_residue_class(spark):
    from ensembl_datacheck_spark.sources import synth

    emb = synth.gen_embeddings(spark, 10_000, inject_violations=True)
    res = _run_one(
        spark, "EmbeddingHygiene", {"embeddings": emb},
        config={"embedding_expected_dim": 64,
                "embedding_norm_band": (0.9, 1.1)},
    )
    assert res.status == Status.FAIL
    by = {a.name: a.got for a in res.assertions}
    assert by == {
        "embedding_vec_null": 2,
        "embedding_vec_empty": 2,
        "embedding_dim_mismatch": 2,
        "embedding_has_nan": 2,
        "embedding_has_inf": 2,
        "embedding_zero_vector": 2,
        # dim-truncated vectors (sq ~ 0.5) + zero vectors (sq = 0)
        "embedding_norm_out_of_band": 4,
    }
    assert res.n_violations == 16


def test_embedding_hygiene_skips_without_table(spark, seq_fixture):
    res = _run_one(
        spark, "EmbeddingHygiene", {"sequences": seq_fixture["sequences"]}
    )
    assert res.status == Status.SKIP
    assert "embeddings" in (res.skip_reason or "")


# --- TokenBoilerplateExcess -------------------------------------------------


def test_token_boilerplate_clean_fixture_passes(spark, seq_fixture):
    """Uniform-random 8-token shingles over a 50k vocab never repeat
    across documents, so every doc is pure novelty."""
    res = _run_one(
        spark, "TokenBoilerplateExcess",
        {"sequences": seq_fixture["sequences_clean"]},
    )
    assert res.status == Status.OK


def test_token_boilerplate_flags_template_docs(spark):
    """12 documents share one identical 40-token body (each with a
    unique 1-token prefix): every shared shingle has df=12 >= 10, so the
    boilerplate fraction breaches 0.9 for all 12; the 30 unique docs
    stay clean."""
    template = spark.range(12).selectExpr(
        "format_string('t_%04d', id) AS doc_id",
        "concat(array(CAST(id + 1000000 AS INT)), "
        " transform(sequence(1, 40), i -> CAST(i AS INT))) AS tokens",
        "41 AS n_tok", "'web' AS source",
    )
    unique = spark.range(30).selectExpr(
        "format_string('u_%04d', id) AS doc_id",
        "transform(sequence(1, 40), i -> CAST((id + 1) * 1000 + i AS INT))"
        " AS tokens",
        "40 AS n_tok", "'web' AS source",
    )
    res = _run_one(
        spark, "TokenBoilerplateExcess",
        {"sequences": template.unionAll(unique)},
    )
    assert res.status == Status.FAIL
    [a] = res.assertions
    assert a.got == 12


# --- SourceUnigramDivergence ------------------------------------------------


def test_source_divergence_clean_fixture_passes(spark, seq_fixture):
    """Every synth source draws from the same uniform 50k-vocab token
    distribution, so no source diverges from the mix."""
    res = _run_one(
        spark, "SourceUnigramDivergence",
        {"sequences": seq_fixture["sequences_clean"]},
    )
    assert res.status == Status.OK


def test_source_divergence_flags_disjoint_vocabulary_source(spark):
    """Source 'alien' uses a token range disjoint from the bulk: its L1
    vs the mix approaches 2.0 and breaches the 1.8 default; the two
    same-distribution bulk sources stay under it."""
    bulk = spark.range(2_000).selectExpr(
        "format_string('b_%06d', id) AS doc_id",
        "transform(sequence(1, 50), i -> CAST(pmod(id * 37 + i, 500) AS INT))"
        " AS tokens",
        "50 AS n_tok",
        "CASE WHEN id % 2 = 0 THEN 'web' ELSE 'books' END AS source",
    )
    alien = spark.range(100).selectExpr(
        "format_string('a_%06d', id) AS doc_id",
        "transform(sequence(1, 50), i -> CAST(10000 + pmod(id + i, 200) AS INT))"
        " AS tokens",
        "50 AS n_tok", "'alien' AS source",
    )
    res = _run_one(
        spark, "SourceUnigramDivergence",
        {"sequences": bulk.unionAll(alien)},
    )
    assert res.status == Status.FAIL
    [a] = res.assertions
    assert a.got == 1
    assert "alien" in "".join(a.diag)


# --- ShingleHeavyHitterExcess -----------------------------------------------


def test_shingle_heavy_hitter_clean_fixture_passes(spark, seq_fixture):
    """Uniform 50k-vocab tokens: no 2-shingle approaches a 0.5% share."""
    res = _run_one(
        spark, "ShingleHeavyHitterExcess",
        {"sequences": seq_fixture["sequences_clean"]},
    )
    assert res.status == Status.OK


def test_shingle_heavy_hitter_flags_template_phrase(spark):
    """A template phrase stamped into 20% of documents dominates the
    shingle mass; its exact count and share surface in the diagnostic."""
    organic = spark.range(1_000).selectExpr(
        "format_string('o_%06d', id) AS doc_id",
        "transform(sequence(1, 20), i -> CAST(pmod(id * 97 + i * 31, 40000) "
        "AS INT)) AS tokens",
        "20 AS n_tok", "'web' AS source",
    )
    # every 5th doc starts with the phrase [7, 8, 9] -> shingles 7_8, 8_9
    templated = spark.range(250).selectExpr(
        "format_string('t_%06d', id) AS doc_id",
        "concat(array(7, 8, 9), transform(sequence(1, 17), "
        "i -> CAST(pmod(id * 89 + i * 13, 40000) AS INT))) AS tokens",
        "20 AS n_tok", "'web' AS source",
    )
    res = _run_one(
        spark, "ShingleHeavyHitterExcess",
        {"sequences": organic.unionAll(templated)},
    )
    assert res.status == Status.FAIL
    [a] = res.assertions
    assert a.got == 2  # 7_8 and 8_9, each ~250/23750 ≈ 1.05% > 0.5%
    diag = "".join(a.diag)
    assert "7_8" in diag and "8_9" in diag
