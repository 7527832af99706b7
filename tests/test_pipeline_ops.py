"""Training-data pipeline operator tests: dedup (exact / minhash /
simhash / jaccard / embedding), similarity search, text analysis, and the
Arrow array-function tier."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ensembl_datacheck_spark.functions import arrays as AR
from ensembl_datacheck_spark.operators import dedup, similarity, text

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 1
    (3, "completely different content about spark shuffle partitions and joins"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    (5, "spark shuffle partitions and joins require careful key distribution"),
    (6, "unrelated text mentioning neither animals nor query engines at all"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_exact_dedup(docs):
    groups = dedup.exact_duplicate_groups(docs, "text", "doc_id").collect()
    assert len(groups) == 1
    assert groups[0]["n_copies"] == 2 and groups[0]["doc_ids"] == [1, 4]
    kept = dedup.dedup_exact(docs, "text", "doc_id")
    assert kept.count() == 5
    assert 4 not in {r["doc_id"] for r in kept.collect()}


def test_exact_dedup_degenerate_corpus_bounded_buffers(spark):
    """10^5 copies of ONE content (the common corpus degenerate: empty /
    boilerplate docs) — the diag id list must be rank-capped BEFORE the
    aggregation so no collect_list buffer ever holds 10^5 ids (VERDICT
    r2 item 1).  The window that takes the load is sort-based and
    spillable; the plan must show it feeding the aggregate."""
    n = 100_000
    deg = spark.range(0, n).select(
        F.col("id").alias("doc_id"), F.lit("boilerplate same text").alias("text")
    )
    out = dedup.exact_duplicate_groups(deg, "text", "doc_id").collect()
    assert len(out) == 1
    assert out[0]["n_copies"] == n
    assert out[0]["doc_ids"] == list(range(20))  # lowest 20 ids, sorted
    plan = (
        dedup.exact_duplicate_groups(deg, "text", "doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the rank-cap window is in the plan, and collect_list aggregates
    # the capped conditional — not the raw id column
    assert "row_number()" in plan
    assert "collect_list(CASE WHEN" in plan or "collect_list(if" in plan


def test_jaccard_pairs(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r
        for r in dedup.jaccard_pairs(docs, "doc_id", "text", ngram=3).collect()
    }
    # exact dup pair: jaccard == 1.0
    assert pairs[(1, 4)]["jaccard"] == 1.0
    # near-dup pair (one word differs at the end): high but < 1
    nd = pairs[(1, 2)]
    assert 0.5 < nd["jaccard"] < 1.0
    assert nd["n_union"] == nd["n_inter"] + (nd["n_union"] - nd["n_inter"])  # ints consistent
    # unrelated docs share no 3-gram
    assert (1, 6) not in pairs


def test_minhash_lsh_finds_near_dups(docs):
    cands = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_candidates(
            docs, "doc_id", "text", ngram=3, n_hashes=32, n_bands=16
        ).collect()
    }
    assert (1, 4) in cands  # exact dup always collides
    assert (1, 2) in cands  # near-dup collides at r=2 with high prob
    assert (1, 6) not in cands


def test_minhash_deterministic(docs):
    a = sorted(map(tuple, dedup.minhash_lsh_candidates(
        docs, "doc_id", "text").collect()))
    b = sorted(map(tuple, dedup.minhash_lsh_candidates(
        docs, "doc_id", "text").collect()))
    assert a == b


def test_simhash_near_duplicates(docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_near_duplicates(docs, "doc_id", "text").collect()
    }
    assert (1, 4) in pairs
    assert (1, 2) in pairs


def test_simhash_band_bits_scales_with_corpus(docs):
    """VERDICT r4 item 3: default band width derives from corpus size so
    defaults cannot emit quadratic birthday collisions at scale.  Pins
    the selector at three sizes (the 16-bit break-even is n = 2^15), the
    portable 60-bit ladder, and that corpus_size_hint reaches the plan
    (a large hint on a small corpus must band at 32 bits)."""
    # 64-bit production ladder (16, 32)
    assert dedup.simhash_band_bits(1_000) == 16
    assert dedup.simhash_band_bits(32_768) == 16
    assert dedup.simhash_band_bits(1_000_000) == 32
    # 60-bit portable ladder (15, 20, 30)
    ladder60 = dict(sig_bits=60, ladder=(15, 20, 30))
    assert dedup.simhash_band_bits(1_000, **ladder60) == 15
    assert dedup.simhash_band_bits(100_000, **ladder60) == 20
    assert dedup.simhash_band_bits(1_000_000, **ladder60) == 30
    # hint is honored without counting: the 32-bit band mask
    # (2^32 - 1) appears in the plan and pairs equal the explicit call
    hinted = dedup.simhash_near_duplicates(
        docs, "doc_id", "text", corpus_size_hint=2_000_000
    )
    assert "4294967295" in hinted._jdf.queryExecution().toString()
    explicit = dedup.simhash_near_duplicates(
        docs, "doc_id", "text", band_bits=32
    )
    assert sorted(map(tuple, hinted.collect())) == sorted(
        map(tuple, explicit.collect())
    )


def test_embedding_similarity(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal(16)
    vecs = []
    for i in range(20):
        v = rng.standard_normal(16)
        vecs.append((i, [float(x) for x in v]))
    # vec 20 ≈ vec 0 (tiny perturbation), vec 21 == vec 1 exactly
    v0 = np.array(vecs[0][1])
    vecs.append((20, [float(x) for x in v0 + 0.01 * rng.standard_normal(16)]))
    vecs.append((21, list(vecs[1][1])))
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")

    topk = similarity.brute_force_topk(emb, emb.filter("vec_id in (20, 21)"), k=1)
    got = {r["query_id"]: r["neighbor_id"] for r in topk.collect()}
    assert got == {20: 0, 21: 1}

    near = similarity.embedding_near_duplicates(emb, dim=16, min_cosine=0.95,
                                                n_planes=4)
    nd = {(r["id_a"], r["id_b"]) for r in near.collect()}
    assert (0, 20) in nd and (1, 21) in nd

    # LSH recall vs brute force on the same queries
    lsh = similarity.lsh_topk(emb, emb.filter("vec_id in (20, 21)"), dim=16,
                              k=1, n_planes=4)
    got_lsh = {r["query_id"]: r["neighbor_id"] for r in lsh.collect()}
    assert got_lsh[20] == 0  # identical-direction vectors share every bucket

    ivf = similarity.ivf_topk(emb, emb.filter("vec_id in (20, 21)"),
                              k=1, n_lists=4, nprobe=4)
    got_ivf = {r["query_id"]: r["neighbor_id"] for r in ivf.collect()}
    assert got_ivf == {20: 0, 21: 1}  # nprobe=all lists == exact


def test_semantic_dedup(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = []
    for i in range(20):
        v = rng.standard_normal(16)
        vecs.append((i, [float(x) for x in v]))
    v0 = np.array(vecs[0][1])
    vecs.append((20, [float(x) for x in v0 + 0.001 * rng.standard_normal(16)]))
    vecs.append((21, list(vecs[1][1])))  # exact copy of 1
    vecs.append((22, None))  # null embedding: keep, NULL list
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")

    out = {r["id"]: r for r in similarity.semantic_dedup(
        emb, n_lists=4, tau=0.95).collect()}
    assert len(out) == 23
    # exact copy of vec 1: identical centroid dots -> same cluster,
    # cosine 1.0 -> dropped with dup_of = 1
    assert not out[21]["keep"] and out[21]["dup_of"] == 1
    # near-copy of vec 0 (cos > 0.999): same argmax cluster, dropped
    assert not out[20]["keep"] and out[20]["dup_of"] == 0
    # random 16-dim vectors never reach cos 0.95 pairwise
    assert all(out[i]["keep"] for i in range(20))
    assert out[22]["keep"] and out[22]["list_id"] is None


def test_semantic_dedup_cap_conservative_keep(spark):
    # 5 exact copies in one cluster, cap_per_list=2: only ids 0,1 are
    # compared (1 dropped); capped-out members 2-4 are conservatively
    # KEPT, never dropped by a comparison they were excluded from
    vecs = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(5)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = {r["id"]: r for r in similarity.semantic_dedup(
        emb, n_lists=2, tau=0.9, cap_per_list=2).collect()}
    assert out[0]["keep"] and not out[1]["keep"] and out[1]["dup_of"] == 0
    assert all(out[i]["keep"] for i in (2, 3, 4))
    # uncapped: every copy after the first is dropped onto id 0
    full = {r["id"]: r for r in similarity.semantic_dedup(
        emb, n_lists=2, tau=0.9).collect()}
    assert full[0]["keep"] and all(
        not full[i]["keep"] and full[i]["dup_of"] == 0 for i in (1, 2, 3, 4))


def test_text_functions(spark):
    df = spark.createDataFrame(
        [(1, "The quick fox, and the dog!"), (2, ""), (3, "no stopwords here 123")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            text.word_count(F.col("text")).alias("wc"),
            text.bpe_ish_token_count(F.col("text")).alias("bpe"),
            text.stopword_hits(F.col("text"), text.STOPWORDS["en"]).alias("sw"),
        ).collect()
    }
    assert rows[1]["wc"] == 6
    assert rows[1]["bpe"] == 8  # 6 words + ',' + '!'
    assert rows[1]["sw"] == 3  # 'the' x2 + 'and' ('fox,' absorbs the comma)
    assert rows[2]["wc"] == 0
    assert rows[3]["sw"] == 0


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog sat in the house that was red"),
            (2, "der hund und die katze ist nicht in das haus"),
            (3, "le chat et la maison est dans les arbres pour toujours"),
            (4, "xyzzy plugh qwerty"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["pred"]
        for r in df.select("doc_id", text.lang_id(F.col("text")).alias("pred")).collect()
    }
    assert got == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_quality_score_range(docs):
    scored = text.quality_score(docs, "text")
    for r in scored.collect():
        assert 0.0 <= r["quality_score"] <= 1.0
    # real sentence beats word-soup? both are words; at least deterministic
    again = text.quality_score(docs, "text").collect()
    assert [r["quality_score"] for r in scored.collect()] == [
        r["quality_score"] for r in again
    ]


def test_fingerprints(docs):
    fp = {r["doc_id"]: r for r in text.fingerprint_documents(docs, "doc_id", "text").collect()}
    assert fp[1]["md5"] == fp[4]["md5"]
    assert fp[1]["rolling_fp"] == fp[4]["rolling_fp"]
    assert fp[1]["rolling_fp"] != fp[3]["rolling_fp"]
    # rolling fp is order-sensitive
    import ensembl_datacheck_spark.operators.text as t

    df2 = fp[1]  # noqa: F841
    sw = docs.sparkSession.createDataFrame(
        [(1, "alpha beta"), (2, "beta alpha")], "doc_id long, text string"
    )
    r = {x["doc_id"]: x["rolling_fp"]
         for x in t.fingerprint_documents(sw, "doc_id", "text").collect()}
    assert r[1] != r[2]


def test_arrow_token_functions(spark):
    df = spark.createDataFrame(
        [
            (1, [1, 2, 3, 4]),
            (2, [10]),
            (3, []),
            (4, None),
            (5, [7, 7, 7]),
        ],
        "id long, tokens array<int>",
    )
    got = {
        r["id"]: r
        for r in df.select(
            "id",
            AR.token_stats(F.col("tokens")).alias("s"),
            AR.token_checksum(F.col("tokens")).alias("ck"),
            AR.token_sum(F.col("tokens")).alias("jvm_sum"),
            AR.token_min(F.col("tokens")).alias("jvm_min"),
            AR.token_max(F.col("tokens")).alias("jvm_max"),
        ).collect()
    }
    # Arrow tier agrees with JVM tier
    assert got[1]["s"]["min"] == 1 and got[1]["s"]["max"] == 4
    assert got[1]["s"]["sum"] == got[1]["jvm_sum"] == 10
    assert got[1]["s"]["n"] == 4
    assert got[5]["s"]["sum"] == 21 and got[5]["jvm_max"] == 7
    assert got[3]["s"]["n"] == 0 and got[3]["s"]["sum"] == 0
    # checksum: order-sensitive, deterministic
    df2 = spark.createDataFrame(
        [(1, [1, 2, 3, 4]), (2, [4, 3, 2, 1])], "id long, tokens array<int>"
    )
    cks = {r["id"]: r["ck"] for r in df2.select(
        "id", AR.token_checksum(F.col("tokens")).alias("ck")).collect()}
    assert cks[1] != cks[2]
    assert cks[1] == got[1]["ck"]


def test_token_arrays_equal(spark):
    df = spark.createDataFrame(
        [(1, [1, 2], [1, 2]), (2, [1, 2], [1, 3]), (3, None, None), (4, [1], None)],
        "id long, a array<int>, b array<int>",
    )
    got = {
        r["id"]: r["eq"]
        for r in df.select(
            "id", AR.token_arrays_equal(F.col("a"), F.col("b")).alias("eq")
        ).collect()
    }
    assert got == {1: True, 2: False, 3: True, 4: False}


def test_minhash_signature_entries_are_independent(spark):
    """Regression: a two-parameter HOF lambda (`lambda s, h=h`) binds the
    second parameter to the ARRAY INDEX, which silently made all
    signature entries identical (signature collapsed to one effective
    hash).  Entries from distinct affine permutations must differ."""
    from ensembl_datacheck_spark.operators.dedup import minhash_signatures

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    sig = minhash_signatures(df, "doc_id", "text", ngram=3, n_hashes=16)
    vals = sig.select("sig").first()["sig"]
    assert len(vals) == 16
    assert len(set(vals)) > 8, f"signature entries collapsed: {vals}"


def test_l2_topk_exact_matches_bruteforce_order(spark):
    """Quantized-L2 top-k must rank identically to float cosine top-k on
    unit-norm-ish vectors where L2 order == cosine order."""
    import numpy as np

    from ensembl_datacheck_spark.operators.similarity import (
        brute_force_topk,
        l2_topk_exact,
    )

    rng = np.random.default_rng(7)
    V = rng.standard_normal((40, 16))
    V /= np.linalg.norm(V, axis=1, keepdims=True)  # unit norm: L2 ~ cosine
    rows = [(i, [float(x) for x in V[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 3)
    bf = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in brute_force_topk(df, q, k=5).collect()
    }
    l2 = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in l2_topk_exact(df, q, k=5).collect()
    }
    assert bf == l2


def test_asof_join_semantics(spark):
    """Non-strict matches equal timestamps, strict does not; tolerance
    nulls out stale matches; unmatched left rows keep nulls."""
    from ensembl_datacheck_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "L1"),
         (1, "2024-01-01 12:00:00", "L2"),
         (2, "2024-01-01 09:00:00", "L3")],
        "uid long, ts string, tag string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 100),
         (1, "2024-01-01 11:30:00", 200),
         (3, "2024-01-01 08:00:00", 300)],
        "uid long, ts string, snap long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    got = {r["tag"]: r["snap"] for r in asof_join(
        left, right, by=["uid"], right_cols=["snap"]).collect()}
    assert got == {"L1": 100, "L2": 200, "L3": None}

    strict = {r["tag"]: r["snap"] for r in asof_join(
        left, right, by=["uid"], right_cols=["snap"], strict=True).collect()}
    assert strict == {"L1": None, "L2": 200, "L3": None}

    tol = {r["tag"]: r["snap"] for r in asof_join(
        left, right, by=["uid"], right_cols=["snap"],
        tolerance="10 minutes").collect()}
    # L2 at 12:00 vs snap 200 at 11:30 is 30min stale -> nulled
    assert tol == {"L1": 100, "L2": None, "L3": None}


def test_similarity_null_and_zero_vectors(spark):
    """Null embeddings must not crash Arrow-tier operators; zero-norm
    vectors are NEVER ranked by any tier (unified convention: cosine
    undefined → NULL in cosine_pairs_arrow, excluded from brute-force
    partial top-k); string ids must work in brute-force top-k."""
    from ensembl_datacheck_spark.operators.similarity import (
        brute_force_topk,
        embedding_near_duplicates,
    )

    rows = [("a", [1.0, 0.0]), ("b", [0.9, 0.1]), ("z", [0.0, 0.0]),
            ("n", None), ("c", [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    got = brute_force_topk(df, df.filter(F.col("vec_id") == "a"), k=3).collect()
    # zero vector is excluded (cosine undefined), null row is excluded
    assert [r["neighbor_id"] for r in got] == ["b", "c"]
    assert got[0]["cosine"] > 0.9 and got[1]["cosine"] == 0.0
    # a zero-norm QUERY yields no rows rather than arbitrary rankings
    assert brute_force_topk(df, df.filter(F.col("vec_id") == "z"), k=3).count() == 0

    near = embedding_near_duplicates(df, dim=2, min_cosine=0.5, n_planes=1)
    pairs = {(r["id_a"], r["id_b"]) for r in near.collect()}
    # NaN-cosine pairs (zero vector) must NOT pass the >= threshold
    assert all("z" not in p for p in pairs)


def test_salted_distinct_ignores_nulls(spark):
    """COUNT(DISTINCT v) semantics: NULLs contribute nothing."""
    from ensembl_datacheck_spark.operators.uniqueness import (
        exact_count_distinct_salted,
    )

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", None), ("b", None), ("c", 2)],
        "g string, v int",
    )
    got = {r["group_key"]: r["n_distinct"] for r in
           exact_count_distinct_salted(df, "g", "v", n_salt=4).collect()}
    want = {r["g"]: r["n"] for r in
            df.groupBy("g").agg(F.countDistinct("v").alias("n")).collect()}
    # full GROUP BY parity: all-NULL groups are PRESENT with count 0
    assert got == want
    assert got["b"] == 0


def test_drift_window_zero_baseline_parity(spark):
    """Distributed window tolerance must agree with Tolerance.violated:
    zero-baseline categories are not window breaches."""
    from ensembl_datacheck_spark.operators.drift import (
        Tolerance,
        category_drift_violations,
    )

    cur = spark.createDataFrame([("x", 0), ("y", 100)], "cat string, n int")
    base = spark.createDataFrame([("x", 0), ("y", 100)], "cat string, n int")
    tol = Tolerance(window=(0.95, 1.10))
    viol = category_drift_violations(cur, base, "cat", tol, "n", "n").collect()
    assert viol == []  # no change anywhere, incl. the 0->0 category
    assert not tol.violated(0, 0)


def test_jaccard_frequency_cap_degenerate_corpus(spark):
    """A stop-word-ish shingle shared by the whole corpus must NOT fan
    the self-join out quadratically: 5k copies of one doc emit zero
    pairs under the default cap (their shingles exceed max_df and are
    dropped from the filtered universe), while rare near-dup pairs
    survive untouched."""
    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta")
            for i in range(5_000)]
    rows += [
        (10_000, "unique doc about spark adaptive query execution planning"),
        (10_001, "unique doc about spark adaptive query execution planner"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.jaccard_pairs(df, "doc_id", "text", ngram=3, max_df=100)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert len(pairs) <= 10  # NOT ~12.5M
    assert pairs[(10_000, 10_001)] > 0.5


def test_simhash_degenerate_bucket_linear_output(spark):
    """k identical docs land in one band bucket; the capped hub-spoke
    pairing emits O(k + cap²) rows, not k²/2, and connected components
    still recover the single full cluster through the hub."""
    from ensembl_datacheck_spark.operators.clusters import connected_components

    k = 500
    df = spark.createDataFrame(
        [(i, "identical content repeated across the corpus many times over")
         for i in range(k)],
        "doc_id long, text string",
    )
    out = dedup.simhash_near_duplicates(df, "doc_id", "text").cache()
    n = out.count()
    assert n < 15_000  # k²/2 = 124_750 without the cap
    labels = connected_components(out.select("id_a", "id_b"))
    assert labels.select("node").distinct().count() == k
    assert labels.select("component").distinct().count() == 1
    # simhash values still attached and identical across the cluster
    assert out.select("simhash_a").distinct().count() == 1


def test_embedding_near_dup_degenerate_bucket(spark):
    """k identical vectors: capped pairing keeps output linear-ish while
    the hub preserves full-cluster connectivity."""
    from ensembl_datacheck_spark.operators.clusters import connected_components

    k = 300
    vec = [1.0, 0.5, -0.25, 2.0]
    df = spark.createDataFrame(
        [(i, vec) for i in range(k)], "vec_id long, embedding array<double>"
    )
    out = similarity.embedding_near_duplicates(
        df, dim=4, min_cosine=0.99, n_planes=4
    ).cache()
    n = out.count()
    assert 0 < n < 12_000  # C(300,2) = 44_850 without the cap
    labels = connected_components(out.select("id_a", "id_b"))
    assert labels.select("node").distinct().count() == k
    assert labels.select("component").distinct().count() == 1


def test_asof_join_null_key_never_matches(spark):
    """NULL `by` keys never match (oracle semantics: DuckDB ASOF JOIN
    equi-condition / pandas merge_asof) — even though Spark windows
    group NULL partition keys together."""
    from ensembl_datacheck_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(None, "2024-01-01 12:00:00", "Lnull"),
         (1, "2024-01-01 12:00:00", "L1")],
        "uid long, ts string, tag string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(None, "2024-01-01 10:00:00", 999),
         (1, "2024-01-01 10:00:00", 100)],
        "uid long, ts string, snap long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {r["tag"]: r["snap"] for r in asof_join(
        left, right, by=["uid"], right_cols=["snap"]).collect()}
    assert got == {"Lnull": None, "L1": 100}


def test_read_table_csv_infers_schema(spark, tmp_path):
    """Schema-less csv reads must infer numeric types (not load every
    column as string and silently corrupt drift arithmetic)."""
    from ensembl_datacheck_spark.sources.io import read_table

    p = str(tmp_path / "t.csv")
    spark.createDataFrame([("a", 1, 2.5)], "k string, n long, x double") \
        .coalesce(1).write.option("header", "true").mode("overwrite").csv(p)
    df = read_table(spark, p, fmt="csv")
    types = dict(df.dtypes)
    assert types["n"] in ("int", "bigint") and types["x"] == "double"
    # explicit schema still wins (no inference scan)
    df2 = read_table(spark, p, fmt="csv", schema="k string, n int, x double")
    assert dict(df2.dtypes)["n"] == "int"


def test_ivf_centroids_kmeans_recall(spark):
    """IVF with seeded-sample k-means centroids reaches recall@10 >= 0.9
    vs brute force on a clustered corpus with nprobe < n_lists (the
    lowest-id seeding this replaced could not: unrepresentative seeds
    collapse most of the corpus into few lists)."""
    import numpy as np

    from ensembl_datacheck_spark.operators.similarity import (
        brute_force_topk,
        deterministic_centroids,
        ivf_topk,
    )

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((8, 16)) * 4
    rows = []
    for i in range(400):
        c = centers[i % 8]
        rows.append((i, [float(x) for x in c + 0.3 * rng.standard_normal(16)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 8)

    exact = brute_force_topk(emb, queries, k=10)
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx = ivf_topk(emb, queries, k=10, n_lists=8, nprobe=2)
    got = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"recall@10 = {recall}"

    # determinism: same corpus, same seed -> identical centroids
    c1 = deterministic_centroids(emb, 8)
    c2 = deterministic_centroids(emb, 8)
    assert np.array_equal(c1, c2)


def test_read_table_jdbc_dispatch(spark):
    """The jdbc arm builds the right reader config (no driver jar in the
    container, so validate dispatch/required-option errors plus the
    constructed reader state via a recording stub)."""
    import pytest as _pytest

    from ensembl_datacheck_spark.sources.io import read_table

    with _pytest.raises(ValueError, match="dbtable"):
        read_table(spark, "jdbc:mysql://h/db", fmt="jdbc")
    with _pytest.raises(ValueError, match="partitionColumn"):
        read_table(spark, "jdbc:mysql://h/db", fmt="jdbc", dbtable="t",
                   partitionColumn="id")

    calls = {}

    class _Reader:
        def format(self, f):
            calls["format"] = f
            return self

        def option(self, k, v):
            calls.setdefault("options", {})[k] = v
            return self

        def options(self, **kw):
            calls.setdefault("options", {}).update(kw)
            return self

        def schema(self, s):
            calls["schema"] = s
            return self

        def load(self):
            calls["loaded"] = True
            return "df"

    class _Spark:
        read = _Reader()

    out = read_table(
        _Spark(), "jdbc:mysql://h/db", fmt="jdbc", dbtable="t",
        partitionColumn="id", lowerBound="0", upperBound="1000",
        numPartitions="8",
    )
    assert out == "df" and calls["format"] == "jdbc" and calls["loaded"]
    assert calls["options"]["url"] == "jdbc:mysql://h/db"
    assert calls["options"]["dbtable"] == "t"
    assert calls["options"]["numPartitions"] == "8"

    # a schema flows through the source's customSchema option — the JDBC
    # relation rejects reader.schema()
    calls.clear()
    read_table(_Spark(), "jdbc:mysql://h/db", fmt="jdbc", dbtable="t",
               schema="id long, name string")
    assert calls["options"]["customSchema"] == "id long, name string"
    assert "schema" not in calls


def test_lsh_multiprobe_improves_recall(spark):
    """Multiprobe (1-bit bucket flips on the broadcast query side) finds
    neighbors that landed one signature bit away; recall@1 is at least
    the single-probe recall and reaches the brute-force answer for a
    clear majority of queries on this corpus."""
    import numpy as np

    from ensembl_datacheck_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    rng = np.random.default_rng(3)
    rows = []
    # 40 base vectors, each with a close twin (the true nearest
    # neighbor); twins are the queries.  Random fillers push the
    # corpus size up so wrong same-bucket answers exist.
    for i in range(40):
        v = rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
        rows.append((1000 + i, [float(x) for x in v + 0.05 * rng.standard_normal(16)]))
    for i in range(200):
        rows.append((2000 + i, [float(x) for x in rng.standard_normal(16)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter((F.col("vec_id") >= 1000) & (F.col("vec_id") < 2000))

    truth = {r["query_id"]: r["neighbor_id"]
             for r in brute_force_topk(emb, queries, k=1).collect()}

    def recall(mp):
        got = {r["query_id"]: r["neighbor_id"]
               for r in lsh_topk(emb, queries, dim=16, k=1, n_planes=8,
                                 multiprobe=mp).collect()}
        return sum(got.get(q) == n for q, n in truth.items()) / len(truth)

    r0, r8 = recall(0), recall(8)
    assert r8 >= r0
    assert r8 >= 0.75, f"multiprobe recall@1 = {r8} (single-probe {r0})"


def test_quantile_profile_exact_and_approx_tiers(spark):
    from ensembl_datacheck_spark.operators.drift import quantile_profile

    df = spark.range(0, 10_001).select((F.col("id") / 100.0).alias("v"))
    exact = {r["q"]: r["value"]
             for r in quantile_profile(df, "v", (0.25, 0.5, 0.9)).collect()}
    assert exact[0.5] == pytest.approx(50.0)
    assert exact[0.25] == pytest.approx(25.0)
    # sketch tier: same shape, values within the documented rank error
    approx = {r["q"]: r["value"]
              for r in quantile_profile(df, "v", (0.25, 0.5, 0.9),
                                        approx=True, accuracy=10_000).collect()}
    for q in exact:
        assert approx[q] == pytest.approx(exact[q], abs=0.2)


def test_quantile_drift_violations_and_missing_group(spark):
    from ensembl_datacheck_spark.operators.drift import (
        quantile_drift_violations,
        quantile_profile,
    )

    base_df = spark.createDataFrame(
        [("a", float(v)) for v in range(101)] + [("b", 5.0)] * 10,
        "g string, v double",
    )
    cur_df = spark.createDataFrame(
        [("a", float(v) + 10.0) for v in range(101)],  # shifted by +10
        "g string, v double",
    )
    base = quantile_profile(base_df, "v", (0.5,), group_col="g")
    cur = quantile_profile(cur_df, "v", (0.5,), group_col="g")
    # wide tolerance: shift of 10 on median 50 passes rel_tol 0.3
    assert quantile_drift_violations(cur, base, rel_tol=0.3,
                                     group_cols=["g"]).filter(
        F.col("g") == "a").count() == 0
    # tight tolerance: the shift breaches
    tight = quantile_drift_violations(cur, base, abs_tol=1.0, group_cols=["g"])
    got = {r["g"]: r for r in tight.collect()}
    assert got["a"]["delta"] == pytest.approx(10.0)
    # group 'b' missing from current surfaces as a NULL-current breach
    assert got["b"]["cur_value"] is None


# ---------------------------------------------------------------------------
# PII detection + redaction (operators/pii.py)
# ---------------------------------------------------------------------------

PII_DOCS = [
    (1, "reach me at jane.doe+spam@corp-mail.io or 555-123-4567 thanks"),
    (2, "server 192.168.10.25 rotated; backup 10.0.0.1 is warm"),
    (3, "ssn on file 123-45-6789 do not share"),
    (4, "no identifiers in this document at all"),
    (5, None),
    (6, "double hit a@b.co and c.d@e-f.org plus phone 800.555.1212"),
]


@pytest.fixture(scope="module")
def pii_docs(spark):
    return spark.createDataFrame(PII_DOCS, "doc_id long, text string").cache()


def test_pii_redact_and_counts(pii_docs):
    from ensembl_datacheck_spark.operators import pii

    out = {r["doc_id"]: r for r in pii.redact_pii(pii_docs, "text").collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 1
    assert out[1]["redacted_text"] == "reach me at [EMAIL] or [PHONE] thanks"
    assert out[2]["n_ipv4"] == 2
    assert out[2]["redacted_text"] == "server [IPV4] rotated; backup [IPV4] is warm"
    assert out[3]["n_ssn"] == 1 and "[SSN]" in out[3]["redacted_text"]
    # SSN (3-2-4) must NOT also be consumed as a phone (3-3-4)
    assert out[3]["n_phone"] == 0
    assert out[4]["redacted_text"] == PII_DOCS[3][1]  # untouched
    assert out[5]["redacted_text"] is None  # NULL passes through
    assert out[6]["n_email"] == 2 and out[6]["n_phone"] == 1


def test_pii_redaction_leaves_no_residual_matches(pii_docs):
    """Re-scanning the redacted output with every default pattern finds
    zero hits — the property the operator exists to guarantee."""
    from ensembl_datacheck_spark.operators import pii

    red = pii.redact_pii(pii_docs, "text", with_counts=False)
    residual = red.select(
        *pii.hit_count_exprs(F.col("redacted_text"))
    ).agg(
        *[
            F.sum(f"n_{n}").alias(n)
            for n in pii.DEFAULT_PATTERNS
        ]
    ).collect()[0]
    assert all((residual[n] or 0) == 0 for n in pii.DEFAULT_PATTERNS)


def test_pii_summary_values(pii_docs):
    from ensembl_datacheck_spark.operators import pii

    row = pii.pii_summary(pii_docs, "text").collect()[0]
    assert row["total_email"] == 3 and row["docs_with_email"] == 2
    assert row["total_ipv4"] == 2 and row["docs_with_ipv4"] == 1
    assert row["total_ssn"] == 1 and row["docs_with_ssn"] == 1
    assert row["total_phone"] == 2 and row["docs_with_phone"] == 2


def test_pii_redaction_stays_jvm_side(pii_docs):
    """The sweep is a pure codegen projection: no Python eval node, no
    Exchange — the property that makes it linear at 100 TB."""
    from ensembl_datacheck_spark.operators import pii

    plan = (
        pii.redact_pii(pii_docs, "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan


def test_pii_custom_patterns_and_token_fmt(pii_docs):
    from ensembl_datacheck_spark.operators import pii

    out = pii.redact_pii(
        pii_docs.filter(F.col("doc_id") == 1),
        "text",
        patterns={"email": pii.DEFAULT_PATTERNS["email"]},
        token_fmt="<{name}>",
    ).collect()[0]
    assert "<EMAIL>" in out["redacted_text"]
    # only the supplied category is swept or counted
    assert "555-123-4567" in out["redacted_text"]
    assert out["n_email"] == 1 and "n_phone" not in out.asDict()


def test_simhash_default_band_bits_executes_upstream_once(spark):
    """The no-hint adaptive band-bits count runs on the CACHED signature
    table, so an expensive derived upstream executes exactly once per
    call — not once for the sizing count and again for the dedup job
    (review finding on _resolve_band_bits)."""
    from ensembl_datacheck_spark.operators import dedup

    acc = spark.sparkContext.accumulator(0)
    texts = [(i, f"some shared prefix text body number {i}") for i in range(40)]

    def tag(row):
        acc.add(1)
        return row

    rdd = spark.sparkContext.parallelize(texts, 4).map(tag)
    df = spark.createDataFrame(rdd, "doc_id long, text string")
    dedup.simhash_near_duplicates(df, "doc_id", "text").count()
    assert acc.value == len(texts), (
        f"upstream executed {acc.value / len(texts):.1f}x, expected 1x"
    )


def test_pii_staged_counts_match_redaction(spark):
    """Precedence holds for the AUDIT COUNTS, not just the rewrite: a
    category consumed by an earlier redaction must not be counted (an
    email host is not an IPv4; a phone-shaped email local part is not a
    phone)."""
    from ensembl_datacheck_spark.operators import pii

    df = spark.createDataFrame(
        [(1, "mail user@192.168.1.1.example.com end"),
         (2, "call 555-123-4567@relay.net now")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pii.redact_pii(df, "text").collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_ipv4"] == 0
    assert out[1]["redacted_text"] == "mail [EMAIL] end"
    assert out[2]["n_email"] == 1 and out[2]["n_phone"] == 0
    assert out[2]["redacted_text"] == "call [EMAIL] now"


def test_pii_summary_empty_corpus_reads_zeros(spark):
    from ensembl_datacheck_spark.operators import pii

    df = spark.createDataFrame([], "doc_id long, text string")
    row = pii.pii_summary(df, "text").collect()[0]
    for n in pii.DEFAULT_PATTERNS:
        assert row[f"total_{n}"] == 0 and row[f"docs_with_{n}"] == 0


class TestNullTextDedupSemantics:
    """NULL text is never duplicate content (incremental.py's contract,
    now uniform across every dedup tier); empty-STRING docs remain
    byte-identical content and may legitimately match each other."""

    @pytest.fixture(scope="class")
    def null_docs(self, spark):
        return spark.createDataFrame(
            [(1, None), (2, None), (3, ""), (4, ""), (5, "real text here"),
             (6, "real text here")],
            "doc_id long, text string",
        ).cache()

    def test_dedup_exact_keeps_all_null_text_rows(self, null_docs):
        from ensembl_datacheck_spark.operators import dedup

        kept = {r["doc_id"]
                for r in dedup.dedup_exact(null_docs, "text", "doc_id").collect()}
        # NULLs all kept; '' pair and the real-text pair each collapse
        assert kept == {1, 2, 3, 5}

    def test_duplicate_groups_exclude_null_digest(self, null_docs):
        from ensembl_datacheck_spark.operators import dedup

        groups = dedup.exact_duplicate_groups(null_docs, "text", "doc_id").collect()
        assert all(g["content_hash"] is not None for g in groups)
        assert {tuple(sorted(g["doc_ids"])) for g in groups} == {(3, 4), (5, 6)}

    def test_minhash_and_jaccard_never_pair_null_with_empty(self, null_docs):
        from ensembl_datacheck_spark.operators import dedup

        pairs = {(r["id_a"], r["id_b"]) for r in dedup.minhash_lsh_candidates(
            null_docs, "doc_id", "text", ngram=3, n_bands=4).collect()}
        # NULL docs carry no shingles -> absent; '' and 'real' pairs match
        assert (1, 2) not in pairs and (1, 3) not in pairs and (2, 3) not in pairs
        assert (3, 4) in pairs and (5, 6) in pairs

    def test_arrow_simhash_null_matches_portable_tier(self, spark, null_docs):
        from ensembl_datacheck_spark.operators import dedup

        fast = {(r["id_a"], r["id_b"]) for r in dedup.simhash_near_duplicates(
            null_docs, "doc_id", "text", band_bits=16).collect()}
        portable = {(r["id_a"], r["id_b"])
                    for r in dedup.portable_simhash_near_duplicates(
                        null_docs, "doc_id", "text", band_bits=16).collect()}
        assert fast == portable
        assert (1, 2) not in fast  # NULL-text docs never pair


def test_ivf_topk_supports_string_ids(spark):
    """ivf_topk derives the probe id type from the queries schema like
    its siblings — a hardcoded 'long' crashed on string ids."""
    import numpy as np

    from ensembl_datacheck_spark.operators import similarity as S

    rows = [(f"v{i}", [float(i), 1.0, 0.0]) for i in range(20)]
    corpus = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    queries = corpus.filter(F.col("vec_id") == "v3")
    out = S.ivf_topk(corpus, queries, k=3, n_lists=2, nprobe=2,
                     centroids=np.array([[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]))
    got = out.collect()
    assert got and all(r["query_id"] == "v3" for r in got)
    assert all(isinstance(r["neighbor_id"], str) for r in got)


def test_drift_statistics_orders_negative_numeric_bins(spark):
    """KS accumulates CDFs in bin order; negative numeric labels must
    sort by value (-2 < -1 < 5), not by the length-lex fallback."""
    from ensembl_datacheck_spark.operators.drift import drift_statistics

    # identical distributions -> KS must be 0 regardless of labels
    h = [("-2", 10.0), ("-1", 20.0), ("5", 30.0)]
    assert drift_statistics(h, h).ks == 0.0
    # mass moved from bin -2 to bin 5: with correct ordering the max CDF
    # gap is at bin -2 (|1/6 - 3/6| = 1/3); the broken order understated it
    cur = [("-2", 10.0), ("-1", 20.0), ("5", 30.0)]
    base = [("-2", 30.0), ("-1", 20.0), ("5", 10.0)]
    assert abs(drift_statistics(cur, base).ks - (1 / 3)) < 1e-9


def test_chi2_verdict_is_scale_independent(spark):
    """The raw p-value gate is scale-DEPENDENT: a fixed 0.03% fractional
    perturbation (the synth fixture's orphan-source mass) is insignificant
    at 100k rows but crosses any alpha by 1M — which crashed bench.py's
    pinned-verdict assert at sf0.1.  chi2_verdict adds a total-variation
    effect-size floor, so the verdict for a given pair of DISTRIBUTIONS
    is identical at every corpus size."""
    from ensembl_datacheck_spark.operators.drift import (
        chi2_verdict,
        drift_statistics,
    )

    def hists(n):
        # 3 sources at fixed shares + a 0.03%-mass orphan in current only
        base = [("web", 0.5 * n), ("books", 0.3 * n), ("code", 0.2 * n)]
        cur = [("web", 0.4997 * n), ("books", 0.3 * n), ("code", 0.2 * n),
               ("orphan", 0.0003 * n)]
        return cur, base

    for n in (1e5, 1e6, 1e12):
        stats = drift_statistics(*hists(n))
        assert stats.l1 < 0.001
        assert not chi2_verdict(stats, alpha=1e-4, min_effect_l1=0.02), (
            f"negligible 0.03% drift flagged at n={n:g} "
            f"(p={stats.chi2_pvalue:.2e}, l1={stats.l1:.5f})"
        )

    # a REAL drift (10% of mass moved) fails at every scale where the
    # sample is big enough for significance
    for n in (1e5, 1e6, 1e12):
        cur = [("web", 0.4 * n), ("books", 0.4 * n), ("code", 0.2 * n)]
        base = [("web", 0.5 * n), ("books", 0.3 * n), ("code", 0.2 * n)]
        stats = drift_statistics(cur, base)
        assert abs(stats.l1 - 0.1) < 1e-9
        assert chi2_verdict(stats, alpha=1e-4, min_effect_l1=0.02)


def test_lsh_band_keys_requires_column_name(spark):
    import pytest as _pytest

    from ensembl_datacheck_spark.operators.dedup import lsh_band_keys

    with _pytest.raises(TypeError, match="column name"):
        lsh_band_keys(F.col("sig"), 4, 2)


def test_token_checksum_batch_independent_and_documented_formula(spark):
    """The checksum of a row must not depend on which rows share its
    Arrow batch (a None assignment used to upcast the batch to float64
    and round values above 2^53), and must equal the documented
    polynomial sum(token_i * BASE^i) mod 2^64."""
    arr = [100000, 200000, 300000, 400000, 500000]
    with_null = spark.createDataFrame(
        [(1, arr), (2, None)], "id long, tokens array<int>"
    ).coalesce(1)  # one batch: the null row shares the batch
    alone = spark.createDataFrame([(1, arr)], "id long, tokens array<int>")
    ck1 = with_null.select(AR.token_checksum(F.col("tokens")).alias("ck")) \
        .collect()
    ck2 = alone.select(AR.token_checksum(F.col("tokens")).alias("ck")).collect()
    got = {r["ck"] for r in ck1 if r["ck"] is not None}
    assert got == {ck2[0]["ck"]}
    expected = sum(t * pow(1000003, i, 1 << 64) for i, t in enumerate(arr))
    expected %= 1 << 64
    if expected >= 1 << 63:
        expected -= 1 << 64  # int64 view of the uint64 value
    assert ck2[0]["ck"] == expected
    assert [r["ck"] for r in ck1 if r["ck"] is None] == [None]


def test_token_stats_null_vs_empty_and_beyond_int32(spark):
    """JVM-tier parity: NULL array -> all-NULL struct (F.size/token_sum
    of NULL are NULL); empty array -> min/max NULL, sum 0, n 0.  Token
    values beyond int32 (the out-of-range corruption a datacheck exists
    to surface) must be reported, not crash the stage."""
    big = 3_000_000_000
    df = spark.createDataFrame(
        [(1, [big, 5]), (2, []), (3, None)],
        "id long, tokens array<long>",
    )
    got = {r["id"]: r["s"] for r in df.select(
        "id", AR.token_stats(F.col("tokens")).alias("s")).collect()}
    assert got[1]["max"] == big and got[1]["min"] == 5
    assert got[1]["sum"] == big + 5 and got[1]["n"] == 2
    assert got[2]["min"] is None and got[2]["sum"] == 0 and got[2]["n"] == 0
    assert all(got[3][f] is None for f in ("min", "max", "sum", "n"))


def test_jvm_cosine_zero_norm_yields_null_not_error(spark):
    """ANSI mode: a zero-norm vector must yield NULL (the Arrow tier's
    convention), not DIVIDE_BY_ZERO aborting the job."""
    df = spark.createDataFrame(
        [(1, [0.0, 0.0], [1.0, 0.0]), (2, [1.0, 0.0], [1.0, 0.0])],
        "id long, a array<double>, b array<double>",
    )
    got = {r["id"]: r["c"] for r in df.select(
        "id", AR.cosine_similarity(F.col("a"), F.col("b")).alias("c")
    ).collect()}
    assert got[1] is None and abs(got[2] - 1.0) < 1e-12


def test_repetition_signals_short_doc_gets_null_fractions(spark):
    """A document with fewer words than the n-gram order has NO n-grams:
    fractions are NULL, never the whole-text-fallback 1.0 that a
    Gopher-style threshold filter would reject."""
    from ensembl_datacheck_spark.operators import text as T

    df = spark.createDataFrame(
        [(1, "hello"), (2, "hello world hello world hello world")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in T.repetition_signals(
        df, "doc_id", "text", ngram=2).collect()}
    assert got[1]["top_ngram_frac"] is None
    assert got[1]["dup_ngram_frac"] is None
    assert got[2]["top_ngram_frac"] is not None


def test_registry_patterns_case_insensitive_on_names():
    import ensembl_datacheck_spark.checks  # noqa: F401  (registers suite)
    from ensembl_datacheck_spark.registry import registry

    lower = {s.name for s in registry.select(patterns=["^tokeneval"])}
    assert "TokenEvalContamination" in lower


def test_listing_df_rejects_bad_root(spark, tmp_path):
    """os.walk of a nonexistent root silently yields NOTHING, which would
    make missing_files flag every registered file — fail fast instead."""
    import pytest as _pytest

    from ensembl_datacheck_spark.operators.files import listing_df

    with _pytest.raises(FileNotFoundError, match="not a local directory"):
        listing_df(spark, str(tmp_path / "typo"))


def test_inactive_with_rows_flags_null_active(spark):
    from ensembl_datacheck_spark.operators.referential import inactive_with_rows

    dim = spark.createDataFrame(
        [(1, True), (2, False), (3, None)], "pk long, active boolean"
    )
    fact = spark.createDataFrame([(1,), (2,), (3,)], "fk long")
    got = {r["fk"] for r in inactive_with_rows(dim, "pk", "active",
                                               fact, "fk").collect()}
    # NULL active counts as inactive: member 3's fact row is surfaced
    assert got == {2, 3}


def test_column_stats_rejects_unknown_column(spark):
    import pytest as _pytest

    from ensembl_datacheck_spark.operators.column_stats import column_stats

    df = spark.createDataFrame([(1, 2)], "a long, b long")
    with _pytest.raises(ValueError, match="unknown column"):
        column_stats(df, columns=["a", "bb"])


def test_token_length_violation_null_ntok_is_flagged(spark):
    """The fused check predicate and the standalone operator share ONE
    definition; a NULL n_tok against a real array is a violation in
    both, never a silent pass."""
    from ensembl_datacheck_spark.operators.column_stats import (
        token_length_predicate,
        token_length_violations,
    )

    df = spark.createDataFrame(
        [("a", [1, 2, 3], 3), ("b", [1, 2], None), ("c", [], None),
         ("d", None, 5), ("e", [1], 9)],
        "doc_id string, tokens array<int>, n_tok int",
    )
    got = {r["doc_id"] for r in token_length_violations(df).collect()}
    assert got == {"b", "e"}  # NULL n_tok + genuine mismatch; empty/null pass
    # the fused predicate IS the same expression
    got2 = {r["doc_id"]
            for r in df.filter(token_length_predicate()).collect()}
    assert got2 == got


def test_asof_join_tolerates_map_typed_right_columns(spark):
    """A MapType column on the right side must not fail window analysis
    (tie-break ordering uses the orderable subset of the right struct)."""
    from ensembl_datacheck_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00")], "user long, ts string"
    )
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:00:00", {"k": "v"})],
        "user long, rts string, attrs map<string,string>",
    )
    out = asof_join(left, right, by=["user"], left_ts="ts", right_ts="rts")
    [r] = out.collect()
    assert r["attrs"] == {"k": "v"}


def test_salted_join_rejects_zero_salt(spark):
    import pytest as _pytest

    from ensembl_datacheck_spark.operators.skew import salted_join

    fact = spark.createDataFrame([(1, 10)], "k long, row_id long")
    dim = spark.createDataFrame([(1, "x")], "k long, v string")
    with _pytest.raises(ValueError, match="n_salt"):
        salted_join(fact, dim, "k", "row_id", n_salt=0)


# ---------------------------------------------------------------------------
# token rarity (operators/rarity.py)
# ---------------------------------------------------------------------------


def test_token_rarity_self_scoring_exact_counts(spark):
    """Hand-checkable corpus: token 7 appears 3x, 8 appears 2x, 9 once
    (hapax).  Self-scoring: every doc matches, oov_n == 0, and the
    per-doc sums/mins/hapax counts are exact integers."""
    from ensembl_datacheck_spark.operators import rarity as R

    df = spark.createDataFrame(
        [
            (1, [7, 8, 9]),     # counts 3,2,1 -> sum 6, min 1, hapax 1
            (2, [7, 7]),        # counts 3,3   -> sum 6, min 3, hapax 0
            (3, [8]),           # count 2      -> sum 2, min 2, hapax 0
            (4, None),          # skipped: NULL array
            (5, []),            # skipped: empty array
        ],
        "doc_id long, tokens array<int>",
    )
    got = {r["doc_id"]: r for r in R.token_rarity_scores(df).collect()}
    assert set(got) == {1, 2, 3}
    assert (got[1]["n_scored"], got[1]["sum_count"], got[1]["min_count"],
            got[1]["hapax_n"], got[1]["oov_n"]) == (3, 6, 1, 1, 0)
    assert got[1]["mean_count"] == 2.0
    assert (got[2]["sum_count"], got[2]["min_count"], got[2]["hapax_n"]) == (6, 3, 0)
    assert got[3]["mean_count"] == 2.0


def test_token_rarity_element_hygiene_matches_unigram_profile(spark):
    """NULL and negative elements are dropped from BOTH the vocab and
    the scoring stream (the unigram_profile hygiene), so self-scoring
    still finds every remaining token in-vocab."""
    from ensembl_datacheck_spark.operators import rarity as R

    df = spark.createDataFrame(
        [(1, [5, None, -3, 5]), (2, [5])],
        "doc_id long, tokens array<int>",
    )
    got = {r["doc_id"]: r for r in R.token_rarity_scores(df).collect()}
    # doc 1 scores only its two 5s (count 3 in the cleaned corpus)
    assert (got[1]["n_scored"], got[1]["sum_count"], got[1]["oov_n"]) == (2, 6, 0)
    assert got[1]["min_count"] == 3


def test_token_rarity_foreign_vocab_oov(spark):
    """Foreign vocabulary: unmatched tokens count as OOV with zero mass;
    an all-OOV document keeps NULL min_count/mean_count (never a fake
    zero that would read as 'infinitely rare')."""
    from ensembl_datacheck_spark.operators import rarity as R

    df = spark.createDataFrame(
        [(1, [10, 11]), (2, [99, 98])], "doc_id long, tokens array<int>"
    )
    vocab = spark.createDataFrame(
        [(10, 4), (11, 1)], "token int, count long"
    )
    got = {r["doc_id"]: r for r in R.token_rarity_scores(df, vocab=vocab).collect()}
    assert (got[1]["oov_n"], got[1]["sum_count"], got[1]["hapax_n"]) == (0, 5, 1)
    assert got[1]["mean_count"] == 2.5
    assert (got[2]["oov_n"], got[2]["sum_count"]) == (2, 0)
    assert got[2]["min_count"] is None and got[2]["mean_count"] is None


def test_vocab_rarity_summary_exact(spark):
    """vocab {A:1, B:3, C:1}: size 3, hapax 2, total 5 — fractions are
    single divisions of those exact integers."""
    from ensembl_datacheck_spark.operators import rarity as R

    vocab = spark.createDataFrame(
        [(1, 1), (2, 3), (3, 1)], "token int, count long"
    )
    row = R.vocab_rarity_summary(vocab).collect()[0]
    assert (row["vocab_size"], row["hapax_vocab_n"], row["total_tokens"]) == (3, 2, 5)
    assert row["hapax_vocab_fraction"] == 2.0 / 3.0
    assert row["hapax_token_mass"] == 2.0 / 5.0


def test_token_rarity_plan_broadcasts_vocab(spark):
    """Plan pin: the vocab join is a BroadcastHashJoin (map-side — the
    100 TB contract) and self-scoring shuffles exactly twice here: the
    vocab-bounded groupBy(token) plus its BroadcastExchange.  The
    per-doc groupBy needs NO Exchange on this source — Range guarantees
    each doc_id lives in one partition and explode preserves that, so
    Catalyst elides the shuffle (on parquet it's one more doc-sized
    Exchange after the map-side partial agg — the entry-query audit)."""
    from tests.test_plans import plan_str
    from ensembl_datacheck_spark.operators import rarity as R

    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.array(F.col("id") % 7, F.col("id") % 3).cast("array<int>").alias("tokens"),
    )
    plan = plan_str(R.token_rarity_scores(df), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange") == 2, plan


# --- source_unigram_divergence ----------------------------------------------


class TestSourceUnigramDivergence:
    @pytest.fixture(scope="class")
    def div_df(self, spark):
        rows = [
            ("a", [1, 1, 2]),
            ("a", [2, 3]),
            ("b", [1, 2]),
            ("c", [9, 9, 9, 9]),   # disjoint vocab
            (None, [1]),           # NULL source dropped
            ("d", None),           # NULL tokens dropped -> d absent
            ("e", []),             # empty tokens dropped -> e absent
        ]
        # NOT cached: caching the input wraps every subtree in an
        # InMemoryTableScan whose canonical forms AQE does not unify,
        # silently disabling the exchange reuse this class pins
        # (measured: Reused=0 cached vs 3 uncached on this fixture).
        return spark.createDataFrame(rows, "source string, tokens array<int>")

    def test_exact_fractions(self, div_df):
        from ensembl_datacheck_spark.operators.drift import (
            source_unigram_divergence,
        )

        got = {
            r["source"]: r.asDict()
            for r in source_unigram_divergence(div_df).collect()
        }
        assert set(got) == {"a", "b", "c"}
        # corpus: T_g=11; c_g = {1:3, 2:3, 3:1, 9:4}
        a = got["a"]
        assert (a["n_tok_source"], a["vocab_source"]) == (5, 3)
        assert a["covered_mass"] == 7.0 / 11.0
        assert a["l1"] == 40.0 / 55.0      # |2/5-3/11|*2 + |1/5-1/11| + 4/11
        assert a["tv"] == a["l1"] / 2.0
        c = got["c"]
        assert (c["n_tok_source"], c["vocab_source"]) == (4, 1)
        assert c["covered_mass"] == 4.0 / 11.0
        assert c["l1"] == 14.0 / 11.0      # |1 - 4/11| + 7/11

    def test_single_source_has_zero_divergence(self, spark):
        from ensembl_datacheck_spark.operators.drift import (
            source_unigram_divergence,
        )

        df = spark.createDataFrame(
            [("only", [1, 2, 2, 3])], "source string, tokens array<int>"
        )
        [r] = source_unigram_divergence(df).collect()
        assert r["l1"] == 0.0 and r["covered_mass"] == 1.0

    def test_plan_reuses_count_exchange_and_broadcasts_dims(self, div_df):
        """Every downstream aggregate (global histogram, per-source
        totals, corpus total) re-derives from the SAME (src, token)
        count subtree, so at runtime AQE reuses that exchange instead
        of re-exploding the corpus; the totals come back as broadcast
        joins over the vocab-sized count table."""
        from ensembl_datacheck_spark.operators.drift import (
            source_unigram_divergence,
        )

        out = source_unigram_divergence(div_df)
        out.collect()  # reuse only materializes in the adaptive plan
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Reused" in plan
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan


# --- chunk_sequences --------------------------------------------------------


class TestChunkSequences:
    def _chunk(self, spark, rows, **kw):
        from ensembl_datacheck_spark.operators.corpus import chunk_sequences

        df = spark.createDataFrame(
            rows, "doc_id string, tokens array<int>, source string"
        )
        return chunk_sequences(df, "doc_id", "tokens", **kw)

    def test_windows_and_tail(self, spark):
        rows = [
            ("a", list(range(10)), "web"),   # 3 chunks: 0-3, 3-6, 6-9
            ("b", list(range(3)), "web"),    # short doc: 1 whole chunk
            ("e", [7], "y"),                 # single token
            ("c", [], "x"),                  # empty -> nothing
            ("d", None, "x"),                # NULL -> nothing
        ]
        got = {
            (r.doc_id, r.chunk_idx): (r.chunk_tokens, r.n_chunk_tok, r.source)
            for r in self._chunk(spark, rows, chunk_len=4, stride=3).collect()
        }
        assert got == {
            ("a", 0): ([0, 1, 2, 3], 4, "web"),
            ("a", 1): ([3, 4, 5, 6], 4, "web"),
            ("a", 2): ([6, 7, 8, 9], 4, "web"),
            ("b", 0): ([0, 1, 2], 3, "web"),
            ("e", 0): ([7], 1, "y"),
        }

    def test_every_token_covered_no_redundant_window(self, spark):
        """Property over lengths 1..40: the chunk set covers [0, n) and
        removing the last window always uncovers the tail."""
        rows = [(f"d{n:02d}", list(range(n)), "s") for n in range(1, 41)]
        out = self._chunk(spark, rows, chunk_len=8, stride=5).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk_tokens))
        for n in range(1, 41):
            chunks = sorted(by_doc[f"d{n:02d}"])
            assert [i for i, _ in chunks] == list(range(len(chunks)))
            covered = set()
            for i, toks in chunks:
                assert toks == list(range(i * 5, min(i * 5 + 8, n)))
                covered.update(toks)
            assert covered == set(range(n))
            if len(chunks) > 1:  # last window is never fully redundant
                prev = set().union(*(t for _, t in chunks[:-1]))
                assert set(chunks[-1][1]) - prev

    def test_non_overlapping_default_stride(self, spark):
        rows = [("a", list(range(7)), "s")]
        got = sorted(
            (r.chunk_idx, r.chunk_tokens)
            for r in self._chunk(spark, rows, chunk_len=3).collect()
        )
        assert got == [(0, [0, 1, 2]), (1, [3, 4, 5]), (2, [6])]

    def test_validation(self, spark):
        import pytest as _pytest

        with _pytest.raises(ValueError, match="chunk_len"):
            self._chunk(spark, [("a", [1], "s")], chunk_len=0)
        with _pytest.raises(ValueError, match="stride"):
            self._chunk(spark, [("a", [1], "s")], chunk_len=4, stride=5)
        with _pytest.raises(ValueError, match="stride"):
            self._chunk(spark, [("a", [1], "s")], chunk_len=4, stride=0)

    def test_plan_zero_shuffle(self, spark, tmp_path):
        """Pure projection + generate over the scan: no Exchange, no
        UDF — partitioning follows the input."""
        from ensembl_datacheck_spark.operators.corpus import chunk_sequences

        p = str(tmp_path / "docs.parquet")
        spark.range(100).selectExpr(
            "CAST(id AS STRING) AS doc_id",
            "transform(sequence(0, CAST(id % 37 AS INT)), i -> i) AS tokens",
        ).write.parquet(p)
        out = chunk_sequences(
            spark.read.parquet(p), "doc_id", "tokens", chunk_len=8, stride=6
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# --- heavy_hitter_keys ------------------------------------------------------


class TestHeavyHitterKeys:
    @pytest.fixture(scope="class")
    def hh_df(self, spark):
        # 100k observations: hot_i appears 3000+i times (all >= phi=2% of
        # N); ~42.5k tail keys appear 1-3 times each.
        hot = spark.range(5).selectExpr(
            "explode(sequence(1, 3000 + CAST(id AS INT))) AS rep",
            "concat('hot_', id) AS key",
        ).select("key")
        tail = spark.range(84_990).selectExpr("concat('tail_', id % 42495) AS key")
        return hot.unionAll(tail).repartition(16)

    def test_exact_counts_above_threshold(self, hh_df):
        from ensembl_datacheck_spark.operators.skew import heavy_hitter_keys

        got = sorted(
            (r.key, r.cnt, r.share)
            for r in heavy_hitter_keys(hh_df, "key", phi=0.02).collect()
        )
        n = 100_000
        assert got == [
            (f"hot_{i}", 3000 + i, (3000 + i) / n) for i in range(5)
        ]

    def test_partition_independent(self, hh_df):
        """Partial bucket counts differ per layout, but guaranteed recall
        + exact recount make the OUTPUT identical across partitionings."""
        from ensembl_datacheck_spark.operators.skew import heavy_hitter_keys

        base = sorted(
            (r.key, r.cnt)
            for r in heavy_hitter_keys(hh_df, "key", phi=0.02).collect()
        )
        for parts in (1, 3):
            redo = sorted(
                (r.key, r.cnt)
                for r in heavy_hitter_keys(
                    hh_df.repartition(parts), "key", phi=0.02
                ).collect()
            )
            assert redo == base

    def test_just_below_threshold_excluded(self, spark):
        from ensembl_datacheck_spark.operators.skew import heavy_hitter_keys

        # N=100: 'a'x10 (share .10), 'b'x9 (.09), 81 singletons
        df = spark.range(100).selectExpr(
            "CASE WHEN id < 10 THEN 'a' WHEN id < 19 THEN 'b' "
            "ELSE concat('t', id) END AS key"
        ).repartition(4)
        got = {(r.key, r.cnt) for r in heavy_hitter_keys(df, "key", 0.10).collect()}
        assert got == {("a", 10)}

    def test_nulls_ignored_and_validation(self, spark):
        from ensembl_datacheck_spark.operators.skew import heavy_hitter_keys

        df = spark.createDataFrame(
            [("a",), ("a",), (None,), ("b",)], "key string"
        )
        got = {(r.key, r.cnt, r.share) for r in heavy_hitter_keys(df, "key", 0.5).collect()}
        assert got == {("a", 2, 2 / 3)}  # N excludes NULLs
        with pytest.raises(ValueError, match="phi"):
            heavy_hitter_keys(df, "key", 0.0)

    def test_recount_plan_broadcasts_candidates(self, hh_df):
        from ensembl_datacheck_spark.operators.skew import heavy_hitter_keys

        out = heavy_hitter_keys(hh_df, "key", phi=0.02)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan  # candidate pruning
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan
        # the bucket-count exchange feeds candidates AND the total: AQE
        # must reuse it, so the corpus is scanned twice, never thrice
        assert "Reused" in plan

    def test_integer_keys_and_empty_input(self, spark):
        from ensembl_datacheck_spark.operators.skew import heavy_hitter_keys

        df = spark.range(1000).selectExpr(
            "CAST(CASE WHEN id < 200 THEN 7 ELSE id END AS INT) AS key"
        ).repartition(5)
        got = sorted(
            (r.key, r.cnt) for r in heavy_hitter_keys(df, "key", 0.1).collect()
        )
        assert got == [(7, 200)]
        empty = spark.range(0).selectExpr("CAST(id AS STRING) AS key")
        assert heavy_hitter_keys(empty, "key", 0.1).count() == 0

    def test_bucket_collisions_stay_exact(self, hh_df):
        """n_buckets=2 forces every key through 2 candidate buckets —
        the recount must still remove all collision false positives."""
        from ensembl_datacheck_spark.operators.skew import heavy_hitter_keys

        got = sorted(
            (r.key, r.cnt)
            for r in heavy_hitter_keys(hh_df, "key", 0.02, n_buckets=2).collect()
        )
        assert got == [(f"hot_{i}", 3000 + i) for i in range(5)]

    def test_method_validation(self, spark):
        from ensembl_datacheck_spark.operators.skew import heavy_hitter_keys

        df = spark.createDataFrame([("a",)], "key string")
        with pytest.raises(ValueError, match="n_buckets"):
            heavy_hitter_keys(df, "key", 0.5, n_buckets=0)


# --- LM perplexity scoring (operators/lm.py) --------------------------------


class TestLmScoring:
    @pytest.fixture(scope="class")
    def lm_docs(self, spark):
        rows = [
            (i, [((i * 7 + j * 13) % 50) for j in range(5 + i % 7)])
            for i in range(40)
        ]
        # hygiene rows: NULL array, empty array, NULL/negative elements
        rows += [(100, None), (101, []), (102, [None, -3, 5, 5])]
        return spark.createDataFrame(
            rows, "doc_id long, tokens array<long>"
        ).cache()

    @staticmethod
    def _numpy_ce(docs, fit_ids, alpha=1.0, reserve=1):
        import math
        from collections import Counter

        clean = {
            i: [t for t in (toks or []) if t is not None and t >= 0]
            for i, toks in docs
        }
        cnt = Counter(t for i in fit_ids for t in clean.get(i, []))
        T, V = sum(cnt.values()), len(cnt)
        out = {}
        for i, toks in clean.items():
            if not toks:
                continue
            s = sum(math.log(cnt.get(t, 0) + alpha) for t in toks)
            out[i] = (
                len(toks),
                sum(1 for t in toks if t not in cnt),
                math.log(T + alpha * (V + reserve)) - s / len(toks),
            )
        return out

    def test_unigram_ce_matches_numpy_incl_oov_and_hygiene(self, spark, lm_docs):
        from ensembl_datacheck_spark.operators import lm as LM

        raw = [(r.doc_id, r.tokens) for r in lm_docs.collect()]
        fit_ids = {i for i, _ in raw if i % 2 == 0 and i < 40}
        fit = LM.fit_unigram_lm(lm_docs.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 40)))
        got = {r.doc_id: r for r in LM.lm_cross_entropy(lm_docs, fit).collect()}
        want = self._numpy_ce(raw, fit_ids)
        assert set(got) == set(want)  # 100/101 dropped, 102 kept (5,5 clean)
        for i, (n, oov, ce) in want.items():
            assert got[i].n_scored == n and got[i].oov_n == oov
            assert abs(got[i].ce_nats - ce) < 1e-12
            assert abs(got[i].ppl - __import__("math").exp(ce)) < 1e-9

    def test_bigram_ce_matches_numpy(self, spark, lm_docs):
        import math
        from collections import Counter

        from ensembl_datacheck_spark.operators import lm as LM

        raw = [(r.doc_id, r.tokens) for r in lm_docs.collect()]
        clean = {
            i: [t for t in (toks or []) if t is not None and t >= 0]
            for i, toks in raw
        }
        fit_ids = {i for i in clean if i % 2 == 0 and i < 40}
        uni = Counter(t for i in fit_ids for t in clean[i])
        bi = Counter(
            (a, b)
            for i in fit_ids
            for a, b in zip(clean[i], clean[i][1:])
        )
        T, V = sum(uni.values()), len(uni)
        alpha, lam, res = 1.0, 0.7, 1
        fit_df = LM.fit_unigram_lm(
            lm_docs.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 40))
        )
        bi_df = LM.bigram_profile(
            lm_docs.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 40))
        )
        got = {
            r.doc_id: r
            for r in LM.lm_bigram_cross_entropy(lm_docs, fit_df, bi_df).collect()
        }
        for i, toks in clean.items():
            if not toks:
                continue
            nll = 0.0
            for pos, w in enumerate(toks):
                p_u = (uni.get(w, 0) + alpha) / (T + alpha * (V + res))
                if pos == 0:
                    p = p_u
                else:
                    prev = toks[pos - 1]
                    p_b = (bi.get((prev, w), 0) + alpha) / (
                        uni.get(prev, 0) + alpha * (V + res)
                    )
                    p = lam * p_b + (1 - lam) * p_u
                nll -= math.log(p)
            assert abs(got[i].ce_nats - nll / len(toks)) < 1e-12, i

    def test_bigram_profile_exact_pairs(self, spark):
        from ensembl_datacheck_spark.operators import lm as LM

        df = spark.createDataFrame(
            [(1, [1, 2, 1, 2]), (2, [2, 1]), (3, [7]), (4, [None, 1, -2, 2])],
            "doc_id long, tokens array<long>",
        )
        got = {
            (r.w1, r.w2): r["count"] for r in LM.bigram_profile(df).collect()
        }
        # doc 4 cleans to [1, 2] -> pair (1,2); doc 3 has no pair
        assert got == {(1, 2): 3, (2, 1): 2}

    def test_buckets_exact_and_threshold_paths_agree(self, spark, lm_docs):
        from ensembl_datacheck_spark.operators import lm as LM

        fit = LM.fit_unigram_lm(lm_docs)
        scored = LM.lm_cross_entropy(lm_docs, fit).cache()
        exact = {
            r.doc_id: r.bucket
            for r in LM.lm_quality_buckets(scored, 3).collect()
        }
        n = len(exact)
        from collections import Counter

        sizes = Counter(exact.values())
        assert set(sizes) == {1, 2, 3}
        assert max(sizes.values()) - min(sizes.values()) <= 1
        ts = LM.lm_bucket_thresholds(scored, 3, accuracy=100_000)
        assert len(ts) == 2 and ts[0] <= ts[1]
        approx = {
            r.doc_id: r.bucket
            for r in LM.lm_bucket_by_thresholds(scored, ts).collect()
        }
        # percentile_approx at this accuracy is exact on 41 rows up to
        # boundary-tie placement: every document lands within one bucket
        agree = sum(1 for i in exact if exact[i] == approx[i])
        assert agree >= n - 2
        assert all(abs(exact[i] - approx[i]) <= 1 for i in exact)

    def test_driver_fixture_ordering_gaps_dwarf_float_error(self, spark):
        """The lm_perplexity_buckets oracle compares ntile buckets, whose
        engine-stability rests on score gaps >> the ~1e-13 cross-engine
        float discrepancy (ln ulp + summation order).  Measure the gaps
        on the EXACT adjudication input (sf0.01, doc_id < 400): the
        minimum adjacent ce_nats gap must exceed 1e-9 — four orders of
        magnitude of margin."""
        import os

        from ensembl_datacheck_spark.plans.entry_queries import (
            _derived_tokens_col,
        )
        from ensembl_datacheck_spark.operators import lm as LM

        sf = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")
        d = (
            spark.read.parquet(f"{sf}/documents.parquet")
            .filter(F.col("doc_id") < 400)
            .select("doc_id", _derived_tokens_col().alias("tokens"))
        )
        fit = LM.fit_unigram_lm(d.filter(F.col("doc_id") % 2 == 0))
        ces = sorted(
            r.ce_nats for r in LM.lm_cross_entropy(d, fit).collect()
        )
        gaps = [b - a for a, b in zip(ces, ces[1:])]
        assert min(gaps) > 1e-9, min(gaps)

    def test_lm_plan_broadcasts_vocab_no_sort_merge(self, spark):
        from tests.test_plans import plan_str
        from ensembl_datacheck_spark.operators import lm as LM

        df = spark.range(200).select(
            F.col("id").alias("doc_id"),
            F.array(F.col("id") % 11, F.col("id") % 5).cast("array<long>").alias("tokens"),
        )
        plan = plan_str(LM.lm_cross_entropy(df, LM.fit_unigram_lm(df)), "simple")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


# --- DSIR importance resampling (operators/importance.py) -------------------


class TestDsirImportance:
    @pytest.fixture(scope="class")
    def dsir_docs(self, spark):
        rows = [
            (i, "en" if i % 3 == 0 else "de",
             [((i * 5 + j * 11) % 40) for j in range(4 + i % 5)])
            for i in range(30)
        ]
        rows += [(200, "en", None), (201, "de", []), (202, "en", [None, -1, 3])]
        return spark.createDataFrame(
            rows, "doc_id long, lang string, tokens array<long>"
        ).cache()

    @staticmethod
    def _numpy_weights(rows, target_pred, n_buckets, alpha=1.0, bags=None):
        """{id: (n_feat_obs, log_weight)} of the DSIR formula in plain
        Python.  ``bags`` ({id: Counter(feat)}) replaces the portable md5
        hashing, e.g. with a fast-tier gram stream's feature multisets."""
        import hashlib
        import math
        from collections import Counter

        def bucket(g):
            return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % n_buckets

        def feats(toks):
            clean = [t for t in (toks or []) if t is not None and t >= 0]
            if not clean:
                return Counter()
            grams = [str(w) for w in clean] + [
                f"{a}_{b}" for a, b in zip(clean, clean[1:])
            ]
            return Counter(bucket(g) for g in grams)

        if bags is None:
            bags = {i: feats(t) for i, lang, t in rows}
        bags = {i: bags.get(i, Counter()) for i, lang, t in rows}
        tc = Counter()
        rc = Counter()
        for i, lang, t in rows:
            if target_pred(lang):
                tc.update(bags[i])
            rc.update(bags[i])
        T, R = sum(tc.values()), sum(rc.values())
        out = {}
        for i, lang, t in rows:
            bag = bags[i]
            if not bag:
                continue
            s = sum(
                c * (math.log(tc.get(f, 0) + alpha) - math.log(rc.get(f, 0) + alpha))
                for f, c in bag.items()
            )
            n = sum(bag.values())
            out[i] = (
                n,
                s + n * (math.log(R + alpha * n_buckets) - math.log(T + alpha * n_buckets)),
            )
        return out

    @staticmethod
    def _fused(docs, target, n_buckets, **kw):
        """Fused weights of ``docs``: target profile fitted on
        ``target``, raw profile on ``docs`` itself."""
        from ensembl_datacheck_spark.operators import importance as IMP

        return IMP.importance_log_weights_from_docs(
            docs,
            IMP.feature_counts_from_docs(target, n_buckets=n_buckets, **kw),
            IMP.feature_counts_from_docs(docs, n_buckets=n_buckets, **kw),
            **kw,
        )

    @staticmethod
    def _assert_matches_numpy(weights, want):
        got = {r.doc_id: r for r in weights.collect()}
        assert set(got) == set(want)
        for i, (n, lw) in want.items():
            assert got[i].n_feat_obs == n, i
            assert abs(got[i].log_weight - lw) < 1e-10, i

    def test_log_weights_match_numpy(self, spark, dsir_docs):
        rows = [(r.doc_id, r.lang, r.tokens) for r in dsir_docs.collect()]
        w = self._fused(
            dsir_docs, dsir_docs.filter(F.col("lang") == "en"), 128
        )
        want = self._numpy_weights(rows, lambda lang: lang == "en", 128)
        assert 200 not in want and 201 not in want and 202 in want
        self._assert_matches_numpy(w, want)  # 202 cleans to [3]

    def test_target_slice_scores_higher_on_average(self, spark, dsir_docs):
        """Sanity of the sign convention: documents FROM the target
        slice must average a higher importance weight than the rest."""
        w = self._fused(
            dsir_docs, dsir_docs.filter(F.col("lang") == "en"), 128
        )
        j = w.join(dsir_docs.select("doc_id", "lang"), "doc_id")
        means = {
            r.lang: r.m
            for r in j.groupBy("lang").agg(F.avg("log_weight").alias("m")).collect()
        }
        assert means["en"] > means["de"]

    def test_top_k_deterministic_and_ranked(self, spark, dsir_docs):
        from ensembl_datacheck_spark.operators import importance as IMP

        w = self._fused(
            dsir_docs, dsir_docs.filter(F.col("lang") == "en"), 128
        )
        a = [(r.rank, r.doc_id) for r in IMP.select_top_k(w, 7).orderBy("rank").collect()]
        b = [(r.rank, r.doc_id) for r in IMP.select_top_k(w, 7).orderBy("rank").collect()]
        assert a == b and [r for r, _ in a] == list(range(1, 8))

    def test_gumbel_deterministic_per_salt_and_weighted(self, spark, dsir_docs):
        from ensembl_datacheck_spark.operators import importance as IMP

        w = self._fused(
            dsir_docs, dsir_docs.filter(F.col("lang") == "en"), 128
        ).cache()
        s1 = sorted(r.doc_id for r in IMP.gumbel_top_k(w, 6, salt="a").collect())
        s1b = sorted(r.doc_id for r in IMP.gumbel_top_k(w, 6, salt="a").collect())
        s2 = sorted(r.doc_id for r in IMP.gumbel_top_k(w, 6, salt="b").collect())
        assert s1 == s1b
        assert s1 != s2  # different salt, different draw (128-bit unlikely tie)

    def test_driver_fixture_rank_boundary_gap(self, spark):
        """dsir_topk's oracle compares a rank-60 cut; the cut is
        engine-stable iff the weight gap at the boundary dwarfs the
        ~1e-13 cross-engine float error.  Measure it on the exact
        adjudication input."""
        import os

        from ensembl_datacheck_spark.plans.entry_queries import QUERIES, _t

        sf = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")
        from ensembl_datacheck_spark.plans.entry_queries import (
            _derived_tokens_col,
        )

        d = (
            spark.read.parquet(f"{sf}/documents.parquet")
            .filter(F.col("doc_id") < 400)
            .select("doc_id", "lang", _derived_tokens_col().alias("tokens"))
        )
        w = self._fused(d, d.filter(F.col("lang") == "en"), 4096)
        ws = sorted((r.log_weight for r in w.collect()), reverse=True)
        assert len(ws) > 61
        assert ws[59] - ws[60] > 1e-9, ws[58:62]

    def test_feature_hygiene_matches_numpy_bag(self, spark):
        import hashlib

        from ensembl_datacheck_spark.operators import importance as IMP

        df = spark.createDataFrame(
            [(1, [5]), (2, [None, -1]), (3, None), (4, [])],
            "doc_id long, tokens array<long>",
        )
        rows = IMP.feature_counts_from_docs(df, n_buckets=16).collect()
        # only doc 1 survives (doc 2 cleans to empty); single token -> one
        # unigram feature, the md5 bucket of "5", with count 1
        assert [(r.feat, r["count"]) for r in rows] == [
            (int(hashlib.md5(b"5").hexdigest()[:8], 16) % 16, 1)
        ]


class TestLmArrowTierAndStream:
    def test_arrow_tier_matches_join_tier(self, spark):
        """Same rows, same integer columns, doubles within 1e-9 (numpy
        vs JVM log ulp + summation order — lm.py docstring)."""
        from ensembl_datacheck_spark.operators import lm as LM

        rows = [
            (i, [((i * 7 + j * 13) % 50) for j in range(5 + i % 7)])
            for i in range(40)
        ] + [(100, None), (101, []), (102, [None, -3, 5, 5])]
        df = spark.createDataFrame(rows, "doc_id long, tokens array<long>")
        fit = LM.fit_unigram_lm(df.filter(F.col("doc_id") % 2 == 0))
        jvm = {r.doc_id: r for r in LM.lm_cross_entropy(df, fit).collect()}
        arrow = {
            r.doc_id: r for r in LM.lm_cross_entropy_arrow(df, fit).collect()
        }
        assert set(jvm) == set(arrow)
        for i in jvm:
            assert jvm[i].n_scored == arrow[i].n_scored
            assert jvm[i].oov_n == arrow[i].oov_n
            assert abs(jvm[i].ce_nats - arrow[i].ce_nats) < 1e-9
            assert abs(jvm[i].ppl - arrow[i].ppl) < 1e-6

    def test_arrow_tier_batch_independent(self, spark):
        from ensembl_datacheck_spark.operators import lm as LM

        df = spark.range(60).select(
            F.col("id").alias("doc_id"),
            F.array(F.col("id") % 9, F.col("id") % 4, F.col("id") % 13)
            .cast("array<long>")
            .alias("tokens"),
        )
        fit = LM.fit_unigram_lm(df)
        one = {
            r.doc_id: r.ce_nats
            for r in LM.lm_cross_entropy_arrow(df.coalesce(1), fit).collect()
        }
        many = {
            r.doc_id: r.ce_nats
            for r in LM.lm_cross_entropy_arrow(df.repartition(7), fit).collect()
        }
        assert one == many  # bit-identical: math is row-local

    def test_arrow_tier_empty_vocab_all_oov(self, spark):
        from ensembl_datacheck_spark.operators import lm as LM

        df = spark.createDataFrame(
            [(1, [3, 4])], "doc_id long, tokens array<long>"
        )
        empty = LM.fit_unigram_lm(
            spark.createDataFrame([], "doc_id long, tokens array<long>")
        )
        [r] = LM.lm_cross_entropy_arrow(df, empty).collect()
        # T=0, V=0: ce = ln(alpha*reserve) - ln(alpha) = 0 for alpha=1
        assert r.oov_n == 2 and abs(r.ce_nats) < 1e-12

    def test_alpha_guards(self, spark):
        from ensembl_datacheck_spark.operators import importance as IMP
        from ensembl_datacheck_spark.operators import lm as LM

        df = spark.createDataFrame(
            [(1, [3, 4])], "doc_id long, tokens array<long>"
        )
        fit = LM.fit_unigram_lm(df)
        with pytest.raises(ValueError, match="alpha"):
            LM.lm_cross_entropy(df, fit, alpha=0.0)
        with pytest.raises(ValueError, match="alpha"):
            LM.lm_cross_entropy_arrow(df, fit, alpha=-1.0)
        with pytest.raises(ValueError, match="alpha"):
            LM.lm_bigram_cross_entropy(df, fit, LM.bigram_profile(df), alpha=0)
        prof = IMP.feature_counts_from_docs(df, n_buckets=8)
        with pytest.raises(ValueError, match="alpha"):
            IMP.importance_log_weights_from_docs(df, prof, prof, alpha=0.0)

    def test_bigram_lam_guard(self, spark):
        """lam outside [0, 1] can make the interpolated probability
        negative: for the unseen bigram (3, 3) below, 1.5 * 1/8 - 0.5 *
        5/12 < 0.  Its log is a NULL that the per-document sum would skip,
        so the scorer refuses such a lam."""
        from ensembl_datacheck_spark.operators import lm as LM

        train = spark.createDataFrame(
            [(1, [3, 4, 3, 4, 3, 4, 3, 5])], "doc_id long, tokens array<long>"
        )
        probe = spark.createDataFrame(
            [(2, [3, 3])], "doc_id long, tokens array<long>"
        )
        fit, bi = LM.fit_unigram_lm(train), LM.bigram_profile(train)
        for lam in (1.5, -0.1):
            with pytest.raises(ValueError, match="lam"):
                LM.lm_bigram_cross_entropy(probe, fit, bi, lam=lam)
        for lam in (0.0, 1.0):
            [r] = LM.lm_bigram_cross_entropy(probe, fit, bi, lam=lam).collect()
            assert r.n_scored == 2 and math.isfinite(r.ce_nats)

    def test_empty_scored_thresholds_raise(self, spark):
        from ensembl_datacheck_spark.operators import lm as LM

        empty = spark.createDataFrame(
            [], "doc_id long, n_scored long, oov_n long, "
            "ce_nats double, ppl double"
        )
        with pytest.raises(ValueError, match="empty"):
            LM.lm_bucket_thresholds(empty, 3)

    def test_lm_outliers_stream_matches_batch_check_filter(
        self, spark, tmp_path
    ):
        """Stream the corpus through lm_outliers_stream against a static
        LM with a fixed threshold: the emitted doc set must equal the
        batch join-tier filter at the same threshold (the
        LmPerplexityOutliers predicate with a precomputed cut point)."""
        from ensembl_datacheck_spark.operators import lm as LM
        from ensembl_datacheck_spark.streaming import lm_outliers_stream

        healthy = spark.range(60).selectExpr(
            "id AS doc_id",
            "transform(sequence(1, 30), i -> CAST((id + i) % 11 AS BIGINT))"
            " AS tokens",
        )
        outlier = spark.sql(
            "SELECT CAST(9999 AS BIGINT) AS doc_id, "
            "transform(sequence(1, 30), i -> CAST(9000 + i AS BIGINT))"
            " AS tokens"
        )
        cur = healthy.unionAll(outlier)
        fit = LM.fit_unigram_lm(cur)
        med = LM.lm_bucket_thresholds(
            LM.lm_cross_entropy(cur, fit), 2, accuracy=100_000
        )[0]
        thresh = med + 3.0

        batch_expected = {
            r.doc_id
            for r in LM.lm_cross_entropy(cur, fit)
            .filter((F.col("n_scored") >= 20) & (F.col("ce_nats") > thresh))
            .collect()
        }
        assert batch_expected == {9999}

        src = tmp_path / "lm_src"
        cur.write.mode("overwrite").parquet(str(src))
        stream = spark.readStream.schema(cur.schema).parquet(str(src))
        out = lm_outliers_stream(stream, fit, max_ce_nats=thresh)
        q = (
            out.writeStream.format("memory").queryName("lm_stream")
            .outputMode("append").start()
        )
        try:
            q.processAllAvailable()
            got = {
                r.doc_id
                for r in spark.sql("select * from lm_stream").collect()
            }
        finally:
            q.stop()
        assert got == batch_expected


class TestReviewRegressionsLmDsir:
    def test_weights_infer_n_buckets_from_feature_metadata(self, spark):
        from ensembl_datacheck_spark.operators import importance as IMP

        df = spark.createDataFrame(
            [(1, [3, 4, 5]), (2, [3, 9])], "doc_id long, tokens array<long>"
        )
        tc = IMP.feature_counts_from_docs(df, n_buckets=64)
        explicit = {
            r.doc_id: r.log_weight
            for r in IMP.importance_log_weights_from_docs(
                df, tc, tc, 64).collect()
        }
        inferred = {
            r.doc_id: r.log_weight
            for r in IMP.importance_log_weights_from_docs(
                df, tc, tc).collect()
        }
        assert explicit == inferred

    def test_weights_reject_mismatched_n_buckets(self, spark):
        from ensembl_datacheck_spark.operators import importance as IMP

        df = spark.createDataFrame(
            [(1, [3, 4])], "doc_id long, tokens array<long>"
        )
        tc = IMP.feature_counts_from_docs(df, n_buckets=128)
        with pytest.raises(ValueError, match="disagrees"):
            IMP.importance_log_weights_from_docs(df, tc, tc, 4096)

    def test_single_bucket_thresholds_empty_cutpoints(self, spark):
        from ensembl_datacheck_spark.operators import lm as LM

        scored = spark.createDataFrame(
            [(1, 5, 0, 2.0, 7.4), (2, 5, 0, 3.0, 20.1)],
            "doc_id long, n_scored long, oov_n long, ce_nats double, ppl double",
        )
        assert LM.lm_bucket_thresholds(scored, 1) == []
        b = LM.lm_bucket_by_thresholds(scored, [])
        assert {r.bucket for r in b.collect()} == {1}
        with pytest.raises(ValueError, match="n_buckets"):
            LM.lm_bucket_thresholds(scored, 0)

    def test_portable_bucket_is_split_bucket(self):
        """ONE portable-hash definition repo-wide: the DSIR feature
        hash must BE corpus.split_bucket, not a lookalike."""
        from ensembl_datacheck_spark.operators import importance as IMP
        from ensembl_datacheck_spark.operators.corpus import split_bucket

        assert IMP._portable_bucket is split_bucket


class TestDsirFusedPath:
    @pytest.fixture(scope="class")
    def fused_docs(self, spark):
        rows = [
            (i, [((i * 5 + j * 11) % 40) for j in range(4 + i % 5)])
            for i in range(30)
        ] + [(200, None), (201, []), (202, [None, -1, 3])]
        return spark.createDataFrame(
            rows, "doc_id long, tokens array<long>"
        ).cache()

    def test_fused_weights_equal_bag_weights(self, spark, fused_docs):
        """Σ_f c_f·x_f == Σ_occurrences x_f — the occurrence-stream
        weights equal the numpy bag-of-features model up to float
        summation order (1e-10)."""
        M = TestDsirImportance
        rows = [(r.doc_id, r.doc_id, r.tokens) for r in fused_docs.collect()]
        M._assert_matches_numpy(
            M._fused(fused_docs, fused_docs.filter(F.col("doc_id") % 3 == 0),
                     64),
            M._numpy_weights(rows, lambda i: i % 3 == 0, 64),
        )

    def test_fused_infers_and_validates_n_buckets(self, spark, fused_docs):
        from ensembl_datacheck_spark.operators import importance as IMP

        target = IMP.feature_counts_from_docs(
            fused_docs.filter(F.col("doc_id") < 10), n_buckets=64
        )
        raw = IMP.feature_counts_from_docs(fused_docs, n_buckets=64)
        ok = IMP.importance_log_weights_from_docs(fused_docs, target, raw)
        assert ok.count() > 0  # inferred B=64 from profile metadata
        with pytest.raises(ValueError, match="disagrees"):
            IMP.importance_log_weights_from_docs(
                fused_docs, target, raw, n_buckets=128
            )
        raw_other = IMP.feature_counts_from_docs(fused_docs, n_buckets=32)
        with pytest.raises(ValueError, match="disagrees"):
            IMP.importance_log_weights_from_docs(fused_docs, target, raw_other)

    def test_fused_rejects_out_of_width_parquet_profile(
        self, spark, fused_docs, tmp_path
    ):
        """A profile exported to parquet by a non-Spark writer (pandas
        here) comes back without width metadata, so only the data can
        show it was hashed wider than this call's n_buckets: the
        scorer's profile collect must fail on it with the width-contract
        message when called, before any scoring plan exists, instead of
        scoring the stray ids."""
        from ensembl_datacheck_spark.operators import importance as IMP

        path = str(tmp_path / "wide_profile.parquet")
        IMP.feature_counts_from_docs(
            fused_docs, n_buckets=8192
        ).toPandas().to_parquet(path)
        wide = spark.read.parquet(path)
        assert "n_buckets" not in wide.schema["feat"].metadata
        assert wide.agg(F.max("feat")).first()[0] >= 64
        narrow = IMP.feature_counts_from_docs(fused_docs, n_buckets=64)
        for target, raw, name in ((wide, narrow, "target_counts"),
                                  (narrow, wide, "raw_counts")):
            with pytest.raises(ValueError,
                               match=f"{name} contains feature "
                               r"id \d+ outside \[0, 64\)"):
                IMP.importance_log_weights_from_docs(
                    fused_docs, target, raw, n_buckets=64
                )

    def test_fused_plan_one_doc_shuffle_no_bag_aggregate(
        self, spark, tmp_path
    ):
        """Plan pin for the 100 TB claim, on a PARQUET source (a Range
        source lets Catalyst elide even the bag shuffle via known doc
        locality — the token_rarity plan-pin finding — hiding the
        contrast): the fused scorer's only document-data Exchange
        hashes on doc_id alone (one row per doc), never (doc_id, feat)
        — the per-document bag shuffle that cost ~10^9 rows at 1M docs
        (BENCH/LM_1M.md).  The plan holds no join: each gram occurrence
        reads its log-ratio from one array literal by feature id."""
        import re

        from tests.test_plans import plan_str
        from ensembl_datacheck_spark.operators import importance as IMP

        src = str(tmp_path / "docs")
        spark.range(100).select(
            F.col("id").alias("doc_id"),
            F.array(F.col("id") % 13, F.col("id") % 7).cast("array<long>").alias("tokens"),
        ).write.parquet(src)
        df = spark.read.parquet(src)
        target = IMP.feature_counts_from_docs(
            df.filter(F.col("doc_id") < 20), n_buckets=64
        )
        raw = IMP.feature_counts_from_docs(df, n_buckets=64)
        plan = plan_str(
            IMP.importance_log_weights_from_docs(df, target, raw), "simple"
        )
        assert not re.search(r"hashpartitioning\(doc_id#\d+L?, feat#", plan), (
            "fused path must not shuffle the (doc_id, feat) bag"
        )
        assert re.search(r"hashpartitioning\(doc_id#\d+L?, \d+\)", plan), (
            "fused path shuffles exactly one row per document"
        )
        assert not re.search(r"Join|CartesianProduct", plan), (
            "fused path looks each feature up by index, with no join"
        )

    def test_dsir_topk_documents_job_budget(self, spark):
        """The driver query launches at most 6 Spark jobs (status-store
        probe): the profiles' aggregations and their one collect, then
        the scoring plan's document shuffle and top-k."""
        from tests.test_oracle_parity import SF_DIR as sf
        from tests.test_runner_jobs import _jobs_since, _last_job
        from ensembl_datacheck_spark.plans.entry_queries import QUERIES, _t

        _t(spark, sf)  # the session's one parquet footer read, not the query's
        sc = spark.sparkContext
        group = "dsir-topk-job-budget"
        last = _last_job(spark)
        sc.setJobGroup(group, "dsir_topk_documents job budget")
        try:
            rows = QUERIES["dsir_topk_documents"](spark, sf).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(rows) == 60
        jobs = [j for j, g in _jobs_since(spark, last).items() if g == group]
        assert 0 < len(jobs) <= 6, len(jobs)


class TestDsirFastHashTier:
    def test_fast_tier_paths_agree_and_select_sane(self, spark):
        """fast-tier fused weights equal the numpy model over the
        fast-tier gram stream's per-document feature multisets (same
        identity as the portable tier), and the target slice still
        scores higher on average — the hash tier changes feature IDS,
        not the statistics."""
        from collections import Counter

        from ensembl_datacheck_spark.operators import importance as IMP

        rows = [
            (i, "en" if i % 3 == 0 else "de",
             [((i * 5 + j * 11) % 40) for j in range(4 + i % 5)])
            for i in range(30)
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, lang string, tokens array<long>"
        )
        bags: dict[int, Counter] = {}
        for r in IMP._gram_stream(df, "doc_id", "tokens", 64, True,
                                  "fast").collect():
            bags.setdefault(r.doc_id, Counter())[r.feat] += 1
        w = TestDsirImportance._fused(
            df, df.filter(F.col("lang") == "en"), 64, hash_tier="fast"
        ).cache()
        TestDsirImportance._assert_matches_numpy(
            w,
            TestDsirImportance._numpy_weights(
                rows, lambda lang: lang == "en", 64, bags=bags
            ),
        )
        j = (
            w.join(df.select("doc_id", "lang"), "doc_id")
            .groupBy("lang").agg(F.avg("log_weight").alias("m"))
        )
        means = {r.lang: r.m for r in j.collect()}
        assert means["en"] > means["de"]

    def test_mixed_hash_tiers_raise(self, spark):
        from ensembl_datacheck_spark.operators import importance as IMP

        df = spark.createDataFrame(
            [(1, [3, 4, 5]), (2, [3, 9])], "doc_id long, tokens array<long>"
        )
        portable = IMP.feature_counts_from_docs(df, n_buckets=64)
        fast = IMP.feature_counts_from_docs(df, n_buckets=64,
                                            hash_tier="fast")
        with pytest.raises(ValueError, match="hash"):
            IMP.importance_log_weights_from_docs(df, portable, fast)
        with pytest.raises(ValueError, match="hash"):
            IMP.importance_log_weights_from_docs(
                df, fast, fast  # profiles fast, scorer defaults portable
            )
        with pytest.raises(ValueError, match="hash_tier"):
            IMP.feature_counts_from_docs(df, n_buckets=64, hash_tier="md5")

    def test_fast_tier_no_string_grams_in_plan(self, spark):
        """The fast tier's plan must contain xxhash64 and NO md5/concat
        gram strings — the cost the tier exists to remove."""
        from tests.test_plans import plan_str
        from ensembl_datacheck_spark.operators import importance as IMP

        df = spark.range(50).select(
            F.col("id").alias("doc_id"),
            F.array(F.col("id") % 13, F.col("id") % 7).cast("array<long>").alias("tokens"),
        )
        plan = plan_str(
            IMP.feature_counts_from_docs(df, n_buckets=64, hash_tier="fast"),
            "simple",
        )
        assert "xxhash64" in plan
        assert "md5" not in plan


class TestDsirArrowTierAndStream:
    @pytest.fixture(scope="class")
    def arrow_docs(self, spark):
        rows = [
            (i, [((i * 5 + j * 11) % 40) for j in range(4 + i % 5)])
            for i in range(30)
        ] + [(200, None), (201, []), (202, [None, -1, 3])]
        return spark.createDataFrame(
            rows, "doc_id long, tokens array<long>"
        ).cache()

    def test_arrow_weights_match_fused_portable(self, spark, arrow_docs):
        from ensembl_datacheck_spark.operators import importance as IMP

        target = IMP.feature_counts_from_docs(
            arrow_docs.filter(F.col("doc_id") % 3 == 0), n_buckets=64
        )
        raw = IMP.feature_counts_from_docs(arrow_docs, n_buckets=64)
        fused = {
            r.doc_id: r
            for r in IMP.importance_log_weights_from_docs(
                arrow_docs, target, raw
            ).collect()
        }
        arrow = {
            r.doc_id: r
            for r in IMP.importance_log_weights_arrow(
                arrow_docs, target, raw
            ).collect()
        }
        assert set(fused) == set(arrow)  # same hygiene: 200/201 dropped
        for i in fused:
            assert fused[i].n_feat_obs == arrow[i].n_feat_obs
            assert abs(fused[i].log_weight - arrow[i].log_weight) < 1e-9

    def test_arrow_tier_partitioning_independent(self, spark, arrow_docs):
        from ensembl_datacheck_spark.operators import importance as IMP

        target = IMP.feature_counts_from_docs(
            arrow_docs.filter(F.col("doc_id") % 3 == 0), n_buckets=64
        )
        raw = IMP.feature_counts_from_docs(arrow_docs, n_buckets=64)
        one = {
            r.doc_id: r.log_weight
            for r in IMP.importance_log_weights_arrow(
                arrow_docs.coalesce(1), target, raw
            ).collect()
        }
        many = {
            r.doc_id: r.log_weight
            for r in IMP.importance_log_weights_arrow(
                arrow_docs.repartition(7), target, raw
            ).collect()
        }
        assert one == many  # bit-identical: math is row-local

    def test_arrow_tier_rejects_fast_profiles(self, spark, arrow_docs):
        from ensembl_datacheck_spark.operators import importance as IMP

        fast = IMP.feature_counts_from_docs(
            arrow_docs, n_buckets=64, hash_tier="fast"
        )
        with pytest.raises(ValueError, match="hash"):
            IMP.importance_log_weights_arrow(arrow_docs, fast, fast)

    def test_dsir_weights_stream_matches_batch_threshold(
        self, spark, tmp_path
    ):
        """Stream the corpus through dsir_weights_stream with the
        rank-5 boundary weight from the batch top-k: the emitted docs
        must be exactly the batch top-5."""
        from ensembl_datacheck_spark.operators import importance as IMP
        from ensembl_datacheck_spark.streaming import dsir_weights_stream

        rows = [
            (i, [((i * 5 + j * 11) % 40) for j in range(4 + i % 5)])
            for i in range(30)
        ]
        cur = spark.createDataFrame(rows, "doc_id long, tokens array<long>")
        target = IMP.feature_counts_from_docs(
            cur.filter(F.col("doc_id") % 3 == 0), n_buckets=64
        )
        raw = IMP.feature_counts_from_docs(cur, n_buckets=64)
        w = IMP.importance_log_weights_from_docs(cur, target, raw)
        top = IMP.select_top_k(w, 5).collect()
        boundary = min(r.log_weight for r in top)
        batch_expected = {r.doc_id for r in top}

        src = tmp_path / "dsir_src"
        cur.write.mode("overwrite").parquet(str(src))
        stream = spark.readStream.schema(cur.schema).parquet(str(src))
        out = dsir_weights_stream(
            stream, target, raw, min_log_weight=boundary
        )
        q = (
            out.writeStream.format("memory").queryName("dsir_stream")
            .outputMode("append").start()
        )
        try:
            q.processAllAvailable()
            got = {
                r.doc_id
                for r in spark.sql("select * from dsir_stream").collect()
            }
        finally:
            q.stop()
        # ties at the boundary would admit extras; the fixture has none
        assert got == batch_expected

    def test_unigram_profiles_against_bigram_scoring_raise(
        self, spark, arrow_docs, tmp_path
    ):
        """Profiles fitted with use_bigrams=False record it on ``feat``;
        scoring them against a bigram stream raises at plan time, with
        no Spark job, on every scorer tier and on the streaming path.
        Their feature ids stay inside [0, B), so no width check would
        catch the mix."""
        from ensembl_datacheck_spark.operators import importance as IMP
        from ensembl_datacheck_spark.streaming import dsir_weights_stream

        uni = IMP.feature_counts_from_docs(arrow_docs, n_buckets=64,
                                           use_bigrams=False)
        assert uni.schema["feat"].metadata["use_bigrams"] is False
        sc = spark.sparkContext
        group = "dsir-grams-guard-probe"
        sc.setJobGroup(group, "gram-set guard must not run a job")
        try:
            with pytest.raises(ValueError, match="use_bigrams"):
                IMP.importance_log_weights_from_docs(arrow_docs, uni, uni)
            with pytest.raises(ValueError, match="use_bigrams"):
                IMP.importance_log_weights_arrow(arrow_docs, uni, uni)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

        src = tmp_path / "grams_src"
        arrow_docs.write.parquet(str(src))
        stream = spark.readStream.schema(arrow_docs.schema).parquet(str(src))
        with pytest.raises(ValueError, match="use_bigrams"):
            dsir_weights_stream(stream, uni, uni)
        # the matching gram set scores
        out = dsir_weights_stream(stream, uni, uni, use_bigrams=False)
        assert out.isStreaming


@pytest.mark.parametrize("tier", ["fused", "arrow"])
@pytest.mark.parametrize("rows,match", [
    ([(3, 2), (3, 2)], "feature id 3 twice"),
    ([(None, 2)], "NULL feat or count"),
    ([(3, None)], "NULL feat or count"),
    ([(3, -5)], "count -5 for feature id 3"),
], ids=["duplicate_feat", "null_feat", "null_count", "negative_count"])
def test_dsir_malformed_profile_rows_raise(spark, tier, rows, match):
    """A profile row neither tier can score raises when the scorer is
    called.  A duplicate feat would double that feature's count in a
    join and be overwritten in a dense array; a negative count's log is
    a NULL that a sum drops."""
    from ensembl_datacheck_spark.operators import importance as IMP

    scorer = {"fused": IMP.importance_log_weights_from_docs,
              "arrow": IMP.importance_log_weights_arrow}[tier]
    df = spark.createDataFrame(
        [(1, [3, 4, 5])], "doc_id long, tokens array<long>"
    )
    good = spark.createDataFrame([(3, 4), (9, 1)], "feat long, count long")
    bad = spark.createDataFrame(rows, "feat long, count long")
    for target, raw, name in ((bad, good, "target_counts"),
                              (good, bad, "raw_counts")):
        with pytest.raises(ValueError, match=f"{name} .*{match}"):
            scorer(df, target, raw, n_buckets=64)


def test_dsir_arrow_dense_rejects_out_of_width_profiles(spark):
    """Metadata-less profiles (parquet round-trips drop column metadata)
    hashed wider than the explicit n_buckets must fail with the width-
    contract message, not a bare numpy IndexError."""
    from ensembl_datacheck_spark.operators import importance as IMP

    df = spark.createDataFrame(
        [(1, [3, 4, 5])], "doc_id long, tokens array<long>"
    )
    # strip metadata the way a parquet round-trip would
    wide = spark.createDataFrame(
        [(8191, 5), (2, 3)], "feat long, count long"
    )
    with pytest.raises(ValueError, match="outside"):
        IMP.importance_log_weights_arrow(df, wide, wide, n_buckets=64)
