"""Connected-components dup clustering and token-array MinHash dedup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ensembl_datacheck_spark.operators import clusters as CL
from ensembl_datacheck_spark.operators import token_dedup as TD


def test_connected_components_basic(spark):
    # components: {1,2,3}, {4,5}, chain {6,7,8,9}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (6, 7), (7, 8), (8, 9)], "id_a long, id_b long"
    )
    labels = {r["node"]: r["component"]
              for r in CL.connected_components(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6, 7: 6, 8: 6, 9: 6}

    cl = {r["component"]: (r["size"], r["members"])
          for r in CL.dup_clusters(pairs).collect()}
    assert cl[1] == (3, [1, 2, 3])
    assert cl[6] == (4, [6, 7, 8, 9])


def test_dup_clusters_mega_cluster_bounded_buffers(spark):
    """A 20k-member cluster (hub-spoke pair list, the shape
    bucket_candidate_pairs emits for a degenerate bucket): member lists
    are rank-capped BEFORE collect_list — size stays exact, members show
    the lowest max_members ids, and no agg buffer holds 20k ids."""
    n = 20_000
    pairs = spark.range(1, n).select(
        F.lit(0).alias("id_a"), F.col("id").alias("id_b")
    )
    out = CL.dup_clusters(pairs).collect()
    assert len(out) == 1
    assert out[0]["size"] == n
    assert out[0]["members"] == list(range(20))
    plan = (
        CL.dup_clusters(pairs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "row_number()" in plan
    assert "collect_list(CASE WHEN" in plan or "collect_list(if" in plan


def test_dedup_keep_canonical(spark):
    df = spark.createDataFrame([(i, f"doc{i}") for i in range(10)],
                               "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a long, id_b long")
    kept = CL.dedup_keep_canonical(df, "doc_id", pairs)
    ids = sorted(r["doc_id"] for r in kept.collect())
    # 2,3 collapse into 1; 8 into 7
    assert ids == [0, 1, 4, 5, 6, 7, 9]


@pytest.fixture(scope="module")
def token_docs(spark):
    base = list(range(100, 164))  # 64 tokens
    near = base[:60] + [999, 998, 997, 996]  # differs in last 4
    other = list(range(5000, 5064))
    rows = [
        (1, base),
        (2, list(base)),       # exact dup of 1
        (3, near),             # near-dup of 1
        (4, other),            # unrelated
        (5, []),               # empty
        (6, None),             # null
    ]
    return spark.createDataFrame(rows, "doc_id long, tokens array<int>").cache()


def test_token_minhash_candidates(token_docs):
    cands = {
        (r["id_a"], r["id_b"])
        for r in TD.token_minhash_candidates(
            token_docs, k=8, n_hashes=32, n_bands=16
        ).collect()
    }
    assert (1, 2) in cands
    assert (1, 3) in cands
    assert not any(4 in p for p in cands)
    # null/empty rows never become candidates
    assert not any(5 in p or 6 in p for p in cands)


def test_token_exact_jaccard(token_docs):
    cands = token_docs.sparkSession.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long"
    )
    j = {
        (r["id_a"], r["id_b"]): r
        for r in TD.token_exact_jaccard(token_docs, cands, k=8).collect()
    }
    assert j[(1, 2)]["jaccard"] == 1.0
    # 64 tokens, k=8 -> 57 shingles; changing the last 4 tokens alters
    # the 4 shingles starting at 53..56: inter=53, union=61
    assert 0.5 < j[(1, 3)]["jaccard"] < 1.0
    assert (j[(1, 3)]["n_inter"], j[(1, 3)]["n_union"]) == (53, 61)
    assert (1, 4) not in j  # no shared shingle


def test_end_to_end_token_dedup(token_docs):
    cands = TD.token_minhash_candidates(token_docs, k=8, n_hashes=32, n_bands=16)
    verified = TD.token_exact_jaccard(token_docs, cands, k=8).filter(
        F.col("jaccard") >= 0.5
    )
    kept = CL.dedup_keep_canonical(token_docs, "doc_id", verified)
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [1, 4, 5, 6]  # 2 and 3 deduped into 1


def test_signature_determinism(token_docs):
    a = TD.token_minhash_candidates(token_docs, k=8).collect()
    b = TD.token_minhash_candidates(token_docs, k=8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_connected_components_long_chain_pointer_doubling(spark):
    """A 200-link chain (diameter 200 — the boilerplate-ladder case) must
    converge WELL inside the iteration cap: pointer doubling gives
    O(log diameter) rounds, so 12 iterations suffice where plain
    min-label propagation would need 200 and silently over-segment
    (VERDICT r3).  No RuntimeWarning, and every node labels to 0."""
    import warnings

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    stats: dict = {}
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        labels = CL.connected_components(
            edges, max_iterations=12, stats=stats
        ).collect()
    assert len(labels) == 201
    assert {r["component"] for r in labels} == {0}
    # the rounds counter is the bench's regression signal (r4 item 5):
    # log2(200)+2 ≈ 9 — a doubling regression shows here before walls
    assert stats["converged"] and stats["rounds"] <= 10, stats


class TestTokenPassageDedup:
    """Sub-sequence exact dedup over tokens arrays
    (token_dedup.token_passage_dedup)."""

    def test_first_occurrence_and_reassembly(self, spark):
        from ensembl_datacheck_spark.operators.token_dedup import (
            token_passage_dedup,
        )

        rows = [
            (1, [1, 2, 3, 4, 5, 6]),        # [1,2,3][4,5,6]
            (2, [1, 2, 3, 9, 9, 9]),        # loses [1,2,3], keeps [9,9,9]
            (3, [1, 2, 3, 4, 5, 6]),        # fully duplicated
            (4, [7, 8]),                    # single partial passage
            (5, None),                      # excluded
            (6, []),                        # excluded
        ]
        df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
        out = {
            r["doc_id"]: r
            for r in token_passage_dedup(df, passage_tokens=3).collect()
        }
        assert set(out) == {1, 2, 3, 4}
        assert (out[1]["n_passages"], out[1]["n_kept"],
                out[1]["n_tok_deduped"]) == (2, 2, 6)
        assert (out[2]["n_passages"], out[2]["n_kept"],
                out[2]["n_tok_deduped"]) == (2, 1, 3)
        assert (out[3]["n_passages"], out[3]["n_kept"],
                out[3]["n_tok_deduped"]) == (2, 0, 0)
        assert out[3]["dedup_sig"] == ""
        assert (out[4]["n_passages"], out[4]["n_kept"],
                out[4]["n_tok_deduped"]) == (1, 1, 2)
        # checksum = md5 of the kept sequence joined by '_'
        import hashlib

        assert out[1]["dedup_sig"] == hashlib.md5(b"1_2_3_4_5_6").hexdigest()
        assert out[2]["dedup_sig"] == hashlib.md5(b"9_9_9").hexdigest()

    def test_document_order_preserved(self, spark):
        from ensembl_datacheck_spark.operators.token_dedup import (
            token_passage_dedup,
        )
        import hashlib

        df = spark.createDataFrame(
            [(1, [5, 5]), (2, [1, 1, 5, 5, 2, 2])],
            "doc_id long, tokens array<int>",
        )
        out = {r["doc_id"]: r
               for r in token_passage_dedup(df, passage_tokens=2).collect()}
        # doc 2's middle passage duplicates doc 1's; head+tail keep order
        assert out[2]["dedup_sig"] == hashlib.md5(b"1_1_2_2").hexdigest()
        assert (out[2]["n_passages"], out[2]["n_kept"]) == (3, 2)

    def test_rejects_nonpositive_k(self, spark):
        from ensembl_datacheck_spark.operators.token_dedup import (
            token_passage_dedup,
        )

        df = spark.createDataFrame([(1, [1])], "doc_id long, tokens array<int>")
        import pytest as _pytest

        with _pytest.raises(ValueError):
            token_passage_dedup(df, passage_tokens=0)


class TestTokenContamination:
    """token_dedup.token_contamination / token_decontaminate: per-eval-doc
    distinct k-shingle overlap against the train corpus, both key tiers."""

    @pytest.fixture(scope="class")
    def contam_docs(self, spark):
        # train: two docs sharing a long run; eval: one doc fully inside
        # train's token space, one half-overlapping, one disjoint, plus
        # degenerate short/empty/null rows
        t1 = list(range(0, 40))
        t2 = list(range(100, 140))
        rows_tr = [(1, t1), (2, t2), (3, [7, 8])]          # 3: shorter than k
        rows_ev = [
            (10, list(range(5, 25))),      # every 8-shingle inside t1
            (11, list(range(30, 50))),     # windows 30..42 hit, 33+ windows miss
            (12, list(range(900, 940))),   # disjoint
            (13, [7, 8]),                  # whole-array shingle, matches train doc 3
            (14, []),                      # dropped
            (15, None),                    # dropped
        ]
        tr = spark.createDataFrame(rows_tr, "doc_id long, tokens array<int>")
        ev = spark.createDataFrame(rows_ev, "doc_id long, tokens array<int>")
        return tr.cache(), ev.cache()

    def _as_map(self, df):
        return {
            r["id"]: (r["n_shingles"], r["n_contaminated"], r["contamination"])
            for r in df.collect()
        }

    def test_counts_and_edges(self, contam_docs):
        tr, ev = contam_docs
        got = self._as_map(TD.token_contamination(tr, ev, k=8))
        # doc 10: 20 tokens -> 13 windows, all contained in t1's windows
        assert got[10] == (13, 13, 1.0)
        # doc 11: tokens 30..49 -> 13 windows; windows starting at 30..32
        # lie fully within t1 (end <= 39); the rest cross past 39 -> miss
        assert got[11][0] == 13 and got[11][1] == 3
        assert got[12] == (33, 0, 0.0)  # 40 tokens -> 33 windows, disjoint
        # doc 13 shorter than k: single whole-array shingle == train doc 3's
        assert got[13] == (1, 1, 1.0)
        assert 14 not in got and 15 not in got

    def test_tier_parity(self, contam_docs):
        tr, ev = contam_docs
        fast = self._as_map(TD.token_contamination(tr, ev, k=8))
        portable = self._as_map(TD.token_contamination(tr, ev, k=8, portable=True))
        assert fast == portable

    def test_decontaminate_drops_leaked_train_rows(self, contam_docs):
        tr, ev = contam_docs
        # scrub the EVAL set's shingles out of train: doc 1 leaks into
        # eval docs 10/11, doc 3 into 13; doc 2 is untouched
        kept = TD.token_decontaminate(tr, ev, k=8, max_contamination=0.0)
        assert {r["doc_id"] for r in kept.collect()} == {2}
        # a permissive threshold keeps docs whose overlap stays under it
        kept_all = TD.token_decontaminate(tr, ev, k=8, max_contamination=1.0)
        assert {r["doc_id"] for r in kept_all.collect()} == {1, 2, 3}

    def test_single_shuffle_per_side_plan(self, contam_docs):
        # the train side must collapse via distinct (map-side combinable
        # partial aggregate) BEFORE the join -- no window, no doc x doc
        tr, ev = contam_docs
        plan = TD.token_contamination(tr, ev, k=8)._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        assert "CartesianProduct" not in plan


class TestSourceTokenOverlap:
    @pytest.fixture(scope="class")
    def overlap_docs(self, spark):
        # k=2 shingle sets: A={12,23}, B={23,34}, C={99} (disjoint)
        rows = [
            (1, "A", [1, 2, 3]),
            (2, "A", [2, 3]),          # duplicate 23 within A -> still 1 set entry
            (3, "B", [2, 3, 4]),
            (4, "C", [9, 9]),          # shingle 99, overlaps nobody
            (5, None, [1, 2]),         # NULL source dropped
            (6, "A", None),            # NULL tokens dropped
            (7, "B", []),              # empty tokens dropped
        ]
        return spark.createDataFrame(
            rows, "doc_id long, source string, tokens array<int>"
        ).cache()

    def _as_map(self, df):
        return {
            (r["source_a"], r["source_b"]): (
                r["n_shingles_a"], r["n_shingles_b"], r["overlap_n"],
                r["containment"], r["jaccard"],
            )
            for r in df.collect()
        }

    def test_ordered_pairs_and_exact_fractions(self, overlap_docs):
        got = self._as_map(TD.source_token_overlap(overlap_docs, k=2))
        # only A<->B share a shingle (2,3); C appears in no pair
        assert set(got) == {("A", "B"), ("B", "A")}
        assert got[("A", "B")] == (2, 2, 1, 0.5, 1.0 / 3.0)
        assert got[("B", "A")] == (2, 2, 1, 0.5, 1.0 / 3.0)

    def test_tier_parity(self, overlap_docs):
        fast = self._as_map(TD.source_token_overlap(overlap_docs, k=2))
        portable = self._as_map(
            TD.source_token_overlap(overlap_docs, k=2, portable=True)
        )
        assert fast == portable

    def test_plan_no_cartesian_and_broadcast_counts(self, overlap_docs):
        """The intersection join is keyed on the shingle (never a
        cartesian doc x doc), and the per-source set sizes come back via
        broadcast joins onto the n_sources^2 pair table."""
        plan = (
            TD.source_token_overlap(overlap_docs, k=2)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan


class TestShingleNovelty:
    @pytest.fixture(scope="class")
    def novelty_docs(self, spark):
        # k=2: doc1 {12,23}, doc2 {23,34}, doc3 {23}, doc4 short {9}
        rows = [
            (1, [1, 2, 3]),
            (2, [2, 3, 4]),
            (3, [2, 3]),
            (4, [9]),
            (5, None),          # NULL tokens dropped
            (None, [1, 2]),     # NULL id dropped (no phantom doc)
        ]
        return spark.createDataFrame(
            rows, "doc_id long, tokens array<int>"
        ).cache()

    def _as_map(self, df):
        return {
            r["doc_id"]: (
                r["n_shingles"], r["novel_n"], r["common_n"], r["max_df"],
                r["novelty"], r["boilerplate"],
            )
            for r in df.collect()
        }

    def test_exact_scores(self, novelty_docs):
        got = self._as_map(
            TD.shingle_novelty(novelty_docs, k=2, common_df=3)
        )
        # df(23)=3 (docs 1,2,3); 12/34/9 are df=1
        assert got == {
            1: (2, 1, 1, 3, 0.5, 0.5),
            2: (2, 1, 1, 3, 0.5, 0.5),
            3: (1, 0, 1, 3, 0.0, 1.0),
            4: (1, 1, 0, 1, 1.0, 0.0),
        }

    def test_tier_parity(self, novelty_docs):
        fast = self._as_map(TD.shingle_novelty(novelty_docs, k=2, common_df=3))
        portable = self._as_map(
            TD.shingle_novelty(novelty_docs, k=2, common_df=3, portable=True)
        )
        assert fast == portable

    def test_duplicate_shingles_within_doc_count_once(self, spark):
        df = spark.createDataFrame(
            [(1, [7, 7, 7, 7])], "doc_id long, tokens array<int>"
        )
        [(n, novel)] = [
            (r["n_shingles"], r["novel_n"])
            for r in TD.shingle_novelty(df, k=2).collect()
        ]
        assert n == 1 and novel == 1

    def test_plan_no_cartesian(self, novelty_docs):
        plan = (
            TD.shingle_novelty(novelty_docs, k=2)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan
