"""Approximate-nearest-neighbor search over an embedding column
(`array<float>`), for near-dup mining and retrieval over training data.

Tiers:

* **brute-force top-k** — the exactness baseline: query matrix in the
  task closure, one Arrow-batched numpy matmul per corpus partition,
  partition-local top-k, tiny final shuffle.  Cost O(|corpus| ×
  |queries|) but embarrassingly parallel.
* **LSH (random hyperplanes)** — sign-bit signatures bucket the corpus;
  queries probe only their bucket (+ multiprobe neighbors).  Recall/cost
  dialed by n_planes.
* **IVF (inverted file)** — deterministic centroid selection, assignment
  = argmax centroid dot product, search restricted to nprobe nearest
  lists.  The 100-TB path: the corpus is shuffled once by list id
  (bucketed layout), each query touches nprobe partitions.

All distance math is JVM-or-Arrow vectorized; no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ensembl_datacheck_spark.functions.arrays import (
    _stack_vectors_masked,
    cosine_pairs_arrow,
    hyperplane_signature_arrow,
)


def _id_type(df: DataFrame, id_col: str) -> str:
    return df.schema[id_col].dataType.simpleString()


def _normalize_rows(M: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(M, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return M / n


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine, rank).
    Ties broken by neighbor id for full determinism.

    Zero-norm vectors are EXCLUDED on both sides (cosine undefined),
    matching the NULL convention of cosine_pairs_arrow used by the
    lsh/ivf tiers — all tiers agree that zero vectors are never ranked.

    Scale shape: the query matrix rides in the task closure (it is small
    by contract — ANN with a large query set goes through lsh/ivf); each
    corpus partition computes one Arrow-batched matmul and emits only its
    *partition-local* top-k per query, so the final shuffle carries
    O(partitions × |Q| × k) rows regardless of corpus size."""
    idt = _id_type(corpus, id_col)
    schema = f"query_id {idt}, neighbor_id {idt}, cosine double"
    qrows = [
        r
        for r in queries.select(id_col, vec_col).collect()
        if r[1] is not None and any(x != 0 for x in r[1])
    ]
    if not qrows:
        return corpus.sparkSession.createDataFrame([], schema + ", rank int")
    qids = [r[0] for r in qrows]
    Qn = _normalize_rows(np.array([list(r[1]) for r in qrows], dtype=np.float64))

    def partial_topk(batches):
        for pdf in batches:
            ids = pdf[id_col].reset_index(drop=True)
            V, valid = _stack_vectors_masked(pdf[vec_col])
            if not valid.any():
                continue
            nonzero = np.linalg.norm(V, axis=1) > 0
            ids = ids[valid].reset_index(drop=True)[nonzero].reset_index(drop=True)
            V = V[nonzero]
            if not len(V):
                continue
            S = _normalize_rows(V) @ Qn.T  # (n_valid, nq)
            frames = []
            for j, qid in enumerate(qids):
                cand = pd.DataFrame(
                    {"neighbor_id": ids, "cosine": S[:, j]}
                )
                cand = cand[cand["neighbor_id"] != qid]
                cand = cand.sort_values(
                    ["cosine", "neighbor_id"], ascending=[False, True]
                ).head(k)
                cand.insert(0, "query_id", qid)
                frames.append(cand)
            yield pd.concat(frames, ignore_index=True)

    partial = corpus.select(id_col, vec_col).mapInPandas(partial_topk, schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def random_planes(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_planes: int = 12,
    seed: int = 42,
    multiprobe: int = 0,
) -> DataFrame:
    """LSH-bucketed ANN: corpus and queries hashed into 2^n_planes sign
    buckets; candidates = same-bucket pairs, reranked exactly.  Recall is
    tunable via n_planes (fewer planes → bigger buckets → higher recall)
    and ``multiprobe``: each query additionally probes the buckets at
    Hamming distance 1 obtained by flipping its first ``multiprobe``
    signature bits (standard multiprobe LSH).  Probing fans out ONLY the
    broadcast query side — corpus-side cost is unchanged, so multiprobe
    is nearly free at scale: with Q queries and m probes the broadcast
    carries Q×(m+1) rows instead of Q."""
    planes = random_planes(dim, n_planes, seed)
    sig_c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        hyperplane_signature_arrow(F.col(vec_col), planes).alias("bucket"),
    )
    base = hyperplane_signature_arrow(F.col(vec_col), planes)
    n_probe_bits = min(max(multiprobe, 0), n_planes)
    probes = F.array(base, *[base.bitwiseXOR(1 << i) for i in range(n_probe_bits)])
    sig_q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(probes).alias("bucket"),
    )
    cand = sig_c.join(F.broadcast(sig_q), "bucket").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cosine_pairs_arrow(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
    ).filter(F.col("cosine").isNotNull())  # zero-norm never ranked (all tiers)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_assign(
    corpus: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its best centroid (argmax dot product) —
    centroid matrix embedded as literals, evaluated JVM-side.  At scale
    the output is written bucketed by `list_id` so probes prune files."""
    from pyspark.sql.functions import pandas_udf

    C = np.ascontiguousarray(centroids, dtype=np.float64)

    def assign_fn(vec: pd.Series) -> pd.Series:
        V, valid = _stack_vectors_masked(vec)
        out = np.zeros(len(vec), dtype=np.int64)
        if valid.any():
            out[valid] = np.argmax(V @ C.T, axis=1)
        return pd.Series(pd.array(out, dtype="Int32")).mask(~valid)

    return corpus.select(
        F.col(id_col),
        F.col(vec_col),
        pandas_udf(assign_fn, "int")(F.col(vec_col)).alias("list_id"),
    )


def deterministic_centroids(
    corpus: DataFrame,
    n_lists: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_factor: int = 20,
    n_iter: int = 8,
    seed: int = 42,
) -> np.ndarray:
    """Deterministic spherical k-means centroids from a hash-ordered
    sample.

    Sample: the ``sample_factor * n_lists`` vectors with the smallest
    xxhash64(id) — a deterministic pseudo-random sample that is
    independent of physical partitioning (unlike `DataFrame.sample`,
    whose draw depends on partition layout) and representative of the
    data distribution (unlike the lowest-id rows).  Executed as a
    TakeOrderedAndProject (per-partition top-n, no global sort
    materialization), so driver cost is bounded by the sample size at
    any corpus scale.

    Refinement: seeded k-means++ init + ``n_iter`` Lloyd iterations in
    numpy on the (normalized) sample — the sample-then-centralize
    pattern used by IVF index builders; the full corpus is never
    collected.  Empty clusters keep their previous centroid.  Fully
    deterministic for a given (corpus ids, n_lists, seed)."""
    n_samp = max(n_lists * sample_factor, n_lists)
    rows = (
        corpus.select(id_col, vec_col)
        .filter(F.col(vec_col).isNotNull())
        .orderBy(F.xxhash64(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_samp)
        .collect()
    )
    m = np.array([list(r[vec_col]) for r in rows], dtype=np.float64)
    return kmeans_fit_spherical(m, n_lists, n_iter=n_iter, seed=seed)


def kmeans_fit_spherical(
    sample: np.ndarray, n_lists: int, n_iter: int = 8, seed: int = 42
) -> np.ndarray:
    """Pure-numpy spherical k-means on an in-memory sample matrix:
    seeded k-means++ init + Lloyd iterations on the row-normalized
    sample.  Factored out of `deterministic_centroids` so an oracle
    generator can train BIT-IDENTICAL centroids from the same sample
    rows read outside Spark (entry_queries._ann_ivf_oracle_sql reads the
    parquet with pyarrow and embeds the result as SQL literals).
    Deterministic for a given (sample, n_lists, seed)."""
    X = _normalize_rows(sample)
    k = min(n_lists, len(X))
    rng = np.random.default_rng(seed)
    # k-means++ seeding on the sample (cosine distance = 1 - dot on the
    # unit sphere)
    centroids = np.empty((k, X.shape[1]))
    first = int(rng.integers(len(X)))
    centroids[0] = X[first]
    d2 = np.maximum(1.0 - X @ centroids[0], 0.0)
    for j in range(1, k):
        total = d2.sum()
        if total <= 0:
            centroids[j:] = X[rng.integers(len(X), size=k - j)]
            break
        probs = d2 / total
        nxt = int(rng.choice(len(X), p=probs))
        centroids[j] = X[nxt]
        d2 = np.minimum(d2, np.maximum(1.0 - X @ centroids[j], 0.0))
    for _ in range(n_iter):
        assign = np.argmax(X @ centroids.T, axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                c = members.mean(axis=0)
                n = np.linalg.norm(c)
                if n > 0:
                    centroids[j] = c / n
    return centroids


def lowid_sample_matrix(
    corpus: DataFrame,
    n_samp: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """The ``n_samp`` lowest-id non-null vectors as a float64 matrix —
    the oracle-reproducible sample (an engine reading the same parquet
    sorts by the same ids and gets the same rows, which
    xxhash64-ordering cannot offer an outside reader).  Executed as a
    TakeOrderedAndProject, so driver cost is bounded by the sample size
    at any corpus scale.  Used by the oracle-backed IVF entry query;
    production uses `deterministic_centroids` (hash-ordered sample,
    independent of id layout)."""
    rows = (
        corpus.select(id_col, vec_col)
        .filter(F.col(vec_col).isNotNull())
        .orderBy(F.col(id_col))
        .limit(n_samp)
        .collect()
    )
    return np.array([list(r[vec_col]) for r in rows], dtype=np.float64)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_lists: int = 16,
    nprobe: int = 4,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF ANN: search only the nprobe lists whose centroids are closest
    to each query.  Exact rerank within probed lists.  ``centroids``
    overrides the trained codebook (pre-trained index reuse, or the
    oracle-backed entry query sharing bit-identical centroids with its
    SQL oracle); default trains via `deterministic_centroids`."""
    cents = (
        centroids
        if centroids is not None
        else deterministic_centroids(corpus, n_lists, id_col, vec_col)
    )
    assigned = ivf_assign(corpus, cents, id_col, vec_col)

    # driver-side probe-list computation for the (small) query set
    qrows = queries.select(id_col, vec_col)\
        .filter(F.col(vec_col).isNotNull()).collect()
    qids, probes = [], []
    for r in qrows:
        v = np.asarray(r[vec_col], dtype=np.float64)
        n = np.linalg.norm(v) or 1.0
        sims = cents @ (v / n)
        # stable sort: tied centroid similarities resolve to the LOWEST
        # list_id — the same convention as the SQL oracle's
        # row_number() OVER (ORDER BY dot DESC, list_id) and as the
        # np.argmax corpus assignment; the default introsort would pick
        # an arbitrary list on ties (duplicate/collapsed centroids are
        # legal k-means outputs, so ties are reachable)
        top = np.argsort(-sims, kind="stable")[:nprobe]
        for lid in top:
            probes.append((r[id_col], int(lid), [float(x) for x in v]))
    spark = corpus.sparkSession
    # derive the probe id type from the QUERIES schema like every other
    # ANN tier (_id_type) — a hardcoded 'long' crashed ivf_topk on the
    # string ids its siblings support
    qdf = F.broadcast(
        spark.createDataFrame(
            probes,
            f"query_id {_id_type(queries, id_col)}, list_id int, "
            "q_vec array<double>",
        )
    )
    cand = assigned.join(qdf, "list_id").filter(
        F.col(id_col) != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        cosine_pairs_arrow(F.col("q_vec"), F.col(vec_col)).alias("cosine"),
    ).filter(F.col("cosine").isNotNull())  # zero-norm never ranked (all tiers)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_near_duplicates(
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.9,
    n_planes: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH banding: same sign-bucket
    candidates paired through the capped hub-spoke generator (a degenerate
    bucket of k identical vectors emits O(k) candidates, not k²), then
    scored exactly.  (id_a < id_b, cosine).  Zero-norm vectors score NULL
    (cosine_pairs_arrow convention) and are filtered by the threshold."""
    from ensembl_datacheck_spark.operators.dedup import bucket_candidate_pairs

    planes = random_planes(dim, n_planes, seed)
    # cached: the Arrow signature UDF is reused by the banding pass and
    # two vector join-backs
    from ensembl_datacheck_spark.operators.dedup import _cache_signatures

    sig = _cache_signatures("embedding_lsh", corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        hyperplane_signature_arrow(F.col(vec_col), planes).alias("bucket"),
    ))
    banded = sig.filter(F.col("bucket").isNotNull()).select(
        "id", F.col("bucket").alias("bk")
    )
    pairs = bucket_candidate_pairs(banded)
    return (
        pairs.join(
            sig.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a")),
            "id_a",
        )
        .join(
            sig.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            cosine_pairs_arrow(F.col("vec_a"), F.col("vec_b")).alias("cosine"),
        )
        .filter(F.col("cosine") >= min_cosine)
    )


def l2_topk_exact(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    scale: int = 1_000_000,
) -> DataFrame:
    """Exact top-k by squared L2 distance over scale-quantized integer
    vectors: (query_id, neighbor_id, d2, rank).  All-integer arithmetic
    (int64 throughout; |d2| ≤ dims·(2·scale·max|x|)² stays well under
    2^63 for unit-ish embeddings), so results are bit-identical across
    engines — the oracle-verifiable face of the ANN family.  Same
    scale shape as brute_force_topk: per-partition partial top-k, tiny
    final shuffle."""
    idt = _id_type(corpus, id_col)
    schema = f"query_id {idt}, neighbor_id {idt}, d2 long"
    qrows = [r for r in queries.select(id_col, vec_col).collect()
             if r[1] is not None]
    if not qrows:
        return corpus.sparkSession.createDataFrame([], schema + ", rank long")
    qids = [r[0] for r in qrows]
    Q = np.floor(
        np.array([list(r[1]) for r in qrows], dtype=np.float64) * scale
    ).astype(np.int64)
    q_sq = (Q * Q).sum(axis=1)

    def partial_topk(batches):
        for pdf in batches:
            ids = pdf[id_col].reset_index(drop=True)
            V, valid = _stack_vectors_masked(pdf[vec_col])
            if not valid.any():
                continue
            ids = ids[valid].reset_index(drop=True)
            C = np.floor(V * scale).astype(np.int64)
            c_sq = (C * C).sum(axis=1)
            # d2 = |c|^2 + |q|^2 - 2 c·q, all int64
            D2 = c_sq[:, None] + q_sq[None, :] - 2 * (C @ Q.T)
            frames = []
            for j, qid in enumerate(qids):
                cand = pd.DataFrame({"neighbor_id": ids, "d2": D2[:, j]})
                cand = cand[cand["neighbor_id"] != qid]
                cand = cand.sort_values(
                    ["d2", "neighbor_id"], ascending=[True, True]
                ).head(k)
                cand.insert(0, "query_id", qid)
                frames.append(cand)
            yield pd.concat(frames, ignore_index=True)

    partial = corpus.select(id_col, vec_col).mapInPandas(partial_topk, schema)
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    tau: float = 0.9,
    centroids: np.ndarray | None = None,
    cap_per_list: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — public method): k-means partition the embedding
    space, then inside each cluster drop every vector whose cosine to a
    LOWER-ID cluster member is >= ``tau`` (first occurrence by id wins,
    the same deterministic keep rule as exact/passage dedup).  The
    training-data step this feeds is corpus pruning: near-identical
    semantic content collapses to one representative.

    Output, one row per corpus id: ``(id, list_id, keep, dup_of)`` where
    ``dup_of`` is the smallest over-threshold lower-id partner (NULL =
    kept).  Cosine doubles are deliberately NOT in the output — the
    >= tau decision is portable across engines, the doubles are not
    (see embedding_near_duplicates).

    Plan & scale: assignment is one Arrow matmul pass (ivf_assign,
    centroid matrix in the task closure — no shuffle); pairing is a
    self-equi-join on ``list_id`` — quadratic only WITHIN a cluster,
    which is the SemDeDup design point: ``n_lists`` scales with the
    corpus (n/⟨target cluster size⟩), so per-cluster work is bounded and
    the join shuffles each vector exactly twice.  For degenerate
    clusters (a mode in embedding space), ``cap_per_list`` bounds
    members per cluster by id rank — the shared cap discipline of the
    LSH band stores; capped-out members are conservatively KEPT (never
    compared, never dropped), trading recall for a hard join bound.  At
    10^12 rows the assigned table is written bucketed by ``list_id`` so
    the pair join is co-located, and the per-cluster pairing can be
    swapped for one applyInPandas V@V.T matmul per list without changing
    results (same float64 pair cosine).

    Zero-norm vectors pair-score NULL (cosine_pairs_arrow convention) —
    never dropped; NULL embeddings get NULL list_id and keep=true.
    """
    from ensembl_datacheck_spark.operators.dedup import _cache_signatures

    cents = (
        centroids
        if centroids is not None
        else deterministic_centroids(corpus, n_lists, id_col, vec_col)
    )
    # the Arrow assignment matmul feeds BOTH sides of the list_id
    # self-join and the final output select — cache the assigned table
    # (the signature-store discipline simhash/embedding LSH already
    # follow) so the most expensive stage runs once, not three times
    assigned = _cache_signatures(
        "semdedup_assign", ivf_assign(corpus, cents, id_col, vec_col)
    )
    members = assigned.filter(F.col("list_id").isNotNull())
    if cap_per_list is not None:
        w = Window.partitionBy("list_id").orderBy(id_col)
        members = (
            members.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= cap_per_list)
            .drop("__rn")
        )
    a = members.select(
        "list_id",
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
    )
    b = members.select(
        "list_id",
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
    )
    dups = (
        a.join(b, "list_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_b",
            "id_a",
            cosine_pairs_arrow(F.col("vec_a"), F.col("vec_b")).alias("cos"),
        )
        .filter(F.col("cos") >= tau)
        .groupBy("id_b")
        .agg(F.min("id_a").alias("dup_of"))
    )
    return (
        assigned.select(F.col(id_col).alias("id"), "list_id")
        .join(dups, F.col("id") == dups["id_b"], "left")
        .drop("id_b")
        .select(
            "id",
            "list_id",
            F.col("dup_of").isNull().alias("keep"),
            "dup_of",
        )
    )
