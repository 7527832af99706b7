"""Unigram / interpolated-bigram language-model quality scoring — the
full CCNet-style perplexity filter (Wenzek et al. 2020, arXiv:1911.00359
— public) over the input_hint's token payload.

``operators/rarity.py`` is the integer-exact *proxy* (mean corpus
frequency); this module is the real thing: an add-α smoothed n-gram LM
fitted on a reference slice of the corpus, every document scored by its
cross-entropy under that LM, and the corpus partitioned into
head/middle/tail quality buckets exactly as CCNet buckets Common Crawl
by KenLM perplexity.  The reference's kin is the per-row
outlier-diagnostic shape (Test/DataCheck.pm:283-365) plus the
previous-version comparison habit (ComparePreviousVersionProbes.pm:51-60):
the LM *is* a baseline artifact, and a document scoring far from it is a
violation row.

Float discipline (why buckets, not raw floats, face the SQL oracle):
``ln`` differs between engines in the last ulp (measured: 5/50 values
differ between this JVM's ``Math.log`` and DuckDB's libm, including
``ln(3)``), so cross-entropy values cannot be hash-compared
bit-for-bit.  Cross-entropy *ordering*, however, is stable: per-term
discrepancy is ≤1 ulp and summation-order error is ~n·ε relative, i.e.
~1e-13 absolute on these scales, while distinct documents' scores are
separated by ≥1e-6 nats (gap asserted by test_pipeline_ops on the
driver fixture).  The oracle-facing query therefore exports
``ntile``-over-(ce, doc_id) bucket INTEGERS — identical in any engine
whose ``ln`` is within ulps — and the raw nats/perplexity doubles stay
engine-side, verified against numpy in pytest.

Scale shape (the 100 TB story), identical to ``rarity.py``:

* the LM fit is ``drift.unigram_profile`` — explode with map-side
  partial aggregation; shuffle bounded by vocab, never corpus;
* scoring joins the exploded token stream against an explicitly
  ``broadcast`` vocab (real LM vocabularies ≤2^18 rows): zero shuffle;
* per-document aggregation partially aggregates in the explode stage —
  the shuffle carries one row per document, not per token;
* bucketing at scale uses ``lm_bucket_thresholds`` (percentile_approx →
  a handful of driver-side literals → shuffle-free comparison scan);
  the exact ``ntile`` tier is the oracle/small-corpus twin — a global
  sort is the one thing that cannot scale to 10^12 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ensembl_datacheck_spark.operators.drift import unigram_profile

__all__ = [
    "fit_unigram_lm",
    "bigram_profile",
    "lm_cross_entropy",
    "lm_cross_entropy_arrow",
    "lm_bigram_cross_entropy",
    "lm_quality_buckets",
    "lm_bucket_thresholds",
    "lm_bucket_by_thresholds",
]


def fit_unigram_lm(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """(token, count) LM fit — ``drift.unigram_profile`` under its
    contract (NULL/empty arrays and NULL/negative elements skipped)."""
    return unigram_profile(df, tokens_col)


def bigram_profile(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """(w1, w2, count) bigram histogram with the same hygiene as
    ``unigram_profile``: NULL/negative elements are dropped *before*
    pairing, so the bigram stream is exactly the adjacent pairs of the
    unigram stream and the two profiles share marginals (``Σ_w2
    count(w1, w2) = unigram count(w1) - per-doc last-token``).

    Same scale shape: explode pairs with map-side partial aggregation;
    the shuffle is bounded by the *bigram* vocab (≤ unigram vocab
    squared in principle, Zipf-bounded ~50·vocab in practice), never by
    corpus size.
    """
    clean = F.filter(F.col(tokens_col), lambda t: t.isNotNull() & (t >= 0))
    pairs = F.expr(
        f"transform(sequence(1, size(__clean) - 1), "
        f"i -> struct(__clean[i-1] AS w1, __clean[i] AS w2))"
    )
    return (
        df.filter(F.col(tokens_col).isNotNull() & (F.size(tokens_col) > 0))
        .select(clean.alias("__clean"))
        .filter(F.size("__clean") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def lm_cross_entropy(
    docs: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    alpha: float = 1.0,
    oov_reserve: int = 1,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Per-document cross-entropy under an add-α smoothed unigram LM.

    ``p̂(w) = (count_w + α) / (T + α·(V + oov_reserve))`` with OOV mass
    ``α / (T + α·(V + oov_reserve))`` — ``T`` total fit tokens, ``V``
    fit vocab size, both re-aggregated lazily from ``vocab`` (one tiny
    cross-joined 1-row aggregate; no eager count, so the whole score is
    ONE lazy plan).

    Output per document with ≥1 scoreable token (NULL/empty arrays and
    NULL/negative elements skipped — must match ``unigram_profile``'s
    hygiene element-for-element so self-scoring gives ``oov_n = 0``):

    * ``n_scored`` BIGINT — tokens scored (incl. OOV);
    * ``oov_n``    BIGINT — tokens absent from the LM fit;
    * ``ce_nats``  DOUBLE — ``ln(T + α(V+res)) - (Σ ln(count_w + α))/n``
      (OOV contributes ``ln α``); the mean negative log-likelihood;
    * ``ppl``      DOUBLE — ``exp(ce_nats)``.

    ``broadcast_vocab`` keeps the token→count join map-side; set False
    only for a pathological billion-row vocabulary.
    """
    if alpha <= 0:
        raise ValueError(
            f"alpha must be > 0 (got {alpha}): add-α smoothing with "
            "α<=0 gives ln(0) for unseen tokens, which Spark evaluates "
            "to NULL and silently drops from the sum"
        )
    v = vocab.select(
        F.col("token").alias("__v_token"), F.col("count").alias("__v_count")
    )
    if broadcast_vocab:
        v = F.broadcast(v)
    totals = F.broadcast(
        vocab.agg(
            F.coalesce(F.sum("count"), F.lit(0)).cast("double").alias("__T"),
            F.count(F.lit(1)).cast("double").alias("__V"),
        )
    )
    tok = (
        docs.filter(F.col(tokens_col).isNotNull() & (F.size(tokens_col) > 0))
        .select(F.col(id_col), F.explode(tokens_col).alias("__token"))
        .filter(F.col("__token").isNotNull() & (F.col("__token") >= 0))
    )
    joined = tok.join(v, tok["__token"] == v["__v_token"], "left_outer")
    agg = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum(F.when(F.col("__v_count").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("oov_n"),
        F.sum(
            F.log(F.coalesce(F.col("__v_count"), F.lit(0)).cast("double") + alpha)
        ).alias("__sum_ln"),
    )
    denom_ln = F.log(
        F.col("__T") + alpha * (F.col("__V") + float(oov_reserve))
    )
    return (
        agg.crossJoin(totals)
        .withColumn(
            "ce_nats",
            denom_ln - F.col("__sum_ln") / F.col("n_scored").cast("double"),
        )
        .withColumn("ppl", F.exp("ce_nats"))
        .select(id_col, "n_scored", "oov_n", "ce_nats", "ppl")
    )


def lm_bigram_cross_entropy(
    docs: DataFrame,
    uni_vocab: DataFrame,
    bi_vocab: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    alpha: float = 1.0,
    oov_reserve: int = 1,
    lam: float = 0.7,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Per-document cross-entropy under an interpolated bigram LM:
    ``p(w2|w1) = λ·p_bi(w2|w1) + (1-λ)·p_uni(w2)`` with
    ``p_bi(w2|w1) = (c12 + α) / (c1 + α·(V + oov_reserve))`` and the
    same smoothed unigram as ``lm_cross_entropy``.  The first token of
    each document is scored by the unigram alone (no left context) —
    the standard sentence-start convention.

    Two broadcast joins (bigram counts on (w1,w2), unigram counts on
    both positions), one per-document aggregate: the same
    one-shuffle-row-per-document shape as the unigram tier.  Verified
    against a numpy reference in pytest (log-form ⇒ no SQL oracle; the
    unigram tier's bucket query is the oracle-facing twin).
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0 (got {alpha})")
    if not 0.0 <= lam <= 1.0:
        # outside [0, 1] a mixture weight goes negative, the interpolated
        # probability can drop to <= 0 and F.log would return a NULL
        # that the per-document sum then silently skips
        raise ValueError(f"lam must be in [0, 1] (got {lam})")
    clean = F.filter(F.col(tokens_col), lambda t: t.isNotNull() & (t >= 0))
    base = (
        docs.filter(F.col(tokens_col).isNotNull() & (F.size(tokens_col) > 0))
        .select(F.col(id_col), clean.alias("__clean"))
        .filter(F.size("__clean") >= 1)
    )
    # (id, pos, w_prev nullable, w) — pos 1..n; w_prev NULL at pos 1
    pairs = F.expr(
        "transform(sequence(1, size(__clean)), "
        "i -> struct(CASE WHEN i > 1 THEN __clean[i-2] END AS w_prev, "
        "__clean[i-1] AS w))"
    )
    tok = base.select(F.col(id_col), F.explode(pairs).alias("p")).select(
        id_col, "p.w_prev", "p.w"
    )

    uni = uni_vocab.select(
        F.col("token").alias("__u_tok"), F.col("count").alias("__u_cnt")
    )
    uni_prev = uni_vocab.select(
        F.col("token").alias("__p_tok"), F.col("count").alias("__p_cnt")
    )
    bi = bi_vocab.select(
        F.col("w1").alias("__b_w1"),
        F.col("w2").alias("__b_w2"),
        F.col("count").alias("__b_cnt"),
    )
    if broadcast_vocab:
        uni, uni_prev, bi = F.broadcast(uni), F.broadcast(uni_prev), F.broadcast(bi)
    totals = F.broadcast(
        uni_vocab.agg(
            F.coalesce(F.sum("count"), F.lit(0)).cast("double").alias("__T"),
            F.count(F.lit(1)).cast("double").alias("__V"),
        )
    )

    j = (
        tok.join(uni, tok["w"] == uni["__u_tok"], "left_outer")
        .join(uni_prev, tok["w_prev"] == uni_prev["__p_tok"], "left_outer")
        .join(
            bi,
            (tok["w_prev"] == bi["__b_w1"]) & (tok["w"] == bi["__b_w2"]),
            "left_outer",
        )
        .crossJoin(totals)
    )
    vres = F.col("__V") + float(oov_reserve)
    p_uni = (F.coalesce(F.col("__u_cnt"), F.lit(0)).cast("double") + alpha) / (
        F.col("__T") + alpha * vres
    )
    p_bi = (F.coalesce(F.col("__b_cnt"), F.lit(0)).cast("double") + alpha) / (
        F.coalesce(F.col("__p_cnt"), F.lit(0)).cast("double") + alpha * vres
    )
    p = F.when(
        F.col("w_prev").isNull(), p_uni
    ).otherwise(lam * p_bi + (1.0 - lam) * p_uni)
    agg = j.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum(F.when(F.col("__u_cnt").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("oov_n"),
        F.sum(-F.log(p)).alias("__nll"),
    )
    return (
        agg.withColumn(
            "ce_nats", F.col("__nll") / F.col("n_scored").cast("double")
        )
        .withColumn("ppl", F.exp("ce_nats"))
        .select(id_col, "n_scored", "oov_n", "ce_nats", "ppl")
    )


def lm_cross_entropy_arrow(
    docs: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    alpha: float = 1.0,
    oov_reserve: int = 1,
) -> DataFrame:
    """Row-local Arrow tier of ``lm_cross_entropy`` — the STREAMING-safe
    scoring path, and the same schema/hygiene as the join tier.

    The join tier's per-document aggregation after the explode is a
    stateful aggregate on a stream (unbounded keys ⇒ unbounded state).
    This tier instead collects the LM to the driver ONCE — bounded by
    vocabulary size, ≤2^18 rows for any real BPE/unigram-LM vocabulary,
    the same bound that justifies the join tier's broadcast — and scores
    each document inside its own row via ``mapInPandas``: a sorted-array
    ``searchsorted`` lookup over the flattened batch, ``add.reduceat``
    per-document folds.  Stateless per micro-batch, so it runs under
    Structured Streaming with zero streaming state (the
    snapshot_equality_stream design point, streaming/validate.py).

    Float caveat: numpy's ``log`` and the JVM's ``Math.log`` differ in
    the last ulp, and the per-document summation orders differ, so the
    tiers agree to ~1e-12 relative, not bit-for-bit (parity pinned in
    tests at 1e-9).  NULL elements are compacted JVM-side (Arrow would
    otherwise deliver dtype=object arrays — the unigram_profile
    convention); negatives are dropped numpy-side.
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0 (got {alpha})")
    import math

    import numpy as np

    rows = vocab.collect()  # bounded by vocab size (module docstring)
    v_toks = np.array([r["token"] for r in rows], dtype=np.int64)
    v_cnts = np.array([r["count"] for r in rows], dtype=np.float64)
    order = np.argsort(v_toks)
    v_toks, v_cnts = v_toks[order], v_cnts[order]
    t_total, v_size = float(v_cnts.sum()) if len(rows) else 0.0, len(rows)
    denom_ln = math.log(t_total + alpha * (v_size + oov_reserve))
    ln_alpha = math.log(alpha)

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            arrs = [
                np.asarray(a, dtype=np.int64) for a in pdf[tokens_col]
            ]
            arrs = [a[a >= 0] for a in arrs]
            keep = [i for i, a in enumerate(arrs) if a.size > 0]
            if not keep:
                continue
            ids = pdf[id_col].to_numpy()[keep]
            lens = np.array([arrs[i].size for i in keep], dtype=np.int64)
            flat = np.concatenate([arrs[i] for i in keep])
            if v_size:
                idx = np.searchsorted(v_toks, flat)
                idx_c = np.clip(idx, 0, v_size - 1)
                matched = v_toks[idx_c] == flat
                lnv = np.where(
                    matched, np.log(v_cnts[idx_c] + alpha), ln_alpha
                )
            else:
                matched = np.zeros(flat.size, dtype=bool)
                lnv = np.full(flat.size, ln_alpha)
            offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
            oov = np.add.reduceat((~matched).astype(np.int64), offs)
            sums = np.add.reduceat(lnv, offs)
            ce = denom_ln - sums / lens
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_scored": lens,
                    "oov_n": oov,
                    "ce_nats": ce,
                    "ppl": np.exp(ce),
                }
            )

    id_type = dict(docs.dtypes)[id_col]
    return (
        docs.filter(F.col(tokens_col).isNotNull() & (F.size(tokens_col) > 0))
        .select(id_col, F.array_compact(tokens_col).alias(tokens_col))
        .mapInPandas(
            score,
            schema=(
                f"{id_col} {id_type}, n_scored long, oov_n long, "
                "ce_nats double, ppl double"
            ),
        )
    )


def lm_quality_buckets(
    scored: DataFrame,
    n_buckets: int = 3,
    id_col: str = "doc_id",
    score_col: str = "ce_nats",
) -> DataFrame:
    """Exact CCNet head/middle/tail bucketing: ``ntile(n_buckets)`` over
    ``(score, id)`` ascending — bucket 1 = lowest cross-entropy = most
    fluent under the LM.  The id tie-break makes the assignment a pure
    function of the ordering, which is engine-stable for scores
    separated by more than the ~1e-13 cross-engine float discrepancy
    (module docstring).  A global sort — the ORACLE/small-corpus tier;
    at 10^12 rows use ``lm_bucket_thresholds`` + ``lm_bucket_by_thresholds``.
    """
    w = Window.orderBy(F.col(score_col).asc(), F.col(id_col).asc())
    return scored.withColumn(
        "bucket", F.ntile(n_buckets).over(w).cast("long")
    )


def lm_bucket_thresholds(
    scored: DataFrame,
    n_buckets: int = 3,
    score_col: str = "ce_nats",
    accuracy: int = 10_000,
) -> list[float]:
    """The 100 TB bucketing path, stage 1: ``percentile_approx`` cut
    points (n_buckets-1 of them) collected as driver-side literals —
    one aggregate over the scored table, error ≤ 1/accuracy of rank.
    CCNet does exactly this once per language and reuses the thresholds
    for the whole crawl."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1 (got {n_buckets})")
    if n_buckets == 1:
        # one bucket needs no cut points (percentile_approx with an
        # empty quantile list returns NULL, not []) — and
        # lm_bucket_by_thresholds([]) correctly assigns bucket 1
        return []
    qs = [i / n_buckets for i in range(1, n_buckets)]
    row = scored.agg(
        F.percentile_approx(score_col, qs, accuracy).alias("t")
    ).collect()[0]
    if row["t"] is None:
        raise ValueError(
            f"cannot derive bucket thresholds: no non-NULL {score_col!r} "
            "values (empty scored table, or every score is NULL)"
        )
    return [float(t) for t in row["t"]]


def lm_bucket_by_thresholds(
    scored: DataFrame,
    thresholds: list[float],
    score_col: str = "ce_nats",
) -> DataFrame:
    """Stage 2: shuffle-free comparison scan against the literal cut
    points — ``bucket = 1 + Σ_i [score > t_i]``, matching ``ntile``'s
    ascending convention up to threshold-approximation error."""
    b = F.lit(1)
    for t in thresholds:
        b = b + F.when(F.col(score_col) > t, 1).otherwise(0)
    return scored.withColumn("bucket", b.cast("long"))
