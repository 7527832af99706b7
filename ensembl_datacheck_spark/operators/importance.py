"""DSIR-style data selection: hashed n-gram importance resampling
(Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling", arXiv:2302.03169 — public) over the input_hint's token
payload.

Given a small TARGET slice (the distribution you want more of — a
curated subset, a domain, a language) and the RAW corpus, every raw
document gets an importance log-weight

    lw(d) = Σ_f c_f(d) · [ln p̂_target(f) − ln p̂_raw(f)]

under hashed n-gram bag-of-features models with add-α smoothing, and
selection takes the top-k by weight (deterministic) or a Gumbel-top-k
weighted sample without replacement (Kool et al. 2019,
arXiv:1903.06059 — public; the randomness is a hash of the document id,
so the "sample" is a pure function of the data — the reproducibility
property every other sampler in this repo pins).

Reference kin: the same two-distribution comparison machinery as the
drift family (ComparePreviousVersionProbes.pm:51-60 compares current
counts against a previous-release baseline; here the "baseline" is the
target distribution and the verdict is a per-row score instead of
pass/fail), with per-row outputs in the reference's violation-row shape
(Test/DataCheck.pm:283-365).

Feature hashing is the repo's PORTABLE idiom — md5 of the gram string,
first 8 hex digits as a BIGINT, mod n_buckets — so any SQL engine
reproduces the exact feature ids (same trick as the portable MinHash /
fingerprint tiers).  Float discipline: ln differs across engines in the
last ulp, so the oracle-facing query exports rank/count INTEGERS
ordered by (log_weight, doc_id) — stable for weights separated by more
than ~1e-13 (see operators/lm.py docstring for the measured ulp
evidence) — while the raw log-weights are verified against numpy in
pytest.

Scale shape (the 100 TB story):

* feature extraction is explode + map-side partial aggregation;
* both distribution fits aggregate to ≤ n_buckets rows (8192 default),
  so the scorer collects them to the driver once, when called;
* the feature id is a dense key in [0, n_buckets): scoring reads each
  gram occurrence's log-ratio from one array literal by direct index —
  no join, zero shuffle; the per-document aggregation carries one row
  per document;
* top-k is TakeOrderedAndProject (per-partition partial top-k, no
  global sort); Gumbel keys are computed row-local.
"""

from __future__ import annotations

import json
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "feature_counts_from_docs",
    "importance_log_weights_arrow",
    "importance_log_weights_from_docs",
    "select_top_k",
    "gumbel_top_k",
]


# ONE portable-hash definition repo-wide: corpus.split_bucket is the
# identical md5-first-8-hex-mod-n expression (its cast-to-string is a
# no-op on the string gram column).  Re-implementing it here would let
# the two engine-portability-critical hashes drift independently and
# silently break oracle parity.
from ensembl_datacheck_spark.operators.corpus import split_bucket as _portable_bucket  # noqa: E402,E501


_HASH_TIERS = ("portable", "fast")


def _gram_stream(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    n_buckets: int,
    use_bigrams: bool,
    hash_tier: str = "portable",
) -> DataFrame:
    """(id, feat) — ONE ROW PER GRAM OCCURRENCE, the shared explode
    behind the distribution fit and the fused scorer: unigrams plus
    (optionally) adjacent bigrams, each hashed into ``n_buckets``
    feature ids.  NULL/empty arrays and NULL/negative elements are
    skipped; a document with no scoreable token emits no rows.  Gram
    strings before portable hashing: ``CAST(w AS STRING)`` for unigrams,
    ``w1 || '_' || w2`` for bigrams — the exact strings the SQL oracle
    rebuilds.

    Two hash tiers (recorded in the feat column's metadata so profiles
    and scorer cannot silently mix them — feature ids from different
    tiers are unrelated):

    * ``portable`` — md5 of the gram STRING (corpus.split_bucket), the
      engine-replayable tier every SQL oracle rebuilds;
    * ``fast`` — ``xxhash64`` directly on the numeric (w1, w2) pair
      (unigrams hash (w, NULL)): no per-gram string is ever built and
      no md5 is paid — measured 2.2× faster end-to-end on the gram
      histogram (40M grams: 5.2 s vs 11.3 s at 8 cores), the
      production tier for corpus-scale scoring.  Same statistical
      quality (both are uniform 64-bit hashes mod B); ids differ from
      the portable tier's, so fits and scoring must use ONE tier.
    """
    if hash_tier not in _HASH_TIERS:
        raise ValueError(f"hash_tier must be one of {_HASH_TIERS}")
    clean = F.filter(F.col(tokens_col), lambda t: t.isNotNull() & (t >= 0))
    base = (
        df.filter(F.col(tokens_col).isNotNull() & (F.size(tokens_col) > 0))
        .select(F.col(id_col), clean.alias("__clean"))
        .filter(F.size("__clean") >= 1)
    )
    meta = {"n_buckets": n_buckets, "feat_hash": hash_tier,
            "use_bigrams": use_bigrams}
    if hash_tier == "fast":
        uni = F.expr(
            "transform(__clean, w -> struct(CAST(w AS BIGINT) AS w1, "
            "CAST(NULL AS BIGINT) AS w2))"
        )
        grams = uni
        if use_bigrams:
            bi = F.expr(
                "transform(sequence(1, size(__clean) - 1), "
                "i -> struct(CAST(__clean[i-1] AS BIGINT) AS w1, "
                "CAST(__clean[i] AS BIGINT) AS w2))"
            )
            grams = F.when(
                F.size("__clean") >= 2, F.concat(uni, bi)
            ).otherwise(uni)
        return base.select(
            F.col(id_col), F.explode(grams).alias("__p")
        ).select(
            id_col,
            F.pmod(F.xxhash64("__p.w1", "__p.w2"), F.lit(n_buckets)).alias(
                "feat", metadata=meta
            ),
        )
    uni = F.expr("transform(__clean, w -> CAST(w AS STRING))")
    grams = uni
    if use_bigrams:
        bi = F.expr(
            "transform(sequence(1, size(__clean) - 1), "
            "i -> CAST(__clean[i-1] AS STRING) || '_' || "
            "CAST(__clean[i] AS STRING))"
        )
        grams = F.when(F.size("__clean") >= 2, F.concat(uni, bi)).otherwise(uni)
    return base.select(
        F.col(id_col), F.explode(grams).alias("__gram")
    ).select(
        id_col,
        _portable_bucket(F.col("__gram"), n_buckets).alias(
            "feat", metadata=meta
        ),
    )


def _feat_meta(frame: DataFrame) -> tuple[int | None, str | None]:
    """(n_buckets, feat_hash) recorded on a frame's feat column, or
    (None, None) when absent."""
    if "feat" not in frame.columns:
        return None, None
    md = frame.schema["feat"].metadata
    b = md.get("n_buckets")
    return (int(b) if b is not None else None), md.get("feat_hash")


def _feat_grams(frame: DataFrame) -> bool | None:
    """The ``use_bigrams`` recorded on a frame's feat column, or None
    when absent."""
    if "feat" not in frame.columns:
        return None
    return frame.schema["feat"].metadata.get("use_bigrams")


def _check_hash_tier(
    expected: str,
    frames: dict[str, DataFrame],
    use_bigrams: bool | None = None,
) -> None:
    """Profiles and scorer must hash ONE way: one hash tier — portable
    and fast feature ids are unrelated, so mixing them scores garbage
    silently — and, given ``use_bigrams``, one gram set: a unigram-only
    profile scored against a bigram stream keeps every id inside
    [0, B), so no width check sees it, yet every bigram feature reads as
    unseen.  Both come from schema metadata: no Spark job."""
    for name, frame in frames.items():
        _, h = _feat_meta(frame)
        if h is not None and h != expected:
            raise ValueError(
                f"{name} was hashed with the {h!r} tier but this call "
                f"uses {expected!r} — feature ids from different hash "
                "tiers are unrelated; rebuild the profiles with the "
                "same hash_tier"
            )
        g = _feat_grams(frame)
        if use_bigrams is not None and g is not None and g != use_bigrams:
            raise ValueError(
                f"{name} was built with use_bigrams={g} but this call "
                f"scores use_bigrams={use_bigrams} — the profile and "
                "the scored stream count different features; rebuild "
                "the profiles with the same use_bigrams"
            )


def _resolve_width(
    n_buckets: int | None, frames: dict[str, DataFrame]
) -> int:
    """Resolve the hashing width from an explicit argument and/or the
    n_buckets metadata on every given frame's feat column; ANY
    disagreement raises (a wrong B shifts every weight's normalization
    term and mis-ranks the selection — silently, were it allowed)."""
    resolved = int(n_buckets) if n_buckets is not None else None
    source = "n_buckets argument"
    for name, frame in frames.items():
        m, _ = _feat_meta(frame)
        if m is None:
            continue
        if resolved is not None and m != resolved:
            raise ValueError(
                f"{name} was hashed with width {m}, which disagrees "
                f"with {source} ({resolved}) — feature ids and the "
                "smoothing normalizer would not line up"
            )
        if resolved is None:
            resolved, source = m, f"{name} metadata"
    if resolved is None:
        raise ValueError(
            "n_buckets not given and no frame carries n_buckets "
            "metadata — pass n_buckets explicitly"
        )
    return resolved


def _log_ratios(
    target_counts: DataFrame,
    raw_counts: DataFrame,
    n_buckets: int,
    alpha: float,
) -> tuple["np.ndarray", float]:
    """The dense per-feature log-ratio ``x_f = ln(t_f + α) − ln(r_f + α)``
    indexed by feature id, and the normalizer ``ln(R + αB) − ln(T + αB)``
    (T, R = total target/raw feature observations): what both scorer
    tiers look each gram up in.

    Both profiles are at most B rows by contract, so ONE collect of
    their side-tagged union reads them.  A malformed row raises instead
    of scoring: a feature id outside [0, B) (metadata-less profiles,
    e.g. parquet written by a non-Spark tool, evade ``_resolve_width``),
    a duplicate id (a join would double its count), a NULL feat or
    count, or a negative count (whose log is a NULL a sum drops)."""
    import numpy as np

    names = ("target_counts", "raw_counts")
    rows = (
        target_counts.select(F.lit(0), "feat", "count")
        .union(raw_counts.select(F.lit(1), "feat", "count"))
        .collect()
    )
    counts = np.zeros((2, n_buckets), dtype=np.float64)
    seen = np.zeros((2, n_buckets), dtype=bool)
    for side, f, c in rows:
        name = names[side]
        if f is None or c is None:
            raise ValueError(
                f"{name} has a NULL feat or count (feat={f}, count={c})")
        if not 0 <= f < n_buckets:
            raise ValueError(
                f"{name} contains feature id {f} outside [0, {n_buckets}) "
                "— the profile was hashed with a different n_buckets than "
                "this call; rebuild it or pass the matching n_buckets"
            )
        if seen[side, f]:
            raise ValueError(
                f"{name} lists feature id {f} twice — a profile holds one "
                "count per feature")
        if not c >= 0:
            raise ValueError(
                f"{name} has count {c} for feature id {f} — counts must "
                "be non-negative")
        seen[side, f] = True
        counts[side, f] = c
    t_total, r_total = counts.sum(axis=1)
    x = np.log(counts[0] + alpha) - np.log(counts[1] + alpha)
    norm = math.log(r_total + alpha * n_buckets) - math.log(
        t_total + alpha * n_buckets)
    return x, norm


def _score_feature_stream(
    items: DataFrame,
    target_counts: DataFrame,
    raw_counts: DataFrame,
    n_buckets: int,
    alpha: float,
    id_col: str,
) -> DataFrame:
    """THE smoothed log-likelihood-ratio scorer over an occurrence
    stream: ``items`` rows are (id, feat), each counted once.

    Runs ONE collect when called, of both profiles (``_log_ratios``;
    under AQE their two aggregations run as map-stage jobs before it).
    The per-feature log-ratios then ride in the plan as one array
    literal, and each occurrence reads its term by direct index,
    ``element_at(x, feat + 1)`` — the feature id is already a dense key
    in [0, B), so no join, no hash probe and no totals cross-join.  The
    returned frame is lazy."""
    x, norm = _log_ratios(target_counts, raw_counts, n_buckets, alpha)
    # one plan value: from_json over a string literal folds to an array
    # literal, where F.lit(list) would cost one py4j call per element
    lut = F.from_json(F.lit(json.dumps(x.tolist())), "array<double>")
    agg = items.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_feat_obs"),
        F.sum(F.element_at(lut, (F.col("feat") + 1).cast("int"))).alias(
            "__s"),
    )
    return agg.select(
        id_col,
        "n_feat_obs",
        (F.col("__s") + F.col("n_feat_obs").cast("double") * norm).alias(
            "log_weight"),
    )


def feature_counts_from_docs(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    n_buckets: int = 8192,
    use_bigrams: bool = True,
    hash_tier: str = "portable",
) -> DataFrame:
    """(feat, count) hashed n-gram distribution fit straight from token
    arrays: the gram stream partially aggregates map-side into at most B
    bins per task, so the shuffle is bounded by B × partitions
    regardless of corpus size.

    The ``feat`` column carries ``n_buckets``, the ``hash_tier``
    (``portable`` md5-string, oracle-replayable — the default — or
    ``fast`` numeric xxhash64, see ``_gram_stream``) and ``use_bigrams``
    as column METADATA, so the scorers recover the hashing contract from
    the schema instead of trusting the caller to repeat it — a
    silently-wrong B mis-normalizes every weight, and mixed tiers score
    garbage."""
    return (
        _gram_stream(df, id_col, tokens_col, n_buckets, use_bigrams,
                     hash_tier)
        .groupBy("feat")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def importance_log_weights_from_docs(
    df: DataFrame,
    target_counts: DataFrame,
    raw_counts: DataFrame,
    n_buckets: int | None = None,
    alpha: float = 1.0,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    use_bigrams: bool = True,
    hash_tier: str = "portable",
) -> DataFrame:
    """FUSED per-document DSIR importance log-weight.

    ``lw = Σ_f c_f·[ln(t_f + α) − ln(r_f + α)] + n·[ln(R + αB) − ln(T + αB)]``
    — the log likelihood ratio of the document's hashed-feature bag
    under the smoothed target vs raw models (B = n_buckets; T, R =
    total target/raw feature observations).  The call collects both
    profiles once and builds x_f and the normalizer on the driver
    (``_log_ratios``); the returned frame is lazy.  The
    per-document feature bag is never materialized: Σ_f c_f·x_f =
    Σ_occurrences x_f, so each gram OCCURRENCE reads x_f by feature id
    and the per-document aggregate folds straight from the exploded
    stream — map-side partial aggregation in the explode stage, ONE
    shuffle row per document (the lm_cross_entropy shape).  A malformed
    profile row (an id outside [0, B), a duplicate id, a NULL, a
    negative count) raises ValueError here.  Measured end-to-end at 1M
    docs (BENCH/LM_1M.md): a per-document bag path 814 s → fused
    portable 336 s → fused fast tier 99 s (``hash_tier="fast"``:
    numeric xxhash64, no gram strings, no md5) — 8.2×; the fast fused
    tier is the one that survives 10^12 documents.

    ``n_buckets`` defaults to the width recorded as metadata on the
    profile frames (``feature_counts_from_docs`` records it); an
    explicit value must agree with that metadata, and the profiles'
    recorded ``hash_tier`` must match this call's.

    Output: (id, n_feat_obs BIGINT — the document's gram count;
    log_weight DOUBLE).
    """
    if alpha <= 0:
        raise ValueError(
            f"alpha must be > 0 (got {alpha}): unsmoothed ln(0) on an "
            "unseen feature evaluates to NULL and silently drops from "
            "the weight sum"
        )
    _check_hash_tier(hash_tier, {"target_counts": target_counts,
                                 "raw_counts": raw_counts}, use_bigrams)
    n_buckets = _resolve_width(
        n_buckets, {"target_counts": target_counts,
                    "raw_counts": raw_counts}
    )
    stream = _gram_stream(df, id_col, tokens_col, n_buckets, use_bigrams,
                          hash_tier)
    return _score_feature_stream(
        stream, target_counts, raw_counts, n_buckets, alpha, id_col
    )


def importance_log_weights_arrow(
    df: DataFrame,
    target_counts: DataFrame,
    raw_counts: DataFrame,
    n_buckets: int | None = None,
    alpha: float = 1.0,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    use_bigrams: bool = True,
) -> DataFrame:
    """Row-local Arrow tier of the DSIR scorer — the STREAMING-safe
    path (the fused scorer's per-document aggregate is a stateful
    streaming aggregation; this tier scores each document inside its
    own row, stateless per micro-batch — the lm_cross_entropy_arrow
    design point).

    Both profiles are collected to the driver ONCE, by the same
    ``_log_ratios`` the fused scorer uses — bounded by n_buckets (8192
    default) — and the per-feature log-ratios ride in the task closure
    as a dense numpy array indexed by feature id, so scoring is pure
    vectorized lookups (no searchsorted needed: feature ids are already
    in [0, B)).  Gram hashing matches the PORTABLE tier (md5 of the
    gram string, via hashlib) — numpy-verified against the JVM paths in
    pytest; weights agree with the fused scorer to float-summation
    order.

    Like the LM Arrow tier this is NOT the fast batch path (Arrow
    serialization + Python hashing of every gram); its reason to exist
    is streaming.  For batch corpus scoring use
    ``importance_log_weights_from_docs(hash_tier="fast")``.
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0 (got {alpha})")
    _check_hash_tier("portable", {"target_counts": target_counts,
                                  "raw_counts": raw_counts}, use_bigrams)
    n_buckets = _resolve_width(
        n_buckets, {"target_counts": target_counts,
                    "raw_counts": raw_counts}
    )
    x, norm = _log_ratios(target_counts, raw_counts, n_buckets, alpha)

    def score(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        def feats(cell):
            toks = [int(t) for t in cell if t >= 0]
            if not toks:
                return None
            grams = [str(w) for w in toks]
            if use_bigrams:
                grams += [f"{a}_{b}" for a, b in zip(toks, toks[1:])]
            return np.fromiter(
                (
                    int(hashlib.md5(g.encode()).hexdigest()[:8], 16)
                    % n_buckets
                    for g in grams
                ),
                dtype=np.int64,
                count=len(grams),
            )

        for pdf in batches:
            if pdf.empty:
                continue
            ids, ns, lws = [], [], []
            for doc_id, cell in zip(pdf[id_col], pdf[tokens_col]):
                f = feats(np.asarray(cell, dtype=np.int64))
                if f is None:
                    continue
                ids.append(doc_id)
                ns.append(f.size)
                lws.append(float(x[f].sum()) + f.size * norm)
            if ids:
                yield pd.DataFrame(
                    {id_col: ids, "n_feat_obs": ns, "log_weight": lws}
                )

    id_type = dict(df.dtypes)[id_col]
    return (
        df.filter(F.col(tokens_col).isNotNull() & (F.size(tokens_col) > 0))
        .select(id_col, F.array_compact(tokens_col).alias(tokens_col))
        .mapInPandas(
            score,
            schema=f"{id_col} {id_type}, n_feat_obs long, log_weight double",
        )
    )


def select_top_k(
    weights: DataFrame, k: int, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic DSIR selection: top-k by (log_weight desc, id asc),
    with the 1-based ``rank`` attached.  orderBy+limit compiles to
    TakeOrderedAndProject — per-partition partial top-k, driver merge of
    k·n_partitions rows, no global sort."""
    ordered = weights.orderBy(
        F.col("log_weight").desc(), F.col(id_col).asc()
    ).limit(k)
    # rank re-derived from the already-limited k rows — window over k
    # rows, not the corpus
    from pyspark.sql import Window

    w = Window.orderBy(F.col("log_weight").desc(), F.col(id_col).asc())
    return ordered.withColumn("rank", F.row_number().over(w).cast("long"))


def gumbel_top_k(
    weights: DataFrame, k: int, id_col: str = "doc_id", salt: str = "dsir"
) -> DataFrame:
    """Weighted sampling without replacement via Gumbel-top-k (Kool et
    al. 2019): key = log_weight + Gumbel(0,1), take top-k keys.  The
    Gumbel noise is deterministic — ``u = (md5int(salt || id) + 0.5) /
    2^32`` then ``g = -ln(-ln u)`` — so re-running selects the same
    sample (the repo's deterministic-sampler convention,
    corpus.deterministic_sample kin), yet across salts the selection is
    a faithful Gumbel draw."""
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))), 1, 8),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / float(1 << 32)
    keyed = weights.withColumn("__g", -F.log(-F.log(u)))
    ordered = keyed.orderBy(
        (F.col("log_weight") + F.col("__g")).desc(), F.col(id_col).asc()
    ).limit(k)
    return ordered.drop("__g")
