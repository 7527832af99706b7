"""Token-array functions.

Two tiers, same semantics:

* **JVM tier** (default in hot paths): `F.exists` / `F.aggregate` /
  `F.size` higher-order functions — whole-stage codegen, zero Python.
* **Arrow tier**: `@pandas_udf` over Arrow batches for statistics that
  higher-order functions express awkwardly (per-row checksum, fused
  min/max/sum in one pass).  Implementations are numpy-vectorized over the
  flattened values of the Arrow ListArray — never a Python loop per row
  (input_hint mandate).

The per-row invariant vs the reference (BASELINE.json: "token-array
equality") is `token_arrays_equal` — used when comparing a recomputed /
migrated sequences table against the original.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# ---------- JVM tier ----------


def token_sum(col: Column) -> Column:
    return F.aggregate(col, F.lit(0).cast("long"), lambda acc, t: acc + t)


def token_min(col: Column) -> Column:
    return F.array_min(col)


def token_max(col: Column) -> Column:
    return F.array_max(col)


def token_arrays_equal(a: Column, b: Column) -> Column:
    """Null-safe exact array equality — the per-row invariant."""
    return a.eqNullSafe(b)


def dot_product(a: Column, b: Column) -> Column:
    """JVM-side dot product of two float arrays via zip_with + aggregate."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm vector yields NULL — the Arrow tier's
    # convention (never NaN) — instead of DIVIDE_BY_ZERO aborting the
    # whole job under Spark 4's default ANSI mode
    return F.try_divide(dot_product(a, b), l2_norm(a) * l2_norm(b))


# ---------- Arrow tier ----------


def _flat_segments(s: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized decomposition of a Series of arrays: (flat values,
    per-row lengths, row index per flat value).  Null rows get length 0."""
    lengths = np.array([0 if v is None else len(v) for v in s], dtype=np.int64)
    if lengths.sum() == 0:
        return np.array([], dtype=np.int64), lengths, np.array([], dtype=np.int64)
    flat = np.concatenate(
        [np.asarray(v, dtype=np.int64) for v in s if v is not None and len(v)]
    )
    row_idx = np.repeat(np.arange(len(s)), lengths)
    return flat, lengths, row_idx


def _token_checksum_fn(tokens: pd.Series) -> pd.Series:
    """Order-sensitive polynomial checksum per row:
    ``sum(token_i * BASE^i) mod 2^64`` (BASE 1000003), computed
    batch-vectorized in native uint64 WRAPAROUND arithmetic — one
    segment-prefix pass over the flattened values.  Mod 2^64 is chosen
    because numpy's uint64 multiply/add implement it exactly (an earlier
    mod-(2^61-1) formulation silently overflowed the 64-bit product and
    was NOT the documented polynomial); any engine with wrapping u64
    arithmetic (or hugeint mod 2^64) reproduces it bit-for-bit.

    NULL rows are masked through a NULLABLE Int64 result — never
    assigned into the numeric array, which would upcast the whole batch
    to float64 and round sibling checksums above 2^53 (the checksum of a
    row then depended on which rows shared its Arrow batch).  Used for
    cheap content fingerprints of token arrays (drift of content, not
    just length)."""
    BASE = np.uint64(1000003)
    flat, lengths, row_idx = _flat_segments(tokens)
    out = np.zeros(len(tokens), dtype=np.uint64)
    if len(flat):
        # position within each row, vectorized
        starts = np.zeros(len(lengths), dtype=np.int64)
        np.cumsum(lengths[:-1], out=starts[1:]) if len(lengths) > 1 else None
        pos = np.arange(len(flat)) - np.repeat(starts, lengths)
        max_pos = int(pos.max()) + 1
        powers = np.empty(max_pos, dtype=np.uint64)
        acc = np.uint64(1)
        with np.errstate(over="ignore"):  # uint64 wrap IS the definition
            for p in range(max_pos):  # bounded by max array length, not rows
                powers[p] = acc
                acc = acc * BASE
            contrib = flat.astype(np.uint64) * powers[pos]
            np.add.at(out, row_idx, contrib)
    null_mask = np.array([v is None for v in tokens], dtype=bool)
    res = pd.Series(pd.array(out.view(np.int64), dtype="Int64"))
    return res.mask(null_mask)


def _token_stats_fn(tokens: pd.Series) -> pd.DataFrame:
    """Fused per-row min/max/sum/length in one Arrow batch pass —
    segment-reduce over flattened values (np.minimum.reduceat etc.).

    JVM-tier parity (the module's 'two tiers, same semantics' contract):
    a NULL array yields NULL for every field (F.size/token_sum of NULL
    are NULL — a {sum:0, n:0} row would be indistinguishable from a
    genuinely empty array, conflating a completeness defect with empty
    content); an EMPTY array yields min/max NULL, sum 0, n 0.  All-int64
    masked arrays end to end — routing min/max through a float buffer
    (the old Int32 coercion) both crashed on tokens beyond int32 (the
    out-of-range values a datacheck exists to surface) and would round
    values above 2^53."""
    flat, lengths, _ = _flat_segments(tokens)
    n = len(tokens)
    mins = np.zeros(n, dtype=np.int64)
    maxs = np.zeros(n, dtype=np.int64)
    sums = np.zeros(n, dtype=np.int64)
    nonzero = lengths > 0
    if len(flat):
        starts = np.zeros(n, dtype=np.int64)
        np.cumsum(lengths[:-1], out=starts[1:]) if n > 1 else None
        idx = starts[nonzero]
        mins[nonzero] = np.minimum.reduceat(flat, idx)
        maxs[nonzero] = np.maximum.reduceat(flat, idx)
        sums[nonzero] = np.add.reduceat(flat, idx)
    null_mask = np.array([v is None for v in tokens], dtype=bool)
    out = pd.DataFrame(
        {
            "min": pd.Series(pd.array(mins, dtype="Int64")).mask(~nonzero),
            "max": pd.Series(pd.array(maxs, dtype="Int64")).mask(~nonzero),
            "sum": pd.Series(pd.array(sums, dtype="Int64")).mask(null_mask),
            "n": pd.Series(pd.array(lengths, dtype="Int32")).mask(null_mask),
        }
    )
    return out


# UDF registration parses the return-type DDL, which needs a live Spark
# session — so the pandas UDFs are wrapped lazily at call time.


def _stack_vectors_masked(s: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(matrix of the VALID rows, boolean valid-row mask).  A null array
    row must yield a null result, not a ragged-ndarray ValueError that
    kills the whole job."""
    valid = np.array([v is not None for v in s], dtype=bool)
    if not valid.any():
        return np.empty((0, 0)), valid
    M = np.array([list(v) for v, ok in zip(s, valid) if ok], dtype=np.float64)
    return M, valid


def _cosine_pairs_fn(a: pd.Series, b: pd.Series) -> pd.Series:
    """Row-wise cosine of two vector columns, one numpy pass per Arrow
    batch (no per-row Python).  Null inputs and zero-norm vectors yield
    NULL (never NaN: Spark ranks NaN above every double, which would
    float zero vectors to the top of similarity rankings)."""
    out = np.full(len(a), np.nan)
    valid = np.array(
        [x is not None and y is not None for x, y in zip(a, b)], dtype=bool
    )
    if valid.any():
        A = np.array([list(v) for v, ok in zip(a, valid) if ok], dtype=np.float64)
        B = np.array([list(v) for v, ok in zip(b, valid) if ok], dtype=np.float64)
        denom = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        denom[denom == 0] = np.nan
        out[valid] = np.einsum("ij,ij->i", A, B) / denom
    return pd.Series(pd.array(out, dtype="Float64")).mask(pd.isna(out))


def cosine_pairs_arrow(a: Column, b: Column) -> Column:
    """Arrow-tier pairwise cosine: ~100x the HOF-lambda tier on wide
    vectors (zip_with/aggregate LambdaVariables stay outside codegen and
    serialize per element)."""
    return pandas_udf(_cosine_pairs_fn, "double")(a, b)


def hyperplane_signature_arrow(col: Column, planes: np.ndarray) -> Column:
    """Sign-bit LSH signature as a long, batch-vectorized: one matmul per
    Arrow batch against the (n_planes, dim) plane matrix.  Null vectors
    get a null signature (they then fall out of bucket equi-joins)."""
    P = np.ascontiguousarray(planes, dtype=np.float64)
    weights = (1 << np.arange(P.shape[0], dtype=np.int64))

    def fn(vec: pd.Series) -> pd.Series:
        V, valid = _stack_vectors_masked(vec)
        out = np.zeros(len(vec), dtype=np.int64)
        if valid.any():
            out[valid] = ((V @ P.T) > 0) @ weights
        return pd.Series(pd.array(out, dtype="Int64")).mask(~valid)

    return pandas_udf(fn, "long")(col)


def token_checksum(col: Column) -> Column:
    return pandas_udf(_token_checksum_fn, "long")(col)


def token_stats(col: Column) -> Column:
    return pandas_udf(
        _token_stats_fn, "struct<min:bigint,max:bigint,sum:bigint,n:int>"
    )(col)

