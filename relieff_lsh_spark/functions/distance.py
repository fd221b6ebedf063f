"""Pairwise verification distances — all JVM-side column expressions.

The reference's DistanceProvider (ReliefFFeatureSelector.scala:29-52) is a
per-pair scalar closure; here each metric is a codegen'd expression so the
verify stage stays inside whole-stage codegen (SURVEY.md §4 O11). The one
exception is cosine_seqfold — an Arrow kernel that is a measured,
bit-identical replacement for the interpreted HOF cosine fold (its
docstring has the equivalence argument).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit SimHash signatures."""
    return F.bit_count(a.bitwiseXOR(b))


def jaccard_sets(a: Column, b: Column) -> Column:
    """Exact Jaccard over two array<bigint> shingle-hash sets (arrays must be
    distinct-element). Empty-vs-empty -> 0.0 (the zero-range guard pattern,
    reference R:42-45)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))


def minhash_agree(a: Column, b: Column) -> Column:
    """Number of agreeing MinHash lanes between two equal-length
    array<bigint> signatures (the MinHash Jaccard estimate is this divided
    by the signature length). JVM-side fold; NULL if either side is NULL."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )


def minhash_agree_n(a: Column, b: Column, n: int) -> Column:
    """minhash_agree for signatures of STATICALLY-KNOWN length n, unrolled
    into n `get` comparisons: the HOF zip_with/aggregate fold is
    CodegenFallback (one interpreted eval per lane per pair, on every
    candidate pair), while GetArrayItem comparisons compile into
    whole-stage codegen. Value-identical, including NULL semantics: a NULL
    array makes every term NULL, so the sum is NULL exactly like the fold
    (pinned by tests/test_kernels_r06.py). `get` is 0-based and NULL past
    the end even under ANSI mode (element_at throws there), so an array
    shorter than n yields NULL instead of failing the query."""
    terms = [(F.get(a, i) == F.get(b, i)).cast("int") for i in range(n)]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def contains_verbatim(needle: Column, haystack: Column) -> Column:
    """Word-boundary verbatim containment of one transcript in another."""
    pad_n = F.concat(F.lit(" "), F.trim(needle), F.lit(" "))
    pad_h = F.concat(F.lit(" "), F.trim(haystack), F.lit(" "))
    return (F.length(F.trim(needle)) > 0) & F.contains(pad_h, pad_n)


def substr_either(t_a: Column, t_b: Column) -> Column:
    return contains_verbatim(t_a, t_b) | contains_verbatim(t_b, t_a)


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity between two array<float> embeddings, via
    aggregate/zip_with (JVM-side; no UDF)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def cosine_seqfold(a: Column, b: Column) -> Column:
    """BIT-IDENTICAL Arrow twin of the HOF left-fold cosine used by the
    pair-verify queries (knn._cos): higher-order-function lambdas are
    interpreted per ELEMENT (CodegenFallback), so at 64 dims each verified
    pair paid ~200 interpreted evals — the dominant cost of the
    cosine-verify queries once candidates number in the millions. The
    kernel below replaces the per-element interpreter with one vectorized
    numpy op per dimension per Arrow batch while preserving the exact IEEE
    value, term by term:

      * accumulation runs dim-by-dim ACROSS the batch (``acc += A[:,i] *
        B[:,i]``) — the same left-fold order as ``aggregate(zip_with(a, b,
        x*y), 0.0, acc+v)``, starting from the same +0.0, so every
        intermediate rounding is the JVM fold's rounding;
      * each step is one IEEE-754 double mul then one add — numpy ufuncs
        do not fuse (no FMA contraction), matching the JVM's strict
        non-fused double semantics;
      * sqrt/division/multiplication are single correctly-rounded IEEE ops
        in both runtimes, applied in the same expression order
        ``dot / (sqrt(na2) * sqrt(nb2))``.

    The result column is the UNROUNDED double, identical to the HOF form
    bit for bit (pinned by tests/test_ann.py::test_cosine_seqfold_bitexact);
    callers apply the same F.round(_, 6) they applied before. No
    zero-norm guard, exactly like knn._cos (0/0 -> NaN either way).
    """
    return _cos_seqfold_kernel(a, b)


# Module-scope kernel (round-6 ADVICE): every cosine_seqfold call site now
# references ONE registered UDF object instead of constructing a fresh
# pandas_udf per call — plan-time only, but it restores UDF-level dedup.
@F.pandas_udf(T.DoubleType())
def _cos_seqfold_kernel(va: pd.Series, vb: pd.Series) -> pd.Series:
    if len(va) == 0:  # np.stack raises on an empty sequence — no-op instead
        return pd.Series(np.empty(0, dtype=np.float64))
    A = np.stack(va.to_numpy())
    B = np.stack(vb.to_numpy())
    n = len(A)
    dot = np.zeros(n)
    na2 = np.zeros(n)
    nb2 = np.zeros(n)
    for i in range(A.shape[1]):
        ai = A[:, i]
        bi = B[:, i]
        dot += ai * bi
        na2 += ai * ai
        nb2 += bi * bi
    with np.errstate(divide="ignore", invalid="ignore"):
        out = dot / (np.sqrt(na2) * np.sqrt(nb2))
    return pd.Series(out)


def intersect_count_u64pairs(a1: Column, a2: Column,
                             b1: Column, b2: Column) -> Column:
    """Exact count of common (h1, h2) pairs between two pair-distinct
    shingle-hash sets carried as PARALLEL array<bigint> columns — the Arrow
    replacement for ``size(array_intersect(sh_a, sh_b))`` over
    array<struct<h1,h2>>: ArrayIntersect has a hash fast path only for
    primitive element types; struct elements fall back to O(n*m)
    ordering-based comparison, which made the exact-Jaccard tail the most
    expensive stage of the document verify query (measured 4-7x tail
    speedup at sf1x, BENCH/jv_profile.py; the whole-query A/B is in
    BENCH/cos_kernel_probe.json's sibling artifacts).

    Exactness: both h1 and h2 are < 2^32 (Horner chains mod ~2^32 primes),
    so each pair packs LOSSLESSLY into one uint64 key (h1 << 32 | h2); the
    result is an integer count — no floating point anywhere, so the DuckDB
    oracle needs no change. Key-distinctness holds because the shingle
    arrays are array_distinct upstream (pair-distinct => packed-key-distinct).

    Round-6: the kernel is FLATTENED — one vectorized pass per Arrow batch
    (concatenate + per-batch dense key ids + one intersect1d + bincount)
    instead of a per-row python loop of np.intersect1d calls (the round-5
    VERDICT's named fix). Counts are identical by construction: a (row, key)
    match under the dense-id encoding is exactly a per-row packed-key match.
    Measured A/B: BENCH/intersect_flat_probe.json (see OPTIMIZATION_r06.md).
    """
    return _nint_flat_kernel(a1, a2, b1, b2)


_U32 = np.uint64(32)


def _pack_keys(s1: pd.Series, s2: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate a batch of parallel (h1[], h2[]) rows into one flat
    uint64 key array (h1 << 32 | h2) + per-row lengths."""
    v1 = s1.to_numpy()
    v2 = s2.to_numpy()
    lens = np.fromiter((len(x) for x in v1), dtype=np.int64, count=len(v1))
    if lens.sum() == 0:
        return np.empty(0, dtype=np.uint64), lens
    f1 = np.concatenate(v1).astype(np.uint64)
    f2 = np.concatenate(v2).astype(np.uint64)
    return (f1 << _U32) | f2, lens


@F.pandas_udf(T.IntegerType())
def _nint_flat_kernel(s_a1: pd.Series, s_a2: pd.Series,
                      s_b1: pd.Series, s_b2: pd.Series) -> pd.Series:
    n = len(s_a1)
    if n == 0:
        return pd.Series(np.empty(0, dtype=np.int32))
    ka, lens_a = _pack_keys(s_a1, s_a2)
    kb, lens_b = _pack_keys(s_b1, s_b2)
    # dense per-batch key ids so (row, key) packs into ONE int64:
    # row * n_uniq + key_id < n_rows * total_elems << 2^63
    uniq, inv = np.unique(np.concatenate([ka, kb]), return_inverse=True)
    ra = np.repeat(np.arange(n, dtype=np.int64), lens_a)
    rb = np.repeat(np.arange(n, dtype=np.int64), lens_b)
    m = np.int64(len(uniq))
    ca = ra * m + inv[: len(ka)].astype(np.int64)
    cb = rb * m + inv[len(ka):].astype(np.int64)
    hits = np.intersect1d(ca, cb, assume_unique=True)  # unique per side:
    # arrays are array_distinct upstream, rows disjoint in the encoding
    counts = np.bincount(hits // m, minlength=n).astype(np.int32)
    return pd.Series(counts)


@F.pandas_udf(T.IntegerType())
def _nint_perrow_kernel(s_a1: pd.Series, s_a2: pd.Series,
                        s_b1: pd.Series, s_b2: pd.Series) -> pd.Series:
    """Round-5 per-row form (kept for the A/B probe; positional .to_numpy
    access per round-6 ADVICE)."""
    a1, a2 = s_a1.to_numpy(), s_a2.to_numpy()
    b1, b2 = s_b1.to_numpy(), s_b2.to_numpy()
    out = np.empty(len(a1), dtype=np.int32)
    for i in range(len(a1)):
        ka = (a1[i].astype(np.uint64) << _U32) | a2[i].astype(np.uint64)
        kb = (b1[i].astype(np.uint64) << _U32) | b2[i].astype(np.uint64)
        out[i] = np.intersect1d(ka, kb, assume_unique=True).size
    return pd.Series(out)
