"""Text-channel signature functions.

All shingle construction and band hashing is pure JVM-side column expressions
(whole-stage codegen; SURVEY.md §4 O11). The only Python is the MinHash
signature arrow_udf, numpy-vectorized over whole Arrow batches via a
segmented reduceat (input_hint: "no per-row Python").

Parity notes: the reference hashes points into multi-table LSH keys inside
the external KNiNe library (call sites reference ReliefFFeatureSelector.scala:
156-175); here the analogous key is the banded MinHash over word k-shingles,
and the banding is an explicit, inspectable column expression.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from relieff_lsh_spark.config import SEED

_MERSENNE61 = (1 << 61) - 1

# Text banding: TEXT_BANDS bands of TEXT_ROWS MinHash rows (b x r
# OR-construction), so the signature is TEXT_PERMS long. At the canonical
# jaccard_min = 0.8 a pair collides on >= 1 band with probability
# 1 - (1 - 0.8^4)^32 ~ 1 - 4.7e-8 (DedupConfig checks the 0.99 budget).
TEXT_BANDS = 32
TEXT_ROWS = 4
TEXT_PERMS = TEXT_BANDS * TEXT_ROWS


def tokens_expr(col: str | Column = "transcript") -> Column:
    """Whitespace tokens, empties removed. JVM-side."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def token_hashes_expr(tokens: Column) -> Column:
    """array<bigint>: xxhash64 per token — ONE hash per token, shared by
    every downstream k-gram width (minhash shingles AND substring grams
    derive from the same array)."""
    return F.transform(tokens, lambda t: F.xxhash64(t))


def shingle_hashes_from_tokens(th: Column, k: int) -> Column:
    """Positional k-shingle hashes as variadic xxhash64 over the k token
    hashes — no k-word shingle STRING is ever materialized (round-4
    measurement on the SQL-twin suite: string construction dominated the
    signature wall; the same shape applies here with xxhash64 in place of
    the Horner chains the oracle suite needs for SQL portability).

    `th` MUST be a materialized attribute (a projection on the far side of
    a python-UDF boundary, or a checkpoint): each position references it k
    times, and CollapseProject would otherwise inline the per-token hash
    transform into every reference. Short/empty texts -> []."""
    n = F.size(th)
    sh = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.xxhash64(*[F.element_at(th, i + 1 + j) for j in range(k)]),
    )
    return F.when(n >= k, sh).otherwise(F.array().cast("array<bigint>"))


def minimizer_keys_from(hashes: Column, w: int) -> Column:
    """Winnowing minimizer keys (document fingerprinting): the min hash of
    every w-wide window over a positional k-shingle hash sequence. Any
    shared verbatim span of >= k+w-1 words shares at least one key — the
    substring-duplicate candidate channel (SURVEY.md §2.9 suffix_substr_keys;
    winnowing per Schleimer et al. 2003).

    `hashes` MUST be an already-materialized plain column reference (not an
    inline expression): inside a single expression tree Spark re-evaluates
    the producer per window element — O(n^2) hashing per row, measured as
    116s of a 165s signature stage before staging the projection."""
    n = F.size(hashes)
    wins = F.transform(
        F.sequence(F.lit(0), n - w),
        lambda i: F.array_min(F.slice(hashes, i + 1, w)),
    )
    return F.array_distinct(
        F.when(n >= w, wins).otherwise(
            # fewer shingles than the window: emit what exists (>=1 shingle)
            F.when(n > 0, F.array_distinct(hashes)).otherwise(
                F.array().cast("array<bigint>")
            )
        )
    )


def minhash_params() -> tuple[np.ndarray, np.ndarray]:
    """Seeded universal-hash coefficients (a*h + b mod 2^61-1)."""
    rng = np.random.default_rng(SEED ^ 0x5EED_1111)
    a = rng.integers(1, _MERSENNE61, TEXT_PERMS, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, _MERSENNE61, TEXT_PERMS, dtype=np.int64).astype(np.uint64)
    return a, b


def make_minhash_udf():
    """arrow_udf: array<bigint> shingle hashes -> array<bigint> MinHash sig.

    Vectorized per batch: for each row a (n_perms x n_shingles) uint64 matrix
    min-reduced along shingles. Empty shingle sets get the sentinel max
    signature (they can only band-collide with other empty sets; those are
    filtered before banding anyway).
    """
    from pyspark.sql.functions import arrow_udf

    a, b = minhash_params()
    n_perms = TEXT_PERMS
    sentinel = np.full(n_perms, _MERSENNE61 - 1, dtype=np.int64)

    @arrow_udf(T.ArrayType(T.LongType()))
    def minhash(shingles: pa.Array) -> pa.Array:
        # ONE vectorized pass for the whole Arrow batch: permute every
        # shingle hash in the batch at once ((n_perms x total) uint64
        # matrix), then per-row segmented min via minimum.reduceat over the
        # ListArray offsets — no per-row python, no Arrow->pandas ndarray
        # materialization. Elementwise math identical to the per-row form
        # it replaced ((a*h+b) with uint64 wraparound, folded % M61), so
        # signatures are bit-identical.
        arr = shingles.combine_chunks() if isinstance(shingles, pa.ChunkedArray) else shingles
        n = len(arr)
        raw = np.asarray(arr.offsets, dtype=np.int64)  # absolute into values
        offs = raw - raw[0]
        flat = np.asarray(arr.values, dtype=np.int64)[raw[0]:raw[-1]].view(np.uint64)
        out = np.full((n, n_perms), sentinel[0], dtype=np.int64)
        if flat.size:
            m = (a[:, None] * flat[None, :] + b[:, None]) % _MERSENNE61
            # reduceat start indices must be < flat.size: rows in a trailing
            # all-empty run have start == flat.size and stay sentinel; a
            # MID-batch empty row keeps its true start (< flat.size by
            # monotonicity) so neighbors' segment boundaries stay exact, and
            # its own garbage reduceat output (m[:, start]) is overwritten
            # by the `empty` mask below.
            nz = int(np.searchsorted(offs[:-1], flat.size, side="left"))
            if nz > 0:
                out[:nz] = np.minimum.reduceat(
                    m, offs[:nz], axis=1
                ).T.astype(np.int64)
        empty = offs[1:] == offs[:-1]
        valid = arr.is_valid().to_numpy(zero_copy_only=False)
        empty |= ~valid
        out[empty] = sentinel
        list_offs = np.arange(0, (n + 1) * n_perms, n_perms, dtype=np.int32)
        return pa.ListArray.from_arrays(
            pa.array(list_offs, type=pa.int32()),
            pa.array(out.reshape(-1), type=pa.int64()),
        )

    return minhash


def band_hashes_expr(sig: Column) -> Column:
    """array<bigint>[TEXT_BANDS]: xxhash64 of each TEXT_ROWS-row slice of
    the signature, salted with the band index so identical slices in
    different bands never collide. JVM-side."""
    r = TEXT_ROWS
    return F.transform(
        F.sequence(F.lit(0), F.lit(TEXT_BANDS - 1)),
        lambda bnd: F.xxhash64(
            F.concat_ws(",", F.transform(F.slice(sig, bnd * r + 1, r),
                                         lambda v: v.cast("string"))),
            bnd,
        ),
    )
