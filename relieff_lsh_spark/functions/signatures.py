"""Fused per-clip signature projection: ONE narrow scan of the corpus
producing every channel's signature columns, no join.

The only reader of the corpus: every later stage works on this ~1 KB/clip
table of hashes. `bytes` is consumed at the scan by the SimHash UDF and the
exact channel's digests, and never shuffled (SURVEY.md §4 O10). Separate
text/audio scans joined on clip_id, and a second scan for the exact
channel, were extra corpus passes outside the signature math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from relieff_lsh_spark.functions.audio import make_simhash_udf
from relieff_lsh_spark.functions.text import (
    band_hashes_expr,
    make_minhash_udf,
    minimizer_keys_from,
    shingle_hashes_from_tokens,
    token_hashes_expr,
    tokens_expr,
)

# Text channel: distinct SHINGLE_K-word shingles feed the MinHash and the
# exact Jaccard (the brute-force oracle shingles with the same width).
SHINGLE_K = 5

# Substring channel: winnowing minimizers over SUBSTR_K-word shingles with a
# SUBSTR_WINDOW-wide window; any shared verbatim span of
# >= SUBSTR_K + SUBSTR_WINDOW - 1 words shares a minimizer key.
SUBSTR_K = 4
SUBSTR_WINDOW = 2


def clip_signatures(corpus: DataFrame, decoders: dict | None = None) -> DataFrame:
    """corpus -> (clip_id, transcript, codec, shingles, substr_keys,
    simhash, text_bands, exact_hash, exact_murmur). Narrow; bytes dies at
    the scan. `decoders` overrides the audio codec registry
    (functions/audio.py). The MinHash signature only feeds `text_bands`.

    The exact channel bands on `exact_hash` = xxhash64(bytes); verify also
    needs `exact_murmur` = murmur3 hash(bytes) to match: 96 bits, ~6e-6
    false pairs at 10^12 clips (64 bits: ~2.7e4). NULL bytes, NULL digests.

    Tokens are hashed ONCE (xxhash64 per token) in the simhash-UDF stage;
    both k-gram widths (minhash shingles, substring grams) then derive as
    variadic xxhash64 over k token hashes — no shingle STRING is ever
    materialized (measured on the SQL-twin suite: string construction
    dominated the signature wall). Positional arrays are STAGED as
    projection columns on python-UDF stage boundaries, and the
    distinct/minimizer views derive from the materialized columns — inline
    composition re-evaluates the hashing per window element (O(n^2)/row;
    measured 116s of a 165s stage)."""
    minhash_udf = make_minhash_udf()
    simhash_udf = make_simhash_udf(decoders)
    staged = corpus.select(
        "clip_id",
        "transcript",
        "codec",
        token_hashes_expr(tokens_expr("transcript")).alias("th"),
        simhash_udf("bytes", "codec").alias("simhash"),
        F.when(F.col("bytes").isNotNull(), F.xxhash64("bytes")).alias("exact_hash"),
        F.when(F.col("bytes").isNotNull(), F.hash("bytes")).alias("exact_murmur"),
    )
    # `th` is an attribute here (the python-UDF stage above is a physical
    # boundary), so the k references per position stay O(1) reads
    df = staged.select(
        "clip_id",
        "transcript",
        "codec",
        "simhash",
        "exact_hash",
        "exact_murmur",
        F.array_distinct(
            shingle_hashes_from_tokens(F.col("th"), SHINGLE_K)
        ).alias("shingles"),
        shingle_hashes_from_tokens(F.col("th"), SUBSTR_K).alias("pos_sub"),
    )
    df = df.withColumn("minhash", minhash_udf("shingles"))
    # past the second UDF boundary pos_sub is materialized — required by
    # the O(n) window references inside minimizer_keys_from
    df = df.withColumn(
        "substr_keys", minimizer_keys_from(F.col("pos_sub"), SUBSTR_WINDOW)
    )
    return df.select(
        "clip_id",
        "transcript",
        "codec",
        "shingles",
        "substr_keys",
        "simhash",  # NULL = codec quarantined (no decoder); the clip still
        #             dedups via exact/text/substr channels
        band_hashes_expr(F.col("minhash")).alias("text_bands"),
        "exact_hash",
        "exact_murmur",
    )
