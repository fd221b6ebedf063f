"""Exact verification of candidate pairs.

The reference verifies LSH candidates with the *exact* distance inside the
bucket (DistanceProvider passed into computeGraph, reference
ReliefFFeatureSelector.scala:156-165); we do the same with three exact
metrics, all JVM-side expressions (SURVEY.md §2.6 F1):

  hamming  = bit_count(simhash_a XOR simhash_b)        (audio identity)
  jaccard  = |shingles_a ∩ shingles_b| / |union|       (text identity, exact
             over distinct shingle-hash sets — not the MinHash estimate, so
             verification thresholds match the brute-force oracle exactly)
  substr   = word-boundary verbatim containment        (substring channel)
  exact    = both bytes digests equal                   (byte identity:
             xxhash64 + murmur3, 96 bits — functions/signatures.py)

A pair is a duplicate if ANY metric passes its configured threshold (a
byte-identical pair passes on `exact_hit` alone).

Two-tier attach (the 100 TB shuffle-budget fix): the first signature join
ships only FIXED-WIDTH columns — simhash (8 B), the two bytes digests
(12 B) and the LSH band hashes (TEXT_BANDS x 8 B) — and computes hamming,
the byte-identity test and the number of agreeing bands. Only pairs that
could still pass some metric (hamming or byte identity already passed,
substr channel, or >= PREFILTER_MIN_BANDS agreeing text bands) join the
unbounded-width shingle arrays for the exact Jaccard — so the dominant
shuffle payload scales with the (small) survivor set, not the full
candidate set. Every OUTPUT row still carries the exact Jaccard: the band
count only prunes, never reports (PREFILTER_MIN_BANDS below).

Signatures are attached with shuffle equi-joins (the DataFrame form of the
reference's BroadcastLookupProvider, R:124 — broadcast is impossible at
10^12 rows, so the planner's shuffle join on clip_id is the scale-correct
choice; AQE will still broadcast at small SF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from relieff_lsh_spark.config import DedupConfig
from relieff_lsh_spark.functions.distance import (
    hamming64,
    jaccard_sets,
    minhash_agree_n,
    substr_either,
)
from relieff_lsh_spark.functions.text import TEXT_BANDS

VERIFIED_COLS = ["a", "b", "hamming", "jaccard", "substr_hit", "channels", "exact_hit"]

# Tier-1 prefilter: candidate pairs only join their (unbounded-width)
# shingle arrays for exact-Jaccard verification when at least this many of
# the text bands (TEXT_BANDS x 8 B, already in the signature) agree — or the
# pair can pass via another channel. One agreeing band is what MADE it a
# candidate, so requiring a second is the cheapest possible "can this pass
# Jaccard?" screen: at jaccard_min=0.8 a true pair misses with probability
# P(Binom(TEXT_BANDS, j^r) <= PREFILTER_MIN_BANDS - 1) ~ 1.7e-6; a spurious
# collision (j <= 0.5) has p_band = j^r <= 0.0625 and is pruned with
# probability >= 0.86 before the shingle arrays ever move. The first design
# used the full minhash signature (128 x 8 B) as the tier-1 payload —
# measured 2.3x verify-stage wall vs the band columns on the n=640k bench,
# since 1 KB/side exceeds typical shingle arrays; the band count is both
# smaller (256 B) and a TIGHTER screen.
PREFILTER_MIN_BANDS = 2


def verify_candidates(
    cand: DataFrame, signatures: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """cand(a, b, channels) x signatures(clip_id, simhash, exact_hash,
    exact_murmur, text_bands, shingles, transcript) -> verified pairs with
    metrics.

    Transcripts are only compared for pairs that arrived via the substr
    channel — containment is meaningless for band-collision pairs and the
    string compare is the most expensive metric.
    """
    # Tier 1: fixed-width signature attach (simhash, bytes digests, text
    # band hashes). Shingle arrays and transcripts do NOT ride this join.
    fixed = ["simhash", "exact_hash", "exact_murmur", "text_bands"]

    def side(s: str) -> DataFrame:
        return signatures.select(
            F.col("clip_id").alias(s), *[F.col(c).alias(f"{c}_{s}") for c in fixed]
        )

    scored = (
        cand.join(side("a"), "a").join(side("b"), "b")
        .withColumn("hamming", hamming64(F.col("simhash_a"), F.col("simhash_b")))
        .withColumn(  # NULL digests (NULL bytes) never match
            "exact_hit",
            F.coalesce(
                (F.col("exact_hash_a") == F.col("exact_hash_b"))
                & (F.col("exact_murmur_a") == F.col("exact_murmur_b")),
                F.lit(False),
            ),
        )
        .withColumn(
            "bands_agree",
            # unrolled fixed-width agreement count (codegen; the HOF fold
            # is CodegenFallback — round-6, functions/distance.py);
            # NULL-safe: a missing signature must not prune (keep)
            F.coalesce(
                minhash_agree_n(F.col("text_bands_a"), F.col("text_bands_b"), TEXT_BANDS),
                F.lit(TEXT_BANDS),
            ),
        )
    )
    is_substr_cand = F.array_contains(F.col("channels"), F.lit("substr"))
    could_pass = (
        F.coalesce(F.col("hamming") <= cfg.hamming_max, F.lit(False))
        | F.col("exact_hit")
        | is_substr_cand
        | (F.col("bands_agree") >= F.lit(PREFILTER_MIN_BANDS))
    )
    kept = scored.where(could_pass).select("a", "b", "channels", "hamming", "exact_hit")

    # Tier 2: exact Jaccard over shingle arrays, survivors only.
    sh = signatures.select("clip_id", "shingles")
    joined = (
        kept.join(sh.select(F.col("clip_id").alias("a"), F.col("shingles").alias("shingles_a")), "a")
        .join(sh.select(F.col("clip_id").alias("b"), F.col("shingles").alias("shingles_b")), "b")
        .withColumn("jaccard", jaccard_sets(F.col("shingles_a"), F.col("shingles_b")))
    )

    texts = signatures.select("clip_id", "transcript")
    t_a = texts.select(F.col("clip_id").alias("a"), F.col("transcript").alias("t_a"))
    t_b = texts.select(F.col("clip_id").alias("b"), F.col("transcript").alias("t_b"))
    substr_part = (
        joined.where(is_substr_cand)
        .join(t_a, "a")
        .join(t_b, "b")
        .withColumn("substr_hit", substr_either(F.col("t_a"), F.col("t_b")))
    )
    rest_part = joined.where(~is_substr_cand).withColumn(
        "substr_hit", F.lit(False)
    )
    verified = (
        rest_part.select(*VERIFIED_COLS)
        .unionByName(substr_part.select(*VERIFIED_COLS))
        .where(
            (F.col("hamming") <= cfg.hamming_max)
            | (F.col("jaccard") >= cfg.jaccard_min)
            | F.col("substr_hit")
            | F.col("exact_hit")
        )
    )
    return verified
