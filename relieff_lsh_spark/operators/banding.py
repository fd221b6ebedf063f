"""Unified LSH banding: every candidate channel becomes rows of one relation

    bands(clip_id: string, channel: string, band_id: int, band_hash: long)

so a single capped/salted equi-join generates candidates for all channels
(the reference's multi-table LSH bucketing, call sites reference
ReliefFFeatureSelector.scala:156-175, re-expressed as posexplode + groupBy
keys per SURVEY.md §2.2 P4 / §2.3 J4). Every channel reads the
clip_signatures table only; nothing here touches the corpus.

Channels:
  text   — TEXT_BANDS banded-MinHash hashes per clip (b x r OR-construction;
           one banding, which alone clears the 0.99 recall budget at
           jaccard_min — DedupConfig checks it)
  audio  — simhash split into SIMHASH_BANDS x 16-bit chunks: pigeonhole-exact
           recall for hamming <= 3 (any pair within 3 bits agrees on >= 1
           chunk). 16-bit keys are coarse; random cross-clip collisions are
           bounded by the bucket cap and discarded at verify — a cost, not a
           correctness issue. Larger deployments would raise SIMHASH_BITS /
           SIMHASH_BANDS (config.py).
  substr — winnowing minimizer keys (variable count per clip)
  exact  — `exact_hash` = xxhash64(bytes) from the signature scan (byte-
           identical clones); a clip with NULL bytes emits no exact row
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from relieff_lsh_spark.config import SIMHASH_BANDS, SIMHASH_BITS


def text_bands(sigs: DataFrame) -> DataFrame:
    """Explode per-clip band-hash arrays; clips with no shingles are dropped
    (they cannot pass Jaccard verification anyway)."""
    return (
        sigs.where(F.size("shingles") > 0)
        .select("clip_id", F.posexplode("text_bands").alias("band_id", "band_hash"))
        .select("clip_id", F.lit("text").alias("channel"), "band_id", "band_hash")
    )


def substr_bands(sigs: DataFrame) -> DataFrame:
    return (
        sigs.select("clip_id", F.explode("substr_keys").alias("band_hash"))
        .select("clip_id", F.lit("substr").alias("channel"),
                F.lit(0).alias("band_id"), "band_hash")
    )


def audio_bands(sigs: DataFrame) -> DataFrame:
    bits = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << bits) - 1
    chunks = F.array(*[
        F.shiftrightunsigned(F.col("simhash"), b * bits).bitwiseAND(F.lit(mask))
        for b in range(SIMHASH_BANDS)
    ])
    return (
        sigs.where(F.col("simhash").isNotNull())  # quarantined codecs
        .select("clip_id", F.posexplode(chunks).alias("band_id", "band_hash"))
        .select("clip_id", F.lit("audio").alias("channel"), "band_id", "band_hash")
    )


def exact_bands(sigs: DataFrame) -> DataFrame:
    """Byte-identity channel: one row per clip keyed on its bytes digest."""
    return sigs.where(F.col("exact_hash").isNotNull()).select(
        "clip_id",
        F.lit("exact").alias("channel"),
        F.lit(0).alias("band_id"),
        F.col("exact_hash").alias("band_hash"),
    )


def all_bands(sigs: DataFrame) -> DataFrame:
    """Every channel's band rows from the clip_signatures table."""
    return (
        text_bands(sigs)
        .unionByName(substr_bands(sigs))
        .unionByName(audio_bands(sigs))
        .unionByName(exact_bands(sigs))
    )
