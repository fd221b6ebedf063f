"""Candidate-pair generation: the capped, salted band self-join.

This is the core join (SURVEY.md §2.3 J4): points sharing an LSH bucket are
paired, with the `a < b` predicate inside the join condition so the pair
space is halved before anything is materialized (the reference's x<y filter,
ReliefFFeatureSelector.scala:128, pushed into the join per SURVEY.md §4 O2).

Skew policy (SURVEY.md §4 O6/O7 — the maxComparisons analog, R:159/173;
cap = BUCKET_CAP, factor = SALT_FACTOR):
  bucket count <= cap                 : join as-is (salt 0)
  cap < count <= cap * factor         : salt into factor sub-buckets
                                        (per-band salt assignment, so different
                                        bands cut a hot group differently and
                                        transitive closure still links it)
  count > cap * factor                : drop the bucket, COUNT THE DROPS
                                        (no silent truncation)

Physical shape (round-2 rework — the round-1 version computed the bucket
counts as a separate groupBy relation, which cost a second full pass over
the bands (and its shuffle) plus a dedicated stats job):

  bands -> repartition(N, band keys)          [the explicit repartition the
                                               north_rule names]
        -> window count over the band keys    [no extra shuffle: the window
                                               reuses the repartition]
        -> cap filter + salt                  -> ONE materialized pass
  pairs  : self-join on (band keys, salt) — both sides scan the SAME
           materialized relation, so the planner reuses one exchange; salted
           sub-buckets scatter across partitions by the salt-extended key
  stats  : 1-row aggregate over the materialized relation (no recompute)

At 10^12 rows the materialization is the band relation only (skinny keys,
never audio bytes / shingle arrays), spilling to local dirs like any
shuffle would.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from relieff_lsh_spark.config import DedupConfig

BUCKET_KEYS = ["channel", "band_id", "band_hash"]

# Per-bucket work budget: a bucket of up to BUCKET_CAP rows joins whole (at
# most C(64, 2) = 2016 pairs); up to BUCKET_CAP * SALT_FACTOR rows it is
# split into SALT_FACTOR sub-buckets; past that it is dropped and counted.
BUCKET_CAP = 64
SALT_FACTOR = 8


@dataclass
class CandidateStats:
    dropped_buckets: int
    dropped_rows: int
    salted_buckets: int
    rows_in: int = 0  # band rows entering the join — free from the same
    #                   1-row stats aggregate; callers that previously
    #                   counted their input separately (one extra evaluation
    #                   of the whole upstream plan) read this instead


def band_candidates(
    bands: DataFrame, cfg: DedupConfig
) -> tuple[DataFrame, CandidateStats]:
    """bands -> distinct candidate pairs (a, b, channels: array<string>)."""
    cap, factor = BUCKET_CAP, SALT_FACTOR
    n_part = cfg.partitions(bands.sparkSession)

    # explicit repartition by the signature-band key ahead of the self-join
    # (north_rule); the bucket-count window below reuses this exchange, so
    # counting costs no second pass and no second shuffle. The ordered
    # row_number window shares the same exchange (it adds a partition-local
    # sort only) and marks exactly ONE representative row per bucket, which
    # makes the skew counters below exact integers — no floating-point
    # reciprocal summation (whose accumulated ulp error could misround at
    # extreme hot-bucket counts), no second shuffle, no AQE-dependent
    # partitioning reuse (localCheckpoint under AQE drops outputPartitioning,
    # so a post-checkpoint groupBy would be a real exchange).
    w = Window.partitionBy(*BUCKET_KEYS)
    annotated = (
        bands.repartition(n_part, *BUCKET_KEYS)
        .withColumn("bucket_n", F.count("*").over(w))
        .withColumn(
            "bucket_rep",
            F.row_number().over(w.orderBy("clip_id")) == 1,
        )
    )

    # one materialized pass: the stats aggregate and both self-join sides
    # read this; upstream (signature scan + explode + window) runs once.
    # Lazy (round-6): the stats collect right below is the FIRST action and
    # fully materializes the checkpoint, so an eager store was one extra
    # full job per stage; the self-join consumers then read the stored
    # blocks exactly as before (the components-entry pattern, measured in
    # BENCH/r06_candstage_probe.json).
    annotated = annotated.localCheckpoint(eager=False)

    hot = F.col("bucket_n") > cap * factor
    warm = (F.col("bucket_n") > cap) & ~hot
    rep = F.col("bucket_rep")
    stats_row = annotated.agg(
        F.coalesce(F.sum(F.when(hot & rep, F.col("bucket_n"))), F.lit(0)).alias("rows"),
        F.count(F.when(hot & rep, 1)).alias("buckets"),
        F.count(F.when(warm & rep, 1)).alias("salted"),
        F.count("*").alias("n_rows"),
    ).collect()[0]

    kept = annotated.where(~hot).withColumn(
        "salt",
        F.when(
            F.col("bucket_n") > cap,
            F.pmod(F.xxhash64("clip_id", "band_id", "channel"), F.lit(factor)),
        ).otherwise(F.lit(0)),
    )

    join_keys = BUCKET_KEYS + ["salt"]
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (
        a.join(b, join_keys)
        .where(F.col("a.clip_id") < F.col("b.clip_id"))
        .select(
            F.col("a.clip_id").alias("a"),
            F.col("b.clip_id").alias("b"),
            F.col("channel"),
        )
    )
    # collect_set dedups channels and groupBy dedups (a, b) — no separate
    # distinct() pass (it would be a second full shuffle of the pair relation).
    cand = pairs.groupBy("a", "b").agg(F.collect_set("channel").alias("channels"))

    stats = CandidateStats(
        dropped_buckets=int(stats_row["buckets"] or 0),
        dropped_rows=int(stats_row["rows"] or 0),
        salted_buckets=int(stats_row["salted"] or 0),
        rows_in=int(stats_row["n_rows"] or 0),
    )
    return cand, stats
