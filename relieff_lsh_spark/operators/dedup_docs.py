"""Document-table dedup operators with cross-engine-deterministic hashing.

These mirror the corpus pipeline's text channel (shingle -> MinHash -> band
-> bucket self-join -> exact-Jaccard verify) but use md5 as the hash
primitive so the exact same computation is expressible in ANSI SQL — the
driver's DuckDB oracle replays each stage and must match value-for-value.
The corpus pipeline itself uses xxhash64 (faster, JVM-native); the
algorithms are identical.

Performance shape (deliberate):
  * ONE md5 per TOKEN — never per shingle, and never a materialized
    shingle STRING: stage profiling (round 4) showed the k-word
    concat_ws/slice shingle-string construction dominating the signature
    wall (7.7s of ~10s at sf0.1), so shingle identity is a pair of integer
    Horner chains over the two 32-bit words of the token md5 (h1: base
    1000003 mod 4294967291 over word 1; h2: base 999983 mod 4294967279
    over word 2 — 64 bits of identity, collision odds ~2^-64 per pair).
    Both engines compute the identical unrolled arithmetic (K is a
    compile-time constant), so cross-engine equality is exact. Measured
    5x on the signature stage (8-10s -> 1.6-2.0s at sf0.1).
  * the N_PERMS permutations are cheap integer arithmetic (a_i*h + b_i
    mod p) over h1 — never N_PERMS hash calls per shingle.
  * every downstream expression references the previous stage's alias
    EXACTLY ONCE (one-pass aggregate folds, not one branch per perm/band):
    Catalyst's CollapseProject inlines aliases into every referencing
    branch, so an alias used N times re-evaluates its whole upstream chain
    N times — with 16 perm branches that made md5 run 16x per shingle
    (measured 27s -> 2s at sf0.1 for q_minhash_sigs when folded).
  * the band self-join runs over the signature stage's own (lazy)
    localCheckpoint barrier — both join sides share that one materialized
    RDD, so the signature plan computes once (a self-join on an
    unmaterialized subtree would compute it twice; an ADDITIONAL eager
    checkpoint on top, as earlier rounds had, just re-stores the relation
    for nothing — removed after measurement in round 4).

Parameters fixed (not DedupConfig) so the oracle SQL stays self-contained:
K=5 word shingles, 16 perms, 4 bands x 4 rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from relieff_lsh_spark.barrier import barrier
from relieff_lsh_spark.operators.capped import capped_pairs, capped_pairs_sql
from relieff_lsh_spark.spread import spread

K = 5
N_PERMS = 16
BANDS = 4
ROWS = 4
CLONE_OFFSET = 100000
MOD = 2147483647  # 2^31-1; (2^32)*(2*15+1) << 2^63, overflow-safe in both engines
DOC_BUCKET_CAP = 64  # skew cap: buckets larger than this emit no pairs
#                      (count-filtered join, SQL-mirrored; one degenerate
#                      band over boilerplate docs is O(c^2) uncapped)
PREFILTER_MIN_AGREE = 5  # MinHash-estimate prefilter (SQL-mirrored): a
#                      candidate pair joins its (unbounded-width) shingle
#                      arrays for exact-Jaccard verification only if >= 5 of
#                      its 16 minhash lanes agree. The colliding band alone
#                      guarantees 4, so 5 is the cheapest non-trivial screen:
#                      one additional agreeing lane among the 12 free ones.
#                      RECALL BOUND (this prefilter makes q_jaccard_verify an
#                      approximation of "exact jaccard over all candidates"):
#                      a true pair at exact j = 0.5 is wrongly pruned with
#                      probability P(Binom(12, 0.5) = 0) = 2^-12 ~ 2.4e-4,
#                      decaying geometrically above the threshold (round-3
#                      ADVICE: the earlier >= 6 rule missed with ~3e-3). The
#                      rule is deterministic over the shared md5 minhash, so
#                      both engines apply it identically and cross-engine
#                      equality is unaffected; only a brute-force oracle over
#                      the raw candidate set would diverge, at the rate above.


# Horner-chain constants (module docstring): two independent chains over
# the two 32-bit md5 words give 64 bits of shingle identity. Overflow-safe
# everywhere: acc < mod < 2^32 and base < 2^20, so acc*base + w < 2^52 + 2^32.
HB1, M1 = 1000003, 4294967291   # largest prime < 2^32
HB2, M2 = 999983, 4294967279    # next prime down, different base


def tokens(col="text"):
    return F.filter(F.split(F.col(col), " "), lambda t: t != "")


def token_word_hashes(col="text"):
    """array<struct<w1,w2>>: both 32-bit words of md5 per token — ONE md5
    per token, shared by the h1/h2 Horner chains."""
    return F.transform(
        F.transform(tokens(col), lambda t: F.md5(t)),
        lambda m: F.struct(
            F.conv(F.substring(m, 1, 8), 16, 10).cast("bigint").alias("w1"),
            F.conv(F.substring(m, 9, 8), 16, 10).cast("bigint").alias("w2"),
        ),
    )


def _horner(tw, i, field: str, base: int, mod: int):
    """Unrolled K-term Horner chain over tw[i..i+K-1].field (i 0-based)."""
    acc = F.element_at(tw, i + 1)[field]
    for j in range(1, K):
        acc = (acc * base + F.element_at(tw, i + 1 + j)[field]) % mod
    return acc


def shingle_hashes_expr(tw):
    """array<struct<h1,h2>>: distinct k-shingle 64-bit hash pairs; [] if
    fewer than K tokens. `tw` MUST be a materialized attribute (give it a
    localCheckpoint barrier): each position references it 2K times, and
    CollapseProject would inline the whole per-token md5 transform into
    every reference (measured 67s vs 2s at sf0.1 — the module-docstring
    trap in its worst form)."""
    n = F.size(tw)
    sh = F.transform(
        F.sequence(F.lit(0), n - K),
        lambda i: F.struct(
            _horner(tw, i, "w1", HB1, M1).alias("h1"),
            _horner(tw, i, "w2", HB2, M2).alias("h2"),
        ),
    )
    return F.array_distinct(
        F.when(n >= K, sh).otherwise(
            F.array().cast("array<struct<h1:bigint,h2:bigint>>")
        )
    )


def _shingled(docs: DataFrame) -> DataFrame:
    """(doc_id, sh): distinct shingle-hash pairs per doc; docs with no
    shingles dropped. The one barrier every text-channel query builds on.

    spread() first: the demo tables are single small parquet files whose
    scans plan at 1-4 tasks, and everything expensive in this chain (token
    md5s, Horner shingles, the folds above) runs pre-shuffle — without the
    spread the whole text channel executed 4-wide on a 32-core session
    (measured, relieff_lsh_spark/spread.py). No-op on production-layout
    inputs."""
    d0 = barrier(spread(docs).select(
        "doc_id", token_word_hashes("text").alias("tw")
    ), eager=False)
    return d0.select(
        "doc_id", shingle_hashes_expr(F.col("tw")).alias("sh")
    ).where(F.size("sh") > 0)


def _perms_of(h):
    """All N_PERMS permuted hashes of one 32-bit shingle hash, as an array.
    h < 2^32 and the largest multiplier is 2*N_PERMS-1, so products stay
    far below 2^63 (MOD comment above)."""
    return F.array(*[
        (h * (2 * i + 1) + (7919 * i + 13)) % MOD for i in range(N_PERMS)
    ])


def _minhash_expr(shh):
    """MinHash signature in ONE pass over the shingle-hash array:
    fold with element-wise least across all N_PERMS lanes.

    Shape matters: the naive array(array_min(transform(shh, perm_i)) for i)
    references `shh` N_PERMS times, and Catalyst's CollapseProject inlines
    the hash `transform` that produces shh into every branch — the whole
    upstream hash chain runs N_PERMS x per shingle (measured 16x: 27s -> 2s
    at sf0.1 in the md5-shingle era). A single aggregate references shh
    once, so the collapse stays free.

    Why a JVM fold and not an Arrow kernel: an Arrow twin (one permute
    matrix + segmented minimum.reduceat per batch) measured ~6% faster on
    q_lsh_candidates at sf1x but 0.2-0.3s/query slower at sf0.1, where the
    python-worker round trip dominates (round 6,
    BENCH/r06_minhash_probe.json)."""
    init = F.array(*[F.lit(MOD).cast("bigint")] * N_PERMS)
    return F.aggregate(
        shh, init, lambda acc, h: F.zip_with(acc, _perms_of(h), lambda a, b: F.least(a, b))
    )


def signature_df(docs: DataFrame, keep_shingles: bool = True) -> DataFrame:
    """(doc_id, [sh,] mh, bands): token md5s -> Horner shingle hashes ->
    one-pass 16-lane MinHash fold (over h1) -> band hashes.

    The lazy checkpoint between the fold and the band derivation is a
    CollapseProject barrier: without it Catalyst inlines the mh fold into
    every consumer (band branches, Generate-inferred filters), re-running
    the md5 + fold chain 3-5x per row. Above the barrier mh is a
    materialized attribute, so the band md5s are O(BANDS) arithmetic. This
    is the in-query analog of the corpus pipeline's signature snapshot.

    keep_shingles=False drops the shingle-hash-pair arrays from the
    materialized state for consumers that only need mh/bands ("sh" is now
    array<struct<h1,h2>> 64-bit hash pairs, not strings — module
    docstring)."""
    d1 = _shingled(docs)
    keep = ["doc_id", "sh"] if keep_shingles else ["doc_id"]
    d3 = d1.select(
        *keep,
        _minhash_expr(F.transform(F.col("sh"), lambda s: s["h1"])).alias("mh"),
    )
    d3 = barrier(d3, eager=False)
    return d3.select(
        *keep, "mh",
        F.transform(
            F.sequence(F.lit(0), F.lit(BANDS - 1)),
            lambda b: F.md5(F.concat_ws(",", F.transform(
                F.slice(F.col("mh"), b * ROWS + 1, F.lit(ROWS)),
                lambda v: v.cast("string"),
            ))),
        ).alias("bands"),
    )


def augmented_docs(docs: DataFrame) -> DataFrame:
    """documents ∪ a deterministic near-dup clone of each (drop first word,
    doc_id + CLONE_OFFSET) — planted duplicates so the LSH demo is
    non-trivial on data that has no natural dups."""
    base = docs.select("doc_id", "text")
    toks = tokens("text")
    clones = docs.select(
        (F.col("doc_id") + CLONE_OFFSET).alias("doc_id"),
        F.array_join(F.slice(toks, 2, F.size(toks) - 1), " ").alias("text"),
    )
    return base.unionByName(clones)


def _bands_long(sig: DataFrame) -> DataFrame:
    return sig.select("doc_id", F.posexplode("bands").alias("band_id", "band_hash"))


def _candidates_from(sig: DataFrame) -> DataFrame:
    """Band self-join with the corpus pipeline's skew policy in its
    SQL-replayable form (operators/capped.py): buckets over DOC_BUCKET_CAP
    rows are dropped from pair generation instead of exploding O(c^2)."""
    return capped_pairs(
        _bands_long(sig), ["band_id", "band_hash"], "doc_id", DOC_BUCKET_CAP
    )


ROT_OFF = ROWS // 2  # rotated-banding offset (the corpus refine pass's
#                      half-band boundary shift, operators/banding.py)


def _refined_bands_long(sig: DataFrame) -> DataFrame:
    """Primary bands ∪ (BANDS-1) half-band-ROTATED bands — the corpus refine
    pass (operators/banding.py; reference refineGroupedGraph,
    ReliefFFeatureSelector.scala:181-187) in SQL-replayable md5 form.
    Rotated band b hashes mh rows [b*ROWS + ROT_OFF, b*ROWS + ROT_OFF +
    ROWS); band_id offset by BANDS keeps the bucket keyspace disjoint."""
    rot = sig.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(BANDS - 2)),
                lambda b: F.md5(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(F.col("mh"), b * ROWS + ROT_OFF + 1, F.lit(ROWS)),
                            lambda v: v.cast("string"),
                        ),
                    )
                ),
            )
        ).alias("rot_id", "band_hash"),
    ).select(
        "doc_id", (F.col("rot_id") + BANDS).alias("band_id"), "band_hash"
    )
    return _bands_long(sig).unionByName(rot)


SIM_BITS = 64
SIM_BANDS = 4
SIM_BAND_BITS = SIM_BITS // SIM_BANDS  # 16-bit chunks: 65536 buckets/band
SIM_HAMMING_MAX = 3  # 4 bands pigeonhole-guarantee recall up to hamming 3
_MIN_LONG_NP = np.int64(-(1 << 63))
_POW16 = 1 << np.arange(SIM_BAND_BITS, dtype=np.int64)


def _lane_ones(rows: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """(n, 32) per-row count of shingle hashes with bit i set, counted one
    bit lane at a time into a reused flat buffer: the working set is two
    flat copies of the batch's hashes, whatever the row lengths (a
    broadcast (total_shingles, 32) matrix grows ~512 B per shingle, and
    the Arrow batch size caps rows, not shingles per row)."""
    ones = np.zeros((len(lens), 32), dtype=np.int64)
    nz = lens > 0  # upstream filters size>0, but reduceat segments must
    #                never start at an empty row's offset
    starts = (np.cumsum(lens) - lens)[nz]
    f = np.concatenate(rows)
    lane = np.empty_like(f)
    for i in range(32):
        np.right_shift(f, i, out=lane)
        np.bitwise_and(lane, 1, out=lane)
        ones[nz, i] = np.add.reduceat(lane, starts)
    return ones


@F.pandas_udf(T.ArrayType(T.LongType()))
def _simhash_pack_kernel(p1: pd.Series, p2: pd.Series) -> pd.Series:
    """SimHash vote + chunk/pack per row, vectorized per Arrow batch over
    the concatenated (h1, h2) shingle hashes: bit i of the 64-bit shingle
    hash is bit i of h1 for i < 32 and bit i-32 of h2 above; the signature
    bit is set when more than half of the row's shingles have it (votes
    2*ones_i - n > 0). Returns [simhash, chunk0..chunk3] per row.

    Every step is exact int64 arithmetic — bit counts, votes, 16-bit chunk
    packing, and the top bit applied as one min-long addition — so the
    values equal the DuckDB oracle's explode + group-by vote (_sim_cte)
    and the pure-python replay in tests/test_kernels_r06.py. Replaced a
    JVM fold of 64 interpreted zip_with/shiftright lambdas per SHINGLE
    (HOF lambdas are CodegenFallback): 1.51x on q_simhash_neardup,
    OPTIMIZATION_r06.md."""
    v1 = p1.to_numpy()
    v2 = p2.to_numpy()
    n = len(v1)
    if n == 0:
        return pd.Series(np.empty(0, dtype=object))
    lens = np.fromiter((len(x) for x in v1), dtype=np.int64, count=n)
    ones1 = _lane_ones(v1, lens)
    ones2 = _lane_ones(v2, lens)
    pos1 = (2 * ones1 - lens[:, None]) > 0
    pos2 = (2 * ones2 - lens[:, None]) > 0
    c0 = pos1[:, :SIM_BAND_BITS] @ _POW16
    c1 = pos1[:, SIM_BAND_BITS:] @ _POW16
    c2 = pos2[:, :SIM_BAND_BITS] @ _POW16
    c3 = pos2[:, SIM_BAND_BITS:] @ _POW16
    low63 = c0 + (c1 << 16) + (c2 << 32) + ((c3 & 0x7FFF) << 48)
    packed = np.where((c3 >> 15) & 1 == 1, low63 + _MIN_LONG_NP, low63)
    out = np.empty((n, 1 + SIM_BANDS), dtype=np.int64)
    out[:, 0] = packed
    out[:, 1] = c0
    out[:, 2] = c1
    out[:, 3] = c2
    out[:, 4] = c3
    return pd.Series(list(out))


def simhash_df(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash, chunk0..chunk3) — 64-bit SimHash by per-bit majority
    vote over the distinct shingle hashes: the corpus pipeline's audio
    SimHash-64 (same 64/4x16 geometry, DedupConfig defaults) re-expressed
    over text with md5 so DuckDB can replay it bit-for-bit. The h1/h2
    Horner pair IS the 64-bit per-shingle hash (bits 0-31 from h1, 32-63
    from h2 — no per-shingle md5, module docstring); the vote and pack run
    in one shuffle-free Arrow pass (_simhash_pack_kernel; the DuckDB oracle
    votes via explode + group-by, same values by construction).

    64 bits matter at scale: a 16-bit hash gives 16 buckets/band, so every
    bucket crosses the skew cap once the corpus passes ~1k docs and recall
    collapses to zero; 16-bit CHUNKS of a 64-bit hash keep expected bucket
    size ~n/65536 per band.

    The 4 chunk columns are carried alongside the packed value because the
    pack wraps into the sign bit — re-extracting the top chunk from a
    negative bigint needs engine-specific unsigned shifts, while carrying
    the chunks is portable arithmetic."""
    d2 = _shingled(docs).select(
        "doc_id",
        _simhash_pack_kernel(
            F.transform("sh", lambda s: s["h1"]),
            F.transform("sh", lambda s: s["h2"]),
        ).alias("sv"),
    )
    d2 = barrier(d2, eager=False)  # one kernel pass shared by every
    # downstream consumer (bands + both join sides in the neardup query)
    return d2.select(
        "doc_id",
        F.element_at("sv", 1).alias("simhash"),
        *[
            F.element_at("sv", b + 2).alias(f"chunk{b}")
            for b in range(SIM_BANDS)
        ],
    )


# ---- queries ----------------------------------------------------------------

def q_dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup by content hash (verbatim copies planted at CLONE_OFFSET)."""
    base = docs.select("doc_id", "text")
    copies = docs.select((F.col("doc_id") + CLONE_OFFSET).alias("doc_id"), "text")
    both = base.unionByName(copies)
    return (
        both.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").alias("canonical_id"),
        )
        .where(F.col("n_dups") > 1)
    )


def q_shingle_stats(docs: DataFrame) -> DataFrame:
    """Per-doc token and distinct-shingle counts (shingle identity = the
    64-bit Horner hash pair, module docstring); all docs reported."""
    d0 = barrier(docs.select(
        "doc_id",
        F.size(tokens("text")).alias("n_tokens"),
        token_word_hashes("text").alias("tw"),
    ), eager=False)
    return d0.select(
        "doc_id", "n_tokens",
        F.size(shingle_hashes_expr(F.col("tw"))).alias("n_shingles"),
    )


def q_minhash_sigs(docs: DataFrame) -> DataFrame:
    return signature_df(docs, keep_shingles=False).select(
        "doc_id", F.posexplode("mh").alias("perm_id", "minhash")
    )


def q_lsh_bands(docs: DataFrame) -> DataFrame:
    return _bands_long(signature_df(docs, keep_shingles=False))


def q_lsh_candidates(docs: DataFrame) -> DataFrame:
    """Banded-MinHash candidate pairs over the augmented corpus: the corpus
    pipeline's core band self-join (SURVEY.md §2.3 J4) on the documents
    table, fully SQL-replayable. No shingle arrays in the materialized
    state — candidates need only the band relation."""
    sig = signature_df(augmented_docs(docs), keep_shingles=False)
    return _candidates_from(sig)


def q_lsh_candidates_refined(docs: DataFrame) -> DataFrame:
    """Candidate pairs with the refine pass ON (SURVEY.md §2.7 L4 at the
    driver-oracle level — the round-3 VERDICT's 'stronger artifact'):
    primary + rotated bands through the same capped self-join. A superset of
    q_lsh_candidates by construction (extra OR-bands only add collisions);
    the rotated bands catch near-threshold pairs whose agreeing minhash
    rows straddle a primary band cut."""
    sig = signature_df(augmented_docs(docs), keep_shingles=False)
    return capped_pairs(
        _refined_bands_long(sig), ["band_id", "band_hash"], "doc_id", DOC_BUCKET_CAP
    )


def q_jaccard_verify(docs: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of the LSH candidates (threshold 0.5),
    behind the MinHash-estimate prefilter — shingle arrays are only shuffled
    for pairs the fixed-width estimate cannot rule out.

    Recall bound consumers should know: the prefilter makes this an
    approximation of "exact Jaccard over every LSH candidate" — a true pair
    at exactly j = 0.5 is pruned with probability 2^-12 ~ 2.4e-4 (the
    PREFILTER_MIN_AGREE derivation), decaying geometrically above the
    threshold. Deterministic and SQL-mirrored, so cross-engine equality is
    exact; only a brute-force oracle over the raw candidate set would see
    the difference."""
    # EAGER checkpoint, deliberately (round-4 measurement): this query
    # consumes sig in FOUR join branches (band self-join x2, mh+sh sides
    # x2); with only the internal lazy barrier the first-job scheduling
    # interleaves those consumers against an unmaterialized RDD and the
    # query measured 3x slower (25.7s vs 8.0s at sf0.1). The
    # candidates/simhash queries, with 2 consumers, go FASTER without the
    # extra eager store — not a universal rule.
    #
    # Join shape (round-5 measurement at sf1x): ONE
    # pair of doc-keyed joins carrying mh AND the shingle hashes together,
    # with the prefilter as a post-join predicate — not separate prefilter
    # joins followed by sh joins. Four joins with a "narrow first"
    # prefilter measured 31.2s e2e vs 25.1s for this shape: at LSH
    # candidate selectivity most candidates survive the prefilter, so the
    # extra join pair costs more than the sh-width it saves. The prefilter
    # predicate itself still pays: it gates the intersect kernel.
    #
    # Intersect shape (round-5 measurement, /tmp A/B recorded in the
    # intersect_count_u64pairs docstring): the shingle pairs travel as
    # PARALLEL array<bigint> columns (h1s, h2s — extracted once per doc
    # side, pre-join) and the intersection is COUNTED by an Arrow kernel
    # on lossless uint64-packed keys. size(array_intersect()) on the
    # struct arrays was the single most expensive expression in the suite:
    # struct elements get no hash fast path in ArrayIntersect (O(n*m)
    # interpreted ordering compares) — 9.0s vs 2.1s for the identical tail
    # at sf1x, identical integer counts.
    from relieff_lsh_spark.functions.distance import (
        intersect_count_u64pairs,
        minhash_agree_n,
    )

    sig = barrier(signature_df(augmented_docs(docs)))
    cand = _candidates_from(sig)
    side = sig.select(
        "doc_id",
        "mh",
        F.transform("sh", lambda s: s["h1"]).alias("p1"),
        F.transform("sh", lambda s: s["h2"]).alias("p2"),
    )
    return (
        cand.join(
            side.select(
                F.col("doc_id").alias("a"),
                F.col("mh").alias("mh_a"),
                F.col("p1").alias("a1"),
                F.col("p2").alias("a2"),
            ),
            "a",
        )
        .join(
            side.select(
                F.col("doc_id").alias("b"),
                F.col("mh").alias("mh_b"),
                F.col("p1").alias("b1"),
                F.col("p2").alias("b2"),
            ),
            "b",
        )
        .where(
            minhash_agree_n(F.col("mh_a"), F.col("mh_b"), N_PERMS)
            >= PREFILTER_MIN_AGREE
        )
        .withColumn("n_int", intersect_count_u64pairs(
            F.col("a1"), F.col("a2"), F.col("b1"), F.col("b2")
        ))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_int")
                / (F.size("a1") + F.size("b1") - F.col("n_int")),
                6,
            ),
        )
        .where(F.col("jaccard") >= 0.5)
        .select("a", "b", "jaccard")
    )


def q_text_components(docs: DataFrame) -> DataFrame:
    """Connected components over the verified near-dup edges: the corpus
    pipeline's final clustering stage (SURVEY.md §3.3 stages 3-4 analog,
    contraction + large-star/small-star on the edge relation) on
    SQL-replayable text.
    component_id = min doc_id reachable through jaccard>=0.5 edges;
    singletons keep their own id. The DuckDB oracle replays the fixpoint
    as a recursive reachability CTE — a genuinely different algorithm, so
    a value-hash match checks the clustering itself, not the plumbing."""
    from relieff_lsh_spark.operators.components import connected_components

    edges = q_jaccard_verify(docs).select("a", "b")
    verts = augmented_docs(docs).select(F.col("doc_id").alias("clip_id"))
    res = connected_components(edges, verts)
    if not res.converged:
        raise RuntimeError("text components did not converge")
    return res.components.select(
        F.col("clip_id").alias("doc_id"), "component_id"
    )


def q_component_sizes(docs: DataFrame) -> DataFrame:
    """Duplicate-cluster size report (reference's sorted component output,
    R:506; SURVEY.md §2.5 W3): multi-member components with member count
    and max member id."""
    comp = q_text_components(docs)
    return (
        comp.groupBy("component_id")
        .agg(F.count("*").alias("n_members"), F.max("doc_id").alias("max_member"))
        .where(F.col("n_members") >= 2)
    )


def q_dedup_canonical(docs: DataFrame) -> DataFrame:
    """The deduplicated corpus — what a training-data pipeline actually
    ships downstream: one canonical row per duplicate component (the min
    doc_id, which IS the component id), with the number of near-dup rows it
    absorbed. Composes the full chain: shingle -> MinHash -> band ->
    candidates -> exact verify -> components -> keep-canonical."""
    comp = q_text_components(docs)
    sizes = comp.groupBy("component_id").agg(F.count("*").alias("n_absorbed"))
    return (
        comp.where(F.col("doc_id") == F.col("component_id"))
        .join(sizes, "component_id")
        .select(F.col("doc_id").alias("canonical_id"), "n_absorbed")
    )


def q_simhash_text(docs: DataFrame) -> DataFrame:
    """Per-document 64-bit SimHash signature."""
    return simhash_df(docs).select("doc_id", "simhash")


def q_simhash_neardup(docs: DataFrame) -> DataFrame:
    """SimHash near-duplicate pairs over the augmented corpus: band the
    64-bit signature into 4 x 16-bit chunks (pigeonhole: any pair with
    hamming <= 3 collides on >= 1 chunk), self-join on the chunk, verify
    with bit_count(xor) <= 3 — the audio channel's candidate->verify shape
    (SURVEY.md §2.7 L1/L2) on SQL-replayable text."""
    sig = simhash_df(augmented_docs(docs))
    chunks = F.array(*[F.col(f"chunk{b}") for b in range(SIM_BANDS)])
    bands = sig.select("doc_id", F.posexplode(chunks).alias("band_id", "chunk"))
    cand = capped_pairs(bands, ["band_id", "chunk"], "doc_id", DOC_BUCKET_CAP)
    sa = sig.select(F.col("doc_id").alias("a"), F.col("simhash").alias("sim_a"))
    sb = sig.select(F.col("doc_id").alias("b"), F.col("simhash").alias("sim_b"))
    return (
        cand.join(sa, "a").join(sb, "b")
        .withColumn(
            "hamming",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int"),
        )
        .where(F.col("hamming") <= SIM_HAMMING_MAX)
        .select("a", "b", "hamming")
    )


# ---- DuckDB oracle SQL -------------------------------------------------------

_TOKS = "list_filter(string_split(text, ' '), t -> t <> '')"
_PERM = f"(h1 * (2*p.perm_id+1) + (7919*p.perm_id+13)) % {MOD}"


def _horner_sql(lst: str, base: int, mod: int) -> str:
    """Unrolled K-term Horner chain over {lst}[i..i+K-1] (i is the
    list_transform lambda var, 1-based) — the exact twin of _horner."""
    acc = f"{lst}[i]"
    for j in range(1, K):
        acc = f"(({acc}) * {base} + {lst}[i+{j}]) % {mod}"
    return acc


def _sh_cte(src: str) -> str:
    """CTEs producing sh(doc_id, h1, h2): distinct 64-bit Horner hash pairs
    of the word-K-shingles of `src` — one md5 per TOKEN, zip-unnested
    positional chains, then row-level DISTINCT (the exact twin of
    _shingled; generate_series is empty when len < K)."""
    return f"""
      toks AS (SELECT doc_id, {_TOKS} AS tk FROM {src}),
      tmw AS (SELECT doc_id, list_transform(tk, t -> md5(t)) AS tm FROM toks),
      tww AS (SELECT doc_id,
               list_transform(tm, m -> ('0x' || substr(m, 1, 8))::BIGINT) AS w1,
               list_transform(tm, m -> ('0x' || substr(m, 9, 8))::BIGINT) AS w2
             FROM tmw),
      shp AS (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(w1) - {K - 1}),
                                     i -> {_horner_sql('w1', HB1, M1)})) AS h1,
               unnest(list_transform(generate_series(1, len(w2) - {K - 1}),
                                     i -> {_horner_sql('w2', HB2, M2)})) AS h2
             FROM tww),
      sh AS (SELECT DISTINCT doc_id, h1, h2 FROM shp)
    """


_AUG = f"""
  aug AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {CLONE_OFFSET} AS doc_id,
           array_to_string(({_TOKS})[2:len({_TOKS})], ' ') AS text
    FROM documents)
"""

_MH_FROM_SH = f"""
  mh AS (
    SELECT sh.doc_id, p.perm_id, min({_PERM}) AS minhash
    FROM sh CROSS JOIN (SELECT unnest(generate_series(0, {N_PERMS - 1})) AS perm_id) p
    GROUP BY 1, 2),
  bands AS (
    SELECT doc_id, perm_id // {ROWS} AS band_id,
           md5(string_agg(minhash::varchar, ',' ORDER BY perm_id)) AS band_hash
    FROM mh GROUP BY doc_id, perm_id // {ROWS})
"""

# count-filtered band self-join: exact SQL mirror of _candidates_from
_CAND = (
    capped_pairs_sql("bands", ["band_id", "band_hash"], "doc_id", DOC_BUCKET_CAP)
    + ",\n  cand AS (SELECT a, b FROM capped_cand)"
)

# MinHash-estimate prefilter: exact SQL mirror of q_jaccard_verify's
# minhash_agree_n >= PREFILTER_MIN_AGREE predicate (lane agreement counted
# from the long-format mh CTE)
_PRE = f"""
  pre AS (
    SELECT c.a, c.b
    FROM cand c
    JOIN mh ma ON ma.doc_id = c.a
    JOIN mh mb ON mb.doc_id = c.b AND mb.perm_id = ma.perm_id
              AND mb.minhash = ma.minhash
    GROUP BY c.a, c.b
    HAVING count(*) >= {PREFILTER_MIN_AGREE})
"""

SQL_DEDUP_EXACT = f"""
WITH both_t AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {CLONE_OFFSET}, text FROM documents)
SELECT md5(text) AS text_hash, count(*) AS n_dups, min(doc_id) AS canonical_id
FROM both_t GROUP BY 1 HAVING count(*) > 1
"""

SQL_SHINGLE_STATS = f"""
WITH {_sh_cte('documents')},
cnt AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id)
SELECT t.doc_id, len(t.tk) AS n_tokens,
       coalesce(c.n_shingles, 0)::INT AS n_shingles
FROM toks t LEFT JOIN cnt c ON c.doc_id = t.doc_id
"""

SQL_MINHASH_SIGS = f"""
WITH {_sh_cte('documents')},
{_MH_FROM_SH}
SELECT doc_id, perm_id, minhash FROM mh
"""

SQL_LSH_BANDS = f"""
WITH {_sh_cte('documents')},
{_MH_FROM_SH}
SELECT doc_id, band_id, band_hash FROM bands
"""

SQL_LSH_CANDIDATES = f"""
WITH {_AUG},
{_sh_cte('aug')},
{_MH_FROM_SH},
{_CAND}
SELECT a, b FROM cand
"""

# rotated second banding (exact mirror of _refined_bands_long): band b
# groups perm_ids [ROT_OFF + b*ROWS, ROT_OFF + (b+1)*ROWS), b in [0, BANDS-1)
_ROT_BANDS = f"""
  rot_bands AS (
    SELECT doc_id, {BANDS} + (perm_id - {ROT_OFF}) // {ROWS} AS band_id,
           md5(string_agg(minhash::varchar, ',' ORDER BY perm_id)) AS band_hash
    FROM mh
    WHERE perm_id >= {ROT_OFF} AND perm_id < {ROT_OFF + (BANDS - 1) * ROWS}
    GROUP BY doc_id, (perm_id - {ROT_OFF}) // {ROWS}),
  all_bands AS (
    SELECT * FROM bands UNION ALL SELECT * FROM rot_bands)
"""

SQL_LSH_CANDIDATES_REFINED = f"""
WITH {_AUG},
{_sh_cte('aug')},
{_MH_FROM_SH},
{_ROT_BANDS},
{capped_pairs_sql("all_bands", ["band_id", "band_hash"], "doc_id", DOC_BUCKET_CAP)}
SELECT a, b FROM capped_cand
"""

SQL_JACCARD_VERIFY = f"""
WITH {_AUG},
{_sh_cte('aug')},
{_MH_FROM_SH},
{_CAND},
{_PRE},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT c.a, c.b, count(*) AS n_int
  FROM pre c
  JOIN sh sa ON sa.doc_id = c.a
  JOIN sh sb ON sb.doc_id = c.b AND sb.h1 = sa.h1 AND sb.h2 = sa.h2
  GROUP BY 1, 2)
SELECT i.a, i.b,
       round(n_int / (za.n + zb.n - n_int), 6) AS jaccard
FROM inter i JOIN sizes za ON za.doc_id = i.a JOIN sizes zb ON zb.doc_id = i.b
WHERE round(n_int / (za.n + zb.n - n_int), 6) >= 0.5
"""

# components oracle: min-id reachability closure as a recursive CTE — an
# independent re-derivation of the star-algorithm fixpoint (walk(u,v) holds
# every v reachable from u; component id = least(u, min reachable)).
_COMPONENTS_CTE = f"""
WITH RECURSIVE {_AUG},
{_sh_cte('aug')},
{_MH_FROM_SH},
{_CAND},
{_PRE},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT c.a, c.b, count(*) AS n_int
  FROM pre c
  JOIN sh sa ON sa.doc_id = c.a
  JOIN sh sb ON sb.doc_id = c.b AND sb.h1 = sa.h1 AND sb.h2 = sa.h2
  GROUP BY 1, 2),
verified AS (
  SELECT i.a, i.b
  FROM inter i JOIN sizes za ON za.doc_id = i.a JOIN sizes zb ON zb.doc_id = i.b
  WHERE round(n_int / (za.n + zb.n - n_int), 6) >= 0.5),
sym AS (SELECT a AS u, b AS v FROM verified UNION SELECT b, a FROM verified),
walk(u, v) AS (
  SELECT u, v FROM sym
  UNION
  SELECT w.u, s.v FROM walk w JOIN sym s ON s.u = w.v),
reach AS (SELECT u AS doc_id, least(u, min(v)) AS component_id FROM walk GROUP BY u),
verts AS (SELECT doc_id FROM aug),
comp AS (
  SELECT v.doc_id, coalesce(r.component_id, v.doc_id) AS component_id
  FROM verts v LEFT JOIN reach r ON r.doc_id = v.doc_id)
"""

SQL_TEXT_COMPONENTS = f"""
{_COMPONENTS_CTE}
SELECT doc_id, component_id FROM comp
"""

SQL_COMPONENT_SIZES = f"""
{_COMPONENTS_CTE}
SELECT component_id, count(*) AS n_members, max(doc_id) AS max_member
FROM comp GROUP BY component_id HAVING count(*) >= 2
"""

SQL_DEDUP_CANONICAL = f"""
{_COMPONENTS_CTE}
SELECT component_id AS canonical_id, count(*) AS n_absorbed
FROM comp GROUP BY component_id
HAVING min(doc_id) = component_id
"""

_VOTES = ", ".join(
    f"sum(2 * (({'hlo' if i < 32 else 'hhi'} >> {i % 32}) & 1) - 1) AS v{i}"
    for i in range(SIM_BITS)
)
_CHUNKS = ", ".join(
    "("
    + " + ".join(
        f"CASE WHEN v{b * SIM_BAND_BITS + j} > 0 THEN {1 << j} ELSE 0 END"
        for j in range(SIM_BAND_BITS)
    )
    + f")::BIGINT AS chunk{b}"
    for b in range(SIM_BANDS)
)
# pack with the top bit applied as one min-long addition (DuckDB raises on
# bigint overflow, so the naive chunk3 << 48 is not expressible)
_PACK = (
    f"chunk0 + chunk1 * {1 << 16} + chunk2 * {1 << 32}"
    f" + (chunk3 & {0x7FFF}) * {1 << 48}"
    f" + CASE WHEN (chunk3 >> 15) & 1 = 1"
    f" THEN (-{(1 << 63) - 1}::BIGINT - 1::BIGINT) ELSE 0 END"
)


def _sim_cte(src_sh: str = "sh") -> str:
    """CTEs sh(doc_id, h1, h2) -> sim(doc_id, simhash, chunk0..chunk3):
    the Horner pair is the 64-bit per-shingle hash (bits 0-31 from h1,
    32-63 from h2 — the exact twin of _simhash_pack_kernel's lanes)."""
    return f"""
  shh AS (SELECT doc_id, h1 AS hlo, h2 AS hhi FROM {src_sh}),
  votes AS (SELECT doc_id, {_VOTES} FROM shh GROUP BY doc_id),
  chunks_t AS (SELECT doc_id, {_CHUNKS} FROM votes),
  sim AS (SELECT doc_id, ({_PACK})::BIGINT AS simhash,
                 chunk0, chunk1, chunk2, chunk3
          FROM chunks_t)
"""


SQL_SIMHASH_TEXT = f"""
WITH {_sh_cte('documents')},
{_sim_cte()}
SELECT doc_id, simhash FROM sim
"""

SQL_SIMHASH_NEARDUP = f"""
WITH {_AUG},
{_sh_cte('aug')},
{_sim_cte()},
chunks AS (
  SELECT doc_id, b.band_id,
         CASE b.band_id WHEN 0 THEN chunk0 WHEN 1 THEN chunk1
                        WHEN 2 THEN chunk2 ELSE chunk3 END AS chunk
  FROM sim CROSS JOIN (SELECT unnest(generate_series(0, {SIM_BANDS - 1})) AS band_id) b),
{capped_pairs_sql('chunks', ['band_id', 'chunk'], 'doc_id', DOC_BUCKET_CAP)}
SELECT c.a, c.b, bit_count(xor(sa.simhash, sb.simhash))::INT AS hamming
FROM capped_cand c
JOIN sim sa ON sa.doc_id = c.a
JOIN sim sb ON sb.doc_id = c.b
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {SIM_HAMMING_MAX}
"""
