"""Similarity search over the embeddings table.

Brute-force cosine top-k is the small-scale oracle path (the reference's
cartesian `brute` method, ReliefFFeatureSelector.scala:120-152, reshaped:
queries x corpus instead of corpus x corpus). The LSH-bucketed variant is
the scale path: random-hyperplane SimHash over embeddings -> multi-probe
band join, the same machinery as the audio channel.

Cosine is defined as the higher-order-function left fold (zip_with +
aggregate) in doubles, rounded before output so the DuckDB oracle
(list_dot_product on DOUBLE[]) matches bit-for-bit. It EXECUTES as the
Arrow seqfold kernel (functions/distance.cosine_seqfold), a bit-identical
replacement for the interpreted HOF fold — HOF lambdas are CodegenFallback,
~200 interpreted evals per 64-dim pair, which dominated every cosine-verify
query once pairs numbered in the millions (measured 1.4-1.8x whole-query at
sf1x, recorded in BENCH/cos_kernel_probe.json; equivalence argument in the
kernel's docstring, pinned against _cos_hof by
tests/test_ann.py::test_cosine_seqfold_bitexact).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from relieff_lsh_spark.barrier import barrier

N_QUERIES = 20   # vec_id < 20 are the query set
TOP_K = 5
NEARDUP_MIN_COS = 0.30


def _cos_hof(a, b):
    """The defining JVM form (kept as the spec the Arrow kernel is
    test-pinned against; interpreted HOF evaluation — do not put back on
    the hot path)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)


def _cos(a, b):
    from relieff_lsh_spark.functions.distance import cosine_seqfold

    return cosine_seqfold(a, b)


def _dbl(col):
    return F.col(col).cast("array<double>")


def q_knn_bruteforce(emb: DataFrame) -> DataFrame:
    """Top-5 cosine neighbors for each of the first N_QUERIES vectors.
    Broadcast the tiny query side; rank with a window (SURVEY.md §2.5 W1 —
    the reference's bounded top-K selection as row_number <= K)."""
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), _dbl("embedding").alias("qv")
    )
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"), _dbl("embedding").alias("cv"))
    scored = (
        corpus.join(F.broadcast(queries), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", F.round(_cos(F.col("qv"), F.col("cv")), 6))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


EMB_LABEL_CAP = 256  # skew cap on the blocking key: a label group larger
#                      than this emits no pairs (count-filtered join, same
#                      policy as operators/capped.py and the corpus bucket
#                      cap) — a data-dependent hot label can no longer
#                      degrade the self-join to O(c^2). At the shipped SFs
#                      every label group is under the cap (max 218 at
#                      sf0.1), so results are identical to the uncapped
#                      form; the cap exists for the skewed corpus case.


def _group_pairs_cos(pdf: pd.DataFrame) -> pd.DataFrame:
    """All a<b pairs within one label group with the UNROUNDED seqfold
    cosine. Per-pair arithmetic is the exact dim-by-dim left fold of
    _cos_seqfold_kernel (acc += A[:,i]*B[:,i] — each pair's value depends
    only on its own two vectors), so values are bit-identical to the
    _cos_hof spec; F.round stays Spark-side (HALF_UP, not numpy's
    half-even). A vec_id repeated within a group never pairs
    with itself: a < b is strict."""
    ids = pdf["vec_id"].to_numpy()
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    M = np.stack(pdf["v"].to_numpy())[order]
    n = len(ids)
    ia, ib = np.triu_indices(n, k=1)
    distinct = ids[ia] != ids[ib]
    ia, ib = ia[distinct], ib[distinct]
    A, B = M[ia], M[ib]
    m = len(ia)
    dot = np.zeros(m)
    na2 = np.zeros(m)
    nb2 = np.zeros(m)
    for i in range(M.shape[1]):
        ai = A[:, i]
        bi = B[:, i]
        dot += ai * bi
        na2 += ai * ai
        nb2 += bi * bi
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = dot / (np.sqrt(na2) * np.sqrt(nb2))
    return pd.DataFrame({
        "label": pdf["label"].iloc[:1].repeat(m).reset_index(drop=True)
        if m else pdf["label"].iloc[:0],
        "a": ids[ia],
        "b": ids[ib],
        "cos_raw": cos,
    })


def q_embedding_neardup(emb: DataFrame) -> DataFrame:
    """Label-blocked near-duplicate pairs (cosine >= threshold). Blocking is
    the deterministic analog of LSH bucketing here: candidates only within a
    partition key, then exact verification — same candidate->verify shape as
    the corpus pipeline, including its bucket cap.

    Round-6 shape: pair generation + the cosine fold moved INTO a grouped
    Arrow stage (applyInPandas per label) — each vector crosses the Python
    boundary ONCE per group instead of riding every pair through two joins
    (~(label_n)/2 x less Arrow traffic; the label cap bounds a group's
    pair fan-out at EMB_LABEL_CAP^2/2). Values bit-identical (docstring of
    _group_pairs_cos; pinned by the DuckDB oracle hash); 1.55x on this
    query in round 6 (BENCH/r06_groupcos_probe_sf1x.json)."""
    counts = emb.groupBy("label").agg(F.count("*").alias("label_n"))
    kept = emb.join(counts, "label").where(F.col("label_n") <= EMB_LABEL_CAP)
    pairs = (
        kept.select("label", "vec_id", _dbl("embedding").alias("v"))
        .groupBy("label")
        .applyInPandas(
            _group_pairs_cos,
            schema="label int, a bigint, b bigint, cos_raw double",
        )
    )
    return (
        pairs.withColumn("cos_sim", F.round(F.col("cos_raw"), 6))
        .where(F.col("cos_sim") >= NEARDUP_MIN_COS)
        .select("label", "a", "b", "cos_sim")
    )


ANN_DIM = 64        # embeddings table dimensionality
ANN_PLANES = 16     # 16 sign bits -> two 8-bit bands
ANN_BAND_BITS = 8
ANN_QUANT = 1_000_000   # fixed-point scale: dot products are exact integers
ANN_BUCKET_CAP = 64     # count-filtered skew cap (SQL-replayable drop tier)


def ann_hyperplanes(n_planes: int = ANN_PLANES) -> list[list[int]]:
    """Deterministic {+1,-1} hyperplane matrix (n_planes x ANN_DIM),
    derived from md5 parity of "p{plane}:{dim}" — engine-independent, and
    PRECOMPUTED here so the plan embeds it as literal arrays (Catalyst does
    not constant-fold inside higher-order-function lambdas; deriving these
    per row cost ~1024 md5 calls/row in the first implementation)."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"p{p}:{d}".encode()).hexdigest()[0] in "02468ace" else -1
            for d in range(ANN_DIM)
        ]
        for p in range(n_planes)
    ]


ANN_TARGET_FILL = 8    # expected rows per band bucket the derived geometry
#                        aims for (8x headroom under ANN_BUCKET_CAP, same
#                        rationale as IVF_TARGET_FILL)
ANN_DESIGN_P = 0.9     # per-bit agreement the recall budget is designed at
#                        (cos ~0.95 near-dups: p = 1 - arccos(0.95)/pi = 0.899)
ANN_CAND_RECALL = 0.9  # candidate recall target at ANN_DESIGN_P
ANN_MAX_BAND_BITS = 20  # 2^bits buckets per band; past this, selectivity
#                        gains nothing on any corpus this sandbox holds
ANN_MAX_BANDS = 16     # linear cost ceiling (round-5: raised from 8 after
#                        measuring the cost really is linear in bands —
#                        BENCH/ann_recall_probe.py records signature+join
#                        wall at 8 vs 16 bands). With 16 bands the design
#                        recall holds >= ANN_CAND_RECALL through bits=18
#                        (n ~2M at fill 8); past that the clamp degrades
#                        recall OBSERVABLY: ann_cand_geometry logs the
#                        effective value and ann_design_recall() exposes it
#                        (round-4 ADVICE: never silent).


def ann_design_recall(bands: int, bits: int, p: float = ANN_DESIGN_P) -> float:
    """Effective candidate-recall the (bands, bits) geometry is designed to
    deliver at per-bit agreement p: 1 - (1 - p^bits)^bands."""
    return 1.0 - (1.0 - p ** bits) ** bands


def ann_cand_geometry(n_vectors: int) -> tuple[int, int]:
    """(bands, band_bits) for the candidates suite at a corpus of n_vectors:
    band selectivity (bits) grows with n so the EXPECTED bucket fill stays
    at ANN_TARGET_FILL (the round-4 IVF precedent — a fixed 2x8-bit geometry
    measured 77% of rows count-cap-dropped at 20k vectors); the band COUNT
    then comes from the LSH recall budget ann_design_recall >= target at
    the design per-bit agreement. Both clamped (documented above); a
    binding clamp is logged with the degraded effective recall."""
    import math

    bits = max(
        ANN_BAND_BITS,
        math.ceil(math.log2(max(2.0, n_vectors / ANN_TARGET_FILL))),
    )
    bits = min(bits, ANN_MAX_BAND_BITS)
    p_band = ANN_DESIGN_P ** bits
    bands = math.ceil(math.log(1.0 - ANN_CAND_RECALL) / math.log(1.0 - p_band))
    bands = max(2, min(bands, ANN_MAX_BANDS))
    eff = ann_design_recall(bands, bits)
    if eff < ANN_CAND_RECALL:
        import logging

        logging.getLogger(__name__).warning(
            "ann_cand_geometry: ANN_MAX_BANDS=%d clamp binds at n=%d "
            "(bits=%d): design recall %.3f < target %.2f — raise the "
            "ceiling (cost is linear in bands) for full recall",
            ANN_MAX_BANDS, n_vectors, bits, eff, ANN_CAND_RECALL,
        )
    return bands, bits


def q_simhash_ann_candidates(emb: DataFrame, n_vectors: int | None = None) -> DataFrame:
    """Scale-path ANN: random-hyperplane SimHash bands over embeddings ->
    count-capped band self-join (the audio channel's multi-index, reference
    ReliefFFeatureSelector.scala:156-165, over embeddings), with the band
    geometry derived from the corpus size by ann_cand_geometry(n) — pass
    n_vectors to skip the count job when the caller already knows it.

    Exactness contract: embeddings are quantized to fixed-point bigints
    (round(x * 1e6), JVM-side where Spark/DuckDB agree on round-half-up)
    and the hyperplane weights are {+1,-1}, so every projection is exact
    integer arithmetic (|dot| < 2^33 << 2^63) and the sign bits are
    bit-identical across engines; ann_sql(n) generates the value-identical
    DuckDB oracle for the same derived geometry."""
    from relieff_lsh_spark.operators.capped import capped_pairs

    n = n_vectors if n_vectors is not None else emb.count()
    bands, bits = ann_cand_geometry(n)
    sigs = _ann_band_sigs(emb, band_bits=bits, n_planes=bands * bits)
    return capped_pairs(sigs, ["band_id", "band_hash"], "vec_id", ANN_BUCKET_CAP)


def _ann_band_sigs(
    emb: DataFrame, band_bits: int = ANN_BAND_BITS, n_planes: int | None = None
) -> DataFrame:
    """(vec_id, band_id, band_hash): integer-exact random-hyperplane SimHash
    banding over n_planes sign bits (default ANN_PLANES), band width
    `band_bits` (n_planes // band_bits bands — fewer bits per band = more,
    coarser probes = higher recall at lower selectivity).

    The projections run as ONE exact int64 numpy matmul per Arrow batch
    (the IVF stage's proven shape, _ivf_assignments): quantization stays
    JVM-side where both engines agree on round-half-up, and the sign/pack
    arithmetic is integer-exact, so cross-engine determinism is untouched.
    The earlier all-HOF formulation evaluated n_planes x 64 interpreted
    lambdas per row — fine at 16 planes, the dominant cost once the derived
    geometry grows past ~40."""
    if n_planes is None:
        n_planes = ANN_PLANES
    n_bands = n_planes // band_bits
    planes_np = np.asarray(ann_hyperplanes(n_planes), dtype=np.int64)
    pow2 = (1 << np.arange(band_bits, dtype=np.int64))
    vq = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * ANN_QUANT).cast("long"),
    )

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def band_hashes(vq_s: pd.Series) -> pd.Series:
        m = np.stack(vq_s.to_numpy()).astype(np.int64)
        bits = (m @ planes_np.T) > 0
        out = np.empty((m.shape[0], n_bands), dtype=np.int32)
        for b in range(n_bands):
            out[:, b] = bits[:, b * band_bits:(b + 1) * band_bits] @ pow2
        return pd.Series(list(out))

    sigs = (
        emb.select("vec_id", vq.alias("vq"))
        .select("vec_id", band_hashes("vq").alias("bh"))
        .select(
            "vec_id", F.posexplode("bh").alias("band_id", "band_hash")
        )
    )
    return barrier(sigs)  # evaluate the signature UDF once, not on
    # every side of the downstream self-join


ANN_TOPK_BAND_BITS = 4  # 4 bands x 4 bits: recall-oriented probe geometry;
#                         at per-bit agreement p, P(candidate) = 1-(1-p^4)^4
#                         (~0.43 at the synthetic table's top-5 cos ~0.31)


def q_ann_topk(emb: DataFrame) -> DataFrame:
    """End-to-end approximate top-K search: band-collision candidates ->
    exact cosine verify -> per-query row_number <= K. The approximate twin
    of q_knn_bruteforce (same output shape; may return fewer than K rows
    per query when the LSH probes miss — that recall gap IS the ANN
    trade-off, measured against the theoretical collision probability in
    tests/test_ann.py).

    No bucket cap needed here, by construction: the probe side is the
    bounded query set, so a degenerate bucket of c vectors emits
    O(N_QUERIES * c) pairs — linear in c, never O(c^2)."""
    sigs = _ann_band_sigs(emb, ANN_TOPK_BAND_BITS)
    qb = sigs.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "band_id", "band_hash"
    )
    cand = (
        qb.join(sigs, ["band_id", "band_hash"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    v = emb.select("vec_id", _dbl("embedding").alias("v"))
    scored = (
        cand.join(v.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv")), "query_id")
        .join(v.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv")), "neighbor_id")
        .withColumn("cos_sim", F.round(_cos(F.col("qv"), F.col("cv")), 6))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


SQL_KNN_BRUTEFORCE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6)
           AS cos_sim
  FROM e q JOIN e c ON c.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, rank, neighbor_id, cos_sim FROM ranked WHERE rank <= {TOP_K}
"""

IVF_MIN_COS = 0.30
IVF_PROBES = 3    # multi-probe: each vector is assigned to its top-P
#                   directions per group (P^G composite probes), so boundary
#                   pairs still co-probe
IVF_CELL_CAP = 64  # in-cell skew cap (count-filtered, SQL-replayable)
IVF_MAX_DIRS = 512  # per-group centroid ceiling. Round-5: the coarse
#                   quantizer is TRAINED (product k-means over a
#                   deterministic data sample, train_ivf_directions), and
#                   the training sample SCALES with dirs
#                   (ivf_train_sample_size keeps >= IVF_TRAIN_PTS_PER_CENTROID
#                   points per centroid), so the ceiling is the sample-size
#                   budget (16*512 = 8192 <= IVF_TRAIN_SAMPLE_MAX), not the
#                   old +/-1 plane family's code balance. Raised 256 -> 512
#                   after the n=1M probe measured the groups=2->3 recall
#                   step-down (0.9643 -> 0.9238): fewer product groups means
#                   fewer independent codes a near-dup pair must agree in,
#                   so groups=2 is held to 512^2*fill ~ 2.1M vectors;
#                   dirs^groups with groups<=3 covers n up to ~1.07e9 at
#                   IVF_TARGET_FILL=8 before any clamp binds.
IVF_MAX_GROUPS = 3  # probe multiplicity is bounded separately
#                   (IVF_PROBE_GROUPS); groups is clamped because each
#                   product group quantizes a 64/groups-dim block — past 3
#                   blocks the per-block signal on 64-dim data thins out
IVF_TARGET_FILL = IVF_CELL_CAP // 8  # expected PRIMARY rows per cell the
#                   geometry aims for: 8x headroom under the cap absorbs
#                   data clustering (measured: a 64-cell space at sf0.001
#                   had 41 cells OVER cap from label clustering)
IVF_FILL_SLACK = 2  # how far past IVF_TARGET_FILL expected fill may drift
#                   before the geometry adds a product group (see
#                   ivf_geometry docstring — a group costs ~4 recall
#                   points, measured; doubled fill costs 2x candidate
#                   pairs and stays 4x under the cap)
IVF_PROBE_GROUPS = 2  # multi-probe budget: only the IVF_PROBE_GROUPS groups
#                   with the SMALLEST top1-top2 dot margin (the least
#                   confident assignments — where a boundary miss is likely)
#                   probe their top-IVF_PROBES directions; confident groups
#                   probe only their argmax. Composite probes per vector are
#                   therefore <= IVF_PROBES^IVF_PROBE_GROUPS regardless of
#                   how many groups the derived geometry uses — without the
#                   budget, g=3 geometry probed 27 cells/vector and the
#                   probe join tripled for no measured recall gain.


def ivf_geometry(n_vectors: int) -> tuple[int, int]:
    """(groups, dirs) for a corpus of n_vectors: the smallest product
    quantizer whose cell count dirs^groups keeps the EXPECTED primary-cell
    fill (each vector is ASSIGNED to exactly one composite cell; only the
    probe side multiplies) at or under IVF_TARGET_FILL. This is the round-3
    "production derives the geometry from n" note made real: the cell count
    GROWS with n, so in-cell verify work stays bounded per cell instead of
    reverting to Θ(n²/cells) with a fixed cell space.

    Adding a product group is recall-expensive (the n=1M probe measured the
    2->3 transition at -4 recall points: a pair must co-probe in one more
    INDEPENDENT code), so before adding one the rule accepts dirs capped at
    IVF_MAX_DIRS as long as expected fill stays within IVF_FILL_SLACK x
    target — fill 16 is still 4x under the cap, and candidate pairs grow
    only linearly in fill (cells x fill^2 = n x fill). groups=2 therefore
    holds to IVF_MAX_DIRS^2 x target x slack ~ 4.2M vectors; past that the
    named production fix is a larger training budget or hierarchical
    coarse training, not more product groups."""
    needed = max(2, math.ceil(n_vectors / IVF_TARGET_FILL))
    for groups in range(1, IVF_MAX_GROUPS + 1):
        dirs = math.ceil(needed ** (1.0 / groups))
        if dirs <= IVF_MAX_DIRS:
            return groups, max(dirs, 2)
        fill = n_vectors / (IVF_MAX_DIRS ** groups)
        if fill <= IVF_TARGET_FILL * IVF_FILL_SLACK:
            return groups, IVF_MAX_DIRS
    return IVF_MAX_GROUPS, IVF_MAX_DIRS


# -- trained coarse quantizer (round-5) --------------------------------------
# The IVF cell structure used to come from the fixed +/-1 md5-parity plane
# family, clamped at 4096 cells — past ~30k vectors cells over-filled and the
# cap dropped rows (counted, but recall decayed). Production IVF trains its
# coarse quantizer from the data (the reference's analog is KNiNe's
# auto-tuned keyLength/numTables, ReliefFFeatureSelector.scala:158-161,
# 534-536); here that is a deterministic product k-means:
#
#   * sample: every vec_id % stride == 0 row, vec_id order, first
#     ivf_train_sample_size(n) — a rule both engines (and both read paths: Spark
#     collect / pyarrow footer read) reproduce bit-identically, because
#     float32 parquet values widen exactly to float64 either way.
#   * product structure: the 64 dims split into `groups` contiguous blocks
#     (classic PQ coarse quantization), `dirs` centroids k-means-trained per
#     block — cell diversity across groups is by construction (disjoint
#     dims), not by seed luck.
#   * integer domain: the sample is quantized once (scale ANN_QUANT) and
#     every k-means step is exact — int64 sums, argmax scores
#     2*(x.c) - |c|^2 whose values stay far below 2^53 so even float64 BLAS
#     matmuls of them are EXACT (every partial sum is an integer < 2^53) —
#     so training is deterministic across processes, and the trained
#     centroids can be emitted as literal BIGINT VALUES into the DuckDB
#     oracle (ivf_sql), keeping the cross-engine exactness contract.
#
# Assignment everywhere (UDF + SQL) is argmin L2 over a block, expressed as
# argmax of the exact integer score 2*(vq.cq) - |cq|^2, ties to the lower
# direction index.

IVF_TRAIN_SAMPLE = 4096   # sample-row FLOOR the quantizer trains on
IVF_TRAIN_PTS_PER_CENTROID = 16  # sample grows with dirs so k-means never
#                           trains more centroids than the sample supports
IVF_TRAIN_SAMPLE_MAX = 16384  # driver-collect ceiling (16384 x 64 float64
#                           = 8 MB — the reference's side-table tier)
IVF_KMEANS_ITERS = 20     # fixed Lloyd iteration budget (early-stops on
#                           centroid fixpoint; determinism needs a bound,
#                           not convergence)


def ivf_train_sample_size(n_vectors: int) -> int:
    """Training-sample rows for a corpus of n_vectors: the floor, or
    IVF_TRAIN_PTS_PER_CENTROID per trained centroid once the derived dirs
    outgrows the floor (dirs > 256), capped at the driver-collect ceiling.
    A pure function of n on both engines, so the sampling paths stay
    bit-identical."""
    _, dirs = ivf_geometry(n_vectors)
    return min(
        IVF_TRAIN_SAMPLE_MAX,
        max(IVF_TRAIN_SAMPLE, IVF_TRAIN_PTS_PER_CENTROID * dirs),
    )


def ivf_sample_stride(n_vectors: int) -> int:
    return max(1, n_vectors // ivf_train_sample_size(n_vectors))


def ivf_sample_spark(emb: DataFrame, n_vectors: int) -> np.ndarray:
    """Deterministic training sample via Spark: (ivf_train_sample_size(n)
    x dim) float64. A bounded driver collect (<= 16384 rows x 64 floats),
    the same tier as the reference's driver-side side tables (R:233-234)."""
    stride = ivf_sample_stride(n_vectors)
    rows = (
        emb.where(F.col("vec_id") % stride == 0)
        .orderBy("vec_id")
        .limit(ivf_train_sample_size(n_vectors))
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    )
    return np.array([r["v"] for r in rows], dtype=np.float64)


def ivf_sample_parquet(path: str, n_vectors: int | None = None) -> np.ndarray:
    """The same sample read engine-free from the parquet footer path — what
    oracle_sql() uses, so the generated SQL never needs a SparkSession.
    Bit-identical to ivf_sample_spark on the same file (pinned by
    tests/test_ann.py::test_ivf_sample_paths_agree)."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["vec_id", "embedding"])
    vid = t["vec_id"].to_numpy()
    n = int(n_vectors) if n_vectors is not None else len(vid)
    stride = ivf_sample_stride(n)
    keep = np.flatnonzero(vid % stride == 0)
    keep = keep[np.argsort(vid[keep], kind="stable")][:ivf_train_sample_size(n)]
    emb = t["embedding"].combine_chunks()
    flat = np.asarray(emb.values, dtype=np.float64)
    dim = len(flat) // len(vid)
    return flat.reshape(len(vid), dim)[keep]


def _kmeans_int(X: np.ndarray, k: int, seed: int) -> np.ndarray:
    """Deterministic Lloyd k-means over int64-quantized points. All
    arithmetic exact (see block comment above); empty clusters steal the
    worst-fit points (lowest own score, ties by stable sort order)."""
    S = X.shape[0]
    rng = np.random.default_rng(seed)
    idx = rng.choice(S, k, replace=False) if k <= S else np.resize(np.arange(S), k)
    C = X[idx].copy()
    Xf = X.astype(np.float64)
    for _ in range(IVF_KMEANS_ITERS):
        Cf = C.astype(np.float64)
        scores = 2.0 * (Xf @ Cf.T) - (Cf * Cf).sum(axis=1)[None, :]
        assign = scores.argmax(axis=1)  # ties -> lowest centroid index
        counts = np.bincount(assign, minlength=k)
        sums = np.zeros((k, X.shape[1]), dtype=np.int64)
        np.add.at(sums, assign, X)
        newC = C.copy()
        nonempty = counts > 0
        newC[nonempty] = np.floor(
            sums[nonempty] / counts[nonempty, None] + 0.5
        ).astype(np.int64)
        empties = np.flatnonzero(~nonempty)
        if empties.size:
            worst = np.argsort(scores[np.arange(S), assign], kind="stable")
            for t, j in enumerate(empties):
                newC[j] = X[worst[t % S]]
        if np.array_equal(newC, C):
            break
        C = newC
    return C


_IVF_TRAIN_CACHE: dict[tuple, tuple[np.ndarray, np.ndarray]] = {}


def train_ivf_directions(
    sample: np.ndarray, groups: int, dirs: int
) -> tuple[np.ndarray, np.ndarray]:
    """(D, n2): D is the (groups*dirs x dim) int64 centroid matrix, each
    row zero outside its group's contiguous dim block; n2 its exact squared
    norms. Cached on (groups, dirs, sample bytes) — the bench re-derives the
    same quantizer per query otherwise."""
    import hashlib

    key = (groups, dirs, hashlib.sha1(np.ascontiguousarray(sample).tobytes()).hexdigest())
    hit = _IVF_TRAIN_CACHE.get(key)
    if hit is not None:
        return hit
    S, dim = sample.shape
    Xq = np.floor(sample * ANN_QUANT + 0.5).astype(np.int64)
    bounds = [round(g * dim / groups) for g in range(groups + 1)]
    D = np.zeros((groups * dirs, dim), dtype=np.int64)
    for g in range(groups):
        lo, hi = bounds[g], bounds[g + 1]
        D[g * dirs:(g + 1) * dirs, lo:hi] = _kmeans_int(
            Xq[:, lo:hi], dirs, seed=1000 + g
        )
    n2 = (D * D).sum(axis=1)
    _IVF_TRAIN_CACHE[key] = (D, n2)
    return D, n2


def _ivf_probe_width(groups: int, dirs: int) -> int:
    """Per-group probe count for budgeted groups: top-IVF_PROBES directions,
    except flat (groups=1) geometry spends the whole composite budget
    IVF_PROBES^IVF_PROBE_GROUPS in its single group — composite probes per
    vector stay <= that budget in every geometry. Past 256 directions per
    group the width grows by one per doubling (standard IVF: nprobe scales
    with the cell count, else constant-fill cell shrink decays recall — the
    n=1M probe measured 0.9419 at fixed top-3 vs 0.9643 at n=200k); the
    growth is log2, so the composite budget stays polylog in n. A pure
    function of (groups, dirs), shared by the Spark plan and the generated
    DuckDB oracle (ivf_sql), so cross-engine exactness survives the rule."""
    if groups == 1:
        return min(dirs, IVF_PROBES ** IVF_PROBE_GROUPS)
    extra = max(0, math.ceil(math.log2(dirs / 256))) if dirs > 256 else 0
    return min(IVF_PROBES + extra, dirs)


def q_ivf_ann_pairs(
    emb: DataFrame,
    n_vectors: int | None = None,
    sample: np.ndarray | None = None,
) -> DataFrame:
    """IVF ANN with a corpus-size-derived, DATA-TRAINED cell structure: the
    coarse quantizer is the PRODUCT of `groups` independent k-means codes
    (one per contiguous dim block, `dirs` trained centroids each; see the
    trained-quantizer block comment above), geometry from ivf_geometry(n) —
    pass n_vectors to skip the count job, and `sample` to skip the sample
    collect, when the caller already has them. Scale guards:

      * standard IVF asymmetry: every vector is ASSIGNED to exactly one
        composite cell (its per-group argmax) but PROBES its top-IVF_PROBES
        directions in its IVF_PROBE_GROUPS least-confident groups (smallest
        top1-top2 margin; other groups probe only their argmax) — a pair is
        a candidate when either side's primary cell is in the other's probe
        set, which closes the single-probe boundary miss at <=
        IVF_PROBES^IVF_PROBE_GROUPS x the primary row mass, NOT (P^G)^2
        (the first round-4 cut multi-probed both join sides and generated
        ~450x the surviving pairs in candidates);
      * the probe-primary join runs through a count filter on PRIMARY cell
        fill (cap IVF_CELL_CAP), so one degenerate cell cannot emit O(c²)
        pairs (tests/test_ann.py pins this with a planted hot cell), and
        drops are countable via capped_pairs_stats — never silent.

    All arithmetic is exact integers (quantized embeddings x trained integer
    centroid literals), ties broken by direction index — deterministic
    cross-engine; ivf_sql(n, sample) generates the value-identical DuckDB
    oracle for the same geometry and the same trained centroids."""
    n = n_vectors if n_vectors is not None else emb.count()
    groups, dirs = ivf_geometry(n)
    if sample is None:
        sample = ivf_sample_spark(emb, n)
    D, n2 = train_ivf_directions(sample, groups, dirs)
    keys = [f"c{g}" for g in range(groups)]
    asg = barrier(_ivf_assignments(emb, groups, dirs, D, n2))
    primary = asg.where(F.col("is_primary"))
    counts = primary.groupBy(*keys).agg(F.count("*").alias("cell_n"))
    kept_primary = (
        primary.join(counts, keys).where(F.col("cell_n") <= IVF_CELL_CAP)
    )
    kept_probe = asg.join(counts, keys).where(F.col("cell_n") <= IVF_CELL_CAP)
    p, q = kept_probe.alias("p"), kept_primary.alias("q")
    pairs = (
        p.join(q, keys)
        .where(F.col("p.vec_id") != F.col("q.vec_id"))
        .select(
            F.least("p.vec_id", "q.vec_id").alias("a"),
            F.greatest("p.vec_id", "q.vec_id").alias("b"),
        )
        .distinct()
    )
    v = emb.select("vec_id", _dbl("embedding").alias("v"))
    return (
        pairs.join(v.select(F.col("vec_id").alias("a"), F.col("v").alias("va")), "a")
        .join(v.select(F.col("vec_id").alias("b"), F.col("v").alias("vb")), "b")
        .withColumn("cos_sim", F.round(_cos(F.col("va"), F.col("vb")), 6))
        .where(F.col("cos_sim") >= IVF_MIN_COS)
        .select("a", "b", "cos_sim")
    )


def _ivf_assignments(
    emb: DataFrame,
    groups: int,
    dirs: int,
    D: np.ndarray | None = None,
    n2: np.ndarray | None = None,
) -> DataFrame:
    """(vec_id, c0..c{groups-1}, is_primary): one row per composite probe
    cell — the cross product of each group's top-P trained directions
    (1-based within the group, P = _ivf_probe_width); is_primary marks the
    single all-argmax cell the vector is ASSIGNED to. D/n2 are the trained
    centroid matrix + exact squared norms (train_ivf_directions); None
    trains from this DataFrame's own stride sample. Narrow (per-row Arrow
    arithmetic, no shuffle); the checkpoint is the usual CollapseProject
    barrier so the scores are computed once per row, not once per
    downstream reference."""
    if D is None or n2 is None:
        D, n2 = train_ivf_directions(
            ivf_sample_spark(emb, emb.count()), groups, dirs
        )
    vq = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * ANN_QUANT).cast("long"),
    )

    P = _ivf_probe_width(groups, dirs)
    Df = D.astype(np.float64)
    n2f = n2.astype(np.float64)

    # ONE Arrow batch step does everything per-vector: the centroid-score
    # matmul, then per-group top-P direction picks and the top1-top2 margin.
    # Scores are 2*(vq.cq) - |cq|^2 on the JVM-quantized values
    # (quantization stays JVM-side where Spark/DuckDB agree on
    # round-half-up): every product and partial sum is an integer far below
    # 2^53, so the float64 BLAS matmul is EXACT and cross-engine
    # determinism is untouched. Ties pick the lower direction index (stable
    # argsort of -scores), exactly the oracle's row_number() OVER
    # (ORDER BY score DESC, idx ASC). Returns a flat array per row: for
    # each group, P 1-based picks then the margin.
    # History: a HOF formulation of the dots evaluated groups*dirs*ANN_DIM
    # interpreted lambdas per row (measured 36s for 20k rows at (3,14));
    # its masked-argmax successor computed picks in JVM expressions whose
    # trees were so large that Catalyst analysis/codegen dominated small
    # inputs (measured 6.4s of a 10.4s warm query at 2k rows) — folding
    # pick/margin selection into the existing numpy step removes both.
    @F.pandas_udf(T.ArrayType(T.LongType()))
    def plane_pkm(vq_s: pd.Series) -> pd.Series:
        m = np.stack(vq_s.to_numpy()).astype(np.float64)
        d = (2.0 * (m @ Df.T) - n2f[None, :]).astype(np.int64)
        out = np.empty((d.shape[0], groups * (P + 1)), dtype=np.int64)
        for g in range(groups):
            gd = d[:, g * dirs:(g + 1) * dirs]
            order = np.argsort(-gd, axis=1, kind="stable")
            base = g * (P + 1)
            out[:, base:base + P] = order[:, :P] + 1  # 1-based direction ids
            if dirs > 1:
                top2 = -np.sort(-gd, axis=1)[:, :2]
                out[:, base + P] = top2[:, 0] - top2[:, 1]
            else:
                out[:, base + P] = 0
        return pd.Series(list(out))

    out = barrier(
        emb.select("vec_id", vq.alias("vq"))
        .select("vec_id", plane_pkm("vq").alias("pkm")),
        eager=False,
    ).select(
        "vec_id",
        *[F.slice("pkm", g * (P + 1) + 1, P).alias(f"pk{g}")
          for g in range(groups)],
        *[F.element_at("pkm", g * (P + 1) + P + 1).alias(f"m{g}")
          for g in range(groups)],
    )
    # pk/m are cheap O(1) reads of the materialized pkm attribute, so the
    # multi-reference budget expressions below need no further barrier
    # probe budget: group g probes all its picks only when its margin ranks
    # among the IVF_PROBE_GROUPS smallest (ties -> lower group index)
    def probes_of(g: int):
        rank = sum(
            (
                (F.col(f"m{k}") < F.col(f"m{g}"))
                | ((F.col(f"m{k}") == F.col(f"m{g}")) & F.lit(k < g))
            ).cast("int")
            for k in range(groups)
            if k != g
        ) if groups > 1 else F.lit(0)
        return F.when(
            rank < IVF_PROBE_GROUPS, F.col(f"pk{g}")
        ).otherwise(F.slice(f"pk{g}", 1, 1))

    out = out.select(
        "vec_id",
        *[probes_of(g).alias(f"p{g}") for g in range(groups)],
        *[F.element_at(f"pk{g}", 1).alias(f"prim{g}") for g in range(groups)],
    )
    done: list[str] = ["vec_id", *[f"prim{g}" for g in range(groups)]]
    for g in range(groups):
        out = out.select(
            *done,
            F.explode(f"p{g}").alias(f"c{g}"),
            *[f"p{h}" for h in range(g + 1, groups)],
        )
        done.append(f"c{g}")
    is_primary = F.lit(True)
    for g in range(groups):
        is_primary = is_primary & (F.col(f"c{g}") == F.col(f"prim{g}"))
    return out.select(
        "vec_id",
        *[f"c{g}" for g in range(groups)],
        is_primary.alias("is_primary"),
    )


def ivf_sql(n_vectors: int, sample: np.ndarray) -> str:
    """DuckDB oracle for q_ivf_ann_pairs over a table of n_vectors rows —
    generated from the SAME ivf_geometry(n) AND the same trained quantizer
    (train_ivf_directions over `sample`, normally ivf_sample_parquet of the
    oracle table), so the two engines always agree on the cell structure
    and the centroid literals."""
    groups, dirs = ivf_geometry(n_vectors)
    D, n2 = train_ivf_directions(sample, groups, dirs)
    n_planes = groups * dirs
    rows = ",\n    ".join(
        f"({p}, [{', '.join(str(int(w)) for w in D[p])}], {int(n2[p])})"
        for p in range(n_planes)
    )
    probe_width = _ivf_probe_width(groups, dirs)
    cos = (
        "round(list_dot_product(ea.v, eb.v)"
        " / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 6)"
    )
    cells = ", ".join(f"p{g}.c AS c{g}" for g in range(groups))
    primary = " AND ".join(f"p{g}.rk = 1" for g in range(groups))
    probe_joins = "\n  ".join(
        f"JOIN probes p{g} ON p{g}.vec_id = p0.vec_id AND p{g}.grp = {g}"
        for g in range(1, groups)
    )
    key_list = ", ".join(f"c{g}" for g in range(groups))
    on = " AND ".join(f"pr.c{g} = qr.c{g}" for g in range(groups))
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * {ANN_QUANT}) AS BIGINT)) AS vq
  FROM embeddings),
cents(p, w, n2) AS (VALUES
    {rows}),
dots AS (
  SELECT e.vec_id, pl.p,
         2 * list_dot_product(e.vq, pl.w) - pl.n2 AS dot
  FROM e CROSS JOIN cents pl),
ranked AS (
  SELECT vec_id, p // {dirs} AS grp, p % {dirs} AS dir, dot,
         row_number() OVER (PARTITION BY vec_id, p // {dirs}
                            ORDER BY dot DESC, p ASC) AS rk
  FROM dots),
margins AS (
  SELECT vec_id, grp,
         max(CASE WHEN rk = 1 THEN dot END)
           - max(CASE WHEN rk = 2 THEN dot END) AS margin
  FROM ranked GROUP BY vec_id, grp),
grank AS (
  SELECT vec_id, grp,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY margin ASC, grp ASC) AS grank
  FROM margins),
probes AS (
  SELECT r.vec_id, r.grp, CAST(r.dir + 1 AS INT) AS c, r.rk
  FROM ranked r JOIN grank g ON g.vec_id = r.vec_id AND g.grp = r.grp
  WHERE r.rk <= CASE WHEN g.grank <= {IVF_PROBE_GROUPS}
                     THEN {probe_width} ELSE 1 END),
asg AS (
  SELECT p0.vec_id, {cells}, ({primary}) AS is_primary
  FROM probes p0
  {probe_joins}
  WHERE p0.grp = 0),
prim AS (SELECT vec_id, {key_list} FROM asg WHERE is_primary),
counts AS (SELECT {key_list}, count(*) AS cell_n FROM prim GROUP BY {key_list}),
kept_prim AS (
  SELECT p.* FROM prim p JOIN counts c USING ({key_list})
  WHERE c.cell_n <= {IVF_CELL_CAP}),
kept_probe AS (
  SELECT a.vec_id, {key_list} FROM asg a JOIN counts c USING ({key_list})
  WHERE c.cell_n <= {IVF_CELL_CAP}),
cand AS (
  SELECT DISTINCT least(pr.vec_id, qr.vec_id) AS a,
                  greatest(pr.vec_id, qr.vec_id) AS b
  FROM kept_probe pr JOIN kept_prim qr ON {on} AND pr.vec_id != qr.vec_id)
SELECT c.a, c.b, {cos} AS cos_sim
FROM cand c
JOIN e ea ON ea.vec_id = c.a
JOIN e eb ON eb.vec_id = c.b
WHERE {cos} >= {IVF_MIN_COS}
"""


def ann_sql(n_vectors: int) -> str:
    """DuckDB oracle for q_simhash_ann_candidates over a table of n_vectors
    rows — generated from the SAME ann_cand_geometry(n), so the two engines
    always agree on the band structure (the ivf_sql(n) pattern)."""
    bands, bits = ann_cand_geometry(n_vectors)
    return _ann_sql(n_bands=bands, band_bits=bits)


def _ann_sql(
    n_bands: int = ANN_PLANES // ANN_BAND_BITS, band_bits: int = ANN_BAND_BITS
) -> str:
    from relieff_lsh_spark.operators.capped import capped_pairs_sql

    n_planes = n_bands * band_bits
    planes = ann_hyperplanes(n_planes)
    rows = ",\n    ".join(
        f"({p}, [{', '.join(str(w) for w in planes[p])}])"
        for p in range(n_planes)
    )
    return f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * {ANN_QUANT}) AS BIGINT)) AS vq
  FROM embeddings),
planes(p, w) AS (VALUES
    {rows}),
bits AS (
  SELECT e.vec_id, pl.p,
         CASE WHEN list_dot_product(e.vq, pl.w) > 0 THEN 1 ELSE 0 END AS bit
  FROM e CROSS JOIN planes pl),
bands AS (
  SELECT vec_id, p // {band_bits} AS band_id,
         CAST(sum(bit * (1 << (p % {band_bits}))) AS INT) AS band_hash
  FROM bits GROUP BY vec_id, p // {band_bits}),
{capped_pairs_sql('bands', ['band_id', 'band_hash'], 'vec_id', ANN_BUCKET_CAP)}
SELECT a, b FROM capped_cand
"""


def _ann_topk_sql() -> str:
    planes = ann_hyperplanes()
    rows = ",\n    ".join(
        f"({p}, [{', '.join(str(w) for w in planes[p])}])"
        for p in range(ANN_PLANES)
    )
    cos = (
        "round(list_dot_product(ea.v, eb.v)"
        " / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 6)"
    )
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * {ANN_QUANT}) AS BIGINT)) AS vq
  FROM embeddings),
planes(p, w) AS (VALUES
    {rows}),
bits AS (
  SELECT e.vec_id, pl.p,
         CASE WHEN list_dot_product(e.vq, pl.w) > 0 THEN 1 ELSE 0 END AS bit
  FROM e CROSS JOIN planes pl),
bands AS (
  SELECT vec_id, p // {ANN_TOPK_BAND_BITS} AS band_id,
         CAST(sum(bit * (1 << (p % {ANN_TOPK_BAND_BITS}))) AS INT) AS band_hash
  FROM bits GROUP BY vec_id, p // {ANN_TOPK_BAND_BITS}),
cand AS (
  SELECT DISTINCT qa.vec_id AS query_id, cb.vec_id AS neighbor_id
  FROM bands qa
  JOIN bands cb ON qa.band_id = cb.band_id AND qa.band_hash = cb.band_hash
  WHERE qa.vec_id < {N_QUERIES} AND cb.vec_id != qa.vec_id),
scored AS (
  SELECT c.query_id, c.neighbor_id, {cos} AS cos_sim
  FROM cand c
  JOIN e ea ON ea.vec_id = c.query_id
  JOIN e eb ON eb.vec_id = c.neighbor_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, rank, neighbor_id, cos_sim FROM ranked WHERE rank <= {TOP_K}
"""


SQL_ANN_TOPK = _ann_topk_sql()

SQL_EMBEDDING_NEARDUP = f"""
WITH e0 AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
counts AS (SELECT label, count(*) AS label_n FROM e0 GROUP BY label),
e AS (SELECT e0.* FROM e0 JOIN counts USING (label)
      WHERE counts.label_n <= {EMB_LABEL_CAP})
SELECT a.label, a.vec_id AS a, b.vec_id AS b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
         AS cos_sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
      >= {NEARDUP_MIN_COS}
"""
