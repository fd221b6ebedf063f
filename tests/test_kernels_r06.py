"""Round-6 kernel-equivalence tests: the flattened intersect kernel and the
Arrow SimHash vote/pack kernel must be value-identical to the forms they
replaced (per-row np.intersect1d loop; JVM 64-counter HOF fold)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import relieff_lsh_spark.functions.distance as dist
import relieff_lsh_spark.operators.dedup_docs as dd


def _pairs(rng, k):
    h1 = rng.integers(0, 2**32, k, dtype=np.int64)
    h2 = rng.integers(0, 2**32, k, dtype=np.int64)
    packed = (h1.astype(np.uint64) << np.uint64(32)) | h2.astype(np.uint64)
    _, idx = np.unique(packed, return_index=True)
    return h1[idx], h2[idx]


def test_intersect_flat_matches_perrow_kernel():
    rng = np.random.default_rng(13)
    rows_a, rows_b = [], []
    for i in range(300):
        a1, a2 = _pairs(rng, int(rng.integers(0, 80)))
        b1, b2 = _pairs(rng, int(rng.integers(0, 80)))
        if i % 4 == 0 and len(a1) >= 5:
            # force overlap, keep pair-distinct
            b1 = np.concatenate([a1[:5], b1])
            b2 = np.concatenate([a2[:5], b2])
            packed = (b1.astype(np.uint64) << np.uint64(32)) | b2.astype(
                np.uint64
            )
            _, idx = np.unique(packed, return_index=True)
            b1, b2 = b1[idx], b2[idx]
        rows_a.append((a1, a2))
        rows_b.append((b1, b2))
    s = [pd.Series([r[j] for r in rows]) for rows in (rows_a, rows_b) for j in (0, 1)]
    flat = dist._nint_flat_kernel.func(s[0], s[1], s[2], s[3])
    perrow = dist._nint_perrow_kernel.func(s[0], s[1], s[2], s[3])
    assert (flat.to_numpy() == perrow.to_numpy()).all()
    assert flat.max() >= 5  # the planted overlaps were exercised


def test_intersect_flat_kernel_empty_batch():
    e = pd.Series([], dtype=object)
    assert len(dist._nint_flat_kernel.func(e, e, e, e)) == 0


def test_simhash_pack_kernel_matches_fold_reference():
    """Pure-python replay of the JVM 64-counter fold + chunk/pack."""

    def ref_row(h1s, h2s):
        n = len(h1s)
        ones = [0] * 64
        for h1, h2 in zip(h1s, h2s):
            for i in range(64):
                w = int(h1) if i < 32 else int(h2)
                ones[i] += (w >> (i % 32)) & 1
        chunks = []
        for b in range(4):
            c = 0
            for j in range(16):
                if 2 * ones[b * 16 + j] - n > 0:
                    c |= 1 << j
            chunks.append(c)
        low63 = (
            chunks[0]
            + (chunks[1] << 16)
            + (chunks[2] << 32)
            + ((chunks[3] & 0x7FFF) << 48)
        )
        packed = low63 - (1 << 63) if (chunks[3] >> 15) & 1 else low63
        return [packed] + chunks

    rng = np.random.default_rng(29)
    rows1, rows2 = [], []
    for _ in range(120):
        k = int(rng.integers(1, 60))
        rows1.append(rng.integers(0, 2**32, k, dtype=np.int64))
        rows2.append(rng.integers(0, 2**32, k, dtype=np.int64))
    got = dd._simhash_pack_kernel.func(pd.Series(rows1), pd.Series(rows2))
    for i in range(120):
        assert list(got.iloc[i]) == ref_row(rows1[i], rows2[i])
    # at least one row must exercise the sign-bit (min-long) pack path
    assert any(int(got.iloc[i][0]) < 0 for i in range(120))


def test_minhash_fold_kernel_matches_reference():
    def ref(h1s):
        out = [dd.MOD] * dd.N_PERMS
        for h in h1s:
            for i in range(dd.N_PERMS):
                out[i] = min(out[i], (int(h) * (2 * i + 1) + (7919 * i + 13)) % dd.MOD)
        return out

    rng = np.random.default_rng(3)
    rows = [
        rng.integers(0, 2**32, int(rng.integers(0, 50)), dtype=np.int64)
        for _ in range(150)
    ]
    got = dd._minhash_fold_kernel.func(pd.Series(rows))
    for i in range(150):
        assert list(got.iloc[i]) == ref(rows[i])
    assert any(len(r) == 0 for r in rows)  # empty rows stayed at MOD init


@pytest.mark.usefixtures("spark")
def test_signature_df_kernel_matches_jvm_fold(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    jvm = sorted(
        map(tuple, dd.signature_df(docs, keep_shingles=False, mh_kernel=False)
            .select("doc_id", "mh", "bands").collect())
    )
    ker = sorted(
        map(tuple, dd.signature_df(docs, keep_shingles=False, mh_kernel=True)
            .select("doc_id", "mh", "bands").collect())
    )
    assert jvm == ker and len(jvm) > 0


@pytest.mark.usefixtures("spark")
def test_minhash_agree_n_matches_hof(spark):
    from pyspark.sql import functions as F

    import relieff_lsh_spark.functions.distance as dist

    rows = [
        ([1, 2, 3, 4], [1, 9, 3, 7]),   # 2 agree
        ([5, 5, 5, 5], [5, 5, 5, 5]),   # 4 agree
        ([1, 2, 3, 4], None),           # NULL side -> NULL
        (None, None),
    ]
    df = spark.createDataFrame(rows, "a: array<bigint>, b: array<bigint>")
    got = df.select(
        dist.minhash_agree(F.col("a"), F.col("b")).alias("hof"),
        dist.minhash_agree_n(F.col("a"), F.col("b"), 4).alias("unrolled"),
    ).collect()
    for r in got:
        assert r["hof"] == r["unrolled"]


@pytest.mark.usefixtures("spark")
def test_minhash_agree_n_short_or_null_array_under_ansi(spark):
    """Under ANSI mode an array shorter than n, or a NULL array, yields
    NULL (as the HOF fold does) instead of failing the query."""
    from pyspark.sql import functions as F

    rows = [
        ([1, 2, 3, 4], [1, 9, 3, 7]),   # 2 agree
        ([1, 2], [1, 2, 3, 4]),         # short side -> NULL
        (None, [1, 2, 3, 4]),           # NULL side -> NULL
    ]
    df = spark.createDataFrame(rows, "a: array<bigint>, b: array<bigint>")
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = [
            r[0]
            for r in df.select(
                dist.minhash_agree_n(F.col("a"), F.col("b"), 4)
            ).collect()
        ]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert got == [2, None, None]


@pytest.mark.usefixtures("spark")
def test_simhash_df_kernel_matches_jvm_fold(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    jvm = sorted(map(tuple, dd.simhash_df(docs, kernel=False).collect()))
    ker = sorted(map(tuple, dd.simhash_df(docs, kernel=True).collect()))
    assert jvm == ker and len(jvm) > 0


@pytest.mark.usefixtures("spark")
def test_embedding_neardup_grouped_matches_joined(spark):
    """The round-6 grouped applyInPandas cosine stage must reproduce the
    join+pairwise-kernel form exactly (same pairs, same rounded cosines)."""
    import relieff_lsh_spark.operators.knn as knn

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    grouped = sorted(map(tuple, knn.q_embedding_neardup(emb).collect()))
    joined = sorted(map(tuple, knn.q_embedding_neardup_joined(emb).collect()))
    assert grouped == joined and len(grouped) > 0


@pytest.mark.usefixtures("spark")
def test_jaccard_verify_flat_kernel_spark_parity(spark):
    """Whole-query parity of the flat intersect kernel vs the per-row form
    on the real query path (q_jaccard_verify at sf0.001)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    orig = dist.intersect_count_u64pairs
    flat = sorted(map(tuple, dd.q_jaccard_verify(docs).collect()))
    try:
        dist.intersect_count_u64pairs = (
            lambda a1, a2, b1, b2: dist._nint_perrow_kernel(a1, a2, b1, b2)
        )
        perrow = sorted(map(tuple, dd.q_jaccard_verify(docs).collect()))
    finally:
        dist.intersect_count_u64pairs = orig
    assert flat == perrow and len(flat) > 0
