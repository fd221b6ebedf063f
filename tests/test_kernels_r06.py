"""Arrow kernel tests: the flattened intersect kernel, the SimHash vote/pack
kernel, the grouped cosine pair generator and the unrolled MinHash lane
agreement, each checked against a pure-python expectation or literals."""

from __future__ import annotations

import tracemalloc

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


def test_intersect_flat_kernel_matches_set_intersection():
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
    got = dist._nint_flat_kernel.func(s[0], s[1], s[2], s[3]).tolist()
    want = [
        len(set(zip(a1.tolist(), a2.tolist())) & set(zip(b1.tolist(), b2.tolist())))
        for (a1, a2), (b1, b2) in zip(rows_a, rows_b)
    ]
    assert got == want
    assert max(got) >= 5  # the planted overlaps were exercised


def test_intersect_flat_kernel_empty_batch():
    e = pd.Series([], dtype=object)
    assert len(dist._nint_flat_kernel.func(e, e, e, e)) == 0


def test_simhash_pack_kernel_matches_fold_reference():
    """Pure-python replay of the 64-counter vote + chunk/pack."""

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


def test_simhash_pack_kernel_memory_bounded_on_long_row():
    """One 400k-shingle document must not need per-shingle x 32-lane
    temporaries: the kernel's peak traced allocation stays under 16 MB
    (the two flat input copies it needs are 6.4 MB)."""
    rng = np.random.default_rng(5)
    n = 400_000
    p1 = pd.Series([rng.integers(0, 2**32, n, dtype=np.int64)])
    p2 = pd.Series([rng.integers(0, 2**32, n, dtype=np.int64)])
    tracemalloc.start()
    try:
        out = dd._simhash_pack_kernel.func(p1, p2)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert len(out) == 1
    assert peak < 16 * 2**20, f"peak {peak / 2**20:.1f} MiB"


def test_group_pairs_cos_skips_repeated_vec_id():
    """A vec_id repeated inside one label group is never paired with
    itself; every other pair comes out once with a < b."""
    import relieff_lsh_spark.operators.knn as knn

    pdf = pd.DataFrame({
        "label": [3, 3, 3, 3],
        "vec_id": [7, 2, 7, 5],
        "v": [np.array([1.0, 0.0]), np.array([0.0, 1.0]),
              np.array([1.0, 0.0]), np.array([1.0, 1.0])],
    })
    out = knn._group_pairs_cos(pdf)
    assert not (out["a"] == out["b"]).any()
    assert (out["a"] < out["b"]).all()
    assert sorted(zip(out["a"], out["b"])) == [(2, 5), (2, 7), (2, 7), (5, 7), (5, 7)]
    assert set(out["label"]) == {3}


@pytest.mark.usefixtures("spark")
def test_minhash_agree_n_matches_hof(spark):
    """The unrolled lane count equals the zip_with/aggregate fold it
    replaces (the fold is kept here as the spec), NULL cases included."""
    from pyspark.sql import functions as F

    def agree_hof(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        )

    rows = [
        ([1, 2, 3, 4], [1, 9, 3, 7]),   # 2 agree
        ([5, 5, 5, 5], [5, 5, 5, 5]),   # 4 agree
        ([1, 2, 3, 4], None),           # NULL side -> NULL
        (None, None),
    ]
    df = spark.createDataFrame(rows, "a: array<bigint>, b: array<bigint>")
    got = df.select(
        agree_hof(F.col("a"), F.col("b")).alias("hof"),
        dist.minhash_agree_n(F.col("a"), F.col("b"), 4).alias("unrolled"),
    ).collect()
    assert [r["hof"] for r in got] == [2, 4, None, None]
    for r in got:
        assert r["hof"] == r["unrolled"]


@pytest.mark.usefixtures("spark")
def test_minhash_agree_n_short_or_null_array_under_ansi(spark):
    """With ANSI mode on and off: agreeing lanes are counted, and an array
    shorter than n or a NULL array yields NULL instead of failing the
    query."""
    from pyspark.sql import functions as F

    rows = [
        ([1, 2, 3, 4], [1, 9, 3, 7]),   # 2 agree
        ([5, 5, 5, 5], [5, 5, 5, 5]),   # 4 agree
        ([1, 2], [1, 2, 3, 4]),         # short side -> NULL
        (None, [1, 2, 3, 4]),           # NULL side -> NULL
        (None, None),
    ]
    df = spark.createDataFrame(rows, "a: array<bigint>, b: array<bigint>")
    prev = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for ansi in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            got = [
                r[0]
                for r in df.select(
                    dist.minhash_agree_n(F.col("a"), F.col("b"), 4)
                ).collect()
            ]
            assert got == [2, 4, None, None, None], ansi
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
