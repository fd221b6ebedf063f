"""Text channel of the product signature path (clip_signatures): token
hashing, k-shingles, MinHash UDF, banding, minimizer keys."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from relieff_lsh_spark.functions.signatures import clip_signatures
from relieff_lsh_spark.functions.text import band_hashes_expr
from relieff_lsh_spark.plans.oracle import jaccard, shingle_set


def _sig_df(spark, cfg, texts):
    """clip_signatures over transcript-only rows (NULL bytes/codec: the
    audio channel quarantines them), in input order."""
    df = spark.createDataFrame(
        [(f"c{i:04d}", t, None, None) for i, t in enumerate(texts)],
        "clip_id string, transcript string, bytes binary, codec string",
    )
    return clip_signatures(df, cfg).orderBy("clip_id")


def test_shingle_counts_match_python(spark, cfg):
    texts = [
        "a b c d e f g",            # 7 tokens -> 3 distinct 5-shingles
        "a a a a a a",              # repeated -> 1 distinct shingle
        "one two three four",       # 4 tokens < k -> 0
        "",                         # empty -> 0
        "  padded   spacing  here and more words  ",
    ]
    rows = _sig_df(spark, cfg, texts).select("n_shingles", "simhash").collect()
    got = [r["n_shingles"] for r in rows]
    want = [len(shingle_set(t, cfg.shingle_k)) for t in texts]
    assert got == want
    assert all(r["simhash"] is None for r in rows)


def test_identical_text_identical_signature(spark, cfg):
    sigs = _sig_df(spark, cfg, ["w1 w2 w3 w4 w5 w6 w7 w8"] * 2).collect()
    assert sigs[0]["minhash"] == sigs[1]["minhash"]
    assert sigs[0]["text_bands"] == sigs[1]["text_bands"]


def test_minhash_estimates_jaccard(spark, cfg):
    """MinHash agreement ~ true Jaccard (within statistical tolerance)."""
    base = [f"w{i}" for i in range(60)]
    variant = list(base)
    variant[30] = "XXX"  # 1 substitution
    t1, t2 = " ".join(base), " ".join(variant)
    true_j = jaccard(shingle_set(t1, cfg.shingle_k), shingle_set(t2, cfg.shingle_k))
    rows = _sig_df(spark, cfg, [t1, t2]).orderBy("clip_id").collect()
    m1, m2 = np.array(rows[0]["minhash"]), np.array(rows[1]["minhash"])
    est = float((m1 == m2).mean())
    assert abs(est - true_j) < 0.15
    # banding: near-dup pair must share >= 1 band (OR-construction recall)
    b1, b2 = rows[0]["text_bands"], rows[1]["text_bands"]
    assert any(x == y for x, y in zip(b1, b2))


def test_unrelated_texts_share_no_band(spark, cfg):
    rng = np.random.default_rng(0)
    texts = [" ".join(f"t{rng.integers(0, 10_000)}" for _ in range(40)) for _ in range(20)]
    rows = _sig_df(spark, cfg, texts).collect()
    bands = [r["text_bands"] for r in rows]
    for i in range(len(bands)):
        for j in range(i + 1, len(bands)):
            shared = sum(x == y for x, y in zip(bands[i], bands[j]))
            assert shared == 0


def test_minimizer_keys_catch_substring(spark, cfg):
    inner = "alpha beta gamma delta epsilon zeta"
    outer = f"pre1 pre2 pre3 {inner} post1 post2"
    rows = _sig_df(spark, cfg, [inner, outer]).collect()
    k_in, k_out = set(rows[0]["substr_keys"]), set(rows[1]["substr_keys"])
    assert k_in & k_out, "contained transcript must share a minimizer key"


def test_minimizer_short_text_still_keyed(spark, cfg):
    rows = _sig_df(spark, cfg, ["a b c d", "a b c", ""]).select(
        F.size("substr_keys").alias("n")
    ).collect()
    # exactly k tokens -> 1 shingle -> 1 key; < k tokens: no shingle, no key
    assert [r["n"] for r in rows] == [1, 0, 0]


def test_band_hash_band_index_salted(spark, cfg):
    """Identical r-slices in different bands must not collide (band id is
    part of the hash)."""
    sig = list(range(cfg.n_perms))
    # constant signature -> identical slice contents across all bands
    df = spark.createDataFrame([([7] * cfg.n_perms,)], ["minhash"])
    row = df.select(band_hashes_expr(F.col("minhash"), cfg).alias("b")).collect()[0]
    assert len(set(row["b"])) == cfg.bands


def test_refine_rotated_bands_additive(spark, tiny_corpus_dir):
    """L4 refine analog: rotated-boundary banding adds bands (recall can
    only increase) and never perturbs the primary band set."""
    from relieff_lsh_spark.config import DedupConfig
    from relieff_lsh_spark.functions.signatures import clip_signatures
    from relieff_lsh_spark.operators.banding import text_bands

    corpus = spark.read.parquet(f"{tiny_corpus_dir}/corpus.parquet").limit(50)
    base_cfg = DedupConfig(shuffle_partitions=8)
    ref_cfg = DedupConfig(shuffle_partitions=8, refine_bands=True)
    sigs = clip_signatures(corpus, base_cfg).localCheckpoint()

    base = text_bands(sigs, base_cfg)
    refined = text_bands(sigs, ref_cfg)
    n_base, n_ref = base.count(), refined.count()
    # primary 32 bands + 31 rotated bands per clip with shingles
    assert n_ref > n_base
    assert refined.where("band_id < 32").count() == n_base
    assert refined.where("band_id >= 32").count() == n_ref - n_base


def test_text_components_clusters_planted_clones(spark):
    """q_text_components groups every planted near-dup clone with its base
    doc (component_id = min member id), and q_component_sizes reports the
    same multi-member clusters."""
    from relieff_lsh_spark.operators import dedup_docs as dd

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    comp = {
        r["doc_id"]: r["component_id"]
        for r in dd.q_text_components(docs).collect()
    }
    n_docs = docs.count()
    assert len(comp) == 2 * n_docs  # base + clones
    # clone drops the first word -> jaccard well above 0.5 -> same component
    paired = sum(
        1 for d in range(n_docs) if comp.get(d) == comp.get(d + dd.CLONE_OFFSET)
    )
    assert paired >= 0.99 * n_docs
    # component_id is always the minimum member id
    mins = {}
    for doc, c in comp.items():
        mins[c] = min(mins.get(c, doc), doc)
    assert all(c == m for c, m in mins.items())

    sizes = {
        r["component_id"]: r["n_members"]
        for r in dd.q_component_sizes(docs).collect()
    }
    from collections import Counter

    expect = Counter(comp.values())
    assert sizes == {c: n for c, n in expect.items() if n >= 2}


def test_minhash_arrow_kernel_matches_per_row_formula(cfg):
    """The batched reduceat MinHash kernel must equal the per-row formula
    ((a*h+b) with uint64 wraparound, % M61, min over shingles) on every
    reduceat edge case: leading/mid-batch/trailing empty rows, null rows,
    an all-empty batch, and a SLICED (non-zero offset) ListArray."""
    import numpy as np
    import pyarrow as pa

    from relieff_lsh_spark.functions.text import (
        _MERSENNE61,
        make_minhash_udf,
        minhash_params,
    )

    a, b = minhash_params(cfg)
    sentinel = [_MERSENNE61 - 1] * cfg.n_perms

    def expect_row(row):
        if row is None or len(row) == 0:
            return sentinel
        h = np.asarray(row, dtype=np.int64).view(np.uint64)
        m = (a[:, None] * h[None, :] + b[:, None]) % _MERSENNE61
        return m.min(axis=1).astype(np.int64).tolist()

    rng = np.random.default_rng(7)
    big = rng.integers(-(2**62), 2**62, 37).tolist()
    rows = [
        [],                         # leading empty
        big[:5],
        None,                       # null mid-batch
        [],                         # mid-batch empty
        big[5:6],                   # single shingle
        big,                        # long row
        [],                         # trailing empty run...
        None,
        [],
    ]
    kernel = make_minhash_udf(cfg).func
    arr = pa.array(rows, type=pa.list_(pa.int64()))
    got = kernel(arr).to_pylist()
    want = [expect_row(r) for r in rows]
    assert got == want

    # sliced view (non-zero value/list offsets) must not shift segments
    sl = arr.slice(2, 6)
    assert kernel(sl).to_pylist() == [expect_row(r) for r in rows[2:8]]

    # chunked input (what Spark can hand over) and an all-empty batch
    ch = pa.chunked_array([arr.slice(0, 4), arr.slice(4)])
    assert kernel(ch).to_pylist() == want
    empties = pa.array([[], None, []], type=pa.list_(pa.int64()))
    assert kernel(empties).to_pylist() == [sentinel] * 3
