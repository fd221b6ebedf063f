"""Brute-force oracle: exact all-pairs duplicate detection + union-find.

Mirrors the reference's own validation pattern — its `brute` method is the
exact baseline for its `lsh` method (ReliefFFeatureSelector.scala:70,
258-264): same distance definitions, exhaustive candidate generation. Pure
numpy/python (no Spark), so it independently checks the distributed
pipeline. Shares only the *signature definitions* (fingerprint/SimHash and
shingle tokenization) with the pipeline, as "same shingle/signature config"
requires (BASELINE.json).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from relieff_lsh_spark.config import DedupConfig
from relieff_lsh_spark.functions.audio import (
    decode_pcm,
    simhash_planes,
    simhash64,
    spectral_fingerprint,
)
from relieff_lsh_spark.functions.signatures import SHINGLE_K

_WS = re.compile(r"\s+")


def shingle_set(text: str, k: int) -> frozenset[str]:
    toks = [t for t in _WS.split(text.strip()) if t]
    if len(toks) < k:
        return frozenset()
    return frozenset(" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    if not a and not b:
        return 0.0
    inter = len(a & b)
    union = len(a) + len(b) - inter
    return inter / union if union else 0.0


def verbatim_in(needle: str, haystack: str) -> bool:
    n, h = needle.strip(), haystack.strip()
    return bool(n) and (f" {n} " in f" {h} ")


class UnionFind:
    def __init__(self, items):
        self.parent = {x: x for x in items}

    def find(self, x):
        while self.parent[x] != x:
            self.parent[x] = self.parent[self.parent[x]]
            x = self.parent[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # min-root so component ids match the pipeline's min-label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            self.parent[hi] = lo


def _popcount64(x: np.ndarray) -> np.ndarray:
    if hasattr(np, "bitwise_count"):
        return np.bitwise_count(x)
    v = x.copy()
    out = np.zeros(x.shape, dtype=np.int64)
    for _ in range(64):
        out += (v & np.uint64(1)).astype(np.int64)
        v >>= np.uint64(1)
    return out


def brute_oracle(corpus_pdf: pd.DataFrame, cfg: DedupConfig) -> pd.DataFrame:
    """All-pairs exact verification + union-find.

    corpus_pdf: pandas DataFrame with (clip_id, bytes, codec, transcript).
    Returns (clip_id, component_id) with component_id = min clip_id.
    O(n^2) — small fixtures only, exactly like the reference's brute method.

    Judged like the pipeline: a clip with NULL bytes or a codec without a
    decoder has no SimHash and gets no Hamming edge (quarantine), clips
    with equal non-NULL bytes are one component (byte identity), and a
    NULL transcript has no shingle and no verbatim match.
    """
    ids = corpus_pdf["clip_id"].tolist()
    n = len(ids)
    uf = UnionFind(ids)

    planes = simhash_planes()
    sims = np.zeros(n, dtype=np.uint64)
    has_sim = np.zeros(n, dtype=bool)
    first_with_bytes: dict[bytes, str] = {}
    for i, (buf, codec) in enumerate(zip(corpus_pdf["bytes"], corpus_pdf["codec"])):
        if buf is None:
            continue
        buf = bytes(buf)
        uf.union(first_with_bytes.setdefault(buf, ids[i]), ids[i])
        if codec is None:
            continue
        try:
            x, sr = decode_pcm(buf, codec)
        except NotImplementedError:
            continue
        sims[i] = np.uint64(np.int64(simhash64(spectral_fingerprint(x, sr), planes)))
        has_sim[i] = True

    texts = [t.strip() if isinstance(t, str) else "" for t in corpus_pdf["transcript"]]
    shingles = [shingle_set(t, SHINGLE_K) for t in texts]

    # hamming for all pairs, vectorized one row at a time
    for i in range(n):
        if has_sim[i]:
            ham = _popcount64(sims[i] ^ sims[i + 1:])
            near = (ham <= cfg.hamming_max) & has_sim[i + 1:]
            for off in np.nonzero(near)[0]:
                uf.union(ids[i], ids[i + 1 + off])
        si, ti = shingles[i], texts[i]
        for j in range(i + 1, n):
            if uf.find(ids[i]) == uf.find(ids[j]):
                continue
            if jaccard(si, shingles[j]) >= cfg.jaccard_min:
                uf.union(ids[i], ids[j])
            elif verbatim_in(ti, texts[j]) or verbatim_in(texts[j], ti):
                uf.union(ids[i], ids[j])
    return pd.DataFrame(
        {"clip_id": ids, "component_id": [uf.find(c) for c in ids]}
    )
