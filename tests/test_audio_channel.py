"""Audio channel: decode, fingerprint robustness, SimHash, Spark UDF."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from relieff_lsh_spark.config import DedupConfig
from relieff_lsh_spark.functions.audio import (
    decode_pcm,
    simhash64,
    simhash_planes,
    spectral_fingerprint,
)
from relieff_lsh_spark.sources.corpus import RowSpec, _render_pcm, _wav_bytes


def _clip(freqs, sr=16000, dur_ms=1500, noise_seed=1, extra_db=np.inf):
    spec = RowSpec(
        group_id="g", kind="x", sr_hz=sr, dur_ms=dur_ms,
        freqs=np.array(freqs, float), amps=np.ones(len(freqs)),
        phases=np.zeros(len(freqs)), noise_seed=noise_seed, extra_noise_db=extra_db,
    )
    pcm = _render_pcm(spec)
    return _wav_bytes(pcm, sr)


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_decode_roundtrip():
    buf = _clip([440.0, 880.0])
    x, sr = decode_pcm(buf, "pcm_s16le")
    assert sr == 16000
    assert len(x) == 24000
    assert np.abs(x).max() <= 1.0


def test_decode_unknown_codec_stub():
    with pytest.raises(NotImplementedError):
        decode_pcm(b"\x00" * 64, "opus")


def _wav_bytes_codec(pcm16: np.ndarray, sr: int, codec: str) -> bytes:
    """Re-encode int16 PCM into another uncompressed WAV codec's container
    (canonical 44-byte header; bits-per-sample field set accordingly)."""
    import struct

    x = pcm16.astype(np.float32) / 32768.0
    if codec == "pcm_u8":
        data = (np.round(x * 128.0) + 128).clip(0, 255).astype(np.uint8).tobytes()
        bps = 8
    elif codec == "pcm_s24le":
        v = np.round(x * float(1 << 23)).astype(np.int64).clip(-(1 << 23), (1 << 23) - 1)
        v = np.where(v < 0, v + (1 << 24), v).astype(np.uint32)
        b = np.zeros((len(v), 3), dtype=np.uint8)
        b[:, 0] = v & 0xFF
        b[:, 1] = (v >> 8) & 0xFF
        b[:, 2] = (v >> 16) & 0xFF
        data = b.tobytes()
        bps = 24
    elif codec == "pcm_f32le":
        data = x.astype("<f4").tobytes()
        bps = 32
    else:
        raise ValueError(codec)
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE", b"fmt ", 16,
        1, 1, sr, sr * bps // 8, bps // 8, bps, b"data", len(data),
    )
    return hdr + data


def test_decode_all_uncompressed_pcm_codecs(cfg):
    """Every uncompressed PCM variant decodes natively (numpy only): decoded
    audio matches the s16 reference at SNR >= 30 dB (f32 is bit-exact), and
    the resulting SimHash is within hamming_max of the s16 clip's — the
    per-row invariant across container codecs of the SAME recording."""
    from relieff_lsh_spark.sources.corpus import decode_wav

    buf16 = _clip([440.0, 880.0, 1760.0])
    ref, sr = decode_wav(buf16)
    pcm16 = (ref * 32768.0).astype(np.int16)
    planes = simhash_planes(cfg)
    h_ref = simhash64(spectral_fingerprint(ref, sr, cfg), planes)
    for codec in ("pcm_u8", "pcm_s24le", "pcm_f32le"):
        buf = _wav_bytes_codec(pcm16, sr, codec)
        x, sr2 = decode_pcm(buf, codec)
        assert sr2 == sr and len(x) == len(ref)
        err = x - ref
        if codec == "pcm_f32le":
            assert np.array_equal(x, ref)  # bit-exact passthrough
        else:
            snr = 10 * np.log10(
                float(np.sum(ref**2)) / max(float(np.sum(err**2)), 1e-20)
            )
            assert snr >= 30.0, (codec, snr)
        h = simhash64(spectral_fingerprint(x, sr2, cfg), planes)
        assert _ham(h, h_ref) <= cfg.hamming_max, codec


def test_fingerprint_noise_robust(cfg):
    """audio_near contract: same signal + SNR-35dB noise -> hamming <= 3."""
    planes = simhash_planes(cfg)
    base = _clip([300.0, 1200.0, 2500.0], noise_seed=10)
    noisy = _clip([300.0, 1200.0, 2500.0], noise_seed=99, extra_db=35.0)
    h1 = simhash64(spectral_fingerprint(decode_pcm(base, "pcm_s16le")[0], 16000, cfg), planes)
    h2 = simhash64(spectral_fingerprint(decode_pcm(noisy, "pcm_s16le")[0], 16000, cfg), planes)
    assert _ham(h1, h2) <= cfg.hamming_max


def test_fingerprint_discriminates(cfg):
    planes = simhash_planes(cfg)
    rng = np.random.default_rng(5)
    hashes = []
    for _ in range(12):
        freqs = rng.uniform(100, 3700, rng.integers(2, 5))
        buf = _clip(freqs, noise_seed=int(rng.integers(1 << 30)))
        x, sr = decode_pcm(buf, "pcm_s16le")
        hashes.append(simhash64(spectral_fingerprint(x, sr, cfg), planes))
    dists = [_ham(hashes[i], hashes[j])
             for i in range(len(hashes)) for j in range(i + 1, len(hashes))]
    assert min(dists) > cfg.hamming_max, f"unrelated clips too close: {min(dists)}"


def test_short_clip_padded(cfg):
    x = np.zeros(100, dtype=np.float32)  # shorter than fft_window
    fp = spectral_fingerprint(x, 8000, cfg)
    assert fp.shape == (cfg.n_freq_bands,)
    assert np.all(np.isfinite(fp))


def test_cross_codec_duplicates_cluster_via_audio_channel(spark, cfg, tmp_path):
    """The same recording shipped as pcm_s16le and pcm_f32le (different
    bytes, different transcripts — so neither the exact nor the text channel
    can link them) must still land in one component: the audio channel's
    codec-invariant SimHash is what carries cross-codec duplicates."""
    import pandas as pd

    from relieff_lsh_spark.plans.dedup_pipeline import DedupPipeline
    from relieff_lsh_spark.sources.corpus import decode_wav

    buf16 = _clip([440.0, 880.0, 1760.0])
    ref, sr = decode_wav(buf16)
    buf32 = _wav_bytes_codec((ref * 32768.0).astype(np.int16), sr, "pcm_f32le")
    other = _clip([523.0, 1047.0], noise_seed=9)
    rows = pd.DataFrame({
        "clip_id": ["dup_a", "dup_b", "solo"],
        "bytes": [buf16, buf32, other],
        "sr_hz": [sr] * 3,
        "dur_ms": [1500] * 3,
        "codec": ["pcm_s16le", "pcm_f32le", "pcm_s16le"],
        "transcript": [
            "alpha beta gamma delta epsilon zeta eta theta",
            "one two three four five six seven eight nine ten",
            "lorem ipsum dolor sit amet consectetur adipiscing elit",
        ],
    })
    corpus = str(tmp_path / "corpus.parquet")
    rows.to_parquet(corpus, index=False)
    pipe = DedupPipeline(spark, cfg, str(tmp_path / "wh"), corpus)
    metrics = pipe.run(resume=False)
    assert metrics["signatures"]["quarantined_by_codec"] == {}
    comp = {
        r["clip_id"]: r["component_id"]
        for r in pipe.catalog.read("components").collect()
    }
    assert comp["dup_a"] == comp["dup_b"]
    assert comp["solo"] != comp["dup_a"]


def test_audio_signatures_spark_matches_local(spark, cfg, tiny_corpus_dir):
    """The product signature path's simhash column equals the local
    decode -> fingerprint -> simhash64 chain, clip by clip."""
    from relieff_lsh_spark.functions.signatures import clip_signatures

    corpus = spark.read.parquet(f"{tiny_corpus_dir}/corpus.parquet").limit(20)
    rows = clip_signatures(corpus, cfg).select("clip_id", "simhash").collect()
    pdf = corpus.select("clip_id", "bytes", "codec").toPandas().set_index("clip_id")
    planes = simhash_planes(cfg)
    assert len(rows) == 20
    for r in rows:
        buf = bytes(pdf.loc[r["clip_id"], "bytes"])
        x, sr = decode_pcm(buf, pdf.loc[r["clip_id"], "codec"])
        expect = simhash64(spectral_fingerprint(x, sr, cfg), planes)
        assert r["simhash"] == expect


def test_mixed_codec_corpus_quarantined(spark, tiny_corpus_dir, cfg, tmp_path):
    """A corpus with undecodable codecs must complete end-to-end with the
    affected clips quarantined (NULL simhash) and counted per codec in the
    signatures manifest — not die with NotImplementedError."""
    import pyspark.sql.functions as F

    from relieff_lsh_spark.plans.dedup_pipeline import DedupPipeline

    corpus = spark.read.parquet(f"{tiny_corpus_dir}/corpus.parquet")
    # deterministically flip ~1/3 of clips to a codec with no decoder
    mixed = corpus.withColumn(
        "codec",
        F.when(F.pmod(F.xxhash64("clip_id"), F.lit(3)) == 0, F.lit("opus"))
        .otherwise(F.col("codec")),
    )
    n_opus = mixed.where(F.col("codec") == "opus").count()
    assert n_opus > 0
    mixed_path = str(tmp_path / "mixed_corpus.parquet")
    mixed.write.parquet(mixed_path)

    pipe = DedupPipeline(spark, cfg, str(tmp_path / "wh"), mixed_path)
    metrics = pipe.run(resume=False)

    assert metrics["signatures"]["quarantined_by_codec"] == {"opus": n_opus}
    assert metrics["summary"]["n_components"] > 0
    # quarantined clips keep their text/exact channels: they appear in the
    # components output like everyone else
    comps = pipe.catalog.read("components")
    assert comps.count() == corpus.count()
    # component-size report present and sorted desc
    top = metrics["summary"]["top_components"]
    assert top and all(
        top[i]["n_clips"] >= top[i + 1]["n_clips"] for i in range(len(top) - 1)
    )


def test_injected_codec_decoder_leaves_quarantine(spark, tiny_corpus_dir, cfg, tmp_path):
    """Registry-injected decoder for a non-PCM codec (the ffmpeg-less mock of
    a compressed codec, mirroring the Iceberg mock pattern): with a decoder
    supplied for 'opus', the same mixed corpus that quarantines in
    test_mixed_codec_corpus_quarantined decodes fully — zero quarantined
    clips, non-null simhashes, and bit-identical signatures to the all-PCM
    run (the mock decodes the same underlying WAV payload)."""
    import pyspark.sql.functions as F

    from relieff_lsh_spark.functions.audio import _decode_wav_pcm_s16le, DECODERS
    from relieff_lsh_spark.plans.dedup_pipeline import DedupPipeline

    corpus = spark.read.parquet(f"{tiny_corpus_dir}/corpus.parquet")
    mixed = corpus.withColumn(
        "codec",
        F.when(F.pmod(F.xxhash64("clip_id"), F.lit(3)) == 0, F.lit("opus"))
        .otherwise(F.col("codec")),
    )
    assert mixed.where(F.col("codec") == "opus").count() > 0
    mixed_path = str(tmp_path / "mixed_corpus.parquet")
    mixed.write.parquet(mixed_path)

    # the "opus" payload in this corpus is really WAV bytes, so the mock
    # decoder is the WAV decoder under the compressed codec's name — it
    # exercises the full dispatch + signature path for a second codec
    decoders = dict(DECODERS)
    decoders["opus"] = _decode_wav_pcm_s16le

    pipe = DedupPipeline(
        spark, cfg, str(tmp_path / "wh_mock"), mixed_path, decoders=decoders
    )
    metrics = pipe.run(resume=False)
    assert metrics["signatures"]["quarantined_by_codec"] == {}

    # signatures must equal the all-PCM baseline bit-for-bit
    base = DedupPipeline(
        spark, cfg, str(tmp_path / "wh_base"), f"{tiny_corpus_dir}/corpus.parquet"
    )
    base.run(resume=False)
    got = {
        r["clip_id"]: r["simhash"]
        for r in pipe.catalog.read("signatures").select("clip_id", "simhash").collect()
    }
    want = {
        r["clip_id"]: r["simhash"]
        for r in base.catalog.read("signatures").select("clip_id", "simhash").collect()
    }
    assert got == want and all(v is not None for v in got.values())


def test_simhash_arrow_udf_quarantines_null_and_unknown(cfg):
    """The zero-copy arrow kernel must quarantine (NULL) a null payload, a
    null codec, and an unregistered codec — and agree with the direct
    decode->fingerprint->simhash path on decodable rows (buffer-protocol
    slice in, same bits out)."""
    import pyarrow as pa

    from relieff_lsh_spark.functions.audio import make_simhash_udf, simhash_planes

    buf = _clip([440.0])
    planes = simhash_planes(cfg)
    x, sr = decode_pcm(buf, "pcm_s16le")
    want = simhash64(spectral_fingerprint(x, sr, cfg), planes)

    kernel = make_simhash_udf(cfg).func
    bufs = pa.array([buf, None, buf, buf], type=pa.binary())
    codecs = pa.array(["pcm_s16le", "pcm_s16le", None, "opus"], type=pa.string())
    assert kernel(bufs, codecs).to_pylist() == [want, None, None, None]
