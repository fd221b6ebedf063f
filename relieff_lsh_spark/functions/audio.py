"""Audio-channel signature functions.

Design (SURVEY.md §2.9, §7.1 M2): decode -> spectral fingerprint -> SimHash64
are FUSED into one scalar Arrow UDF (make_simhash_udf), projected inside the
corpus scan by functions/signatures.clip_signatures, so raw PCM never
crosses a shuffle boundary and the wide `bytes` column is dropped at the
source (SURVEY.md §4 O10: never shuffle bytes). Everything inside is
numpy work — no per-row Python beyond the unavoidable per-clip FFT loop,
which is itself vectorized over frames.

The SimHash-64 here plays the role of the reference's LSH point signature
(EuclideanLSHasher import, reference ReliefFFeatureSelector.scala:19; params
R:158-161): random-hyperplane projections of the spectral fingerprint,
packed to 64 bits, compared later with xor+bit_count (JVM-side).
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
from pyspark.sql import types as T

from relieff_lsh_spark.config import SEED, SIMHASH_BITS

# Fingerprint shape: N_FREQ_BANDS linear bands on 0..FMAX_HZ (valid for every
# sample rate >= 8 kHz) from FFT_WINDOW-sample Hann frames every FFT_HOP
# samples, at most MAX_FFT_FRAMES evenly spaced frames per clip (the
# mean-spectrum estimator; bounds FFT memory bandwidth).
N_FREQ_BANDS = 64
FMAX_HZ = 4000.0
FFT_WINDOW = 1024
FFT_HOP = 512
MAX_FFT_FRAMES = 64


def _wav_header(buf: bytes) -> tuple[int, int]:
    """(sample_rate, data_bytes) from a canonical 44-byte RIFF/WAVE header."""
    sr_hz = struct.unpack_from("<I", buf, 24)[0]
    n_bytes = struct.unpack_from("<I", buf, 40)[0]
    return int(sr_hz), int(n_bytes)


def _decode_wav_pcm_s16le(buf: bytes) -> tuple[np.ndarray, int]:
    """pcm_s16le in a RIFF/WAVE container, exactly (44-byte header)."""
    sr_hz, n_bytes = _wav_header(buf)
    pcm = np.frombuffer(buf, dtype=np.int16, count=n_bytes // 2, offset=44)
    return pcm.astype(np.float32) / 32768.0, sr_hz


def _decode_wav_pcm_u8(buf: bytes) -> tuple[np.ndarray, int]:
    """pcm_u8: 8-bit unsigned (bias 128), exact."""
    sr_hz, n_bytes = _wav_header(buf)
    pcm = np.frombuffer(buf, dtype=np.uint8, count=n_bytes, offset=44)
    return (pcm.astype(np.float32) - 128.0) / 128.0, sr_hz


def _decode_wav_pcm_s24le(buf: bytes) -> tuple[np.ndarray, int]:
    """pcm_s24le: packed 3-byte little-endian signed samples, exact
    (vectorized byte recombination — no per-sample python)."""
    sr_hz, n_bytes = _wav_header(buf)
    raw = np.frombuffer(buf, dtype=np.uint8, count=(n_bytes // 3) * 3, offset=44)
    b = raw.reshape(-1, 3).astype(np.int32)
    val = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
    val = np.where(val >= 1 << 23, val - (1 << 24), val)
    return val.astype(np.float32) / float(1 << 23), sr_hz


def _decode_wav_pcm_f32le(buf: bytes) -> tuple[np.ndarray, int]:
    """pcm_f32le: IEEE float32 samples, bit-exact passthrough."""
    sr_hz, n_bytes = _wav_header(buf)
    pcm = np.frombuffer(buf, dtype="<f4", count=n_bytes // 4, offset=44)
    return pcm.astype(np.float32), sr_hz


# codec -> decoder(bytes) -> (float32 PCM in [-1,1], sample rate). Every
# UNCOMPRESSED WAV codec decodes natively (numpy only — no external libs);
# compressed codecs (opus/mp3/flac/...) need external libraries
# (ffmpeg/soundfile) not present in this container; registering a decoder
# here — or passing an override dict through clip_signatures/
# DedupPipeline — is the full integration surface (the
# dispatch, quarantine-exit, and signature paths are covered with an
# injected mock decoder in tests/test_audio_channel.py).
DECODERS: dict = {
    "pcm_s16le": _decode_wav_pcm_s16le,
    "pcm_u8": _decode_wav_pcm_u8,
    "pcm_s24le": _decode_wav_pcm_s24le,
    "pcm_f32le": _decode_wav_pcm_f32le,
}


def decode_pcm(
    buf: bytes, codec: str, decoders: dict | None = None
) -> tuple[np.ndarray, int]:
    """Decode one clip to float32 [-1,1] + sample rate via the codec
    registry; unknown codecs raise NotImplementedError (make_simhash_udf
    catches it and QUARANTINES the clip)."""
    dec = (decoders or DECODERS).get(codec)
    if dec is None:
        raise NotImplementedError(
            f"codec {codec!r}: no registered decoder (compressed-audio decode "
            "requires external codec libraries not available in this "
            "environment)"
        )
    return dec(buf)


# (n_fft, sr_hz) -> (hann window, band lo indices,
# band hi indices, per-band 1/width, in-range band mask). All deterministic
# functions of the key, so caching cannot change results; recomputing them
# per clip was ~7% of the signature stage's CPU (round-4 profile).
_FP_CONSTS: dict[tuple, tuple] = {}


def _fp_constants(n_fft: int, sr_hz: int) -> tuple:
    key = (n_fft, sr_hz)
    consts = _FP_CONSTS.get(key)
    if consts is None:
        win = np.hanning(n_fft).astype(np.float32)
        freqs = np.fft.rfftfreq(n_fft, 1.0 / sr_hz)
        edges = np.linspace(0.0, FMAX_HZ, N_FREQ_BANDS + 1)
        idx = np.searchsorted(freqs, edges)
        los = idx[:-1].copy()
        his = np.maximum(idx[1:], los + 1)
        valid = his <= (n_fft // 2 + 1)
        consts = (win, los.tolist(), his.tolist(), valid.tolist())
        _FP_CONSTS[key] = consts
    return consts


# FFT frames per blocked iteration: sized so one iteration's working set
# (windowed float32 block + pocketfft's float64 upcast + complex128 output
# + |.|^2 block, ~1.6 MB at n_fft=1024) stays cache-resident instead of
# streaming ~2 MB/clip of spectra through DRAM. Measured on 6000 realistic
# clips: +14% single-proc throughput AND better 2->8-proc scaling (the
# un-blocked kernel is memory-bandwidth bound at 8 concurrent workers on
# this host).
_FFT_BLOCK = 32


def spectral_fingerprint(x: np.ndarray, sr_hz: int) -> np.ndarray:
    """Noise-robust spectral fingerprint: mean power spectrum over Hann
    frames, pooled into N_FREQ_BANDS linear bands on 0..FMAX_HZ, log,
    floor-clamped at (peak - 30 dB), mean-centered, L2-normalized.

    The -30 dB clamp makes the fingerprint invariant to broadband noise well
    below the signal (the SNR>=35dB `audio_near` perturbation), while
    heavily-noised clips legitimately diverge.
    """
    n_fft, hop = FFT_WINDOW, FFT_HOP
    if len(x) < n_fft:
        x = np.pad(x, (0, n_fft - len(x)))
    n_frames = 1 + (len(x) - n_fft) // hop
    # strided frame view -> (n_frames, n_fft), vectorized FFT
    frames = np.lib.stride_tricks.as_strided(
        x, shape=(n_frames, n_fft),
        strides=(x.strides[0] * hop, x.strides[0]), writeable=False,
    )
    # The fingerprint is a MEAN spectrum, so evenly-spaced frame sampling is
    # an unbiased estimator; capping frames bounds the per-clip FFT cost and
    # (critically) its memory-bandwidth footprint — np.fft upcasts to
    # float64, and uncapped frame matrices saturate memory bandwidth at
    # ~4 concurrent workers (measured: 16-proc pure-numpy throughput BELOW
    # 4-proc before the cap), destroying multi-core scaling.
    if n_frames > MAX_FFT_FRAMES:
        idx = np.linspace(0, n_frames - 1, MAX_FFT_FRAMES).astype(np.int64)
        frames = frames[idx]
        n_frames = MAX_FFT_FRAMES
    win, los, his, valid = _fp_constants(n_fft, sr_hz)
    # cache-blocked FFT (_FFT_BLOCK frames per iteration; see above), spectra
    # accumulated row-sequentially — the same left-to-right float addition
    # order as the ndarray.mean(axis=0) it replaced, so results match it
    # bit-for-bit (pinned by tests/test_audio_channel.py)
    acc = np.zeros(n_fft // 2 + 1, dtype=np.float64)
    wbuf = np.empty((min(_FFT_BLOCK, n_frames), n_fft), dtype=np.float32)
    for lo in range(0, n_frames, _FFT_BLOCK):
        blk = frames[lo:lo + _FFT_BLOCK]
        np.multiply(blk, win, out=wbuf[: blk.shape[0]])
        sp = np.abs(np.fft.rfft(wbuf[: blk.shape[0]], axis=1)) ** 2
        for r in range(sp.shape[0]):
            acc += sp[r]
    mean_spec = acc / n_frames  # (n_fft//2+1,)

    # np.add.reduce(s) / n is the exact kernel ndarray.mean() runs (same
    # pairwise summation), minus the per-band method-dispatch overhead that
    # was 44% of the fingerprint cost (round-4 profile; bit-identity
    # verified on realistic corpus clips before landing).
    band = np.zeros(N_FREQ_BANDS, dtype=np.float64)
    add_reduce = np.add.reduce
    for i in range(N_FREQ_BANDS):
        if valid[i]:
            lo, hi = los[i], his[i]
            band[i] = add_reduce(mean_spec[lo:hi]) / (hi - lo)

    logb = np.log10(band + 1e-20)
    logb = np.maximum(logb, logb.max() - 3.0)  # -30 dB floor clamp
    logb -= logb.mean()
    norm = np.linalg.norm(logb)
    return logb / norm if norm > 0 else logb


def simhash_planes() -> np.ndarray:
    """Seeded random hyperplanes (SIMHASH_BITS x N_FREQ_BANDS)."""
    rng = np.random.default_rng(SEED ^ 0x51AE_2222)
    return rng.standard_normal((SIMHASH_BITS, N_FREQ_BANDS))


_BIT_WEIGHTS = np.left_shift(np.uint64(1), np.arange(64, dtype=np.uint64))


def simhash64(fp: np.ndarray, planes: np.ndarray) -> int:
    """Sign bits of hyperplane projections packed into a signed int64 (bit i
    set iff projection i > 0 — integer packing, exactly the shift-or loop it
    replaced, vectorized)."""
    bits = (planes @ fp) > 0
    val = np.bitwise_or.reduce(_BIT_WEIGHTS[: bits.size][bits], initial=np.uint64(0))
    return int(val.astype(np.int64))


def make_simhash_udf(decoders: dict | None = None):
    """Scalar arrow_udf (bytes, codec) -> simhash: the fused
    decode/fingerprint/SimHash path as a projection column, so the whole
    signature table is ONE narrow scan (no per-channel scans, no join to
    merge text and audio signatures — at 10^12 rows that join is a full
    shuffle of every signature). `decoders` overrides the codec registry
    (captured in the UDF closure so it reaches the python workers).

    arrow_udf instead of pandas_udf: the Arrow->pandas conversion of a
    binary column materializes one python `bytes` object per clip (a
    ~54 KB malloc+memcpy each, a full extra pass over the corpus' dominant
    column); pa.BinaryScalar.as_buffer() hands the decoders a ZERO-COPY
    slice of the Arrow batch instead — np.frombuffer/struct.unpack_from
    consume any buffer-protocol object, so the decode path is unchanged.
    Measured at n=640k (interleaved A/B, clean membw-probed windows): the
    signature stage went 380.6->328.9s at local[2] and 135.4->102.2s at
    local[8] — the copy elimination pays most exactly where the memory bus
    is contended, lifting the stage's 2->8 scaling from 0.70 to 0.80.
    """
    from pyspark.sql.functions import arrow_udf

    planes = simhash_planes()

    @arrow_udf(T.LongType())
    def simhash_sig(buf: pa.Array, codec: pa.Array) -> pa.Array:
        codecs = codec.to_pylist()  # tiny strings; the bytes stay in Arrow
        out: list[int | None] = []
        for i, c in enumerate(codecs):
            s = buf[i]
            if c is None or not s.is_valid:
                out.append(None)  # quarantine: null payload/codec
                continue
            try:
                x, sr = decode_pcm(s.as_buffer(), c, decoders)
            except NotImplementedError:
                out.append(None)  # quarantine: no decoder for this codec
                continue
            out.append(simhash64(spectral_fingerprint(x, sr), planes))
        return pa.array(out, type=pa.int64())

    return simhash_sig
