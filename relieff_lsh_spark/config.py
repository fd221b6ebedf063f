"""Pipeline configuration.

The analog of the reference's ``KNiNeConfiguration`` bundle (reference
ReliefFFeatureSelector.scala:491-494 — radius0 / numTables / keyLength /
maxComparisons), reshaped for near-duplicate detection. Thresholds are
*configuration*, never derived from sampled data (the reference reads a
global constant from the first edge at R:372 — a smell SURVEY.md §4 tells us
to avoid).

`DedupConfig` holds what a user means: the two verification thresholds and
the shuffle width. Everything else is a module constant beside the one
function that reads it: the shingle and winnowing widths in
functions/signatures.py, the text banding (`TEXT_BANDS` x `TEXT_ROWS`) in
functions/text.py, the fingerprint/FFT shape in functions/audio.py, the
skew budget (`BUCKET_CAP`, `SALT_FACTOR`) in operators/candidates.py, the
verify prefilter in operators/verify.py, the fixpoint round budget in
operators/components.py, and the SimHash geometry and the seed below.
`geometry()` collects the ones that shape a stored signature or band row.
The canonical values are pinned by FIXTURES.md §4 so that "same
shingle/signature config" (BASELINE.json) is well-defined across the
pipeline, the brute-force oracle, and the bench harness.
"""

from __future__ import annotations

from dataclasses import dataclass, asdict

# Seed of every random signature parameter (MinHash coefficients in
# functions/text.py, SimHash hyperplanes in functions/audio.py).
SEED = 42

# Audio channel: SimHash-64 split into 4 x 16-bit bands for the multi-index
# candidate join — pigeonhole-exact for hamming_max <= 3.
SIMHASH_BITS = 64
SIMHASH_BANDS = 4


def geometry() -> dict:
    """Every constant that shapes a stored signature or band row, by name.
    A stream state refuses a micro-batch signed with a different one
    (streaming/incremental.py), and a `jobs/dedup.py` run records it.
    Read at call time, from the module that defines each constant."""
    # imported here: each of these modules imports this one
    from relieff_lsh_spark.functions import audio, signatures, text
    from relieff_lsh_spark.streaming import incremental

    return {
        "SHINGLE_K": signatures.SHINGLE_K,
        "SUBSTR_K": signatures.SUBSTR_K,
        "SUBSTR_WINDOW": signatures.SUBSTR_WINDOW,
        "TEXT_BANDS": text.TEXT_BANDS,
        "TEXT_ROWS": text.TEXT_ROWS,
        "SEED": SEED,
        "SIMHASH_BITS": SIMHASH_BITS,
        "SIMHASH_BANDS": SIMHASH_BANDS,
        "N_FREQ_BANDS": audio.N_FREQ_BANDS,
        "FMAX_HZ": audio.FMAX_HZ,
        "FFT_WINDOW": audio.FFT_WINDOW,
        "FFT_HOP": audio.FFT_HOP,
        "MAX_FFT_FRAMES": audio.MAX_FFT_FRAMES,
        "BUCKETS": incremental.BUCKETS,
    }


@dataclass(frozen=True)
class DedupConfig:
    jaccard_min: float = 0.8    # text: exact-Jaccard verification threshold
    hamming_max: int = 3        # audio: SimHash-64 Hamming threshold

    # --- physical: None = the session's spark.sql.shuffle.partitions ---
    shuffle_partitions: int | None = None

    def __post_init__(self) -> None:
        # Pigeonhole recall guarantee: hamming_max errors spread over
        # SIMHASH_BANDS bands leave >=1 band untouched iff bands > hamming_max.
        if SIMHASH_BANDS <= self.hamming_max:
            raise ValueError(
                f"hamming_max={self.hamming_max} must be below the "
                f"{SIMHASH_BANDS} SimHash bands for exact multi-index recall"
            )
        # Analytic LSH recall budget (SURVEY.md §7.4.2): a pair at exactly
        # the verification threshold j collides on >=1 of b bands with
        # probability 1-(1-j^r)^b. The north_rule demands dup-pair recall
        # >= 0.99, so the banding scheme itself must clear that bar at the
        # configured threshold — checked here, not just asserted empirically.
        if self.text_recall_at_threshold < 0.99:
            raise ValueError(
                f"banded MinHash recall at jaccard_min={self.jaccard_min} is "
                f"{self.text_recall_at_threshold:.4f} < 0.99 under the fixed "
                "text banding; raise jaccard_min"
            )

    @property
    def text_recall_at_threshold(self) -> float:
        """P(>=1 band collision) for a pair at jaccard == jaccard_min:
        1 - (1 - j^r)^b. Pairs above the threshold only do better."""
        from relieff_lsh_spark.functions import text

        return 1.0 - (1.0 - self.jaccard_min ** text.TEXT_ROWS) ** text.TEXT_BANDS

    @property
    def text_recall_salted(self) -> float:
        """Worst-case recall when EVERY band bucket a pair shares is salted:
        the pair survives a salted band only if both sides land in the same
        of SALT_FACTOR sub-buckets (p = j^r / SALT_FACTOR per band). The
        real cost is far smaller — salting only triggers on buckets past
        BUCKET_CAP — but this bound is logged so the trade-off is explicit."""
        from relieff_lsh_spark.functions import text
        from relieff_lsh_spark.operators import candidates

        p = self.jaccard_min ** text.TEXT_ROWS / candidates.SALT_FACTOR
        return 1.0 - (1.0 - p) ** text.TEXT_BANDS

    def partitions(self, spark) -> int:
        """Shuffle width of the explicit repartitions: the configured count,
        else the session's own spark.sql.shuffle.partitions."""
        if self.shuffle_partitions is not None:
            return self.shuffle_partitions
        return int(spark.conf.get("spark.sql.shuffle.partitions"))

    def to_dict(self) -> dict:
        return asdict(self)
