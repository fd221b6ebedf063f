"""Pipeline configuration.

The analog of the reference's ``KNiNeConfiguration`` bundle (reference
ReliefFFeatureSelector.scala:491-494 — radius0 / numTables / keyLength /
maxComparisons), reshaped for near-duplicate detection. Thresholds are
*configuration*, never derived from sampled data (the reference reads a
global constant from the first edge at R:372 — a smell SURVEY.md §4 tells us
to avoid).

`DedupConfig` holds only what a caller sets: the thresholds, the text
banding, the skew budget and the shuffle width. Everything else is either
derived here (`n_perms = bands * rows_per_band`) or a module constant beside
the one function that reads it (the fingerprint/FFT shape in
functions/audio.py, the winnowing widths in functions/signatures.py, the
verify prefilter in operators/verify.py, the SimHash geometry and the seed
below). The canonical values are pinned by FIXTURES.md §4 so that "same
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


@dataclass(frozen=True)
class DedupConfig:
    # --- text channel: k-shingle MinHash, banded b x r (OR-construction) ---
    shingle_k: int = 5          # word-shingle width
    bands: int = 32             # LSH bands (b)
    rows_per_band: int = 4      # rows per band (r); n_perms = b * r
    jaccard_min: float = 0.8    # exact-Jaccard verification threshold

    # --- audio channel: spectral fingerprint -> SimHash-64 ---
    hamming_max: int = 3

    # --- skew / work budget (maxComparisons analog, reference R:159,173) ---
    bucket_cap: int = 64        # max rows per (band, hash) bucket before action
    salt_factor: int = 8        # hot buckets split into this many sub-buckets

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
                f"{self.text_recall_at_threshold:.4f} < 0.99; raise bands or "
                "lower rows_per_band"
            )

    @property
    def n_perms(self) -> int:
        """MinHash signature length: one row per band slot."""
        return self.bands * self.rows_per_band

    @property
    def text_recall_at_threshold(self) -> float:
        """P(>=1 band collision) for a pair at jaccard == jaccard_min:
        1 - (1 - j^r)^b. Pairs above the threshold only do better."""
        return 1.0 - (1.0 - self.jaccard_min ** self.rows_per_band) ** self.bands

    @property
    def text_recall_salted(self) -> float:
        """Worst-case recall when EVERY band bucket a pair shares is salted:
        the pair survives a salted band only if both sides land in the same
        of salt_factor sub-buckets (p = j^r / salt_factor per band). The
        real cost is far smaller — salting only triggers on buckets past
        bucket_cap — but this bound is logged so the trade-off is explicit."""
        p = self.jaccard_min ** self.rows_per_band / self.salt_factor
        return 1.0 - (1.0 - p) ** self.bands

    def partitions(self, spark) -> int:
        """Shuffle width of the explicit repartitions: the configured count,
        else the session's own spark.sql.shuffle.partitions."""
        if self.shuffle_partitions is not None:
            return self.shuffle_partitions
        return int(spark.conf.get("spark.sql.shuffle.partitions"))

    def to_dict(self) -> dict:
        return asdict(self)
