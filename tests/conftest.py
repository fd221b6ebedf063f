from __future__ import annotations

import os

import pytest

from relieff_lsh_spark.config import DedupConfig
from relieff_lsh_spark.session import get_spark
from relieff_lsh_spark.sources.corpus import write_corpus

CACHE_DIR = os.path.join(os.path.dirname(__file__), "_data")
# local cores and shuffle partitions: SPARK_GRAFT_CPUS, else this host's CPUs
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="relieff-lsh-tests", master=f"local[{CPUS}]",
                  shuffle_partitions=CPUS)
    yield s


@pytest.fixture(scope="session")
def cfg() -> DedupConfig:
    return DedupConfig(shuffle_partitions=CPUS)


def _corpus_dir(n: int, seed: int, pcm_ref: bool) -> str:
    d = os.path.join(CACHE_DIR, f"corpus_n{n}_s{seed}")
    marker = os.path.join(d, "_SUCCESS_GEN")
    if not os.path.exists(marker):
        write_corpus(n, d, seed=seed, write_pcm_ref=pcm_ref)
        open(marker, "w").close()
    return d


@pytest.fixture(scope="session")
def small_corpus_dir() -> str:
    """1k-row corpus with planted duplicates + pcm_ref (FIXTURES.md sf-small)."""
    return _corpus_dir(1000, 42, pcm_ref=True)


@pytest.fixture(scope="session")
def tiny_corpus_dir() -> str:
    """300-row corpus for fast operator tests."""
    return _corpus_dir(300, 7, pcm_ref=False)
