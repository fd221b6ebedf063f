"""Physical-plan regression tests: the scale properties the pipeline relies
on, asserted on the actual Catalyst output so a refactor that silently
breaks them fails CI (SURVEY.md §4 O1-O12).

Checked here, not in the bench harness, because they are binary plan-shape
facts independent of data size: a cartesian join or a lost broadcast at
sf0.001 is the same plan bug at 100 TB.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from relieff_lsh_spark.config import DedupConfig
from relieff_lsh_spark.operators import dedup_docs as dd
from relieff_lsh_spark.operators import knn
from relieff_lsh_spark.operators import textstats as ts
from relieff_lsh_spark.operators import tpch_ops as tp

SF_DIR = "/root/testdata/sf0.001"


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_dim_join_broadcasts_small_side(spark):
    """J2 (R:124): the nation/region lookup must plan as a broadcast hash
    join — a shuffle of the fact table against a 5-row dim is the classic
    scale bug."""
    plan = _plan(tp.q_broadcast_dim_join(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_scan_prunes_unused_columns(spark):
    """O10: a 2-column projection must reach the parquet scan as a 2-column
    ReadSchema (documents has 5 columns)."""
    plan = _plan(ts.q_token_stats(_docs(spark)))
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and "doc_id:bigint,text:string" in read[0]
    assert "lang" not in read[0] and "source" not in read[0]


def test_filter_pushed_to_scan(spark):
    """O2/O12: a scan-level predicate must appear in PushedFilters."""
    df = _docs(spark).where(F.col("n_chars") > 500).select("doc_id")
    plan = _plan(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "GreaterThan(n_chars,500)" in pushed[0]


@pytest.mark.parametrize(
    "build",
    [
        lambda s: dd.q_lsh_candidates(_docs(s)),
        lambda s: dd.q_simhash_neardup(_docs(s)),
        lambda s: dd.q_jaccard_verify(_docs(s)),
        lambda s: knn.q_simhash_ann_candidates(
            s.read.parquet(f"{SF_DIR}/embeddings.parquet")
        ),
        lambda s: knn.q_ivf_ann_pairs(
            s.read.parquet(f"{SF_DIR}/embeddings.parquet")
        ),
    ],
    ids=["lsh_candidates", "simhash_neardup", "jaccard_verify", "ann", "ivf"],
)
def test_candidate_joins_are_equi_joins(spark, build):
    """J4/O1: every band/bucket self-join must plan as an equi-join on the
    bucket key — never a cartesian/nested-loop product (that is the exact
    O(n^2) the LSH design exists to avoid)."""
    plan = _plan(build(spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_signature_stage_is_one_scan_no_shuffle(spark, tiny_corpus_dir):
    """The fused audio+text signature stage: exactly one scan, zero
    exchanges (decode -> FFT -> SimHash -> MinHash all inside one stage),
    and the scan prunes sr_hz/dur_ms. `bytes` dies inside the stage —
    with no Exchange in the plan it physically cannot shuffle."""
    from relieff_lsh_spark.functions.signatures import clip_signatures

    corpus = spark.read.parquet(f"{tiny_corpus_dir}/corpus.parquet")
    sig = clip_signatures(corpus)
    plan = _plan(sig)
    assert "Exchange" not in plan
    assert plan.count("Location: InMemoryFileIndex") == 1  # exactly one scan
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "bytes:binary" in read  # needed by the decode UDF
    assert "sr_hz" not in read and "dur_ms" not in read  # pruned
    assert "bytes" not in [f.name for f in sig.schema.fields]


def test_hot_expressions_stay_in_codegen(spark):
    """O11: the verify-stage expressions (array_intersect jaccard) must run
    inside whole-stage-codegen'd stages, not fall back to interpreted
    projection. AQE only reveals codegen ids in the finalized plan, so run
    the query first, then check the formatted explain."""
    df = dd.q_jaccard_verify(_docs(spark))
    df.collect()  # count() would plan a different query; collect finalizes df's own
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "codegen id" in plan


def test_candidates_stage_reads_no_corpus_bytes(spark, tiny_corpus_dir, tmp_path,
                                                monkeypatch):
    """The corpus -> signature boundary: clip_signatures is the only reader
    of the corpus. The band relation that `stage_candidates` feeds the
    self-join, over a signatures snapshot, has no scan that reads `bytes`
    (the exact channel keys on the snapshot's digest column)."""
    from relieff_lsh_spark.plans import dedup_pipeline as dp

    pipe = dp.DedupPipeline(
        spark, DedupConfig(shuffle_partitions=4), str(tmp_path / "wh"),
        f"{tiny_corpus_dir}/corpus.parquet",
    )
    pipe.catalog.write("signatures", pipe.stage_signatures())
    band_candidates, seen = dp.band_candidates, []

    def capture(bands, cfg):
        seen.append(bands)
        return band_candidates(bands, cfg)

    monkeypatch.setattr(dp, "band_candidates", capture)
    pipe.stage_candidates(pipe.catalog.read("signatures"))
    read = [l for l in _plan(seen[0]).splitlines() if "ReadSchema" in l]
    assert read  # the signatures snapshot scan
    assert not [l for l in read if "bytes:" in l]
