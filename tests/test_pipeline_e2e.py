"""End-to-end golden test: pipeline vs brute-force oracle on the 1k corpus.

The oracle is the reference's own validation pattern (brute method as exact
baseline for the LSH method, ReliefFFeatureSelector.scala:70,258-264).
Asserts the BASELINE.json gate: dup-pair recall >= 0.99 at the canonical
shingle/signature config, plus resume and permutation-invariance properties.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest

from relieff_lsh_spark.config import DedupConfig
from relieff_lsh_spark.operators.components import pair_recall
from relieff_lsh_spark.plans.dedup_pipeline import DedupPipeline
from relieff_lsh_spark.plans.oracle import brute_oracle

WH = os.path.join(os.path.dirname(__file__), "_data", "wh_e2e")


@pytest.fixture(scope="module")
def pipeline(spark, cfg, small_corpus_dir):
    shutil.rmtree(WH, ignore_errors=True)
    pipe = DedupPipeline(spark, cfg, WH, f"{small_corpus_dir}/corpus.parquet")
    pipe.run(resume=False)
    return pipe


@pytest.fixture(scope="module")
def oracle_df(spark, cfg, small_corpus_dir):
    pdf = pd.read_parquet(
        f"{small_corpus_dir}/corpus.parquet",
        columns=["clip_id", "bytes", "codec", "transcript"],
    )
    return spark.createDataFrame(brute_oracle(pdf, cfg))


def test_recall_and_precision_vs_oracle(pipeline, oracle_df):
    comps = pipeline.catalog.read("components")
    m = pair_recall(comps, oracle_df)
    assert m["recall"] >= 0.99, m
    assert m["precision"] >= 0.99, m


def test_all_planted_kinds_recovered(spark, pipeline, small_corpus_dir):
    comps = pipeline.catalog.read("components").toPandas().set_index("clip_id")["component_id"]
    truth_pairs = pd.read_parquet(f"{small_corpus_dir}/truth_pairs.parquet")
    truth_pairs["same"] = [
        comps[a] == comps[b] for a, b in zip(truth_pairs["a"], truth_pairs["b"])
    ]
    by_kind = truth_pairs.groupby("kind")["same"].mean()
    # every planted channel must be essentially fully recovered
    for kind, frac in by_kind.items():
        assert frac >= 0.99, f"{kind}: {frac}"


def test_metrics_and_lineage_recorded(pipeline):
    for stage in ("signatures", "candidates", "verified", "components"):
        man = pipeline.catalog.manifest(stage)
        assert man is not None
        assert man["rows"] > 0
        assert len(man["partitions"]) >= 1
        assert sum(p["rows"] for p in man["partitions"]) == man["rows"]
    assert pipeline.metrics["components"]["counters"]["converged"]


def test_components_converge_at_round_zero(pipeline):
    """The 1k corpus's verified edges fit one coalesced partition, whose
    local contraction already is the star forest: the components fixpoint
    runs no star round."""
    counters = pipeline.catalog.manifest("components")["counters"]
    assert counters["converged"] and counters["iterations"] == 0, counters


def test_resume_skips_completed_stages(spark, cfg, pipeline, small_corpus_dir):
    pipe2 = DedupPipeline(spark, cfg, WH, f"{small_corpus_dir}/corpus.parquet")
    pipe2.run(resume=True)
    assert all(
        pipe2.metrics[s].get("skipped") for s in
        ("signatures", "candidates", "verified", "components")
    )


def test_resume_from_partial_checkpoint(spark, cfg, pipeline, oracle_df, small_corpus_dir):
    """Kill-after-candidates contract (SURVEY.md §5.6): drop downstream
    snapshots, rerun with resume, components must be identical."""
    wh2 = WH + "_partial"
    shutil.rmtree(wh2, ignore_errors=True)
    shutil.copytree(WH, wh2)
    pipe2 = DedupPipeline(spark, cfg, wh2, f"{small_corpus_dir}/corpus.parquet")
    pipe2.catalog.drop("verified")
    pipe2.catalog.drop("components")
    pipe2.run(resume=True)
    assert pipe2.metrics["candidates"]["skipped"]
    assert not pipe2.metrics["verified"]["skipped"]
    a = pipeline.catalog.read("components")
    b = pipe2.catalog.read("components")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    shutil.rmtree(wh2, ignore_errors=True)


def test_hotband_contained(pipeline, spark, small_corpus_dir):
    """The adversarial hot group lands in ONE component and candidate volume
    stays far below quadratic."""
    truth = spark.read.parquet(f"{small_corpus_dir}/truth_components.parquet")
    comps = pipeline.catalog.read("components")
    hot = truth.where("kind = 'hotband'").select("clip_id").join(comps, "clip_id")
    n_hot_comps = hot.select("component_id").distinct().count()
    assert n_hot_comps == 1
    # candidate stage stats: salting engaged or buckets small enough
    man = pipeline.catalog.manifest("candidates")
    n_cand = man["rows"]
    assert n_cand < 100_000  # 1000-row corpus: far below n^2/2


def test_permutation_invariance(spark, cfg, tiny_corpus_dir, tmp_path):
    """Shuffled input order -> identical component *partition* (ids may
    differ only if min clip changes — it can't: ids are stable)."""
    src = spark.read.parquet(f"{tiny_corpus_dir}/corpus.parquet")
    shuffled_path = str(tmp_path / "shuffled")
    src.orderBy("transcript").repartition(7).write.parquet(shuffled_path)

    out1 = DedupPipeline(spark, cfg, str(tmp_path / "w1"), f"{tiny_corpus_dir}/corpus.parquet")
    out1.run(resume=False)
    out2 = DedupPipeline(spark, cfg, str(tmp_path / "w2"), shuffled_path)
    out2.run(resume=False)
    a = out1.catalog.read("components")
    b = out2.catalog.read("components")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_design_recall_recorded_in_manifest(spark, cfg, pipeline, tiny_corpus_dir,
                                            tmp_path, monkeypatch):
    """The candidates manifest records the banding's design recall at
    jaccard_min, and its salted worst case whenever a bucket was salted:
    the 1k run salts nothing; a run capped at 2 rows per bucket salts."""
    from relieff_lsh_spark.operators import candidates

    monkeypatch.setattr(candidates, "BUCKET_CAP", 2)
    capped = DedupPipeline(
        spark, cfg, str(tmp_path / "wh"), f"{tiny_corpus_dir}/corpus.parquet",
    )
    capped.run(resume=False)
    salted = []
    for pipe in (pipeline, capped):
        c = pipe.catalog.manifest("candidates")["counters"]
        assert c["text_recall_at_threshold"] == pytest.approx(
            pipe.cfg.text_recall_at_threshold
        )
        if c["salted_buckets"] > 0:
            assert c["text_recall_salted"] == pytest.approx(pipe.cfg.text_recall_salted)
        else:
            assert "text_recall_salted" not in c
        salted.append(c["salted_buckets"] > 0)
    assert salted == [False, True]


def test_byte_identical_clips_verify_on_their_digests(spark, cfg, tmp_path):
    """FIXTURES §2: a byte-identical clone must be caught. Two identical
    clips whose codec has no decoder (NULL simhash) and whose transcript is
    two words (no shingle, no minimizer) meet only in the exact channel and
    pass verify on their bytes digests alone. Two NULL-bytes clips with
    different short transcripts have no digest, no band row, no candidate
    pair, and stay apart."""
    payload = bytes(range(256)) * 16
    path = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(
        [
            ("x1", payload, "opus", "hello there"),
            ("x2", payload, "opus", "hello there"),
            ("n1", None, "opus", "good morning"),
            ("n2", None, "opus", "good night"),
        ],
        "clip_id string, bytes binary, codec string, transcript string",
    ).write.parquet(path)
    pipe = DedupPipeline(spark, cfg, str(tmp_path / "wh"), path)
    metrics = pipe.run(resume=False)

    comps = {r["clip_id"]: r["component_id"]
             for r in pipe.catalog.read("components").collect()}
    assert comps == {"x1": "x1", "x2": "x1", "n1": "n1", "n2": "n2"}
    ver = pipe.catalog.read("verified").collect()
    assert [(r["a"], r["b"], r["exact_hit"], r["hamming"]) for r in ver] == [
        ("x1", "x2", True, None)
    ]
    cand = pipe.catalog.read("candidates").collect()
    assert [(r["a"], r["b"], r["channels"]) for r in cand] == [("x1", "x2", ["exact"])]
    counters = metrics["candidates"]["counters"]
    assert counters["salted_buckets"] == 0 and "text_recall_salted" not in counters


def test_oracle_judges_quarantined_and_byte_identical_clips():
    """The brute-force oracle judges the corpus of the test above as the
    pipeline does: the undecodable `opus` clips get no Hamming edge instead
    of raising, the byte-identical pair is one component, and the two
    NULL-bytes clips stay apart."""
    payload = bytes(range(256)) * 16
    pdf = pd.DataFrame(
        {
            "clip_id": ["x1", "x2", "n1", "n2"],
            "bytes": [payload, payload, None, None],
            "codec": ["opus"] * 4,
            "transcript": ["hello there", "hello there", "good morning", "good night"],
        }
    )
    out = brute_oracle(pdf, DedupConfig())
    got = dict(zip(out["clip_id"], out["component_id"]))
    assert got == {"x1": "x1", "x2": "x1", "n1": "n1", "n2": "n2"}


def test_oracle_treats_null_transcript_as_empty_text():
    """A NULL transcript has no shingle and no verbatim match, as the
    pipeline's shingling and substring test treat it: the oracle neither
    raises on it nor joins it to the empty or the repeated transcript."""
    text = "the quick brown fox jumps over the lazy dog"
    pdf = pd.DataFrame(
        {
            "clip_id": ["t1", "t2", "t3", "t4"],
            "bytes": [None] * 4,
            "codec": [None] * 4,
            "transcript": [text, text, None, ""],
        }
    )
    out = brute_oracle(pdf, DedupConfig())
    got = dict(zip(out["clip_id"], out["component_id"]))
    assert got == {"t1": "t1", "t2": "t1", "t3": "t3", "t4": "t4"}
