"""Band self-join: pair generation, bucket cap, hot-band salting, drop logging."""

from __future__ import annotations

from pyspark.sql import functions as F

from relieff_lsh_spark.config import DedupConfig
from relieff_lsh_spark.operators import candidates
from relieff_lsh_spark.operators.candidates import band_candidates


def _bands_df(spark, rows):
    return spark.createDataFrame(rows, ["clip_id", "channel", "band_id", "band_hash"])


def _budget(monkeypatch, cap, factor):
    """A tiny per-bucket work budget, so a handful of rows exercises it."""
    monkeypatch.setattr(candidates, "BUCKET_CAP", cap)
    monkeypatch.setattr(candidates, "SALT_FACTOR", factor)


def test_small_bucket_all_pairs(spark, cfg):
    rows = [(f"c{i}", "text", 0, 123) for i in range(5)]
    cand, stats = band_candidates(_bands_df(spark, rows), cfg)
    got = {(r["a"], r["b"]) for r in cand.collect()}
    assert len(got) == 10  # C(5,2)
    assert all(a < b for a, b in got)
    assert stats.dropped_rows == 0 and stats.salted_buckets == 0


def test_hot_bucket_salted_not_dropped(spark, monkeypatch):
    _budget(monkeypatch, 8, 4)
    cfg = DedupConfig(shuffle_partitions=8)
    rows = [(f"c{i:03d}", "text", 0, 999) for i in range(20)]  # cap < 20 <= cap*factor
    cand, stats = band_candidates(_bands_df(spark, rows), cfg)
    n = cand.count()
    assert stats.salted_buckets == 1
    assert stats.dropped_rows == 0
    assert 0 < n < 190  # fewer than all C(20,2) pairs: salting cuts the bucket


def test_oversized_bucket_dropped_and_logged(spark, monkeypatch):
    _budget(monkeypatch, 4, 2)
    cfg = DedupConfig(shuffle_partitions=8)
    rows = [(f"c{i:03d}", "text", 0, 777) for i in range(10)]  # 10 > cap*factor=8
    cand, stats = band_candidates(_bands_df(spark, rows), cfg)
    assert cand.count() == 0
    assert stats.dropped_rows == 10
    assert stats.dropped_buckets == 1


def test_per_band_salt_differs(spark, monkeypatch):
    """Salt assignment must vary by band so a hot group stays transitively
    connected through different band-wise cuts."""
    _budget(monkeypatch, 4, 4)
    cfg = DedupConfig(shuffle_partitions=8)
    rows = [(f"c{i:03d}", "text", b, 1000 + b) for i in range(16) for b in (0, 1, 2, 3)]
    cand, stats = band_candidates(_bands_df(spark, rows), cfg)
    assert stats.salted_buckets == 4
    # union of per-band sub-bucket pairs must connect more than one band's worth
    pairs_per_band = 4 * 6  # SALT_FACTOR groups of ~4 -> C(4,2)=6
    assert cand.count() > pairs_per_band


def test_channels_collected(spark, cfg):
    rows = [
        ("x", "text", 0, 1), ("y", "text", 0, 1),
        ("x", "audio", 0, 2), ("y", "audio", 0, 2),
    ]
    cand, _ = band_candidates(_bands_df(spark, rows), cfg)
    row = cand.collect()[0]
    assert sorted(row["channels"]) == ["audio", "text"]


def test_documents_hot_band_capped(spark):
    """Adversarial boilerplate corpus: 150 identical docs share every band
    bucket (>> DOC_BUCKET_CAP), so the documents-suite band join must drop
    those buckets instead of emitting C(150,2) pairs — while a distinct
    near-dup pair in cold buckets is still found."""
    from relieff_lsh_spark.operators import dedup_docs as dd

    boiler = "the same boilerplate sentence repeated for every single page of this site"
    uniq = "quick brown foxes jump over lazy dogs near the riverbank at dawn every day"
    rows = [(i, boiler) for i in range(150)]
    rows.append((200, uniq))
    rows.append((201, "NEW " + uniq))  # near-dup of 200 (shares shingles)
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    sig = dd.signature_df(docs).localCheckpoint()
    pairs = {(r["a"], r["b"]) for r in dd._candidates_from(sig).collect()}

    assert (200, 201) in pairs                      # cold-bucket recall intact
    assert not any(a < 150 and b < 150 for a, b in pairs)  # hot bucket dropped
    assert len(pairs) < 100                          # nowhere near C(150,2)=11175


def test_default_config_plans_session_partitions(spark):
    """DedupConfig() leaves the band repartition to the session's
    spark.sql.shuffle.partitions: the stats collect that materializes the
    repartitioned band relation runs a stage of exactly that many tasks."""
    sc = spark.sparkContext
    rows = [(f"c{i}", "text", i % 2, 5) for i in range(6)]
    # one input partition, so no stage's task count depends on the host
    bands = _bands_df(spark, sc.parallelize(rows, 1))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    group = "test_default_config_plans_session_partitions"
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    sc.setJobGroup(group, "band_candidates under DedupConfig()")
    try:
        cand, stats = band_candidates(bands, DedupConfig())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert stats.rows_in == 6
    tracker = sc.statusTracker()
    tasks = {
        tracker.getStageInfo(s).numTasks
        for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
        if tracker.getStageInfo(s) is not None
    }
    assert 3 in tasks and 32 not in tasks, tasks
    assert len(cand.collect()) == 2 * 3  # C(3,2) pairs in each of 2 buckets
