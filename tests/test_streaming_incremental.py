"""Structured-Streaming incremental dedup: new files arriving in a directory
are signed, banded against existing state, and verified — and the accumulated
edge set yields the SAME components as the batch pipeline over the full
corpus (cross-batch duplicates must be found, not just intra-batch ones).
Also exercises checkpoint resume: the second `availableNow` run processes
only files added since the first run.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from relieff_lsh_spark.config import DedupConfig
from relieff_lsh_spark.operators.components import pair_recall
from relieff_lsh_spark.plans.dedup_pipeline import DedupPipeline
from relieff_lsh_spark.streaming.incremental import IncrementalDedup


@pytest.fixture(scope="module")
def split_corpus(spark, tiny_corpus_dir, tmp_path_factory):
    """The tiny corpus split into two parquet files (odd/even row index) so
    duplicate groups straddle the split."""
    root = tmp_path_factory.mktemp("stream")
    in_dir = str(root / "incoming")
    os.makedirs(in_dir, exist_ok=True)
    corpus = spark.read.parquet(os.path.join(tiny_corpus_dir, "corpus.parquet"))
    part = F.pmod(F.xxhash64("clip_id"), F.lit(2))
    for i in (0, 1):
        corpus.where(part == i).coalesce(1).write.mode("overwrite").parquet(
            str(root / f"staged_{i}")
        )
    return str(root), in_dir, str(root / "staged_0"), str(root / "staged_1")


def _copy_parts(src_dir: str, dst_dir: str, tag: str) -> None:
    import shutil

    for f in os.listdir(src_dir):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(src_dir, f), os.path.join(dst_dir, f"{tag}_{f}"))


def test_incremental_matches_batch(spark, cfg: DedupConfig, tiny_corpus_dir,
                                   split_corpus, tmp_path):
    root, in_dir, staged0, staged1 = split_corpus
    state = str(tmp_path / "state")

    # --- first arrival: half the corpus
    _copy_parts(staged0, in_dir, "t0")
    inc = IncrementalDedup(spark, cfg, state)
    inc.run_available_now(in_dir)
    n_first = sum(s["new_clips"] for s in inc.batch_stats)
    assert n_first > 0

    # --- second arrival: the rest; resume from the stream checkpoint
    _copy_parts(staged1, in_dir, "t1")
    inc2 = IncrementalDedup(spark, cfg, state)
    inc2.run_available_now(in_dir)
    n_second = sum(s["new_clips"] for s in inc2.batch_stats)
    assert n_first + n_second == 300  # every clip processed exactly once

    stream_comps = inc2.components().components.localCheckpoint()

    # --- batch reference on the full corpus, same config
    pipe = DedupPipeline(
        spark, cfg, str(tmp_path / "wh"),
        os.path.join(tiny_corpus_dir, "corpus.parquet"),
    )
    pipe.run(resume=False)
    batch_comps = pipe.catalog.read("components")

    m = pair_recall(stream_comps, batch_comps)
    assert m["recall"] == 1.0, m        # every batch-found dup pair found
    assert m["precision"] == 1.0, m     # and nothing extra


def test_rerun_without_new_files_is_noop(spark, cfg: DedupConfig, split_corpus,
                                         tmp_path):
    root, in_dir, staged0, _ = split_corpus
    state = str(tmp_path / "state2")
    inc = IncrementalDedup(spark, cfg, state)
    inc.run_available_now(in_dir)
    edges_before = inc.verified_edges().count()

    inc2 = IncrementalDedup(spark, cfg, state)
    inc2.run_available_now(in_dir)
    assert inc2.batch_stats == []  # checkpoint: nothing reprocessed
    assert inc2.verified_edges().count() == edges_before


def test_per_batch_work_stays_bounded(spark, cfg: DedupConfig, tiny_corpus_dir,
                                      tmp_path):
    """O(batch), not O(history): with equal-sized batches, the band rows
    entering candidate generation must NOT grow with the number of batches
    already absorbed (round 1 re-banded the FULL signature history every
    micro-batch). Late batches may join at most ~2x an early batch's rows
    (cross-batch duplicate groups legitimately add some)."""
    import shutil

    corpus = spark.read.parquet(os.path.join(tiny_corpus_dir, "corpus.parquet"))
    in_dir = str(tmp_path / "incoming")
    os.makedirs(in_dir)
    n_files = 8
    part = F.pmod(F.xxhash64("clip_id"), F.lit(n_files))
    for i in range(n_files):
        staged = str(tmp_path / f"s{i}")
        corpus.where(part == i).coalesce(1).write.parquet(staged)
        for f in os.listdir(staged):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(staged, f), os.path.join(in_dir, f"f{i}_{f}"))

    inc = IncrementalDedup(spark, cfg, str(tmp_path / "state"))
    inc.run_available_now(in_dir, max_files_per_trigger=1)
    stats = sorted(inc.batch_stats, key=lambda s: s["batch_id"])
    assert len(stats) == n_files
    early, late = stats[1], stats[-1]
    # normalize by batch size (hash split is not perfectly even)
    early_rate = early["bands_rows_joined"] / early["new_clips"]
    late_rate = late["bands_rows_joined"] / late["new_clips"]
    assert late_rate <= 2.0 * early_rate, (early, late)


def test_replayed_batch_is_idempotent(spark, cfg: DedupConfig, tiny_corpus_dir,
                                      tmp_path):
    """foreachBatch is at-least-once: re-running the same (batch, batch_id)
    — e.g. after a partial failure — must leave state tables identical, not
    duplicate signatures/bands/edges."""
    corpus = spark.read.parquet(os.path.join(tiny_corpus_dir, "corpus.parquet"))
    batch = corpus.limit(80)
    inc = IncrementalDedup(spark, cfg, str(tmp_path / "state"))
    inc.process_batch(batch, batch_id=0)
    sigs1 = inc.signatures().count()
    bands1 = inc.bands_state().count()
    edges1 = inc.verified_edges().count()
    inc.process_batch(batch, batch_id=0)  # replay
    assert inc.signatures().count() == sigs1
    assert inc.bands_state().count() == bands1
    assert inc.verified_edges().count() == edges1


def test_batch_writes_one_file_per_bucket(spark, cfg: DedupConfig,
                                         tiny_corpus_dir, tmp_path):
    """A micro-batch leaves at most one parquet file per bucket directory
    of each partitioned state table, however many partitions its input
    has, and the bands prune list is exactly its own bucket directories."""
    corpus = spark.read.parquet(os.path.join(tiny_corpus_dir, "corpus.parquet"))
    state = str(tmp_path / "state")
    inc = IncrementalDedup(spark, cfg, state, auto_compact_every=None)
    inc.process_batch(corpus.limit(80).repartition(3), batch_id=0)
    for table, col in (("bands", "bucket"), ("signatures", "sig_bucket"),
                       ("comp_vertices", "vbucket")):
        d = os.path.join(state, table, "batch_id=0")
        buckets = [b for b in os.listdir(d) if b.startswith(f"{col}=")]
        assert buckets, table
        for b in buckets:
            files = [f for f in os.listdir(os.path.join(d, b)) if f.endswith(".parquet")]
            assert len(files) <= 1, (table, b, files)
        if table == "bands":
            assert inc.batch_stats[-1]["buckets_pruned_to"] == len(buckets)


def test_empty_batch_leaves_no_state(spark, cfg: DedupConfig, tiny_corpus_dir,
                                     tmp_path):
    corpus = spark.read.parquet(os.path.join(tiny_corpus_dir, "corpus.parquet"))
    state = str(tmp_path / "state")
    inc = IncrementalDedup(spark, cfg, state, auto_compact_every=None)
    inc.process_batch(corpus.limit(0), batch_id=0)
    assert inc.batch_stats == []
    assert inc.signatures() is None
    assert not os.path.exists(os.path.join(state, "signatures", "batch_id=0"))


def test_state_refuses_batch_signed_with_other_geometry(spark, cfg: DedupConfig,
                                                        tiny_corpus_dir, tmp_path,
                                                        monkeypatch):
    """The first batch pins the signature geometry in the state dir; a
    batch signed with different constants (here: half the text bands) would
    band-join rows that can never match, so it is refused before it writes
    anything."""
    import json

    from relieff_lsh_spark.config import geometry
    from relieff_lsh_spark.functions import text

    corpus = spark.read.parquet(os.path.join(tiny_corpus_dir, "corpus.parquet"))
    state = str(tmp_path / "state")
    inc = IncrementalDedup(spark, cfg, state, auto_compact_every=None)
    inc.process_batch(corpus.limit(20), batch_id=0)
    with open(os.path.join(state, "GEOMETRY.json")) as f:
        assert json.load(f) == geometry()

    monkeypatch.setattr(text, "TEXT_BANDS", 16)
    with pytest.raises(ValueError, match="TEXT_BANDS"):
        inc.process_batch(corpus.limit(40), batch_id=1)
    assert not os.path.exists(os.path.join(state, "signatures", "batch_id=1"))


def test_corrupt_state_file_raises(spark, cfg: DedupConfig, tiny_corpus_dir,
                                   tmp_path):
    """A state table that cannot be read is an error, not "no prior state":
    a stray non-parquet file in the vertex-label table makes the next batch
    fail instead of silently relabelling every old endpoint as new."""
    from pyspark.errors import PySparkException

    corpus = spark.read.parquet(os.path.join(tiny_corpus_dir, "corpus.parquet"))
    part = F.pmod(F.xxhash64("clip_id"), F.lit(2))
    state = str(tmp_path / "state")
    inc = IncrementalDedup(spark, cfg, state, auto_compact_every=None)
    inc.process_batch(corpus.where(part == 0), batch_id=0)
    with open(os.path.join(state, "comp_vertices", "batch_id=0", "junk.parquet"),
              "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(PySparkException):
        inc.process_batch(corpus.where(part == 1), batch_id=1)


def test_incremental_components_equal_global_fixpoint(spark, cfg: DedupConfig,
                                                      tiny_corpus_dir, tmp_path):
    """The incrementally-maintained components (stored labels + merge-log
    closure) must equal the global fixpoint over ALL accumulated edges,
    exactly — and the per-batch maintenance must stay O(batch): the merge
    log is bounded by merge EVENTS (<< edges), and the vertex-label lookup
    is pruned to the endpoints' hash buckets."""
    import shutil as sh

    corpus = spark.read.parquet(os.path.join(tiny_corpus_dir, "corpus.parquet"))
    in_dir = str(tmp_path / "incoming")
    os.makedirs(in_dir)
    n_files = 6
    part = F.pmod(F.xxhash64("clip_id"), F.lit(n_files))
    for i in range(n_files):
        staged = str(tmp_path / f"s{i}")
        corpus.where(part == i).coalesce(1).write.parquet(staged)
        for f in os.listdir(staged):
            if f.endswith(".parquet"):
                sh.copy(os.path.join(staged, f), os.path.join(in_dir, f"f{i}_{f}"))

    # auto-compaction every 3 batches composes with incremental components:
    # equality with the global fixpoint must survive mid-stream compactions
    inc = IncrementalDedup(spark, cfg, str(tmp_path / "state"),
                           auto_compact_every=3)
    inc.run_available_now(in_dir, max_files_per_trigger=1)
    assert any("compacted" in s for s in inc.batch_stats)

    res = inc.components()
    fast = {
        (r["clip_id"], r["component_id"]) for r in res.components.collect()
    }
    full = {
        (r["clip_id"], r["component_id"])
        for r in inc.components_full_recompute().components.collect()
    }
    assert fast == full and len(fast) == 300
    # the last batch (5) auto-compacted, folding the merge log — so the
    # closure fixpoint has NOTHING to do: components() is a pure label read
    assert res.iterations == 0

    # work bounds: merge log << edge history; lookups pruned below fanout
    from relieff_lsh_spark.streaming.incremental import BUCKETS

    n_edges = inc.verified_edges().count()
    n_merges = inc._state("comp_merges").count()
    assert n_merges < n_edges / 2, (n_merges, n_edges)
    for s in inc.batch_stats[1:]:
        assert s["comp_buckets_pruned_to"] <= BUCKETS

    # merge-log folding: the log only holds merges SINCE the last
    # compaction, so components() cost is bounded by compaction cadence,
    # not stream age. The last auto-compaction ran at batch 5 (every 3);
    # only batch 5's own post-compact appends can remain.
    last_compact = max(
        s["batch_id"] for s in inc.batch_stats if "compacted" in s
    )
    live_merges = sum(
        s["merge_edges_appended"]
        for s in inc.batch_stats
        if s["batch_id"] > last_compact
    )
    assert n_merges <= live_merges, (n_merges, live_merges)


def test_stream_cap_keeps_early_pairs_that_batch_drops(spark, tiny_corpus_dir,
                                                       tmp_path, monkeypatch):
    """The documented batch/stream divergence under the skew cap (module
    docstring, round-3 VERDICT #7): the stream applies the cap to the
    bucket's ACCUMULATED size at each batch, so pairs emitted while the
    bucket was small survive even after it later grows past the drop
    threshold. Batch mode sees the full bucket at once and drops it whole.
    Pinned direction: stream recall >= batch recall on skewed data —
    strictly greater in this construction."""
    from relieff_lsh_spark.functions.signatures import clip_signatures
    from relieff_lsh_spark.operators import candidates
    from relieff_lsh_spark.operators.banding import all_bands

    monkeypatch.setattr(candidates, "BUCKET_CAP", 2)
    monkeypatch.setattr(candidates, "SALT_FACTOR", 2)
    small = DedupConfig(shuffle_partitions=8)
    base = (
        spark.read.parquet(os.path.join(tiny_corpus_dir, "corpus.parquet"))
        .limit(1).collect()[0]
    )

    def clones(ids):
        return spark.createDataFrame(
            [
                (f"dup_{i:02d}", bytes(base["bytes"]), base["sr_hz"],
                 base["dur_ms"], base["codec"], base["transcript"])
                for i in ids
            ],
            "clip_id string, bytes binary, sr_hz int, dur_ms int, "
            "codec string, transcript string",
        )

    inc = IncrementalDedup(spark, small, str(tmp_path / "state"))
    # arrival 1: 3 identical clips — every bucket is at 3, inside the salted
    # tier (cap < 3 <= cap*SALT_FACTOR), so pairs are emitted and verified
    inc.process_batch(clones(range(3)), batch_id=0)
    early = {(r["a"], r["b"]) for r in inc.verified_edges().collect()}
    assert early, "salted tier should emit pairs among the first arrivals"
    # arrival 2: 5 more copies — accumulated bucket size 8 > cap*SALT_FACTOR,
    # the bucket is now hot and dropped for NEW pairs...
    inc.process_batch(clones(range(3, 8)), batch_id=1)
    assert inc.batch_stats[-1]["dropped_buckets"] > 0
    stream_edges = {(r["a"], r["b"]) for r in inc.verified_edges().collect()}
    assert early <= stream_edges  # ...but the early pairs persist

    # batch analog over the SAME 8 clips: every channel bucket holds all 8
    # rows at once -> whole buckets dropped, zero pairs found
    corpus8 = clones(range(8)).localCheckpoint()
    sigs = clip_signatures(corpus8).localCheckpoint()
    cand, stats = candidates.band_candidates(all_bands(sigs), small)
    assert stats.dropped_buckets > 0
    assert cand.count() == 0
    assert len(stream_edges) > 0  # stream recall > batch recall here


def test_compaction_preserves_state_and_reduces_files(spark, cfg: DedupConfig,
                                                      tiny_corpus_dir, tmp_path):
    """compact(): file counts drop, every reader sees identical state,
    replays of covered batches stay invisible (idempotency survives), and
    subsequent batches keep working on the compacted layout."""
    corpus = spark.read.parquet(os.path.join(tiny_corpus_dir, "corpus.parquet"))
    n_batches = 8
    # seeded split hash: decorrelated from the state tables' own
    # pmod(xxhash64(clip_id), BUCKETS) bucketing, so each batch spreads
    # across many bucket dirs (the layout compaction exists to fix)
    part = F.pmod(F.xxhash64("clip_id", F.lit(12345)), F.lit(n_batches))
    batches = [corpus.where(part == i).localCheckpoint() for i in range(n_batches)]

    # auto-compaction OFF: this test drives compact() manually and asserts
    # exact pointer versions (the default cadence would add its own cycle)
    inc = IncrementalDedup(spark, cfg, str(tmp_path / "state"),
                           auto_compact_every=None)
    for i in range(n_batches - 1):
        inc.process_batch(batches[i], batch_id=i)

    before = {
        "sigs": inc.signatures().count(),
        "bands": inc.bands_state().count(),
        "edges": inc.verified_edges().count(),
        "comps": sorted(
            (r["clip_id"], r["component_id"])
            for r in inc.components().components.collect()
        ),
    }
    # the merge log is non-trivial before compaction (cross-batch merges)...
    assert inc._state("comp_merges").count() > 0
    report = inc.compact()
    for table in ("signatures", "bands", "comp_vertices", "verified"):
        assert report[table]["files_after"] < report[table]["files_before"], report
    # ...and FOLDED to empty by it: vertex labels now carry resolved roots,
    # so components() pays nothing for pre-compaction merge history
    folded = inc._state("comp_merges")
    assert folded is None or folded.count() == 0
    # parallel compaction writes: flat tables come out multi-file (the old
    # coalesce(1) wrote exactly one), partitioned dirs keep ~1 file each
    assert report["verified"]["files_after"] > 1, report

    after = {
        "sigs": inc.signatures().count(),
        "bands": inc.bands_state().count(),
        "edges": inc.verified_edges().count(),
        "comps": sorted(
            (r["clip_id"], r["component_id"])
            for r in inc.components().components.collect()
        ),
    }
    assert after == before

    # replay of a covered batch: recreated dirs are below the watermark ->
    # invisible; all counts unchanged
    inc.process_batch(batches[1], batch_id=1)
    assert inc.signatures().count() == before["sigs"]
    assert inc.verified_edges().count() == before["edges"]

    # a NEW batch after compaction lands above the watermark and is seen
    inc.process_batch(batches[n_batches - 1], batch_id=n_batches - 1)
    assert inc.signatures().count() == 300
    fast = {
        (r["clip_id"], r["component_id"])
        for r in inc.components().components.collect()
    }
    full = {
        (r["clip_id"], r["component_id"])
        for r in inc.components_full_recompute().components.collect()
    }
    assert fast == full

    # second compaction cycle (pointer version bump + old version cleanup)
    inc.compact()
    assert inc.signatures().count() == 300
    croot = os.path.join(str(tmp_path / "state"), "_compact", "signatures")
    assert sorted(d for d in os.listdir(croot) if d.startswith("v")) == ["v2"]


def test_crash_between_vertex_and_merge_pointer_swaps_is_safe(
        spark, cfg: DedupConfig, tiny_corpus_dir, tmp_path):
    """Pins the crash window the merge-log fold's docstring argues is safe
    (incremental.py module docstring + STATE_TABLES ordering): compaction
    swaps comp_vertices (labels rewritten to resolved roots) BEFORE
    comp_merges (log emptied). A crash between the two swaps leaves folded
    vertex labels next to the unfolded merge log — components() must still
    be exact there, because re-resolving an already-resolved label through
    the closure is the identity. Also: a rerun of compact() from that state
    completes and folds the log."""
    corpus = spark.read.parquet(os.path.join(tiny_corpus_dir, "corpus.parquet"))
    n_batches = 6
    part = F.pmod(F.xxhash64("clip_id", F.lit(12345)), F.lit(n_batches))
    inc = IncrementalDedup(spark, cfg, str(tmp_path / "state"),
                           auto_compact_every=None)
    for i in range(n_batches):
        inc.process_batch(corpus.where(part == i).localCheckpoint(), batch_id=i)
    # the window only matters when there IS merge history to fold
    assert inc._state("comp_merges").count() > 0
    want = sorted(
        (r["clip_id"], r["component_id"])
        for r in inc.components_full_recompute().components.collect()
    )

    # crash injected right after the comp_vertices pointer swap: vertices
    # are folded, the merge log is NOT yet emptied
    inc._crash_after_table = "comp_vertices"
    with pytest.raises(RuntimeError, match="injected crash"):
        inc.compact()
    assert inc._state("comp_merges").count() > 0  # log indeed unfolded
    crashed = sorted(
        (r["clip_id"], r["component_id"])
        for r in inc.components().components.collect()
    )
    assert crashed == want  # exact through the idempotent re-resolve

    # recovery: a rerun from the crashed state completes the fold
    inc._crash_after_table = None
    inc.compact()
    folded = inc._state("comp_merges")
    assert folded is None or folded.count() == 0
    after = sorted(
        (r["clip_id"], r["component_id"])
        for r in inc.components().components.collect()
    )
    assert after == want


def test_vertex_table_ordered_before_merge_table():
    """The crash-window safety above depends on comp_vertices being
    compacted (and its pointer swapped) before comp_merges — make the
    STATE_TABLES ordering contract explicit instead of positional luck."""
    from relieff_lsh_spark.streaming.incremental import STATE_TABLES

    order = list(STATE_TABLES)
    assert order.index("comp_vertices") < order.index("comp_merges")
