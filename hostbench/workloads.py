"""The benchmark's workloads. Each is closed-loop: one driver thread issues
the next operation only after the previous one has completed.

pipeline_batch  one operation = `DedupPipeline.run(resume=False)` over a
                seeded corpus into a fresh warehouse.
stream_ingest   one operation = the last `IncrementalDedup.process_batch`
                of a stream over the seeded corpus cut into STREAM_BATCHES
                micro-batches; it joins against the state the earlier
                batches left.

Before the clock starts, one operation's worth of work warms the session
up. Operations then repeat until their summed wall reaches `--seconds` (at
least one). Every operation's output is checked after its clock stops; a
failed check or a raised exception counts as a failed operation.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from hostbench.spans import Tracer

# Input sizes; BENCHMARK.json states why each was chosen.
PIPELINE_CLIPS = 1000
STREAM_CLIPS = 120
STREAM_BATCHES = 2
GEN_PROCS = 4  # fixed, so the parquet layout does not depend on the host
GEN_ROW_GROUP = 100
RECOVERY_MIN = 0.99

# pipeline stage (snapshot table) -> span name
STAGE_SPANS = {"signatures": "signatures", "candidates": "candidates",
               "verified": "verify", "components": "components"}


@dataclass
class OpResult:
    wall_s: float
    ok: bool
    error: str = ""
    counters: dict[str, float] = field(default_factory=dict)


def write_inputs(root: str, n_clips: int, seed: int) -> str:
    """Generate the seeded corpus (and its truth tables) under root."""
    from relieff_lsh_spark.sources.corpus import write_corpus

    write_corpus(n_clips, root, seed=seed, batch_rows=GEN_ROW_GROUP,
                 procs=GEN_PROCS)
    return root


def _dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under path."""
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            files += 1
            size += os.path.getsize(os.path.join(d, f))
    return files, size


# -- output checks -------------------------------------------------------------

def check_components(comps, clip_ids: set[str], truth_pairs) -> str:
    """'' when every clip has exactly one component and every planted kind
    is recovered at >= RECOVERY_MIN of its truth pairs; else the reason."""
    if len(comps) != len(clip_ids) or comps["clip_id"].nunique() != len(comps):
        return f"{len(comps)} component rows for {len(clip_ids)} clips"
    if set(comps["clip_id"]) != clip_ids:
        return "component clip ids differ from the corpus"
    label = dict(zip(comps["clip_id"], comps["component_id"]))
    same = [label[a] == label[b] for a, b in zip(truth_pairs["a"], truth_pairs["b"])]
    by_kind: dict[str, list[int]] = {}
    for kind, hit in zip(truth_pairs["kind"], same):
        by_kind.setdefault(kind, [0, 0])
        by_kind[kind][0] += hit
        by_kind[kind][1] += 1
    low = {k: h / n for k, (h, n) in by_kind.items() if h / n < RECOVERY_MIN}
    return f"recovery below {RECOVERY_MIN}: {low}" if low else ""


def _truth(corpus_dir: str):
    import pyarrow.parquet as pq

    clips = pq.read_table(os.path.join(corpus_dir, "truth_components.parquet"),
                          columns=["clip_id"]).column("clip_id").to_pylist()
    pairs = pq.read_table(os.path.join(corpus_dir, "truth_pairs.parquet")).to_pandas()
    return set(clips), pairs


# -- pipeline_batch ------------------------------------------------------------

class PipelineBatch:
    name = "pipeline_batch"
    input_clips = n_clips = PIPELINE_CLIPS  # generated; ingested per operation

    def __init__(self, spark, cfg, work: str, corpus_dir: str):
        self.spark, self.cfg, self.work = spark, cfg, work
        self.corpus_dir = corpus_dir
        self.corpus_path = os.path.join(corpus_dir, "corpus.parquet")
        self.clip_ids, self.truth_pairs = _truth(corpus_dir)
        self._n = 0

    def _pipeline(self, wh: str):
        from relieff_lsh_spark.plans.dedup_pipeline import DedupPipeline

        return DedupPipeline(self.spark, self.cfg, wh, self.corpus_path)

    def warm_up(self) -> None:
        wh = os.path.join(self.work, "wh_warm")
        self._pipeline(wh).run(resume=False)
        shutil.rmtree(wh, ignore_errors=True)

    def op(self, tracer: Tracer) -> OpResult:
        self._n += 1
        wh = os.path.join(self.work, f"wh_{self._n}")
        pipe = self._pipeline(wh)
        band_rows: list[int] = []
        with _traced_stages(pipe, tracer, band_rows):
            t0 = time.perf_counter()
            with tracer.span("pipeline"):
                pipe.run(resume=False)
            wall = time.perf_counter() - t0
        try:
            comps = pipe.catalog.read("components").toPandas()
            err = check_components(comps, self.clip_ids, self.truth_pairs)
            counters = self._counters(pipe, wh, band_rows) if tracer.enabled else {}
        finally:
            shutil.rmtree(wh, ignore_errors=True)
        return OpResult(wall, not err, err, counters)

    @staticmethod
    def _counters(pipe, wh: str, band_rows: list[int]) -> dict[str, float]:
        man = {t: pipe.catalog.manifest(t) or {} for t in STAGE_SPANS}
        rows = {t: float(m.get("rows", 0)) for t, m in man.items()}
        cand = man["candidates"].get("counters", {})
        n_band = float(sum(band_rows))
        return {
            "candidates.band_rows": n_band,
            "candidates.pairs": rows["candidates"],
            "candidates.dropped_row_ratio":
                float(cand.get("dropped_rows", 0)) / n_band if n_band else 0.0,
            "verify.yield": rows["verified"] / rows["candidates"] if rows["candidates"] else 0.0,
            "components.rounds": float(man["components"].get("counters", {}).get("iterations", 0)),
            "catalog.bytes_written": float(_dir_stats(wh)[1]),
        }


@contextmanager
def _traced_stages(pipe, tracer: Tracer, band_rows: list[int]):
    """In a traced run, open a span around each stage's compute call and its
    snapshot write, and record the band rows `band_candidates` reports.
    Untraced, this does nothing."""
    if not tracer.enabled:
        yield
        return
    from relieff_lsh_spark.plans import dedup_pipeline as dp

    def wrap(fn, span: str):
        def traced(*a, **kw):
            with tracer.span(span):
                return fn(*a, **kw)
        return traced

    for stage, span in STAGE_SPANS.items():
        attr = f"stage_{stage}"
        setattr(pipe, attr, wrap(getattr(pipe, attr), span))
    write = pipe.catalog.write
    pipe.catalog.write = lambda table, *a, **kw: wrap(write, STAGE_SPANS[table])(table, *a, **kw)
    band_candidates = dp.band_candidates

    def counted(*a, **kw):
        cand, stats = band_candidates(*a, **kw)
        band_rows.append(int(stats.rows_in))
        return cand, stats

    dp.band_candidates = counted
    try:
        yield
    finally:
        dp.band_candidates = band_candidates


# -- stream_ingest -------------------------------------------------------------

class StreamIngest:
    """The corpus is cut into STREAM_BATCHES micro-batch files once, and
    every micro-batch but the last is ingested into a template state before
    the clock starts. Each operation copies that state, opens a stream on
    the copy and ingests the last micro-batch, joining it against the
    accumulated state. The stream keeps its state only on disk, so a copy
    carries on exactly where the template left off.

    Compaction stays off: it adds about 10 s and 40 Spark jobs to an
    operation, more than the run budget holds. Without it the timed batch
    leaves a merge log, which the output check resolves."""

    name = "stream_ingest"
    input_clips = STREAM_CLIPS
    n_clips = STREAM_CLIPS // STREAM_BATCHES  # in the timed micro-batch

    def __init__(self, spark, cfg, work: str, corpus_dir: str):
        import pyarrow.parquet as pq

        self.spark, self.cfg, self.work = spark, cfg, work
        self.clip_ids, self.truth_pairs = _truth(corpus_dir)
        table = pq.read_table(os.path.join(corpus_dir, "corpus.parquet"))
        table = table.sort_by("clip_id")
        # micro-batch k holds every STREAM_BATCHES-th clip from k: each batch
        # carries a share of every planted group, so the timed batch finds
        # duplicates in the state the earlier ones left
        self.batch_files = []
        for k in range(STREAM_BATCHES):
            path = os.path.join(work, "batches", f"batch_{k}.parquet")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq.write_table(table.take(list(range(k, table.num_rows, STREAM_BATCHES))),
                           path, row_group_size=GEN_ROW_GROUP)
            self.batch_files.append(path)
        self.template = os.path.join(work, "state_template")
        self._n = 0

    def _stream(self, state: str):
        from relieff_lsh_spark.streaming.incremental import IncrementalDedup

        return IncrementalDedup(self.spark, self.cfg, state,
                                auto_compact_every=None)

    def _batch(self, inc, k: int) -> None:
        inc.process_batch(self.spark.read.parquet(self.batch_files[k]), k)

    def warm_up(self) -> None:
        """Ingest every micro-batch but the last into the template state."""
        inc = self._stream(self.template)
        for k in range(STREAM_BATCHES - 1):
            self._batch(inc, k)

    def op(self, tracer: Tracer) -> OpResult:
        self._n += 1
        state = os.path.join(self.work, f"state_{self._n}")
        shutil.copytree(self.template, state)
        inc = self._stream(state)
        try:
            t0 = time.perf_counter()
            with tracer.span("stream.batch"):
                self._batch(inc, STREAM_BATCHES - 1)
            wall = time.perf_counter() - t0
            err = check_stream(inc, self.clip_ids, self.truth_pairs)
            counters = {}
            if tracer.enabled:
                counters = {
                    "stream.bands_rows_joined": float(sum(
                        b["bands_rows_joined"] for b in inc.batch_stats)),
                    "stream.state_files": float(_dir_stats(state)[0]),
                }
        finally:
            shutil.rmtree(state, ignore_errors=True)
        return OpResult(wall, not err, err, counters)


def check_stream(inc, clip_ids: set[str], truth_pairs) -> str:
    """'' when the incrementally maintained components equal the full
    recompute over all accumulated edges, and pass `check_components`
    against the generator's truth; else the reason."""
    got = inc.components().components.toPandas()
    want = inc.components_full_recompute().components.toPandas()
    g = dict(zip(got["clip_id"], got["component_id"]))
    w = dict(zip(want["clip_id"], want["component_id"]))
    if len(got) != len(g):
        return "a clip has more than one incremental component row"
    if g != w:
        diff = sum(g.get(k) != v for k, v in w.items()) + len(set(g) - set(w))
        return f"incremental components differ from full recompute on {diff} clips"
    return check_components(got, clip_ids, truth_pairs)


WORKLOADS = {w.name: w for w in (PipelineBatch, StreamIngest)}
