"""End-to-end dedup pipeline orchestration with checkpoint/resume.

Stage graph (SURVEY.md §3.4):

    corpus ──┬─> signatures  [snapshot]   fused Arrow UDFs + JVM shingling
             │      │
             │      v
             └─> bands  (narrow explode; exact channel hashes bytes at scan)
                    │   repartition(N, band keys)
                    v
                 candidates  [snapshot]   capped+salted band self-join
                    │
                    v
                 verified    [snapshot]   exact Hamming/Jaccard/substring
                    │
                    v
                 components  [snapshot]   large-star/small-star fixpoint

Every [snapshot] is a SnapshotCatalog write recording per-partition lineage
and stage counters; `run(resume=True)` skips any stage whose snapshot
already exists — the reference's read-precomputed-graph mode
(ReliefFFeatureSelector.scala:262/336) generalized to every stage.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from relieff_lsh_spark.config import DedupConfig
from relieff_lsh_spark.functions.signatures import clip_signatures
from relieff_lsh_spark.operators.banding import all_bands
from relieff_lsh_spark.operators.candidates import band_candidates
from relieff_lsh_spark.operators.components import connected_components
from relieff_lsh_spark.operators.verify import verify_candidates
from relieff_lsh_spark.sources.catalog import SnapshotCatalog

STAGES = ("signatures", "candidates", "verified", "components")


def _session_cpu_seconds() -> float:
    """Cumulative usr+sys CPU of every live process in this session (the
    python driver, the JVM, the python UDF workers). Diagnostic only — used
    to attribute core-seconds to stages when tuning scaling efficiency."""
    try:
        hz = os.sysconf("SC_CLK_TCK")
        with open(f"/proc/{os.getpid()}/stat") as f:
            my_sess = int(f.read().rsplit(")", 1)[1].split()[3])
        total = 0
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    parts = f.read().rsplit(")", 1)[1].split()
                if int(parts[3]) == my_sess:
                    total += int(parts[11]) + int(parts[12])
            except OSError:
                continue
        return total / hz
    except Exception:
        return 0.0


class DedupPipeline:
    def __init__(
        self,
        spark: SparkSession,
        cfg: DedupConfig,
        warehouse: str,
        corpus_path: str,
        decoders: dict | None = None,
    ):
        self.spark = spark
        self.cfg = cfg
        self.catalog = SnapshotCatalog(spark, warehouse)
        self.corpus_path = corpus_path
        self.decoders = decoders  # audio codec registry override
        self.metrics: dict[str, dict] = {}

    def corpus(self) -> DataFrame:
        return self.spark.read.parquet(self.corpus_path)

    # -- stages --------------------------------------------------------------
    def stage_signatures(self) -> DataFrame:
        """One fused signature projection: text sigs (JVM shingles + MinHash
        UDF) and audio sigs (scalar decode/fingerprint/SimHash UDF) in a
        single narrow scan — no join, `bytes` dies at the scan and never
        shuffles."""
        return clip_signatures(self.corpus(), self.cfg, self.decoders)

    def stage_candidates(self, sigs: DataFrame) -> tuple[DataFrame, dict]:
        corpus = self.corpus()
        bands = all_bands(corpus, sigs, sigs, self.cfg)
        cand, stats = band_candidates(bands, self.cfg)
        return cand, {
            "dropped_buckets": stats.dropped_buckets,
            "dropped_rows": stats.dropped_rows,
            "salted_buckets": stats.salted_buckets,
        }

    def stage_verified(self, cand: DataFrame, sigs: DataFrame) -> DataFrame:
        return verify_candidates(cand, sigs, self.cfg)

    def stage_components(self, verified: DataFrame) -> tuple[DataFrame, dict]:
        # vertices from the signatures snapshot, not the raw corpus: same
        # clip_id set, but a ~KB/row table instead of a ~75KB/row scan
        vertices = self.catalog.read("signatures").select("clip_id")
        # storage-backed round checkpoints: localCheckpoint blocks die with
        # their executor on a real cluster; a killed job resumes the star
        # fixpoint from the last persisted round instead of restarting it.
        # The dir is keyed to the verified-snapshot VERSION so a re-run of
        # upstream stages can never resume from stale edge state.
        ver = (self.catalog.manifest("verified") or {}).get("version", 0)
        ckpt = os.path.join(self.catalog.warehouse, f"_components_rounds_v{ver}")
        res = connected_components(
            verified.select("a", "b"), vertices, checkpoint_dir=ckpt
        )
        if not res.converged:
            # Raise BEFORE the snapshot write: a persisted non-converged
            # components table would be silently reused by run(resume=True).
            # The round-checkpoint dir is left in place so a retry with a
            # larger max_iters resumes the fixpoint, not restarts it.
            raise RuntimeError(
                "connected-components did not converge within max_iters; "
                f"no components snapshot written — retry with a larger "
                f"max_iters (fixpoint resumes from {ckpt})"
            )
        import shutil

        shutil.rmtree(ckpt, ignore_errors=True)
        return res.components, {"iterations": res.iterations, "converged": res.converged}

    # -- orchestration --------------------------------------------------------
    def run(self, resume: bool = True) -> dict:
        t_all = time.time()

        def _run_stage(name: str, fn) -> DataFrame:
            if resume and self.catalog.exists(name):
                self.metrics[name] = {"skipped": True, **(self.catalog.manifest(name) or {})}
                return self.catalog.read(name)
            t0 = time.time()
            cpu0 = _session_cpu_seconds()
            df, counters = fn()
            man = self.catalog.write(name, df, counters=counters)
            man["seconds"] = round(time.time() - t0, 3)
            man["cpu_core_seconds"] = round(_session_cpu_seconds() - cpu0, 1)
            man["skipped"] = False
            self.metrics[name] = man
            return self.catalog.read(name)

        sigs = _run_stage("signatures", lambda: (self.stage_signatures(), {}))
        # per-codec quarantine audit: clips whose codec has no in-container
        # decoder carry NULL simhash (functions/audio.py make_simhash_udf) and are
        # COUNTED here rather than killing tasks; they still dedup through
        # the exact/text/substr channels.
        quarantined = {
            r["codec"]: int(r["n"])
            for r in sigs.where(F.col("simhash").isNull())
            .groupBy("codec").agg(F.count("*").alias("n")).collect()
        }
        self.metrics["signatures"]["quarantined_by_codec"] = quarantined

        cand = _run_stage("candidates", lambda: self.stage_candidates(sigs))
        verified = _run_stage(
            "verified", lambda: (self.stage_verified(cand, sigs), {})
        )
        comps = _run_stage("components", lambda: self.stage_components(verified))
        if self.metrics["components"].get("counters", {}).get("converged") is False:
            # Defensive: stage_components raises before writing on
            # non-convergence, so this only trips on a manifest persisted by
            # an older engine version resumed here.
            raise RuntimeError(
                "resumed components snapshot records converged=False — drop "
                "the components table (or run with resume=False) and re-run"
            )

        sizes = comps.groupBy("component_id").agg(F.count("*").alias("n"))
        agg = sizes.agg(
            F.count("*").alias("n_components"),
            F.coalesce(
                F.sum(F.when(F.col("n") > 1, F.col("n"))), F.lit(0)
            ).alias("dup_clips"),
        ).collect()[0]
        # the component-size report a dedup user reads first (the reference's
        # sorted weight output, ReliefFFeatureSelector.scala:506)
        top = (
            sizes.orderBy(F.desc("n"), F.asc("component_id")).limit(10).collect()
        )
        self.metrics["summary"] = {
            "total_seconds": round(time.time() - t_all, 3),
            "n_components": int(agg["n_components"]),
            "clips_in_dup_groups": int(agg["dup_clips"]),
            "top_components": [
                {"component_id": r["component_id"], "n_clips": int(r["n"])}
                for r in top
            ],
        }
        return self.metrics
