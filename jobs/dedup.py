#!/usr/bin/env python
"""spark-submit entry point for the near-duplicate detection pipeline.

The analog of the reference CLI (``parseParams`` + ``main``, reference
ReliefFFeatureSelector.scala:420-517, 540-602): positional input + tuning
flags, validation with usage on error, timing print — but emitting
structured JSON metrics instead of a driver-side PrintWriter text file
(SURVEY.md §2.1 S3/S4).

Usage (cluster):
    spark-submit --py-files dist/relieff_lsh_spark.zip jobs/dedup.py \
        --corpus /path/corpus.parquet --warehouse /path/wh \
        --shuffle-partitions 512 --metrics-out run.json

Usage (local, no spark-submit):
    python jobs/dedup.py --corpus ... --warehouse ... --master local[8]

Flags are what a user means: the two thresholds --jaccard-min /
--hamming-max, the shuffle width, and resume. Every DedupConfig field is one
flag. The reference's knobs map as follows:
  reference -p num_partitions  -> --shuffle-partitions (default: the
                                  session's spark.sql.shuffle.partitions)
  reference -c maxComparisons  -> the constant per-bucket work budget
                                  (BUCKET_CAP, SALT_FACTOR in
                                  operators/candidates.py)
  reference -n/-l (tables/key) -> the constant b x r text banding
                                  (TEXT_BANDS x TEXT_ROWS in functions/text.py)
  reference -f graph file      -> --resume (read completed stage snapshots)
The metrics JSON records the config and the signature geometry
(config.geometry()) the run used.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# When launched via `python jobs/dedup.py` from the repo, make the package
# importable; under spark-submit --py-files the zip is already on sys.path.
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if os.path.isdir(os.path.join(_REPO, "relieff_lsh_spark")):
    sys.path.insert(0, _REPO)


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        prog="dedup",
        description="Near-duplicate detection + clustering over an "
        "audio-clip + transcript corpus (PySpark).",
    )
    p.add_argument("--corpus", required=True, help="corpus parquet path")
    p.add_argument("--warehouse", required=True, help="snapshot warehouse dir")
    p.add_argument("--master", default=None,
                   help="Spark master (omit under spark-submit)")
    p.add_argument("--shuffle-partitions", type=int, default=None,
                   help="shuffle width (default: the session's "
                   "spark.sql.shuffle.partitions, the core count under a "
                   "plain python launch)")
    p.add_argument("--resume", action="store_true",
                   help="skip stages whose snapshot already exists")
    p.add_argument("--metrics-out", default=None,
                   help="write the run-metrics JSON here (default: stdout only)")
    # thresholds (defaults = canonical FIXTURES.md §4 config)
    p.add_argument("--jaccard-min", type=float, default=0.8,
                   help="text duplicate: exact shingle Jaccard >= this")
    p.add_argument("--hamming-max", type=int, default=3,
                   help="audio duplicate: SimHash-64 Hamming <= this (max 3)")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> dict:
    args = parse_args(argv)

    from relieff_lsh_spark.config import DedupConfig, geometry
    from relieff_lsh_spark.plans.dedup_pipeline import DedupPipeline
    from relieff_lsh_spark.session import get_spark

    cfg = DedupConfig(
        jaccard_min=args.jaccard_min,
        hamming_max=args.hamming_max,
        shuffle_partitions=args.shuffle_partitions,
    )
    spark = get_spark(
        app_name="relieff-lsh-dedup",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
        # Small input splits so the fused decode/fingerprint UDF scan
        # parallelizes to the full core count even on few large files
        # (split floor is the parquet row group; the corpus generator
        # writes batch_rows-sized groups — 100 rows in the bench layout).
        # Identical at every parallelism level, so scaling stays fair.
        extra_conf={"spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024)},
    )

    t0 = time.time()
    pipe = DedupPipeline(spark, cfg, args.warehouse, args.corpus)
    metrics = pipe.run(resume=args.resume)
    wall = round(time.time() - t0, 3)

    # one signature row per clip: the manifest already counted them
    n_clips = metrics["signatures"]["rows"]
    out = {
        "wall_seconds": wall,
        "n_clips": int(n_clips),
        "clips_per_sec": round(n_clips / wall, 2),
        "config": {**cfg.to_dict(), "geometry": geometry()},
        "stages": metrics,
    }
    line = json.dumps(out)
    print(line)
    if args.metrics_out:
        with open(args.metrics_out, "w") as f:
            f.write(line + "\n")
    spark.stop()
    return out


if __name__ == "__main__":
    main()
