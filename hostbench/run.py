#!/usr/bin/env python3
"""Host-sized benchmark of the dedup engine.

    python3 hostbench/run.py --workload pipeline_batch --seed 1 --seconds 12 --trace 0

Run from the repository root. One local Spark session, sized from this
host, runs one workload (see workloads.py). The last stdout line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1); the line before it is the run record (host sizing, per-op
walls, errors, per-span detail, the result), also written to
.bench_work/records/. `python3 hostbench/stats.py <records>` summarizes
records by median, quartiles and spread.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from hostbench import host  # noqa: E402
from hostbench.spans import COUNTERS, Tracer, fold_event_log  # noqa: E402
from hostbench.stats import median  # noqa: E402
from hostbench.workloads import WORKLOADS, write_inputs  # noqa: E402

WORK_ROOT = os.path.join(REPO, ".bench_work")
WATCHDOG_S = 170.0  # a run still going here is killed and reported as failed
# a traced run's untraced ('u') and traced ('t') operations, in order: the
# traced one sits between two untraced ones, so a steady drift in speed
# between operations cancels out of the tracing overhead
TRACE_PLAN = "utu"

SPANS = ("pipeline", "signatures", "candidates", "verify", "components",
         "stream.batch")
COUNTER_METRICS = {
    "candidates.band_rows": "count", "candidates.pairs": "count",
    "candidates.dropped_row_ratio": "ratio", "verify.yield": "ratio",
    "components.rounds": "count", "catalog.bytes_written": "bytes",
    "stream.jobs_per_batch": "count", "stream.bands_rows_joined": "count",
    "stream.state_files": "count",
}
RUN_METRICS = {"session.start_s": "s", "corpus.gen_s": "s", "warmup_s": "s",
               "tracing_overhead_s": "s"}
SPAN_UNITS = {"s": "s", "self_s": "s", "jobs": "count", "tasks": "count",
              "task_cpu_s": "s", "gc_s": "s", "shuffle_write_bytes": "bytes",
              "spill_bytes": "bytes", "python_bytes": "bytes"}
END_TO_END = {"setup_s": "s", "wall_s": "s", "clips_per_s": "clips/s",
              "peak_rss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    units = dict(RUN_METRICS)
    for span in SPANS:
        for q, u in SPAN_UNITS.items():
            units[f"{span}.{q}"] = u
    units.update(COUNTER_METRICS)
    return units


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _configure_env(work: str, sz: dict) -> None:
    """Everything the session writes stays under `work`; the library's own
    settings are used except the heap size, which comes from the host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = sz["driver_mem"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_ICEBERG_WH"] = os.path.join(work, "iceberg")
    os.environ["TMPDIR"] = tmp
    # quoted: the JVM splits this variable on whitespace, and the checkout's
    # path may hold a space. Without -UsePerfData the JVM would write its
    # performance counters to /tmp, outside the work directory.
    os.environ["JAVA_TOOL_OPTIONS"] = f'-Djava.io.tmpdir="{tmp}" -XX:-UsePerfData'
    # Python workers must run this interpreter, which has pyspark and
    # pyarrow, and import the package the UDFs live in
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def _socket_dir(work: str) -> str:
    """Where the session's Unix sockets go (the library enables them for
    the Python worker channel). A socket path may hold at most 107 bytes and
    the checkout's path may be long, so the directory is given relative to
    the working directory when that is shorter; the JVM, this process and
    the Python workers all run in it."""
    path = os.path.join(work, "sock")
    os.makedirs(path, exist_ok=True)
    return min(path, os.path.relpath(path), key=len)


def _stop_session(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes; one that is slower
        # than this is killed by reap_descendants at the end of the run
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            pass


def _watchdog(ops: list, t_start: float, work: str) -> threading.Timer:
    """Kills the session and reports every operation as failed if the run
    is still going WATCHDOG_S after t_start, when the process began (a
    gateway that never comes up, a hung job)."""

    def fire():
        host.reap_descendants(grace_s=0)
        shutil.rmtree(work, ignore_errors=True)
        print(f"hostbench: run exceeded {WATCHDOG_S:.0f}s, killed",
              file=sys.stderr, flush=True)
        n = max(1, len(ops))
        _emit({"correct": False, "attempted": n, "failed": n, "metrics": {}})
        os._exit(3)

    t = threading.Timer(WATCHDOG_S - (time.perf_counter() - t_start), fire)
    t.daemon = True
    t.start()
    return t


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = _parse(argv)
    # a terminated run still stops the session and the processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(REPO, "relieff_lsh_spark")):
        print("hostbench: relieff_lsh_spark/ not found next to hostbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"hostbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl_cls = WORKLOADS[args.workload]
    sz = host.sizing()
    work = os.path.join(WORK_ROOT, f"run_{args.workload}_{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _configure_env(work, sz)
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "host": sz,
              "input_clips": wl_cls.input_clips, "op_clips": wl_cls.n_clips}
    ops = []
    spark = None
    try:
        # inputs first: generation forks worker processes, which must
        # happen before the session's JVM and any thread exist
        t_setup = time.perf_counter()
        corpus_dir = write_inputs(os.path.join(work, "corpus"),
                                  wl_cls.input_clips, args.seed)
        gen_s = time.perf_counter() - t_setup
        dog = _watchdog(ops, t_start, work)

        from relieff_lsh_spark.config import DedupConfig
        from relieff_lsh_spark.session import get_spark

        extra = {"spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
                 "spark.python.unix.domain.socket.dir": _socket_dir(work)}
        if args.trace:
            extra["spark.eventLog.enabled"] = "true"
            extra["spark.eventLog.dir"] = pathlib.Path(work, "eventlog").as_uri()
            # one plain JSON-lines file, read back after the session stops
            extra["spark.eventLog.rolling.enabled"] = "false"
            extra["spark.eventLog.compress"] = "false"
            os.makedirs(os.path.join(work, "eventlog"))
        with host.RssSampler() as rss:
            t0 = time.perf_counter()
            try:
                spark = get_spark(app_name=f"hostbench-{args.workload}",
                                  master=sz["master"],
                                  shuffle_partitions=sz["shuffle_partitions"],
                                  extra_conf=extra)
            except Exception as e:  # the gateway did not come up
                record["error"] = f"session start failed: {e!r}"
                print(json.dumps(record), file=sys.stderr)
                _emit({"correct": False, "attempted": 1, "failed": 1, "metrics": {}})
                return 1
            start_s = time.perf_counter() - t0
            cfg = DedupConfig(shuffle_partitions=sz["shuffle_partitions"])
            wl = wl_cls(spark, cfg, work, corpus_dir)
            # a fresh session's first operation pays JIT and plan
            # compilation and Python worker start, and its wall swings with
            # the host's load; set-up ends once one operation has run
            t0 = time.perf_counter()
            wl.warm_up()
            warm_s = time.perf_counter() - t0
            setup_s = time.perf_counter() - t_setup

            tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
            untraced = Tracer(enabled=False)

            def run_op(tr: Tracer) -> float:
                t = time.perf_counter()
                try:
                    res = wl.op(tr)
                except Exception:
                    res = None
                    record.setdefault("errors", []).append(traceback.format_exc())
                if res is not None and not res.ok:
                    record.setdefault("errors", []).append(res.error)
                ops.append(res)
                return res.wall_s if res is not None else time.perf_counter() - t

            if args.trace:
                for step in TRACE_PLAN:
                    run_op(tracer if step == "t" else untraced)
            else:
                timed = 0.0
                while not ops or timed < args.seconds:
                    timed += run_op(untraced)
        peak_mb = rss.peak_mb
        record["peak_procs"] = rss.peak_procs
        _stop_session(spark)
        spark = None

        good = [o for o in ops if o is not None]
        failed = sum(1 for o in ops if o is None or not o.ok)
        record["op_walls_s"] = [round(o.wall_s, 4) for o in good]
        record.update(setup_s=setup_s, session_start_s=start_s, corpus_gen_s=gen_s,
                      warmup_s=warm_s, peak_rss_mb=peak_mb)
        if not good:
            metrics = {}
        elif not args.trace:
            wall = median([o.wall_s for o in good])
            vals = {
                "setup_s": setup_s,
                "wall_s": wall,
                "clips_per_s": wl_cls.n_clips / wall,
                "peak_rss_mb": peak_mb,
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}
        else:
            run_vals = {"session.start_s": start_s, "corpus.gen_s": gen_s,
                        "warmup_s": warm_s}
            metrics = _per_layer(work, tracer, ops, run_vals, record)
        result = {"correct": failed == 0, "attempted": len(ops),
                  "failed": failed, "metrics": metrics}
    finally:
        if spark is not None:
            try:
                _stop_session(spark)
            except Exception:
                traceback.print_exc()
        killed = host.reap_descendants()
        if killed:
            record["killed_pids"] = killed
        shutil.rmtree(work, ignore_errors=True)
    dog.cancel()
    record["result"] = result
    os.makedirs(os.path.join(WORK_ROOT, "records"), exist_ok=True)
    rec_path = os.path.join(WORK_ROOT, "records",
                            f"{args.workload}_seed{args.seed}_trace{args.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)
    print("# record " + json.dumps(record))
    _emit(result)
    return 0 if result["correct"] else 1


def _per_layer(work, tracer, ops, run_vals, record):
    """Per-layer metrics of a traced run: run-level times, the spans' walls
    and folded task counters, and the traced operation's counters."""
    if any(o is None for o in ops):
        return {}
    traced = ops[TRACE_PLAN.index("t")]
    untraced = [o.wall_s for o, step in zip(ops, TRACE_PLAN) if step == "u"]
    untraced_wall = sum(untraced) / len(untraced)
    log_dir = os.path.join(work, "eventlog")
    lines = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            lines.extend(f)
    folded = fold_event_log(lines)
    vals = dict(run_vals, tracing_overhead_s=traced.wall_s - untraced_wall)
    for span in SPANS:
        vals[f"{span}.s"] = tracer.walls.get(span, {}).get("s", 0.0)
        vals[f"{span}.self_s"] = tracer.self_s(span)
        for c in COUNTERS:
            vals[f"{span}.{c}"] = folded.get(span, {}).get(c, 0.0)
    for name in COUNTER_METRICS:
        vals[name] = traced.counters.get(name, 0.0)
    n_batches = tracer.walls.get("stream.batch", {}).get("n", 0)
    if n_batches:
        vals["stream.jobs_per_batch"] = vals["stream.batch.jobs"] / n_batches
    self_sum = sum(tracer.self_s(s) for s in SPANS)
    record["spans"] = tracer.walls
    record["folded"] = folded
    record["self_s_over_untraced_wall"] = self_sum / untraced_wall
    units = per_layer_units()
    return {k: {"value": vals[k], "unit": units[k]} for k in units}


def _emit(result: dict) -> None:
    sys.stderr.flush()
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    sys.exit(main())
