"""SparkSession factory.

Centralizes the physical knobs SURVEY.md §2.8 maps from the reference
(HashPartitioner(1024) at R:123, `-p` input-partitions at R:444-451) onto
their modern equivalents: AQE + explicit shuffle-partition count. AQE is on
per SURVEY.md §4 O5/O7 (post-shuffle coalescing + skew-join splitting).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

GIB = 1024 ** 3
# Room the driver heap leaves for each local Python worker (pandas/pyarrow
# imports plus in-flight Arrow batches) and for the OS and page cache.
PY_WORKER_BYTES = GIB // 2
OS_RESERVE_BYTES = 2 * GIB


def _host_memory_bytes() -> int:
    """MemTotal, lowered to the cgroup memory limit when one is set."""
    total = 0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total = int(line.split()[1]) * 1024
                    break
    except OSError:
        pass
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit() and 0 < int(raw) < total:
            total = int(raw)
    return total


def default_driver_mem(mem_bytes: int, cpus: int) -> str:
    """Driver heap sized from the host: half of what is left once every
    Python worker and the OS reserve have their room, in whole GiB, clamped
    to 1-16 GiB. The heap is pre-touched at JVM start (GC_JVM_FLAGS), so it
    is committed memory from the first second and must fit beside them."""
    free = mem_bytes - cpus * PY_WORKER_BYTES - OS_RESERVE_BYTES
    return f"{max(1, min(16, int(free // 2 // GIB)))}g"


def _driver_mem() -> str:
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    return default_driver_mem(_host_memory_bytes(), cpus)


GC_JVM_FLAGS = "-XX:+AlwaysPreTouch -XX:ParallelGCThreads=8 -XX:ConcGCThreads=2"
# Debugging note (2026-08-17): a JVM SIGSEGV inside
# ~StubRoutines::jlong_disjoint_arraycopy during Arrow UDF stages turned
# out to be SECONDARY damage from the python worker dying mid-stream over
# the unix-domain-socket channel (ModuleNotFoundError when launched from a
# cwd where relieff_lsh_spark is not importable) — the JVM then reads a
# garbage Arrow frame length. Launch with the repo on PYTHONPATH/cwd (or
# ship it via --py-files); the crash is not a host/AVX problem.


def get_spark(
    app_name: str = "relieff_lsh_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER")
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        # Plain-python launch: no gateway yet, we must pick a master.
        # Under spark-submit the gateway JVM already carries --master;
        # setting builder.master here would silently override it.
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    driver_mem = _driver_mem()
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 16MB post-shuffle partitions (vs 64MB default): the verify stage
        # sorts signature rows carrying shingle arrays, and 64MB coalesced
        # partitions made N concurrent sorts outgrow the shared execution
        # pool at high parallelism (spill CPU that local[4] never paid) —
        # measured -19% verify wall at local[16] on the 640k bench corpus
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(16 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Modest Arrow batches: audio rows carry ~75KB binary payloads, so
        # 2048-row batches meant ~150MB socket transfers per worker in
        # flight — measured as kernel-time churn on the scaling bench.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        # The JVM<->python-worker channel is the pipeline's hottest data
        # path (all audio bytes flow through it once). Unix domain sockets
        # skip the TCP loopback stack and a 1MB channel buffer cuts
        # syscall count ~16x; on this VM kernel time dominated that path.
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.buffer.size", str(1024 * 1024))
        # Don't stall task launch on block locality: event-log profiling
        # (BENCH/stage_profile.py) showed stages over cached/localCheckpoint
        # blocks sitting 3s (the spark.locality.wait default) before their
        # first task launched — pure scheduler idle, paid once per locality
        # level per taskset. In local mode there is exactly one executor so
        # the wait can never buy locality; on a multi-executor cluster this
        # pipeline's hot joins read SHUFFLED data (locality-free) and the
        # scan stages use FileScan locality hints, which this setting does
        # not affect. Measured: the components fixpoint and AQE-materialized
        # verify stages dropped from ~4s to task-bound walls.
        .config("spark.locality.wait", "0")
        .config("spark.driver.memory", driver_mem)
        # Fixed, pre-touched heap + capped GC threads: with a lazily
        # committed heap, G1's parallel GC threads page-fault constantly
        # (measured: 81% system time at local[32], 2.3x wall-clock).
        # Only effective for plain-python launches; spark-submit users pass
        # the same via --driver-memory/--conf (see BENCH/scaling.py).
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_mem} {GC_JVM_FLAGS}",
        )
        .config("spark.ui.enabled", "false")
        # Let the planner pick shuffled-hash join where its size conditions
        # hold instead of always preferring sort-merge (guide §3.1): the
        # suite's joins are band/doc-keyed attaches whose per-partition
        # build sides are bounded (bucket caps + 16MB advisory partitions),
        # so the hash build skips both sort passes. Interleaved A/B at sf1x
        # (BENCH/r06_shj_probe.json): q_jaccard_verify 2.60 vs 2.98s min,
        # q_simhash_neardup/q_lsh_candidates_refined -3%, none slower.
        # Scale note: false does not FORCE hash joins — the planner still
        # requires the build side below its size conditions, and AQE skew
        # splitting applies to shuffled-hash joins too, so a skewed or
        # unbounded build side still gets sort-merge/split behavior.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # count()-style aggregates answered from parquet footer statistics
        # instead of scanning row groups (corpus row counts, lineage checks)
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Iceberg catalog wiring: inert without the runtime jar (the class
        # is instantiated lazily on first use); if iceberg-spark-runtime is
        # ever added via --jars, SnapshotCatalog's probe flips and snapshot
        # writes go through writeTo(...).createOrReplace() on this catalog.
        .config("spark.sql.catalog.lshcat", "org.apache.iceberg.spark.SparkCatalog")
        .config("spark.sql.catalog.lshcat.type", "hadoop")
        .config(
            "spark.sql.catalog.lshcat.warehouse",
            os.environ.get("SPARK_GRAFT_ICEBERG_WH", "/tmp/lsh_iceberg_warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
