"""Self-tests for the benchmark's own helpers; no Spark session needed.

    python3 -m pytest hostbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

from hostbench import host, run, stats  # noqa: E402
from hostbench.spans import NO_GROUP, Tracer, fold_event_log  # noqa: E402
from hostbench.workloads import WORKLOADS, check_components, check_stream  # noqa: E402

GIB = 1024 ** 3


# -- host sizing ---------------------------------------------------------------

def _meminfo(tmp_path, kib: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kib} kB\nMemFree:        1 kB\n")
    return str(p)


def test_mem_total_reads_meminfo(tmp_path):
    assert host.mem_total_bytes(_meminfo(tmp_path, 16 * 1024 ** 2), ()) == 16 * GIB


def test_mem_total_lowered_to_cgroup_limit(tmp_path):
    cg = tmp_path / "memory.max"
    cg.write_text(f"{6 * GIB}\n")
    got = host.mem_total_bytes(_meminfo(tmp_path, 16 * 1024 ** 2), (str(cg),))
    assert got == 6 * GIB


def test_mem_total_ignores_unlimited_cgroup(tmp_path):
    cg = tmp_path / "memory.max"
    cg.write_text("max\n")
    missing = str(tmp_path / "absent")
    got = host.mem_total_bytes(_meminfo(tmp_path, 8 * 1024 ** 2), (str(cg), missing))
    assert got == 8 * GIB


def test_driver_heap_leaves_room_for_workers_and_os():
    # 16 GiB, 4 CPUs: (16 - 4*0.5 - 2) * 0.2 = 2.4 -> 2 GiB
    assert host.driver_heap_gib(16 * GIB, 4) == 2
    # 32 GiB, 4 CPUs: (32 - 4*0.5 - 2) * 0.2 = 5.6 -> 5 GiB
    assert host.driver_heap_gib(32 * GIB, 4) == 5
    # more workers on the same memory -> smaller heap
    assert host.driver_heap_gib(16 * GIB, 16) < host.driver_heap_gib(16 * GIB, 4)


def test_driver_heap_is_clamped():
    assert host.driver_heap_gib(2 * GIB, 8) == host.HEAP_MIN_GIB
    assert host.driver_heap_gib(512 * GIB, 4) == host.HEAP_MAX_GIB


def test_sizing_uses_every_cpu():
    sz = host.sizing()
    assert sz["master"] == f"local[{sz['cpus']}]"
    assert sz["shuffle_partitions"] == sz["cpus"]
    assert sz["driver_mem"].endswith("g")


def test_socket_dir_fits_a_unix_socket_path_under_a_long_checkout(tmp_path, monkeypatch):
    checkout = tmp_path / ("x" * 100) / "checkout"
    checkout.mkdir(parents=True)
    monkeypatch.chdir(checkout)
    d = run._socket_dir(str(checkout / ".bench_work" / "run_stream_ingest_4194304"))
    assert os.path.isdir(d)
    # pyspark names each socket ".<uuid4>.sock" inside that directory
    assert len(os.path.join(d, f".{'0' * 36}.sock").encode()) <= 107


def test_descendants_of_a_leaf_is_empty():
    # a freshly forked child that has exited leaves nothing behind once reaped
    pid = os.fork()
    if pid == 0:
        os._exit(0)
    os.waitpid(pid, 0)
    assert pid not in host.descendants(os.getpid())


# -- event-log fold ------------------------------------------------------------

def _job(job_id, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return json.dumps({"Event": "SparkListenerJobStart", "Job ID": job_id,
                       "Stage IDs": stages, "Properties": props})


def _task(stage, cpu_ns=0, gc_ms=0, shuffle=0, spill_mem=0, spill_disk=0, acc=()):
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": [{"Name": n, "Update": str(v)} for n, v in acc]},
        "Task Metrics": {"Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
                         "Memory Bytes Spilled": spill_mem,
                         "Disk Bytes Spilled": spill_disk,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}},
    })


def test_fold_sums_task_metrics_per_job_group():
    lines = [
        _job(0, [0, 1], "signatures"),
        _task(0, cpu_ns=2_000_000_000, gc_ms=500, shuffle=10,
              acc=[("data sent to Python workers", 100),
                   ("data returned from Python workers", 20),
                   ("number of output rows", 7)]),
        _task(1, cpu_ns=1_000_000_000, spill_mem=3, spill_disk=4),
        _job(1, [2], "verify"),
        _task(2, shuffle=5),
        "",
    ]
    got = fold_event_log(lines)
    sig = got["signatures"]
    assert sig["jobs"] == 1 and sig["tasks"] == 2
    assert sig["task_cpu_s"] == pytest.approx(3.0)
    assert sig["gc_s"] == pytest.approx(0.5)
    assert sig["shuffle_write_bytes"] == 10
    assert sig["spill_bytes"] == 7
    assert sig["python_bytes"] == 120
    assert got["verify"]["tasks"] == 1 and got["verify"]["shuffle_write_bytes"] == 5


def test_fold_puts_ungrouped_jobs_apart_and_keeps_first_owner_of_a_stage():
    lines = [
        _job(0, [0]),
        _task(0),
        _job(1, [0, 1], "candidates"),  # stage 0 reused: still ungrouped
        _task(1),
        _task(7),  # a task of a stage no job listed
    ]
    got = fold_event_log(lines)
    assert got[NO_GROUP]["jobs"] == 1 and got[NO_GROUP]["tasks"] == 2
    assert got["candidates"]["jobs"] == 1 and got["candidates"]["tasks"] == 1


# -- spans ---------------------------------------------------------------------

class _FakeSc:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, desc):
        self.groups.append(group)

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.groups.append(value)


def test_span_self_time_excludes_children_and_restores_parent_group():
    sc = _FakeSc()
    tr = Tracer(sc)
    with tr.span("pipeline"):
        with tr.span("signatures"):
            pass
        with tr.span("verify"):
            pass
    p = tr.walls["pipeline"]
    child = tr.walls["signatures"]["s"] + tr.walls["verify"]["s"]
    assert p["child_s"] == pytest.approx(child)
    assert tr.self_s("pipeline") == pytest.approx(p["s"] - child)
    assert tr.self_s("pipeline") >= 0
    assert sc.groups == ["pipeline", "signatures", "pipeline", "verify",
                         "pipeline", None]


def test_disabled_tracer_records_nothing():
    tr = Tracer(_FakeSc(), enabled=False)
    with tr.span("pipeline"):
        pass
    assert tr.walls == {} and tr.sc.groups == []


# -- median / quartiles --------------------------------------------------------

def test_quartiles_match_statistics_quantiles():
    vals = [3.1, 2.9, 3.4, 3.0, 2.8, 3.3, 3.2, 3.05, 2.95, 3.6]
    q1, q2, q3 = stats.quartiles(vals)
    assert [q1, q2, q3] == statistics.quantiles(vals, n=4)
    assert q2 == stats.median(vals) == statistics.median(vals)
    assert stats.iqr_share(vals) == pytest.approx((q3 - q1) / q2)


def test_single_sample_has_no_spread():
    assert stats.quartiles([4.0]) == (4.0, 4.0, 4.0)
    assert stats.iqr_share([4.0]) == 0.0
    with pytest.raises(ValueError):
        stats.median([])


# -- output check --------------------------------------------------------------

def _truth():
    clips = {"c1", "c2", "c3", "c4"}
    pairs = pd.DataFrame({"a": ["c1", "c3"], "b": ["c2", "c4"],
                          "kind": ["exact", "audio_near"]})
    return clips, pairs


def test_check_components_passes_on_planted_groups():
    clips, pairs = _truth()
    comps = pd.DataFrame({"clip_id": ["c1", "c2", "c3", "c4"],
                          "component_id": ["c1", "c1", "c3", "c3"]})
    assert check_components(comps, clips, pairs) == ""


def test_check_components_fails_on_missed_kind_and_on_missing_clip():
    clips, pairs = _truth()
    split = pd.DataFrame({"clip_id": ["c1", "c2", "c3", "c4"],
                          "component_id": ["c1", "c1", "c3", "c4"]})
    assert "audio_near" in check_components(split, clips, pairs)
    short = pd.DataFrame({"clip_id": ["c1", "c2", "c3"],
                          "component_id": ["c1", "c1", "c3"]})
    assert check_components(short, clips, pairs)


class _Frame:
    def __init__(self, pdf):
        self.components = self
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class _Stream:
    """Stands in for IncrementalDedup: the two component views it returns."""

    def __init__(self, incremental, full):
        self._inc, self._full = _Frame(incremental), _Frame(full)

    def components(self):
        return self._inc

    def components_full_recompute(self):
        return self._full


def test_check_stream_compares_incremental_to_full_recompute_and_to_truth():
    clips, pairs = _truth()
    good = pd.DataFrame({"clip_id": ["c1", "c2", "c3", "c4"],
                         "component_id": ["c1", "c1", "c3", "c3"]})
    assert check_stream(_Stream(good, good), clips, pairs) == ""
    moved = good.assign(component_id=["c1", "c1", "c3", "c1"])
    assert "full recompute" in check_stream(_Stream(good, moved), clips, pairs)
    # both views agree, but on a graph that lost the audio_near pair
    split = good.assign(component_id=["c1", "c1", "c3", "c4"])
    assert "audio_near" in check_stream(_Stream(split, split), clips, pairs)


# -- BENCHMARK.json agrees with what run.py prints ------------------------------

def test_benchmark_json_matches_the_metrics_run_prints():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["command"] == ["python3", "hostbench/run.py"]
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == run.END_TO_END
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert layer == run.per_layer_units()
    assert len(spec["per_layer"]) <= 128
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup_bound = next(m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup_bound == max(m["bound"] for m in spec["end_to_end"])


def test_summarize_groups_records_by_workload_and_metric():
    recs = [{"workload": "w", "result": {"metrics": {"wall_s": {"value": v, "unit": "s"}}}}
            for v in (1.0, 2.0, 3.0, 4.0)]
    got = stats.summarize(recs)["w"]["wall_s"]
    q1, q2, q3 = statistics.quantiles([1.0, 2.0, 3.0, 4.0], n=4)
    assert (got["n"], got["q1"], got["median"], got["q3"]) == (4, q1, q2, q3)
    assert got["iqr_share"] == pytest.approx((q3 - q1) / q2)
