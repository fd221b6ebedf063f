"""Host facts the benchmark sizes its Spark session from, and the /proc
helpers it uses to measure and clean up the processes that session starts.

Everything here reads /proc or /sys; nothing starts a process."""

from __future__ import annotations

import os
import signal
import threading
import time

GIB = 1024 ** 3
# Room left outside the JVM heap for each Python worker (pandas/pyarrow/numpy
# imports plus in-flight Arrow batches) and for the OS, page cache and the
# shuffle/warehouse files the run writes to disk.
PY_WORKER_BYTES = GIB // 2
OS_RESERVE_BYTES = 2 * GIB
# of what is left after the reserves. The library pre-touches the whole
# heap at JVM start, so it is committed memory from the first second; the
# workloads' inputs (at most 1,000 clips) run in 2 GiB, and on a host whose
# memory other tenants share a larger heap only makes a failed start likelier
HEAP_SHARE = 0.2
HEAP_MIN_GIB, HEAP_MAX_GIB = 1, 8


def mem_total_bytes(meminfo: str = "/proc/meminfo",
                    cgroup_files: tuple[str, ...] = (
                        "/sys/fs/cgroup/memory.max",
                        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
                    )) -> int:
    """Usable memory: MemTotal, lowered to the cgroup limit when one is set."""
    total = None
    with open(meminfo) as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total = int(line.split()[1]) * 1024
                break
    if total is None:
        raise ValueError(f"no MemTotal in {meminfo}")
    for path in cgroup_files:
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit() and 0 < int(raw) < total:
            total = int(raw)
    return total


def cpu_count() -> int:
    """CPUs this process may run on (what `nproc` prints)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_heap_gib(mem_bytes: int, cpus: int) -> int:
    """Driver heap in whole GiB: a share of the memory left once every
    Python worker and the OS/shuffle reserve have their room, clamped."""
    free = mem_bytes - cpus * PY_WORKER_BYTES - OS_RESERVE_BYTES
    gib = int(free * HEAP_SHARE // GIB)
    return max(HEAP_MIN_GIB, min(HEAP_MAX_GIB, gib))


def sizing() -> dict:
    mem = mem_total_bytes()
    cpus = cpu_count()
    return {
        "cpus": cpus,
        "mem_total_gib": round(mem / GIB, 2),
        "driver_mem": f"{driver_heap_gib(mem, cpus)}g",
        "master": f"local[{cpus}]",
        "shuffle_partitions": cpus,
    }


# -- process tree ------------------------------------------------------------

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # the command name may contain spaces; fields resume after ')'
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def descendants(root: int) -> list[int]:
    """Every live process below `root` (children, grandchildren, ...)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        fields = _stat_fields(int(d))
        if fields is not None and fields[0] != "Z":  # zombies hold no memory
            children.setdefault(int(fields[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _kib_field(path: str, key: str) -> int:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def mem_bytes(pid: int) -> int:
    """Memory a process holds. Python workers are forked from one daemon and
    share most pages with it, so they count their proportional share (Pss);
    the JVM shares nothing with them and counts its resident set, which is
    much cheaper to read for a multi-GiB heap. A JVM thread forked to launch
    a process holds only the JVM's own pages until it execs (its name is the
    thread's, e.g. 'Executor task launch worker'), so it counts nothing."""
    if _comm(pid) == "java":
        return _kib_field(f"/proc/{pid}/status", "VmRSS:")
    try:
        if os.readlink(f"/proc/{pid}/exe").endswith("/java"):
            return 0
    except OSError:
        return 0
    return _kib_field(f"/proc/{pid}/smaps_rollup", "Pss:")


class RssSampler:
    """Samples the summed memory (`mem_bytes`) of this process's descendants
    (the Spark JVM and its Python workers) on a background thread;
    `peak_mb` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_procs: dict[str, tuple] = {}  # command -> (count, MB) at peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            sample = [(_comm(p), mem_bytes(p)) for p in descendants(me)]
            total = sum(b for _, b in sample)
            if total > self.peak_bytes:
                self.peak_bytes = total
                procs: dict[str, list[int]] = {}
                for comm, b in sample:
                    acc = procs.setdefault(comm, [0, 0])
                    acc[0] += 1
                    acc[1] += b // 1024 ** 2
                self.peak_procs = {k: tuple(v) for k, v in procs.items()}
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 1024 ** 2


def reap_descendants(grace_s: float = 15.0) -> list[int]:
    """Wait for every descendant to exit; SIGKILL whatever outlives the
    grace period. Returns the pids that had to be killed."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    while True:
        _reap_children()
        if not descendants(me) or time.monotonic() >= deadline:
            break
        time.sleep(0.2)
    killed = descendants(me)
    for pid in killed:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    # a killed grandchild whose parent died first is no longer a descendant,
    # so wait on the killed pids themselves
    deadline = time.monotonic() + 5.0
    while any(map(_alive, killed)) and time.monotonic() < deadline:
        _reap_children()
        time.sleep(0.05)
    _reap_children()
    return killed


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def _reap_children() -> None:
    """Collect the exit status of every direct child that has ended."""
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                return
        except ChildProcessError:
            return
