"""Host facts the harness sizes itself from, process-tree bookkeeping
read from ``/proc`` (psutil is not a dependency), and the host-weather
stamp recorded with every run.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_INTERVAL_S = 0.1
REAP_TIMEOUT_S = 30.0


def host_cores() -> int:
    """Cores as ``env -u OMP_NUM_THREADS nproc`` reports them: an
    inherited OMP_NUM_THREADS would otherwise cap nproc's answer."""
    env = {k: v for k, v in os.environ.items() if k != "OMP_NUM_THREADS"}
    out = subprocess.run(["nproc"], env=env, capture_output=True, text=True, check=True)
    return int(out.stdout.strip())


def mem_available_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemAvailable line in /proc/meminfo")


def driver_memory(avail_bytes: int) -> str:
    """A sixteenth of the memory the host has free (about 1 GB on a
    16 GB host). The workloads' data are megabytes; a larger heap only
    lets the JVM's resident size drift with GC timing (measured 1.7 to
    2.2 GB between runs at a quarter, which made ``peak_rss_mb`` spread
    over 20%), and takes memory from whatever else shares the host."""
    return f"{max(avail_bytes // 16 // 2**20, 512)}m"


def _stat_fields(pid: int) -> list[str] | None:
    """Fields 3 onwards of ``/proc/<pid>/stat`` (they follow the
    parenthesised command name), or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    return stat[stat.rfind(")") + 2 :].split()


def start_time(pid: int) -> int | None:
    """Field 22 (start time, in clock ticks since boot): with the pid it
    names one process, even after the pid number is reused."""
    fields = _stat_fields(pid)
    return int(fields[19]) if fields else None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields:
            kids.setdefault(int(fields[1]), []).append(int(name))  # field 4: ppid
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (driver, JVM, Python workers) every ``RSS_INTERVAL_S`` seconds on a
    background thread. ``peak_mb`` is the largest sum seen since the
    last ``reset``; ``seen`` maps every descendant pid to its start
    time, so the harness can wait for all of them to end."""

    def __init__(self):
        self.seen: dict[int, int] = {}
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        me = os.getpid()
        pids = descendants(me)
        total = _rss_bytes(me) + sum(_rss_bytes(p) for p in pids)
        with self._lock:
            for p in pids:
                t = start_time(p)
                if t is not None:
                    self.seen[p] = t
            self._peak = max(self._peak, total)

    def _loop(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self.sample()

    def reset(self) -> None:
        with self._lock:
            self._peak = 0

    @property
    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / 2**20

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def reap(seen: dict[int, int]) -> list[int]:
    """Wait until every process in ``seen`` (pid -> start time) has
    ended; SIGKILL the ones still alive after ``REAP_TIMEOUT_S`` and
    return them. A pid whose start time no longer matches has ended and
    been reused by an unrelated process, which is left alone."""

    def still_ours(pids):
        return [p for p in pids if start_time(p) == seen[p]]

    deadline = time.monotonic() + REAP_TIMEOUT_S
    alive = still_ours(seen)
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = still_ours(alive)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return alive


def fault_probe_s() -> float:
    """Seconds to first-touch 128 MB of fresh pages: the host's
    page-reclaim weather (clean is about 0.05 s)."""
    import numpy as np

    t0 = time.perf_counter()
    a = np.empty(128 * 1024 * 1024 // 8, dtype=np.float64)
    a[::512] = 1.0  # one write per 4 KiB page
    return time.perf_counter() - t0


def u64_kernel_probe_s() -> float:
    """Best of two timed CountMin ``update_batch`` calls over 2M int64
    rows: the scalar u64 hash rate every sketch kernel is bound by,
    which the fault probe cannot see."""
    import numpy as np

    from datasketches_rust_spark.functions.countmin import CountMinSketch

    vals = np.arange(2_000_000, dtype=np.int64)
    CountMinSketch(num_hashes=3, num_buckets=1024).update_batch(vals[:100_000])
    best = float("inf")
    for _ in range(2):
        sk = CountMinSketch(num_hashes=3, num_buckets=1024)
        t0 = time.perf_counter()
        sk.update_batch(vals)
        best = min(best, time.perf_counter() - t0)
    return best


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs so far, from the first
    line of ``/proc/stat``: time the hypervisor gave to other guests."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_share(since: tuple[int, int]) -> float:
    """Share of CPU time stolen from this host since ``cpu_jiffies()``
    returned ``since``."""
    steal, total = cpu_jiffies()
    return round((steal - since[0]) / max(total - since[1], 1), 4)


def weather_stamp() -> dict:
    """One reading of both probes. A stamp only: the harness never
    waits on it and never drops a run because of it."""
    return {"fault_s": round(fault_probe_s(), 4), "u64_kernel_s": round(u64_kernel_probe_s(), 4)}
