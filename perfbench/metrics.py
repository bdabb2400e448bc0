"""Measurement helpers: quantiles, process-tree memory, JVM counters."""

from __future__ import annotations

import math
import os
import threading
import time

from perfbench.procs import descendants

_TICK = os.sysconf("SC_CLK_TCK")


def _beta_cdf_grid(a: float, b: float, n: int, steps: int = 4000):
    """CDF of Beta(a, b) at 0, 1/n, ..., 1 by midpoint integration of the
    density on a grid ``steps`` cells fine."""
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    cdf, acc, h = [0.0], 0.0, 1.0 / steps
    for k in range(steps):
        x = (k + 0.5) * h
        acc += math.exp(log_norm + (a - 1) * math.log(x)
                        + (b - 1) * math.log1p(-x)) * h
        if (k + 1) * n % steps == 0:
            cdf.append(acc)
    return [c / acc for c in cdf]


def hd_quantile(values, q: float) -> float:
    """Harrell-Davis estimate of the q-th quantile (0 < q < 1): a mean
    of all order statistics weighted by a Beta((n+1)q, (n+1)(1-q))
    density. Unlike a single order statistic it does not jump when two
    query classes of a small mix swap places around the quantile."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("quantile of no values")
    if n == 1:
        return xs[0]
    steps = n * (4000 // n + 1)
    cdf = _beta_cdf_grid((n + 1) * q, (n + 1) * (1 - q), n, steps)
    return sum(x * (cdf[i + 1] - cdf[i]) for i, x in enumerate(xs))


def process_age_s() -> float:
    """Seconds since this process started, from the kernel's record of
    its start (so interpreter start-up counts)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat: starttime
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _TICK


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants, each page
    shared between them counted once (the sum of their proportional
    set sizes: forked Python workers share most of their pages)."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            total += _pss_bytes(pid)
        except OSError:
            pass  # exited while we looked
    return total


class RssSampler:
    """Background thread tracking the peak resident memory of this
    process tree (Python driver, JVM, Python workers)."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(me))
            if self._stop.wait(self.interval_s):
                return

    def reset(self) -> None:
        """Forget the peak so far (memory of finished phases)."""
        self.peak_bytes = 0

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(os.getpid()))
        return self.peak_bytes / 2**20


STAGE_FIELDS = (
    "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ns",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "gc_ms",
)


def job_group_stats(sc, group: str) -> dict[str, int]:
    """Sum the JVM status store's stage metrics over one job group."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(STAGE_FIELDS, 0)
    stage_ids: set[int] = set()
    for job in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - evicted from the store
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numTasks()
        out["executor_run_ms"] += sd.executorRunTime()
        out["executor_cpu_ns"] += sd.executorCpuTime()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["spill_bytes"] += sd.diskBytesSpilled()
        out["gc_ms"] += sd.jvmGcTime()
    return out


def cached_bytes(sc) -> int:
    """Bytes held by persisted RDDs/DataFrames (memory and disk)."""
    return sum(i.memSize() + i.diskSize()
               for i in sc._jsc.sc().getRDDStorageInfo())


def dir_bytes_and_files(path: str) -> tuple[int, int]:
    """Bytes and data files under ``path`` (Spark's _SUCCESS markers
    and .crc checksum side files are not data)."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files
