"""Percentiles, the p75 rule, peak RSS and process-tree helpers."""

from __future__ import annotations

import os
import statistics
import time

# p75 is only meaningful with at least ten samples above it.
P75_MIN_OPS = 40


def p75(values: list[float]) -> float | None:
    """75th percentile of per-op latencies, or None below P75_MIN_OPS
    ops (fewer than ten samples would lie beyond it)."""
    if len(values) < P75_MIN_OPS:
        return None
    return float(statistics.quantiles(values, n=4, method="inclusive")[2])


def cpus() -> int:
    """What `nproc` reports: the CPUs this process may run on."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak RSS of this process plus every descendant (the driver JVM
    and its Python workers) over a phase, with no sampling thread: on
    entry each process's high-water mark is reset (``clear_refs`` 5), on
    exit ``peak_mb`` is the sum of the high-water marks. A sum of
    per-process peaks bounds the peak of the sum from above."""

    def __enter__(self) -> "PeakRss":
        for pid in [os.getpid()] + descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                pass  # already gone, or a kernel without peak reset
        return self

    def __exit__(self, *exc) -> None:
        pids = [os.getpid()] + descendants(os.getpid())
        self.peak_mb = sum(_status_kb(p, "VmHWM:") for p in pids) / 1024.0


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` is alive; returns the survivors."""
    deadline = time.time() + timeout
    alive = list(pids)
    while alive and time.time() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if alive:
            time.sleep(0.1)
    return alive


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
