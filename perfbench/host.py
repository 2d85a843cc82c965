"""Host record and process-tree memory sampling for one benchmark run.

Everything here is a raw reading. Nothing gates, discards or clamps a run:
a contended host shows up as a slow CPU probe and a high load average in
the record, next to the numbers it slowed.
"""

from __future__ import annotations

import os
import threading
import time


def cpu_probe_s() -> float:
    """Wall time of a fixed single-thread integer loop (~0.1-0.2 s quiet)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc += i * i
    return time.perf_counter() - t0


def filesystem_of(path: str) -> dict:
    """Mount point and filesystem type holding ``path`` (/proc/mounts)."""
    path = os.path.realpath(path)
    best = {"mount": "", "fstype": "unknown"}
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                if len(parts) < 3:
                    continue
                mnt = parts[1].replace("\\040", " ")
                inside = path == mnt or path.startswith(mnt.rstrip("/") + "/")
                if inside and len(mnt) >= len(best["mount"]):
                    best = {"mount": mnt, "fstype": parts[2]}
    except OSError:
        pass
    return best


def _proc_stat_cpu() -> list[int]:
    """Cumulative CPU ticks (user nice system idle iowait irq softirq steal
    ...) of the whole host, from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def snapshot(label: str, paths: dict[str, str]) -> dict:
    """One host reading: cores, load average, CPU probe, filesystems."""
    return {
        "label": label,
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "cpu_probe_s": cpu_probe_s(),
        "proc_stat_cpu": _proc_stat_cpu(),
        "filesystems": {k: filesystem_of(p) for k, p in paths.items()},
    }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> dict[int, int]:
    """Resident bytes of ``root`` and each of its descendants right now."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    out, stack = {}, [root]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                out[pid] = int(f.read().split()[1]) * page
        except OSError:
            continue
    return out


class RssSampler:
    """Samples the benchmark's process tree (driver JVM included) every
    ``period_s`` on a daemon thread; ``peak_mb`` is the largest sum seen.

    Only processes alive in two consecutive samples count: the JVM starts
    short-lived helpers (file-system shell commands) that share its memory
    until they exec, and counting one would add the JVM's size a second
    time."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_bytes = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        prev: set[int] = set()
        while not self._stop.is_set():
            now = tree_rss_bytes(me)
            rss = {pid: b for pid, b in now.items() if pid in prev or pid == me}
            prev = set(now)
            self.peak_bytes = max(self.peak_bytes, sum(rss.values()))
            self.samples += 1
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1 << 20)
