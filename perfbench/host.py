"""Host sizing and host context, read from /proc with the stdlib.

`plan` is the one place that turns the host (cores, free memory) into
the session shape every workload runs on. Everything else here is a
diagnostic recorded beside a run: it never accepts, drops or repeats
one.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

# Driver heap: the workloads' largest shape needs about 1 GB. A fixed,
# small heap, rather than one that scales with free memory, keeps peak
# memory a property of the program instead of how far the GC let the
# heap grow; a host that cannot give it is reported as "not runnable
# here".
DRIVER_MB = 2048
# Resident cost of one Python worker (pandas + pyarrow + nutch_spark)
# plus the JVM's off-heap share, per core.
WORKER_MB = 400
JVM_OVERHEAD_MB = 1024


@dataclass(frozen=True)
class Plan:
    cores: int
    driver_mb: int
    mem_available_mb: int
    runnable: bool
    reason: str = ""


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def plan() -> Plan:
    """Local-mode session shape: one driver JVM with every core. No
    local-cluster executors, so cores are never oversubscribed; memory
    is checked against what the shape needs."""
    cores = len(os.sched_getaffinity(0))
    avail = mem_available_mb()
    need = DRIVER_MB + JVM_OVERHEAD_MB + cores * WORKER_MB
    if avail < need:
        return Plan(cores, DRIVER_MB, avail, False,
                    f"needs {need} MB available, host has {avail} MB")
    return Plan(cores, DRIVER_MB, avail, True)


def filesystem_of(path: str) -> str:
    """Filesystem type of the mount holding `path` (longest mount-point
    prefix in /proc/mounts), e.g. "tmpfs", "ext4", "overlay"."""
    path = os.path.realpath(path)
    best, fstype = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1].replace("\\040", " ")
            inside = path == mnt or path.startswith(mnt.rstrip("/") + "/")
            if inside and len(mnt) >= len(best):
                best, fstype = mnt, parts[2]
    return fstype


def cpu_times() -> list[int]:
    """Aggregate jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two
    `cpu_times` readings (steal is the eighth field)."""
    total = sum(after) - sum(before)
    if total <= 0 or len(after) < 8:
        return 0.0
    return (after[7] - before[7]) / total


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rpartition(")")[2].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    """`root` and every live descendant (JVM, Python workers)."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of `root` and its descendants: a page the
    forked Python workers share is counted once, not once per worker."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class MemorySampler:
    """Samples the PSS of this process's tree every `INTERVAL_S` on a
    thread; `peak` is the largest sum seen between `start` and `stop`."""

    INTERVAL_S = 0.2

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, tree_pss_bytes(root))
            if self._stop.wait(self.INTERVAL_S):
                return

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=10)
        return self.peak


def dir_bytes(path: str) -> int:
    """Apparent size of every regular file under `path`."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.stat(os.path.join(root, name)).st_size
            except FileNotFoundError:
                continue
    return total


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of `pids` is alive; return the ones still alive
    at the deadline."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.1)
    return alive


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # a zombie has exited; only its parent's wait() remains
            return f.read().rpartition(")")[2].split()[0] != "Z"
    except OSError:
        return False
