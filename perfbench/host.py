"""Run record: host facts, CPU spin and steal readings, and the peak resident
memory of the benchmark's whole process tree."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def spin_s() -> float:
    """Seconds for a fixed CPU-bound loop; taken before and after a run so
    a throttled or shared-host window shows up in the record."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot from ``/proc/stat``: on a VM the
    share of steal between two readings shows time the hypervisor gave
    this guest's CPUs to someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def source_id(root: str) -> dict:
    """The git commit when the tree is a git checkout, and always a digest
    of the program's sources (a plain checkout has no git metadata)."""
    h = hashlib.sha256()
    files = [os.path.join(root, "__spark_entry__.py")]
    for base, _dirs, names in os.walk(os.path.join(root, "obsplus_spark")):
        files += [os.path.join(base, n) for n in names if n.endswith(".py")]
    for path in sorted(files):
        with open(path, "rb") as f:
            h.update(os.path.relpath(path, root).encode() + b"\0" + f.read())
    out = {"source_sha256": h.hexdigest()[:16], "git_sha": None}
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            out["git_sha"] = subprocess.run(
                ["git", "-C", root, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return out


def host_record() -> dict:
    import pyspark

    return {
        "host": platform.node(),
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": round(_mem_total_mb(), 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
    }


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended during the scan
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


class TreeRss:
    """Samples the summed RSS of this process and all its descendants (the
    JVM and the Python workers it forks) on a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "TreeRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def sample(self) -> float:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE
            except (OSError, IndexError, ValueError):
                pass  # the process ended between the scan and the read
        mb = total / (1024.0 * 1024.0)
        self.peak_mb = max(self.peak_mb, mb)
        return mb

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)
