"""Noise and protocol record kept beside every result, the comparability
rule, and the process-tree peak-RSS sampler."""

from __future__ import annotations

import hashlib
import os
import platform
import threading
import time


def cpu_control_sec(n: int = 400_000) -> float:
    """Single-thread md5 chain: a fixed amount of CPU work whose time
    tracks host noise (steal, frequency), not the code under test."""
    t0 = time.perf_counter()
    h = b"x"
    for _ in range(n):
        h = hashlib.md5(h).digest()
    return time.perf_counter() - t0


def cpu_ticks() -> list[int]:
    """Aggregate ``/proc/stat`` cpu line (user nice system idle iowait irq
    softirq steal ...), or [] where there is none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def steal_pct(before: list[int], after: list[int]) -> float | None:
    if len(before) < 8 or len(after) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(1, sum(d))


def git_sha(root: str) -> str | None:
    """HEAD commit of ``root`` read from ``.git`` (no subprocess), or None
    when ``root`` is not a git checkout."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(root, ".git", ref[5:])) as f:
            return f.read().strip()
    except OSError:
        return None


def record(root: str, k: int, control_before: float, ticks_before: list[int]) -> dict:
    """Protocol record: what must match for two results to be compared,
    and the noise controls to read them by."""
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "k": k,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "git_sha": git_sha(root),
        "cpu_control_sec": [round(control_before, 4), round(cpu_control_sec(), 4)],
        "steal_pct": steal_pct(ticks_before, cpu_ticks()),
    }


PROTOCOL_KEYS = ("nproc", "k", "pyspark")


def comparable(a: dict, b: dict) -> tuple[bool, str]:
    """Two result records may be compared only when they ran the same
    workload with the same core count, ``local[k]`` and Spark version.
    A changed core count is a protocol change, not a regression."""
    if a.get("workload") != b.get("workload"):
        return False, f"workload {a.get('workload')} != {b.get('workload')}"
    pa, pb = a.get("protocol", {}), b.get("protocol", {})
    for key in PROTOCOL_KEYS:
        if pa.get(key) != pb.get(key):
            return False, f"protocol {key}: {pa.get(key)} != {pb.get(key)}"
    return True, ""


def _tree_rss_kb(pid: int) -> int:
    """RSS of ``pid`` and all its descendants, in KiB (Linux ``/proc``)."""
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except (OSError, ValueError):
            continue  # the process ended between listing and reading
    return total


class PeakRss:
    """Background sampler of the peak RSS of this process tree (the
    benchmark's Python driver, the Spark JVM and its Python workers)."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            rss = _tree_rss_kb(pid)
            with self._lock:
                self.peak_kb = max(self.peak_kb, rss)
            self._stop.wait(self.interval)

    def take_mb(self) -> float:
        """Peak RSS since the previous call, in MiB; starts a new window."""
        with self._lock:
            peak, self.peak_kb = self.peak_kb, _tree_rss_kb(os.getpid())
        return peak / 1024.0

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
