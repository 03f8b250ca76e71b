"""Host sizing, host facts and the process-tree RSS sampler."""

from __future__ import annotations

import contextlib
import os
import signal
import subprocess
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SAMPLE_EVERY_S = 0.2
STOP_TIMEOUT_S = 60


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies summed over all CPUs."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[0] - start[0]
    return 100.0 * (end[1] - start[1]) / total if total > 0 else 0.0


def prepare_env() -> None:
    """Size the JVM to this host and make the package importable from
    the Python workers.  Must run before the first SparkSession: the
    driver heap is fixed when the JVM starts, and the workers inherit
    the JVM's environment."""
    half_gb = max(1, mem_total_kb() // (2 * 1024 * 1024))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(half_gb, 24)}g"
    path = os.environ.get("PYTHONPATH", "")
    if REPO not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = REPO + (os.pathsep + path if path else "")
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared by the forked Python workers
    count once in total, not once per worker as RSS would."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, IndexError, ValueError):
        pass
    return 0


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


class RssSampler:
    """Peak summed resident memory (PSS) of this process's descendants:
    the driver JVM and the Python workers it forks, sampled every
    ``SAMPLE_EVERY_S``.  This process itself is excluded: it holds the
    benchmark's own inputs and oracle, not the system under test."""

    def __init__(self):
        self.peak_kb = 0
        self.peak_procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            pids = descendants(me)
            total = sum(_pss_kb(p) for p in pids)
            if total > self.peak_kb:
                self.peak_kb, self.peak_procs = total, len(pids)
            self._stop.wait(SAMPLE_EVERY_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_jvm() -> None:
    """Shut down the py4j gateway JVM that PySpark launched and wait
    for it, and for the Python workers it forked, to exit
    (``SparkSession.stop`` leaves the JVM running)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    started = descendants(os.getpid())
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=STOP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the workers outlive the JVM briefly, re-parented away from us
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while (left := [p for p in started if _alive(p)]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)
