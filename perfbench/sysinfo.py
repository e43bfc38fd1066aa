"""Run context and process-tree memory for the benchmark.

Everything here reads ``/proc``: CPU steal and load (the way ``bench.py``
stamps its runs), free memory, and the resident set of this process plus
every descendant (the driver JVM and its Python workers).
"""

from __future__ import annotations

import os
import subprocess
import threading
import time


def cpu_ticks() -> tuple[int, int]:
    """(steal_ticks, total_ticks) from the aggregate line of /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields)


def _mem_available_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def _git_sha(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def run_context(root: str, ticks_start: tuple[int, int]) -> dict:
    """nproc, steal % over the run so far, loadavg, free memory, git SHA
    (``unknown`` in a checkout that is not a git repository) and the
    Spark / pyarrow versions."""
    import pyarrow
    import pyspark

    steal1, total1 = cpu_ticks()
    d_total = max(total1 - ticks_start[1], 1)
    return {
        "nproc": os.cpu_count(),
        "steal_pct": 100.0 * (steal1 - ticks_start[0]) / d_total,
        "loadavg": list(os.getloadavg()),
        "mem_available_mb": _mem_available_mb(),
        "git_sha": _git_sha(root),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # the process ended while we listed
        # the command name may hold spaces; ppid follows its closing ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root_pid: int, exclude: frozenset[int] = frozenset()) -> float:
    """RSS of ``root_pid`` and its descendants, less the ``exclude`` subtrees."""
    kids = _children_map()
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        if pid in exclude:
            continue
        total += _rss_kb(pid)
        stack.extend(kids.get(pid, ()))
    return total / 1024.0


class PeakRss:
    """Samples the RSS of this process tree, less the ``exclude``
    subtrees, on a daemon thread until :meth:`stop`; ``peak_mb`` is the
    largest sum seen."""

    def __init__(self, interval_s: float = 0.5, exclude=()) -> None:
        self.exclude = frozenset(exclude)
        self.peak_mb = 0.0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid, self.exclude))
            self._stop.wait(self._interval)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid(), self.exclude))
        return self.peak_mb


def wait_children(timeout_s: float = 30.0) -> None:
    """Block until every descendant of this process has exited (the JVM
    and its Python workers outlive ``spark.stop()`` by a moment)."""
    deadline = time.monotonic() + timeout_s
    me = os.getpid()
    while time.monotonic() < deadline:
        if not _children_map().get(me):
            return
        time.sleep(0.1)
