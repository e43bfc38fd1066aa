"""Host-speed calibration for the benchmark's walls.

The benchmark runs on a few vCPUs of a shared host whose speed drifts in
phases of minutes: every wall of a run moves by 20-40% together when the
neighbours get busy. Medians within a run cannot average that away, as a
run lies inside one phase. So a run also times fixed reference bursts,
spread over the run between its set-ups and operations, on the two
runtimes the program's work runs in:

- Python: ``WORKERS`` processes (as many as ``local[4]`` has slots) each
  parse and walk the same synthetic XML page ``PY_ITERS`` times with the
  standard library;
- JVM: ``java.util.Arrays.parallelSort`` of ``JVM_N`` seeded random ints,
  called through py4j in the session's JVM (the common fork-join pool).

Nothing of the program under test runs in either, so a change to the
program cannot move them; a change of host speed moves them with the
workload. Bursts start only once the machine is quiet
(:func:`wait_quiet`), so that work the program leaves running after an
operation (GC, cleanup) does not slow them.

``factor()`` is the geometric mean, over the two runtimes, of the
reference wall ÷ the run's median burst wall. A wall times the factor
reads as seconds on a host where the bursts take ``PY_REF_S`` and
``JVM_REF_S`` (a quiet 4-vCPU VM); the benchmark reports its time
metrics that way. The raw walls and the bursts stay in the run's report.

    python3 perfbench/calib.py            # time a few Python bursts on this host
"""

from __future__ import annotations

import math
import statistics
import subprocess
import sys
import time

WORKERS = 4
PY_ITERS = 100  # parses per worker per burst
PY_REF_S = 0.15
JVM_N = 3_000_000  # ints sorted per burst
JVM_REF_S = 0.18
QUIET_SHARE = 0.1  # busy share of all CPUs below which the machine counts as quiet
QUIET_WINDOW_S = 0.05
QUIET_MAX_S = 1.0


def _busy_ticks() -> tuple[int, int]:
    """(busy, total) ticks over all CPUs from /proc/stat; steal (time
    the host ran something else) counts as neither busy nor total."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    idle = f[3] + f[4]
    steal = f[7] if len(f) > 7 else 0
    total = sum(f[:8]) - steal
    return total - idle, total


def wait_quiet() -> float:
    """Wait until the machine's busy share over ``QUIET_WINDOW_S`` drops
    below ``QUIET_SHARE``, at most ``QUIET_MAX_S``; returns the wait."""
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < QUIET_MAX_S:
        b0, n0 = _busy_ticks()
        time.sleep(QUIET_WINDOW_S)
        b1, n1 = _busy_ticks()
        if n1 > n0 and (b1 - b0) / (n1 - n0) < QUIET_SHARE:
            break
    return time.perf_counter() - t0


def _page() -> bytes:
    """A PAGE-XML-like document of ~40 KB: regions, lines, words, text."""
    parts = ["<PcGts><Page imageWidth='2000' imageHeight='3000'>"]
    for r in range(12):
        parts.append(f"<TextRegion id='r{r}'><Coords points='0,0 10,{r} 20,20'/>")
        for ln in range(6):
            parts.append(f"<TextLine id='r{r}l{ln}'>")
            for w in range(5):
                parts.append(f"<Word id='r{r}l{ln}w{w}'><TextEquiv><Unicode>"
                             f"wort{r * 31 + ln * 7 + w}&amp;x</Unicode></TextEquiv></Word>")
            parts.append("</TextLine>")
        parts.append("</TextRegion>")
    parts.append("</Page></PcGts>")
    return "".join(parts).encode()


def _work(doc: bytes, iters: int) -> int:
    import xml.etree.ElementTree as ET
    import zlib

    acc = 0
    for _ in range(iters):
        root = ET.fromstring(doc)
        words = [el.text or "" for el in root.iter("Unicode")]
        ids = [el.get("id") for el in root.iter() if el.get("id")]
        acc = zlib.crc32(" ".join(words).encode() + "".join(ids).encode(), acc)
    return acc


def _serve() -> None:
    """Worker loop: one burst per line read from stdin, one line back."""
    doc = _page()
    _work(doc, PY_ITERS)  # import, allocate and warm before the first timed burst
    sys.stdout.write("ready\n")
    sys.stdout.flush()
    for line in sys.stdin:
        sys.stdout.write(f"{_work(doc, int(line))}\n")
        sys.stdout.flush()


class Calibrator:
    """``WORKERS`` long-lived Python worker processes, and the session's
    JVM once :meth:`attach` has been called. :meth:`burst` times one
    Python burst on all workers at once, then one JVM burst.
    :meth:`close` ends the workers and waits for them."""

    def __init__(self) -> None:
        self.py_bursts: list[float] = []
        self.jvm_bursts: list[float] = []
        self.waits: list[float] = []
        self.last_end = 0.0  # perf_counter at the end of the last burst
        self.jvm = None
        self.procs = [
            subprocess.Popen([sys.executable, __file__, "--serve"], stdin=subprocess.PIPE,
                             stdout=subprocess.PIPE, text=True)
            for _ in range(WORKERS)
        ]
        for p in self.procs:
            if p.stdout.readline().strip() != "ready":
                self.close()
                raise RuntimeError("calibration worker failed to start")

    @property
    def pids(self) -> set[int]:
        return {p.pid for p in self.procs}

    def attach(self, spark) -> None:
        """Add JVM bursts from now on; two untimed ones warm the JIT."""
        self.jvm = spark.sparkContext._jvm
        for _ in range(2):
            self._jvm_burst()

    def _py_burst(self) -> float:
        t0 = time.perf_counter()
        for p in self.procs:
            p.stdin.write(f"{PY_ITERS}\n")
            p.stdin.flush()
        answers = {p.stdout.readline().strip() for p in self.procs}
        wall = time.perf_counter() - t0
        if len(answers) != 1 or not answers.pop():
            raise RuntimeError("calibration workers disagree")
        return wall

    def _jvm_burst(self) -> float:
        t0 = time.perf_counter()
        ints = self.jvm.java.util.Random(7).ints(JVM_N).toArray()
        self.jvm.java.util.Arrays.parallelSort(ints)
        wall = time.perf_counter() - t0
        del ints  # py4j drops the JVM's reference to the array
        return wall

    def burst(self) -> None:
        self.waits.append(wait_quiet())
        self.py_bursts.append(self._py_burst())
        if self.jvm is not None:
            self.jvm_bursts.append(self._jvm_burst())
        self.last_end = time.perf_counter()

    def factor(self) -> float:
        logs = [math.log(PY_REF_S / statistics.median(self.py_bursts))]
        if self.jvm_bursts:
            logs.append(math.log(JVM_REF_S / statistics.median(self.jvm_bursts)))
        return math.exp(sum(logs) / len(logs))

    def close(self) -> None:
        self.jvm = None
        for p in self.procs:
            if p.stdin and not p.stdin.closed:
                p.stdin.close()
        for p in self.procs:
            try:
                p.wait(timeout=30)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
            p.stdout.close()


if __name__ == "__main__":
    if sys.argv[1:] == ["--serve"]:
        _serve()
    else:
        cal = Calibrator()
        try:
            for _ in range(10):
                cal.burst()
        finally:
            cal.close()
        print(" ".join(f"{b:.4f}" for b in cal.py_bursts), f"factor {cal.factor():.4f}")
