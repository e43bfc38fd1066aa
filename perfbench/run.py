"""gocrd-spark benchmark: one seeded workload per run, closed loop on
``local[4]`` (one driver, one query or job in flight at a time).

    python3 perfbench/run.py --workload extract --seed 1 --seconds 12 --trace 0

Run it from the repository root (any working directory works: paths are
resolved from this file). Workloads (see perfbench/README.md):

- ``extract``: seeded datagen pages -> extraction pass (noop sink), then
  the resumable job into an empty directory and its no-op resume;
- ``corpus_queries``: a seeded re-keyed documents table -> the
  bm25_search chain and the leaf-query set.

A run synthesizes its inputs (prep, untimed), sets the session up three
times (``setup_s`` is the median), runs one cold round of the workload's
operations, then as many warm rounds as fit in ``--seconds``, and checks
every output. Failed operations count against the attempted ones and
their walls stay out of the medians. Reference bursts spread over the
run (calib.py) give a host-speed factor; the time metrics are the walls
scaled by it. ``--trace 1`` adds a Spark event
log and driver-side spans and reports the per-layer metrics instead.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. The exit code is 0 only when every output was correct.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = ("gocrd_spark/pipeline.py", "__spark_entry__.py", "tools/gen_goldens.py",
            "tools/check_oracles.py")
SETUPS = 3
CAL_EVERY_S = 2.5  # a calibration burst ahead of an operation once this much time has passed
HEAP = "1g"
PROBE_ROWS = 2048
OPS_BY_WORKLOAD = {
    "extract": ("extract", "job", "resume"),
    "corpus_queries": ("bm25_search", "leaf"),
}
PLAN_OPS = OPS_BY_WORKLOAD["extract"] + OPS_BY_WORKLOAD["corpus_queries"]


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    from layers import ERR_CLASSES, PLAN_FIELDS

    units = {
        "session.start_s": "s", "session.warm_s": "s", "scan.s": "s", "scan.bytes_read": "B",
        "kernel.extract_batch_ms.p50": "ms", "kernel.extract_batch_ms.p99": "ms",
        "kernel.page_meta_batch_ms.p50": "ms", "kernel.arrow_in_s": "s",
        "kernel.arrow_out_s": "s", "kernel.rows": "count", "kernel.ok_ratio": "ratio",
    }
    units.update({f"kernel.err_rows.{c}": "count" for c in ERR_CLASSES})
    units.update({f"docmodel.{k}_us": "us" for k in ("page", "html", "mets", "error")})
    units.update({"xmlwalk.parse_share": "ratio", "htmlextract.page_meta_us": "us"})
    plan_units = {"task_run_s": "s", "slot_idle_share": "ratio"}
    for f in PLAN_FIELDS:
        unit = plan_units.get(f, "B" if f.endswith("_bytes") else "count")
        units.update({f"plan.{f}.{op}": unit for op in PLAN_OPS})
    units["driver.job_floor_ms"] = "ms"
    units.update({f"driver.floor_share.{op}": "ratio" for op in PLAN_OPS})
    units.update({f"pins.live_after.{op}": "count" for op in PLAN_OPS})
    units.update({f"pins.bytes_after.{op}": "B" for op in PLAN_OPS})
    units.update({
        "writer.bytes_written": "B", "writer.files": "count",
        "writer.bytes_per_text_byte": "ratio", "commitlog.list_s": "s",
        "resume.bytes_scanned": "B", "resume.groups_skipped": "count",
        "trace.setup_s": "s", "trace.cold_s": "s", "trace.warm_s": "s",
    })
    return units


E2E_UNITS = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "docs_per_s": "1/s",
             "peak_rss_mb": "MB"}


def _op_medians(rounds: list[list[tuple[str, float]]]) -> dict[str, float]:
    """Median wall per operation name over every sample in ``rounds``."""
    samples: dict[str, list[float]] = {}
    for r in rounds:
        for name, wall in r:
            samples.setdefault(name, []).append(wall)
    return {k: statistics.median(v) for k, v in samples.items()}


class Runner:
    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.trace = bool(args.trace)
        self.work = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.windows = []  # layers.OpWindow per timed operation (traced runs)
        self.spark = None
        self.cal = None  # calib.Calibrator: reference bursts spread over the run

    # -- operations ---------------------------------------------------------

    def _timed(self, name: str, fn, round_no: int):
        """Run one operation; returns its wall, or None when it failed."""
        from layers import OpWindow, pins

        if self.trace:
            self.spark.sparkContext.setJobDescription(f"{name} round {round_no}")
        if time.perf_counter() - self.cal.last_end >= CAL_EVERY_S:
            self.cal.burst()
        self.attempted += 1
        start_ms = int(time.time() * 1000)
        t0 = time.perf_counter()
        try:
            problems = fn()
        except Exception:  # a failed Spark job or a crash: count it, keep going
            problems = ["exception:\n" + traceback.format_exc(limit=4)]
        wall = time.perf_counter() - t0
        end_ms = int(time.time() * 1000)
        if self.trace:
            w = OpWindow(name, round_no, start_ms, end_ms)
            w.pins_live, w.pins_bytes = pins(self.spark)
            self.windows.append(w)
        if problems:
            self.failed += 1
            self.problems += [f"{name} (round {round_no}): {p}" for p in problems]
            return None
        return wall

    def _round(self, wl, round_no: int):
        """One round of the workload's operations: ([(op, wall)], all ok)."""
        walls = []
        ok = True
        for name, fn in wl.ops(cold=round_no == 0):
            wall = self._timed(name, fn, round_no)
            if wall is None:
                ok = False
            else:
                walls.append((name, wall))
        return walls, ok

    # -- run ------------------------------------------------------------------

    def setup(self, wl) -> tuple[list[float], float, float]:
        """SETUPS session builds; the last one stays up for measurement."""
        import pandas as pd

        from gocrd_spark import datagen, pipeline
        from gocrd_spark.session import get_spark
        from layers import event_log_conf

        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        extra = {
            # the Python workers import gocrd_spark from the checkout root,
            # whatever directory the benchmark was started from
            "spark.executorEnv.PYTHONPATH": ROOT,
            "spark.local.dir": local,
            # a heap committed at its full size from the start: GC sizing and
            # the process RSS then vary less from run to run
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Djava.io.tmpdir={self.tmp}",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            extra.update(event_log_conf(os.path.join(self.work, "eventlog")))
        walls, start_s, warm_s = [], 0.0, 0.0
        tiny = pd.DataFrame([datagen.make_row(i) for i in range(4)])
        for k in range(SETUPS):
            self.cal.burst()
            t0 = time.perf_counter()
            spark = get_spark(master="local[4]", app_name=f"perfbench-{wl.name}", extra=extra)
            spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            # warm the Python workers: one tiny extraction per slot
            pipeline.extract_pages(spark.createDataFrame(tiny)).write.format(
                "noop").mode("overwrite").save()
            t2 = time.perf_counter()
            wl.locate(spark)
            walls.append(time.perf_counter() - t0)
            if k == 0:
                start_s, warm_s = t1 - t0, t2 - t1
                self.cal.attach(spark)
            if k < SETUPS - 1:
                spark.stop()
        self.spark = spark
        return walls, start_s, warm_s

    def run(self) -> int:
        import sysinfo
        import workloads
        from calib import Calibrator

        a = self.args
        ticks0 = sysinfo.cpu_ticks()
        self.cal = Calibrator()
        # the calibration workers are the benchmark's, not the program's
        rss = sysinfo.PeakRss(exclude=self.cal.pids).start()
        shutil.rmtree(self.work, ignore_errors=True)
        self.tmp = os.path.join(self.work, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        os.environ["TMPDIR"] = self.tmp
        # session.py's documented heap knob: a 1 GiB driver holds both
        # workloads and keeps the peak RSS of a run small
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
        if a.workload == "extract":
            wl = workloads.Extract(self.work, a.seed)
        else:
            wl = workloads.CorpusQueries(
                self.work, a.seed, os.path.join(HERE, "data", "documents_sf0.1.parquet"))

        phases = {}  # wall of each phase of the run, for the report
        mark = time.perf_counter()

        def phase(name: str) -> None:
            nonlocal mark
            now = time.perf_counter()
            phases[name] = now - mark
            mark = now

        try:
            wl.prep()
            phase("prep")
            setups, start_s, warm_s = self.setup(wl)
            phase("setup")
            cold_walls, cold_ok = self._round(wl, 0)
            phase("cold")
            warm_rounds = self._warm_rounds(wl)
            self.cal.burst()
            phase("warm")
            self._check(wl)
            phase("check")
            layer = {}
            if self.trace:
                from layers import job_floor_ms, kernel_probe

                floor_ms = layer["driver.job_floor_ms"] = job_floor_ms(self.spark)
                probe = wl.probe_rows(PROBE_ROWS)
                layer.update(kernel_probe([r for r, _, _ in probe], [k for _, k, _ in probe]))
                layer.update(wl.writer_metrics())
        finally:
            self.shutdown()
            peak = rss.stop()
            phase("shutdown")
        e2e = self._e2e(wl, setups, cold_walls if cold_ok else None, warm_rounds, peak)
        context = sysinfo.run_context(ROOT, ticks0)
        if self.trace:
            layer.update(self._layers(wl, start_s, warm_s, e2e, floor_ms))
            units = per_layer_units()
            metrics = {n: layer.get(n, 0) for n in units}
        else:
            units, metrics = E2E_UNITS, e2e
        report = {
            "workload": a.workload, "seed": a.seed, "trace": int(self.trace),
            "phases_s": phases, "setups_s": setups, "warm_rounds": len(warm_rounds),
            "calib_factor": self.cal.factor(), "calib_py_bursts_s": self.cal.py_bursts,
            "calib_jvm_bursts_s": self.cal.jvm_bursts, "calib_waits_s": self.cal.waits,
            "e2e_raw": self._e2e(wl, setups, cold_walls if cold_ok else None, warm_rounds,
                                 peak, factor=1.0),
            "cold_op_s": cold_walls,
            "warm_op_s": _op_medians(warm_rounds),
            "failed_ratio": self.failed / max(self.attempted, 1),
            "context": context, "e2e": e2e,
        }
        self._report(report)
        correct = self.failed == 0 and all(v is not None for v in e2e.values())
        print(json.dumps({
            "correct": correct, "attempted": self.attempted, "failed": self.failed,
            "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
        }))
        shutil.rmtree(self.work, ignore_errors=True)
        return 0 if correct else 1

    def _warm_rounds(self, wl) -> list[list[tuple[str, float]]]:
        """round(--seconds / wl.round_s) warm rounds (at least one), a count
        fixed by the arguments; rounds with a failure are left out."""
        rounds = []
        for round_no in range(1, max(1, round(self.args.seconds / wl.round_s)) + 1):
            walls, ok = self._round(wl, round_no)
            if ok:
                rounds.append(walls)
        return rounds

    def _check(self, wl) -> None:
        """Each check counts as one attempted operation, each problem as
        one failed check; a crash of the checks counts as one failure."""
        try:
            checks, problems = wl.check(self.spark)
        except Exception:
            checks, problems = 1, ["correctness check crashed:\n" + traceback.format_exc(limit=4)]
        self.attempted += checks
        self.failed += len(problems)
        self.problems += problems

    def _e2e(self, wl, setups, cold_walls, warm_rounds, peak, factor=None) -> dict:
        """The end-to-end metrics. Walls are scaled by the run's
        calibration factor (calib.py) to seconds at the reference host
        speed; ``factor=1.0`` gives the raw walls."""
        f = self.cal.factor() if factor is None else factor
        warm_s = docs = None
        if warm_rounds:
            # one round's wall, each operation at its median over the warm rounds
            med = {k: v * f for k, v in _op_medians(warm_rounds).items()}
            warm_s = sum(med[name] for name, _ in warm_rounds[0])
            docs = wl.docs_per_s(med, warm_s)
        return {
            "setup_s": f * statistics.median(setups),
            "cold_s": f * sum(w for _, w in cold_walls) if cold_walls else None,
            "warm_s": warm_s,
            "docs_per_s": docs,
            "peak_rss_mb": peak,
        }

    def _layers(self, wl, start_s, warm_s, e2e, floor_ms: float) -> dict:
        """Per-op plan, pins and floor-share metrics from the event log:
        summed per op within a round (the leaf queries form one op), then
        the median over the warm rounds."""
        from layers import PLAN_SUMS, SLOTS, attribute, read_event_log

        attribute(read_event_log(os.path.join(self.work, "eventlog")), self.windows)
        by_round: dict[int, dict[str, dict]] = {}
        for w in self.windows:
            if w.round_no == 0:
                continue
            op = w.op if w.op in PLAN_OPS else "leaf"
            agg = by_round.setdefault(w.round_no, {}).setdefault(op, {
                k: 0 for k in PLAN_SUMS + ("scan_s", "scan_bytes", "wall_s",
                                           "pins_live", "pins_bytes")})
            for k in PLAN_SUMS + ("scan_s", "scan_bytes"):
                agg[k] += w.plan[k]
            agg["wall_s"] += (w.end_ms - w.start_ms) / 1000.0
            agg["pins_live"] = max(agg["pins_live"], w.pins_live)
            agg["pins_bytes"] = max(agg["pins_bytes"], w.pins_bytes)
        rounds = list(by_round.values())
        for r in rounds:
            for agg in r.values():
                agg["slot_idle_share"] = 1.0 - agg["task_run_s"] / (
                    max(agg["wall_s"], 1e-9) * SLOTS)
                agg["floor_share"] = agg["jobs"] * floor_ms / 1000.0 / max(agg["wall_s"], 1e-9)

        def med(op, key):
            vals = [r[op][key] for r in rounds if op in r]
            return statistics.median(vals) if vals else 0

        def med_total(key):
            return statistics.median(sum(a[key] for a in r.values()) for r in rounds) \
                if rounds else 0

        out = {"session.start_s": start_s, "session.warm_s": warm_s,
               "trace.setup_s": e2e["setup_s"], "trace.cold_s": e2e["cold_s"] or 0.0,
               "trace.warm_s": e2e["warm_s"] or 0.0,
               "scan.s": med_total("scan_s"), "scan.bytes_read": med_total("scan_bytes"),
               "resume.bytes_scanned": med("resume", "scan_bytes")}
        for op in OPS_BY_WORKLOAD[wl.name]:
            for f in PLAN_SUMS + ("slot_idle_share",):
                out[f"plan.{f}.{op}"] = med(op, f)
            out[f"pins.live_after.{op}"] = med(op, "pins_live")
            out[f"pins.bytes_after.{op}"] = med(op, "pins_bytes")
            out[f"driver.floor_share.{op}"] = med(op, "floor_share")
        return out

    def shutdown(self) -> None:
        """Stop the session, the gateway JVM and every Python worker, and
        wait until each has exited."""
        import sysinfo
        from pyspark import SparkContext

        if self.cal is not None:
            self.cal.close()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        sysinfo.wait_children()

    def _report(self, report: dict) -> None:
        """Human-readable lines ahead of the result line, plus a copy of
        the run under .perfbench/results/ so a traced run can state its
        overhead against untraced runs of the same workload."""
        results = os.path.join(ROOT, ".perfbench", "results")
        os.makedirs(results, exist_ok=True)
        a = self.args
        if self.trace:
            base = []
            for path in glob.glob(os.path.join(results, f"{a.workload}-*-trace0.json")):
                with open(path) as fh:
                    w = json.load(fh)["e2e"].get("warm_s")
                if w:
                    base.append(w)
            if base and report["e2e"]["warm_s"]:
                untraced = statistics.median(base)
                report["trace_overhead"] = {
                    "untraced_warm_s": untraced, "traced_warm_s": report["e2e"]["warm_s"],
                    "share": report["e2e"]["warm_s"] / untraced - 1.0,
                }
        with open(os.path.join(results, f"{a.workload}-s{a.seed}-trace{int(self.trace)}.json"),
                  "w") as fh:
            json.dump(report, fh, indent=1)
        for p in self.problems:
            print(f"FAILED {p}")
        print(json.dumps(report))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(OPS_BY_WORKLOAD))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {', '.join(missing)}",
              file=sys.stderr)
        return 2
    for p in (ROOT, os.path.join(ROOT, "tools")):
        if p not in sys.path:
            sys.path.insert(1, p)
    return Runner(args).run()


if __name__ == "__main__":
    sys.exit(main())
