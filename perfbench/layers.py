"""Per-layer measurement for traced runs (`--trace 1`).

Three sources, all driven from the benchmark's own files:

- the Spark event log (``spark.eventLog.*``, set through
  ``get_spark(extra=...)``), parsed after the session stops; jobs are
  attributed to an operation by their submission time, which is exact
  in a closed loop with one operation in flight;
- spans around the benchmark's calls into ``pipeline`` / ``kernel`` /
  the document model, timed in the driver process on the seed's inputs;
- the SparkContext's storage registry (pins left live after a query).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field

PLAN_SUMS = (
    "jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes",
    "python_bytes", "task_run_s",
)
PLAN_FIELDS = PLAN_SUMS + ("slot_idle_share",)
ERR_CLASSES = ("mets", "parse", "other")
SLOTS = 4  # local[4]


def event_log_conf(log_dir: str) -> dict[str, str]:
    """One plain JSON-lines file per application, so it parses without a
    codec and without stitching rolled segments."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class OpWindow:
    """One timed operation: wall-clock bounds in epoch ms."""

    op: str
    round_no: int
    start_ms: int
    end_ms: int
    pins_live: int = 0
    pins_bytes: int = 0
    plan: dict = field(default_factory=dict)


def _plan_metric_ids(node: dict, names: set[str], out: set[int]) -> None:
    for m in node.get("metrics", []):
        if m.get("name") in names:
            out.add(int(m["accumulatorId"]))
    for child in node.get("children", []):
        _plan_metric_ids(child, names, out)


def read_event_log(log_dir: str) -> list[dict]:
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if not f.endswith(".inprogress")]
    if not files:
        return []
    path = max(files, key=os.path.getmtime)
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def attribute(events: list[dict], windows: list[OpWindow]) -> None:
    """Fill ``w.plan`` (the PLAN_SUMS counters plus scan time and bytes)
    for every window from the event log."""
    stage_job: dict[int, int] = {}
    job_window: dict[int, OpWindow] = {}
    exec_window: dict[int, OpWindow] = {}
    files_read_ids: set[int] = set()

    def window_at(ms: int):
        for w in windows:
            if w.start_ms <= ms <= w.end_ms:
                return w
        return None

    for w in windows:
        w.plan = {k: 0 for k in PLAN_SUMS}
        w.plan.update(scan_s=0.0, scan_bytes=0)
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            w = window_at(int(ev["Submission Time"]))
            if w is not None:
                job_window[ev["Job ID"]] = w
                w.plan["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            w = window_at(int(ev["time"]))
            if w is not None:
                exec_window[ev["executionId"]] = w
            ids: set[int] = set()
            _plan_metric_ids(ev.get("sparkPlanInfo", {}), {"size of files read"}, ids)
            files_read_ids |= ids
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            w = exec_window.get(ev["executionId"])
            if w is not None:
                for acc_id, value in ev["accumUpdates"]:
                    if int(acc_id) in files_read_ids:
                        w.plan["scan_bytes"] += int(value)
        elif kind == "SparkListenerStageCompleted":
            w = job_window.get(stage_job.get(ev["Stage Info"]["Stage ID"], -1))
            if w is not None:
                w.plan["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            w = job_window.get(stage_job.get(ev["Stage ID"], -1))
            if w is None:
                continue
            m = ev.get("Task Metrics") or {}
            p = w.plan
            p["tasks"] += 1
            p["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            p["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            p["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            for acc in ev["Task Info"].get("Accumulables", []):
                name = acc.get("Name")
                if name in ("data sent to Python workers",
                            "data returned from Python workers"):
                    p["python_bytes"] += int(acc.get("Update", 0))
                elif name == "scan time":
                    p["scan_s"] += int(acc.get("Update", 0)) / 1000.0


def pins(spark) -> tuple[int, int]:
    """(live persisted RDDs, their memory + disk bytes) — localCheckpoint
    and persist both register here."""
    jsc = spark.sparkContext._jsc
    live = int(jsc.getPersistentRDDs().size())
    size = 0
    for info in jsc.sc().getRDDStorageInfo():
        size += int(info.memSize()) + int(info.diskSize())
    return live, size


def job_floor_ms(spark, n: int = 20) -> float:
    """Median wall of a one-task noop SQL job."""
    walls = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(0, 1, 1, 1).write.format("noop").mode("overwrite").save()
        walls.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(walls)


def err_class(error: str) -> str:
    if error.startswith("METS manifest"):
        return "mets"
    if error.startswith("ParseError"):
        return "parse"
    return "other"


def _pct(values: list[float], q: float) -> float:
    ordered = sorted(values)
    return ordered[min(len(ordered) - 1, int(q * len(ordered)))]


def kernel_probe(rows: list[dict], kinds: list[str], repeats: int = 3) -> dict:
    """Times the Arrow boundary, the batch kernels and the document
    model on the seed's payloads, in this process, on 128-row batches
    (the session's ``maxRecordsPerBatch``)."""
    import pandas as pd
    import pyarrow as pa

    from gocrd_spark import kernel, xmlwalk
    from gocrd_spark.extract import extract_any_document
    from gocrd_spark.htmlextract import page_meta

    table = pa.Table.from_pandas(
        pd.DataFrame({"url": [r["url"] for r in rows], "html": [r["html"] for r in rows]}),
        preserve_index=False,
    )
    bbox = pa.struct([pa.field(k, pa.int64()) for k in ("x0", "y0", "x1", "y1")])
    span = pa.struct(
        [pa.field("region_id", pa.string())]
        + [pa.field(k, pa.int64()) for k in (
            "index", "byte_start", "byte_end", "char_start", "char_end")]
        + [pa.field("bbox", bbox)]
    )
    out_schema = pa.schema([
        pa.field("url", pa.string()), pa.field("text", pa.string()),
        pa.field("spans", pa.list_(span)), pa.field("error", pa.string()),
    ])
    batch_ms, meta_ms = [], []
    arrow_in = arrow_out = 0.0
    n_rows = n_ok = 0
    errs = {c: 0 for c in ERR_CLASSES}
    for rep in range(repeats):
        for start in range(0, table.num_rows, 128):
            batch = table.slice(start, 128)
            t0 = time.perf_counter()
            pdf = batch.to_pandas()
            t1 = time.perf_counter()
            res = kernel.extract_batch(pdf)
            t2 = time.perf_counter()
            pa.Table.from_pandas(res, schema=out_schema, preserve_index=False)
            t3 = time.perf_counter()
            kernel.page_meta_batch(pdf)
            t4 = time.perf_counter()
            arrow_in += t1 - t0
            arrow_out += t3 - t2
            batch_ms.append((t2 - t1) * 1000.0)
            meta_ms.append((t4 - t3) * 1000.0)
            if rep == 0:
                for e in res["error"]:
                    n_rows += 1
                    if e is None:
                        n_ok += 1
                    else:
                        errs[err_class(e)] += 1
    per_kind: dict[str, list[float]] = {"page": [], "html": [], "mets": [], "error": []}
    parse_s = page_s = 0.0
    meta_us = []
    for row, kind in zip(rows, kinds):
        data = row["html"]
        t0 = time.perf_counter()
        extract_any_document(data)
        dt = time.perf_counter() - t0
        bucket = {"kant": "page", "mets_fixture": "mets", "garbage": "error"}.get(kind, kind)
        per_kind[bucket].append(dt * 1e6)
        if bucket == "page":
            t1 = time.perf_counter()
            xmlwalk.parse_bytes(data)
            parse_s += time.perf_counter() - t1
            page_s += dt
        elif bucket == "html":
            t1 = time.perf_counter()
            page_meta(data)
            meta_us.append((time.perf_counter() - t1) * 1e6)
    out = {
        "kernel.extract_batch_ms.p50": statistics.median(batch_ms),
        "kernel.extract_batch_ms.p99": _pct(batch_ms, 0.99),
        "kernel.page_meta_batch_ms.p50": statistics.median(meta_ms),
        "kernel.arrow_in_s": arrow_in / repeats,
        "kernel.arrow_out_s": arrow_out / repeats,
        "kernel.rows": n_rows,
        "kernel.ok_ratio": n_ok / max(n_rows, 1),
        "xmlwalk.parse_share": parse_s / max(page_s, 1e-12),
        "htmlextract.page_meta_us": statistics.median(meta_us) if meta_us else 0.0,
    }
    out.update({f"kernel.err_rows.{c}": n for c, n in errs.items()})
    for kind, vals in per_kind.items():
        out[f"docmodel.{kind}_us"] = statistics.median(vals) if vals else 0.0
    return out
