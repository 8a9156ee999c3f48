"""Per-layer metrics from Spark's own event log.

The benchmark runs each traced iteration under its own job description
(``SparkContext.setJobDescription``) and records the iteration's wall
window on the driver. This module reads the uncompressed event log,
attributes every job, stage and task to the iteration whose description
its job carried, computes the per-iteration layer metrics below and
reports the median of each over the iterations.

Which Python stages are "the kernel" depends on the workload: on the PDF
workloads they are the ``binaryFile`` scan plus ``mapInPandas`` kernel
(layer ``pdfsource``); on the span workload they are the OCR
``mapInPandas`` stage (layer ``ocr``). The caller names the layer; the
other layer's stage metrics read 0, since the workload runs no such
stage.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

_PY_START = "time to start Python workers"
_PY_INIT = "time to initialize Python workers"
_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"

KERNEL_LAYERS = ("pdfsource", "ocr")


def read_events(log_dir: str) -> list[dict]:
    """Every event of every application log under ``log_dir``: a plain
    log file per application, or a rolling ``eventlog_v2_*`` directory
    of ``events_<n>_*`` parts."""
    files = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            parts = glob.glob(os.path.join(path, "events_*"))
            files.extend(
                sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
            )
        elif not os.path.basename(path).startswith("."):
            files.append(path)
    events = []
    for path in files:
        with open(path) as f:
            for line in f:
                if line.strip():
                    events.append(json.loads(line))
    return events


def _accum(task_info: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    for acc in task_info.get("Accumulables", ()):
        name, update = acc.get("Name"), acc.get("Update")
        if name is None or update is None:
            continue
        try:
            out[name] = out.get(name, 0.0) + float(update)
        except (TypeError, ValueError):
            continue
    return out


def _span_union_ms(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _ratio(values: list[float]) -> float:
    """Straggler ratio: slowest task over the median task (median floored
    at 1 ms so sub-millisecond tasks do not blow it up)."""
    if not values:
        return 0.0
    return max(values) / max(statistics.median(values), 1.0)


def iteration_metrics(
    events: list[dict],
    windows: dict[str, tuple[float, float]],
    cores: int,
    kernel_layer: str,
) -> dict[str, dict[str, float]]:
    """Layer metrics for each traced iteration, keyed by description.

    ``windows`` maps each iteration's job description to its driver-side
    wall window in epoch milliseconds.
    """
    if kernel_layer not in KERNEL_LAYERS:
        raise ValueError(f"unknown kernel layer {kernel_layer!r}")
    stage_desc: dict[int, str] = {}
    jobs: dict[str, int] = {}
    for e in events:
        if e["Event"] != "SparkListenerJobStart":
            continue
        desc = (e.get("Properties") or {}).get("spark.job.description")
        if desc not in windows:
            continue
        jobs[desc] = jobs.get(desc, 0) + 1
        for sid in e.get("Stage IDs", ()):
            stage_desc[sid] = desc
    stage_span: dict[int, tuple[float, float]] = {}
    for e in events:
        if e["Event"] == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            if sid in stage_desc and "Submission Time" in info:
                stage_span[sid] = (info["Submission Time"], info["Completion Time"])
    tasks: dict[int, list[tuple[dict, dict, dict]]] = {}
    for e in events:
        if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stage_desc:
            info = e["Task Info"]
            tasks.setdefault(e["Stage ID"], []).append(
                (info, e.get("Task Metrics") or {}, _accum(info))
            )

    out = {}
    for desc, (lo, hi) in windows.items():
        sids = [s for s in stage_span if stage_desc[s] == desc]
        m = {
            "spark.jobs": float(jobs.get(desc, 0)),
            "spark.stages": float(len(sids)),
        }
        run_ms, cpu_ns, gc_ms, wait_ms = 0.0, 0.0, 0.0, 0.0
        shuffle_w, shuffle_r, fetch_ms, spill = 0.0, 0.0, 0.0, 0.0
        out_bytes, write_ms = 0.0, 0.0
        n_tasks = 0
        kernel_runs: list[float] = []
        py = {_PY_START: 0.0, _PY_INIT: 0.0, _PY_RUN: 0.0, _PY_SENT: 0.0}
        reassembly: tuple[float, list[float]] = (-1.0, [])
        for sid in sids:
            submitted = stage_span[sid][0]
            stage_runs, stage_out, stage_read_records = [], 0.0, 0.0
            is_python = False
            for info, tm, acc in tasks.get(sid, ()):
                n_tasks += 1
                r = float(tm.get("Executor Run Time", 0))
                stage_runs.append(r)
                run_ms += r
                cpu_ns += float(tm.get("Executor CPU Time", 0))
                gc_ms += float(tm.get("JVM GC Time", 0))
                wait_ms += max(0.0, info["Launch Time"] - submitted)
                sw = tm.get("Shuffle Write Metrics") or {}
                shuffle_w += float(sw.get("Shuffle Bytes Written", 0))
                sr = tm.get("Shuffle Read Metrics") or {}
                shuffle_r += float(sr.get("Local Bytes Read", 0)) + float(
                    sr.get("Remote Bytes Read", 0)
                )
                fetch_ms += float(sr.get("Fetch Wait Time", 0))
                stage_read_records += float(sr.get("Total Records Read", 0))
                spill += float(tm.get("Memory Bytes Spilled", 0)) + float(
                    tm.get("Disk Bytes Spilled", 0)
                )
                stage_out += float((tm.get("Output Metrics") or {}).get("Bytes Written", 0))
                if _PY_RUN in acc:
                    is_python = True
                    for k in py:
                        py[k] += acc.get(k, 0.0)
            if is_python:
                kernel_runs.extend(stage_runs)
            if stage_out > 0:
                out_bytes += stage_out
                write_ms += stage_span[sid][1] - stage_span[sid][0]
            if stage_read_records > 0 and sum(stage_runs) > reassembly[0]:
                reassembly = (sum(stage_runs), stage_runs)
        wall_ms = hi - lo
        busy_ms = _span_union_ms([stage_span[s] for s in sids], lo, hi)
        m.update(
            {
                "spark.tasks": float(n_tasks),
                "spark.executor_run_s": run_ms / 1e3,
                "spark.executor_cpu_s": cpu_ns / 1e9,
                "spark.gc_s": gc_ms / 1e3,
                "spark.task_wait_s": wait_ms / 1e3,
                "spark.driver_gap_s": (wall_ms - busy_ms) / 1e3,
                "spark.core_util": run_ms / (wall_ms * cores) if wall_ms > 0 else 0.0,
                "pipeline.shuffle_write_bytes": shuffle_w,
                "pipeline.shuffle_read_bytes": shuffle_r,
                "pipeline.fetch_wait_s": fetch_ms / 1e3,
                "pipeline.spill_bytes": spill,
                "pipeline.reassembly_straggler_ratio": _ratio(reassembly[1]),
                "manifest.output_bytes": out_bytes,
                "manifest.write_stage_s": write_ms / 1e3,
            }
        )
        kernel = {
            "scan_tasks": float(len(kernel_runs)),
            "task_p50_ms": statistics.median(kernel_runs) if kernel_runs else 0.0,
            "task_max_ms": max(kernel_runs, default=0.0),
            "straggler_ratio": _ratio(kernel_runs),
            "stage_run_s": sum(kernel_runs) / 1e3,
            "py_start_s": py[_PY_START] / 1e3,
            "py_init_s": py[_PY_INIT] / 1e3,
            "py_run_s": py[_PY_RUN] / 1e3,
            "bytes_to_py": py[_PY_SENT],
        }
        if kernel_layer == "pdfsource":
            for k, v in kernel.items():
                m[f"pdfsource.{k}"] = v
            m["ocr.py_run_s"] = 0.0
            m["ocr.bytes_to_py"] = 0.0
        else:
            for k in kernel:
                m[f"pdfsource.{k}"] = 0.0
            m["ocr.py_run_s"] = kernel["py_run_s"]
            m["ocr.bytes_to_py"] = kernel["bytes_to_py"]
        out[desc] = m
    return out


def median_metrics(per_iteration: dict[str, dict[str, float]]) -> dict[str, float]:
    """Median of each metric over the iterations."""
    rows = list(per_iteration.values())
    if not rows:
        return {}
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}
