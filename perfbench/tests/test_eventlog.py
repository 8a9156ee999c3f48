"""The event-log parser, on hand-built events and on a tiny real job."""

from __future__ import annotations

import os
import time

import pytest

from perfbench import eventlog


def _task(stage, launch, run_ms, **extra):
    metrics = {
        "Executor Run Time": run_ms,
        "Executor CPU Time": run_ms * 500_000,
        "JVM GC Time": extra.get("gc", 0),
        "Memory Bytes Spilled": extra.get("spill", 0),
        "Disk Bytes Spilled": 0,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": extra.get("sw", 0)},
        "Shuffle Read Metrics": {
            "Local Bytes Read": extra.get("sr", 0),
            "Remote Bytes Read": 0,
            "Fetch Wait Time": extra.get("fetch", 0),
            "Total Records Read": extra.get("records", 0),
        },
        "Output Metrics": {"Bytes Written": extra.get("out", 0)},
    }
    acc = [
        {"Name": name, "Update": str(value)}
        for name, value in extra.get("py", {}).items()
    ]
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Accumulables": acc},
        "Task Metrics": metrics,
    }


def _stage(sid, submitted, completed):
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {
            "Stage ID": sid,
            "Submission Time": submitted,
            "Completion Time": completed,
        },
    }


def _job(stages, desc):
    return {
        "Event": "SparkListenerJobStart",
        "Stage IDs": stages,
        "Properties": {"spark.job.description": desc},
    }


PY = {
    "time to start Python workers": 10,
    "time to initialize Python workers": 20,
    "time to run Python workers": 300,
    "data sent to Python workers": 1000,
}

#: one iteration: a Python kernel stage of three tasks (one straggler)
#: feeding a shuffle-reading stage of two tasks that writes output,
#: plus an untraced job that must be ignored
EVENTS = [
    _job([0, 1], "it-0"),
    _job([2], None),
    _stage(0, 1000, 1400),
    _stage(1, 1500, 1700),
    _stage(2, 1000, 5000),
    _task(0, 1000, 100, py=PY, sw=50, gc=5),
    _task(0, 1010, 100, py=PY, sw=50),
    _task(0, 1100, 300, py=PY, sw=50),
    _task(1, 1500, 40, sr=75, records=3, out=400, fetch=2, spill=8),
    _task(1, 1520, 120, sr=75, records=3, out=600),
    _task(2, 1000, 999),
]


@pytest.mark.parametrize("layer", ["pdfsource", "ocr"])
def test_iteration_metrics_on_hand_built_events(layer):
    got = eventlog.iteration_metrics(EVENTS, {"it-0": (900.0, 1900.0)}, 4, layer)
    m = got["it-0"]
    assert m["spark.jobs"] == 1
    assert m["spark.stages"] == 2
    assert m["spark.tasks"] == 5
    assert m["spark.executor_run_s"] == pytest.approx(0.66)
    assert m["spark.executor_cpu_s"] == pytest.approx(0.33)
    assert m["spark.gc_s"] == pytest.approx(0.005)
    assert m["spark.task_wait_s"] == pytest.approx((0 + 10 + 100 + 0 + 20) / 1e3)
    # busy 1000-1400 and 1500-1700 out of 900-1900
    assert m["spark.driver_gap_s"] == pytest.approx(0.4)
    assert m["spark.core_util"] == pytest.approx(660 / (1000 * 4))
    assert m["pipeline.shuffle_write_bytes"] == 150
    assert m["pipeline.shuffle_read_bytes"] == 150
    assert m["pipeline.fetch_wait_s"] == pytest.approx(0.002)
    assert m["pipeline.spill_bytes"] == 8
    assert m["pipeline.reassembly_straggler_ratio"] == pytest.approx(120 / 80)
    assert m["manifest.output_bytes"] == 1000
    assert m["manifest.write_stage_s"] == pytest.approx(0.2)
    if layer == "pdfsource":
        assert m["pdfsource.scan_tasks"] == 3
        assert m["pdfsource.task_p50_ms"] == 100
        assert m["pdfsource.task_max_ms"] == 300
        assert m["pdfsource.straggler_ratio"] == pytest.approx(3.0)
        assert m["pdfsource.py_start_s"] == pytest.approx(0.03)
        assert m["pdfsource.py_init_s"] == pytest.approx(0.06)
        assert m["pdfsource.py_run_s"] == pytest.approx(0.9)
        assert m["pdfsource.bytes_to_py"] == 3000
        assert m["ocr.py_run_s"] == 0
    else:
        assert m["pdfsource.scan_tasks"] == 0
        assert m["ocr.py_run_s"] == pytest.approx(0.9)
        assert m["ocr.bytes_to_py"] == 3000


def test_median_over_iterations():
    per = {"a": {"x": 1.0}, "b": {"x": 5.0}, "c": {"x": 2.0}}
    assert eventlog.median_metrics(per) == {"x": 2.0}


def test_unknown_kernel_layer_is_refused():
    with pytest.raises(ValueError):
        eventlog.iteration_metrics(EVENTS, {}, 4, "nope")


def test_parser_on_a_tiny_spark_job(spark, work):
    """A described mapInPandas + groupBy job shows up in the session's
    own event log with its Python stage and its shuffle."""
    from pyspark.sql import functions as F

    def double(batches):
        for b in batches:
            yield b.assign(id=b["id"] * 2)

    df = (
        spark.range(100, numPartitions=3)
        .mapInPandas(double, "id long")
        .groupBy((F.col("id") % 5).alias("k"))
        .count()
    )
    spark.sparkContext.setJobDescription("tiny-0")
    t0 = time.time() * 1e3
    rows = df.collect()
    t1 = time.time() * 1e3
    spark.sparkContext.setJobDescription(None)
    assert sum(r["count"] for r in rows) == 100
    log_dir = os.path.join(work, "eventlog")
    m = {}
    for _ in range(100):  # the log is written by a listener thread
        m = eventlog.iteration_metrics(
            eventlog.read_events(log_dir), {"tiny-0": (t0, t1)}, 2, "pdfsource"
        )["tiny-0"]
        if m["pipeline.shuffle_read_bytes"] > 0:
            break
        time.sleep(0.1)
    assert m["spark.jobs"] >= 1
    assert m["pdfsource.scan_tasks"] == 3
    assert m["pdfsource.bytes_to_py"] > 0
    assert m["pipeline.shuffle_write_bytes"] > 0
    assert m["pipeline.shuffle_read_bytes"] > 0
    assert 0 < m["spark.core_util"]
