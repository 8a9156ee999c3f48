#!/usr/bin/env python3
"""Extraction benchmark for pdf_ocr_spark at local[<cores>].

    python3 perfbench/run.py --workload scanned_pdf --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. One driver process submits the
workload's job, waits for it, checks its output and submits the next
(a closed loop with one client) for ``--seconds`` of timed wall time.
Inputs are written from ``--seed`` by the package's own fixture writers
into ``.perfbench_work/`` under the checkout, which is removed on exit.

A calibration job that runs none of the program's code follows each
timed iteration, and ``pages_per_s`` is reported at a nominal host
speed from its median wall time (see ``calibrate.py``); the summary
line also carries the unscaled figures.

Standard output carries three JSON lines: the host state with its
single-thread codec canary, a summary naming every end-to-end metric
plus ``failed_frac``, and last the result object

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

whose metrics are the end-to-end metrics with ``--trace 0``, and the
per-layer metrics from Spark's event log and single-thread kernel
timings with ``--trace 1``. ``--workload all`` runs every workload in
turn, each in a child process.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)  # run as a script, sys.path[0] is perfbench/

from perfbench import eventlog  # noqa: E402
from perfbench.calibrate import Calibration  # noqa: E402
from perfbench.procstat import PeakRss, host_state, process_tree, tree_cpu_s  # noqa: E402
from perfbench.workloads import WORKLOADS, count_failures  # noqa: E402

#: set-up repetitions of input generation; setup_s takes their median
SETUP_REPS = 3
#: timed iterations a run makes however short ``--seconds`` is
MIN_ITERATIONS = 3

E2E_UNITS = {
    "pages_per_s": "pages/s",
    "cpu_ms_per_page": "ms",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

#: Fixed text of the host canary's page (20 words, renderer charset).
CANARY_TEXT = (
    "THE HOST CANARY PAGE HOLDS TWENTY WORDS OF GLYPH TEXT SO ONE DECODE "
    "OF IT TIMES THE CODEC ON THIS MACHINE"
)


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_canary(reps: int = 3) -> dict:
    """Single-thread decode of one fixed JPX page and one fixed baseline
    JPEG page, median of ``reps``, in ms."""
    from pdf_ocr_spark.sources.glyphs import render_text_image
    from pdf_ocr_spark.sources.pdfcodec import decode_pdf, encode_pdf

    img = render_text_image(CANARY_TEXT)
    out = {}
    for name, blob in (
        ("jpx", encode_pdf([img], jpx=True)),
        ("dct", encode_pdf([img], dct=True)),
    ):
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            decode_pdf(blob)
            times.append(time.perf_counter() - t0)
        out[f"canary_{name}_ms"] = 1e3 * statistics.median(times)
    return out


def start_session(cores: int, work: str, event_log_dir: str | None = None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # a pre-touched fixed heap: the JVM's share of peak_rss_mb is then
        # the heap size, not however far the collector let it grow
        .config("spark.driver.memory", "1g")
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms1g -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
        )
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.dir", "file://" + event_log_dir)
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_jvm() -> None:
    """End the gateway JVM and every process under it, and wait for them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    leftovers = process_tree(proc.pid)[1:]
    try:
        gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in leftovers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


class Loop:
    """Closed-loop iterations of one workload on one session, with the
    CPU, memory and correctness accounting of every timed iteration and,
    given a ``Calibration``, a calibration sample before the first
    iteration and after each."""

    def __init__(self, spark, wl, inputs, expected, work: str, cal: Calibration | None = None):
        self.spark, self.wl, self.inputs, self.expected = spark, wl, inputs, expected
        self.work, self.cal = work, cal
        self.walls: list[float] = []
        self.windows: dict[str, tuple[float, float]] = {}
        self.cpu_s = 0.0
        self.peak_rss = 0
        self.attempted = self.failed = 0
        self.last_actual: dict = {}

    def once(self, tag: str, describe: bool = False) -> float:
        """One iteration; returns its wall seconds."""
        out = os.path.join(self.work, "out", tag)
        if describe:
            self.spark.sparkContext.setJobDescription(tag)
        pid = jvm_pid()
        c0 = tree_cpu_s(pid)
        with PeakRss(pid) as rss:
            t0 = time.time()
            raw = self.wl.run_once(self.spark, self.inputs, out)
            t1 = time.time()
        self.cpu_s += tree_cpu_s(pid) - c0
        self.peak_rss = max(self.peak_rss, rss.peak)
        if describe:
            self.spark.sparkContext.setJobDescription(None)
            self.windows[tag] = (t0 * 1e3, t1 * 1e3)
        self.last_actual = self.wl.actual(raw, self.inputs)
        a, f = count_failures(self.expected.docs, self.last_actual)
        self.attempted += a
        self.failed += f
        shutil.rmtree(out, ignore_errors=True)
        return t1 - t0

    def run(self, seconds: float, prefix: str, describe: bool = False) -> None:
        if self.cal is not None:
            self.cal.sample()
        while sum(self.walls) < seconds or len(self.walls) < MIN_ITERATIONS:
            self.walls.append(self.once(f"{prefix}-{len(self.walls)}", describe))
            if self.cal is not None:
                self.cal.sample()

    def raw(self, setup_s: float) -> dict:
        """The end-to-end metrics as measured on this host."""
        pages = self.expected.pages
        return {
            "pages_per_s": statistics.median(pages / w for w in self.walls),
            "cpu_ms_per_page": 1e3 * self.cpu_s / (pages * len(self.walls)),
            "peak_rss_mb": self.peak_rss / 2**20,
            "setup_s": setup_s,
        }

    def e2e(self, setup_s: float) -> dict:
        """The end-to-end metrics, with ``pages_per_s`` at the nominal
        host speed: times how many times slower than nominal the
        calibration job ran."""
        raw = self.raw(setup_s)
        return {**raw, "pages_per_s": raw["pages_per_s"] * self.cal.slowness()}


def set_up(wl, seed: int, cores: int, work: str):
    """Session start, Python-worker warm-up, ``SETUP_REPS`` seeded input
    generations into fresh directories (the last one is kept) and one
    warm-up iteration; then, outside the set-up time, the calibration
    job's warm-up. Returns (spark, inputs, expected, setup_s, the parts
    of setup_s, the session's Calibration)."""
    t0 = time.perf_counter()
    spark = start_session(cores, work)
    spark.range(cores, numPartitions=cores).mapInPandas(lambda it: it, "id long").count()
    session_s = time.perf_counter() - t0
    gen_s, inputs = [], None
    for k in range(SETUP_REPS):
        t0 = time.perf_counter()
        fresh = wl.generate(spark, os.path.join(work, f"input{k}"), seed, cores)
        gen_s.append(time.perf_counter() - t0)
        if inputs is not None:
            shutil.rmtree(inputs.root)
        inputs = fresh
    expected = wl.expect(inputs)
    out = os.path.join(work, "out", "warmup")
    t0 = time.perf_counter()
    raw = wl.run_once(spark, inputs, out)
    warm_s = time.perf_counter() - t0
    _, failed = count_failures(expected.docs, wl.actual(raw, inputs))
    if failed:
        print(f"perfbench: warm-up iteration: {failed} documents wrong", file=sys.stderr)
    shutil.rmtree(out, ignore_errors=True)
    parts = {"session_s": session_s, "generate_s": gen_s, "warmup_s": warm_s}
    cal = Calibration(spark, cores, wl.calibration, work)
    return spark, inputs, expected, session_s + statistics.median(gen_s) + warm_s, parts, cal


def traced_metrics(wl, inputs, expected, untraced: Loop, seconds: float, cores: int, work: str):
    """A second session with the event log on: one warm-up iteration,
    then described iterations for ``seconds``; then the single-thread
    kernel profile and the event-log layer metrics."""
    log_dir = os.path.join(work, "eventlog")
    spark = start_session(cores, work, log_dir)
    traced = Loop(spark, wl, inputs, expected, work)
    traced.once("warmup")
    traced.run(seconds, "iter", describe=True)
    spark.stop()  # flushes the event log
    per_iter = eventlog.iteration_metrics(
        eventlog.read_events(log_dir), traced.windows, cores, wl.kernel_layer
    )
    metrics = eventlog.median_metrics(per_iter)
    profile = wl.kernel_profile(inputs)
    kernel_run_s, kernel_s = metrics.pop("pdfsource.stage_run_s"), profile.pop("kernel_s")
    metrics["pdfsource.overhead_s"] = (
        kernel_run_s - kernel_s if wl.kernel_layer == "pdfsource" else 0.0
    )
    metrics.update(profile)
    ocr_pages, error_pages = wl.ocr_pages(expected, traced.last_actual)
    metrics["ocr.error_pages"] = float(error_pages)
    metrics["ocr.error_frac"] = error_pages / ocr_pages if ocr_pages else 0.0
    metrics["trace.overhead_s"] = statistics.median(traced.walls) - statistics.median(
        untraced.walls
    )
    return metrics, traced


def run_workload(args) -> dict:
    cores = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload]()
    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    host = host_state()
    host.update(host_canary())
    print(json.dumps({"host": host}), flush=True)
    try:
        spark, inputs, expected, setup_s, setup_parts, cal = set_up(
            wl, args.seed, cores, work
        )
        loop = Loop(spark, wl, inputs, expected, work, cal)
        seconds = args.seconds / 2 if args.trace else args.seconds
        loop.run(seconds, "iter")
        e2e = loop.e2e(setup_s)
        attempted, failed = loop.attempted, loop.failed
        if args.trace:
            spark.stop()
            metrics, traced = traced_metrics(
                wl, inputs, expected, loop, seconds, cores, work
            )
            metrics.update({f"host.{k}": v for k, v in host.items()})
            attempted += traced.attempted
            failed += traced.failed
        else:
            spark.stop()
            metrics = e2e
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    summary = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    summary["failed_frac"] = {"value": failed / attempted, "unit": "fraction"}
    print(
        json.dumps(
            {
                "workload": wl.name,
                "seed": args.seed,
                "cores": cores,
                "setup": setup_parts,
                "iteration_s": loop.walls,
                "calibration_s": cal.walls,
                "raw": loop.raw(setup_s),
                "summary": summary,
            }
        ),
        flush=True,
    )
    units = E2E_UNITS if not args.trace else _layer_units()
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def _layer_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def run_all(args) -> dict:
    """Every workload in a child process of its own, one after another;
    metric names are prefixed with the workload."""
    result = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ]
        child = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = child.stdout.strip().splitlines()
        if child.returncode != 0 or not lines:
            raise RuntimeError(f"workload {name} exited with {child.returncode}")
        for line in lines[:-1]:
            print(line, flush=True)
        last = json.loads(lines[-1])
        result["correct"] &= last["correct"]
        result["attempted"] += last["attempted"]
        result["failed"] += last["failed"]
        for k, v in last["metrics"].items():
            result["metrics"][f"{name}.{k}"] = v
    return result


def main(argv=None) -> int:
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "pdf_ocr_spark")):
        print(
            "perfbench: no pdf_ocr_spark package beside perfbench/; "
            "run the benchmark from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    args = parse_args(argv)
    result = run_all(args) if args.workload == "all" else run_workload(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
