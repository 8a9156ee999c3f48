"""Fixed calibration jobs that run none of the program's code.

The benchmark's host is a VM on a shared machine, and its speed swings
by up to 2x over minutes: the single-thread codec canary read 75 ms in
one phase and 150-190 ms in the next, and every part of a run (JVM
start, input generation, each iteration) slowed with it. A difference
between two commits measured in different phases is then mostly the
host's. So before the first timed iteration and after each one, the
benchmark runs a calibration job on the same session, and reports
``pages_per_s`` at a nominal host speed: multiplied by the run's median
calibration wall time over its nominal value. No change to
``pdf_ocr_spark`` can change a calibration job's cost.

Only the throughput is scaled. The calibration job's own CPU time
spread more from run to run than ``span_extract``'s CPU per page did,
so scaling ``cpu_ms_per_page`` by it added noise; ``setup_s`` is
measured before the samples are taken.

A host slows Python bytecode and JVM work by different amounts, so
each workload names the job with the shape of its own dominant cost:

``python``
    Arrow batches into ``mapInPandas``, a pure-Python bit loop and small
    numpy block transforms in the Python workers, a shuffle and a
    collect: the shape of the codec-bound ``scanned_pdf`` iteration.
``engine``
    JVM expressions, a shuffle join, an aggregation and a Parquet write
    read back: the shape of ``span_extract``'s Parquet, join and
    reassembly work.
"""

from __future__ import annotations

import os
import statistics
import time

#: rows per core of one ``python`` job; each row is a few ms of work
PYTHON_ROWS_PER_CORE = 12
#: bytes the ``python`` job's bit loop walks per row
LOOP_BYTES = 6000
#: rows per core of one ``engine`` job
ENGINE_ROWS_PER_CORE = 50_000

#: jobs a session runs before the samples it keeps
WARMUP_JOBS = 2
#: wall s of one job at local[4] on a 4-vCPU Xeon VM in a quiet phase
#: (single-thread JPX canary about 80 ms)
NOMINAL_S = {"python": 0.45, "engine": 0.4}


def _python_batches(batches):
    import numpy as np
    import pandas as pd

    for pdf in batches:
        out = []
        for i in pdf["id"]:
            data = bytes((i * 7 + k * 13) & 255 for k in range(LOOP_BYTES))
            acc = 0
            for b in data:
                acc = ((acc << 1) ^ b) & 0xFFFF
            blk = np.arange(64 * 64, dtype=np.float64).reshape(64, 64) + i
            for _ in range(20):
                blk = np.tanh(blk @ blk.T / 1e6)
            out.append(float(acc) + float(blk[0, 0]))
        yield pd.DataFrame({"id": pdf["id"], "v": out})


def _python_job(spark, cores: int, out_dir: str) -> None:
    from pyspark.sql import functions as F

    n = PYTHON_ROWS_PER_CORE * cores
    rows = (
        spark.range(0, n, numPartitions=cores)
        .mapInPandas(_python_batches, "id long, v double")
        .groupBy((F.col("id") % (2 * cores)).alias("k"))
        .count()
        .collect()
    )
    if sum(r["count"] for r in rows) != n:
        raise RuntimeError("python calibration job lost rows")


def _engine_job(spark, cores: int, out_dir: str) -> None:
    from pyspark.sql import functions as F

    n = ENGINE_ROWS_PER_CORE * cores
    left = spark.range(0, n, numPartitions=cores).select(
        "id",
        F.sha2(F.col("id").cast("string"), 256).alias("h"),
        F.expr("repeat(cast(id as string), 20)").alias("pad"),
    )
    right = spark.range(0, n, 7).withColumnRenamed("id", "id7")
    (
        left.join(right, F.col("id") == F.col("id7"))
        .groupBy(F.substring("h", 1, 2).alias("k"))
        .agg(F.count("*").alias("n"), F.max("pad").alias("m"))
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    got = spark.read.parquet(out_dir).agg(F.sum("n")).collect()[0][0]
    if got != (n + 6) // 7:
        raise RuntimeError("engine calibration job lost rows")


JOBS = {"python": _python_job, "engine": _engine_job}


class Calibration:
    """The calibration samples of one session for one kind of job. The
    first ``WARMUP_JOBS`` jobs of a session warm it up and are not kept:
    the first sample after a single warm-up job still ran 1.2-1.6x the
    later ones."""

    def __init__(self, spark, cores: int, kind: str, work: str):
        self.spark, self.cores, self.kind = spark, cores, kind
        self.out_dir = os.path.join(work, "calibration")
        self.walls: list[float] = []
        for _ in range(WARMUP_JOBS):
            self._run()

    def _run(self) -> float:
        t0 = time.perf_counter()
        JOBS[self.kind](self.spark, self.cores, self.out_dir)
        return time.perf_counter() - t0

    def sample(self) -> None:
        self.walls.append(self._run())

    def slowness(self) -> float:
        """The median sample's wall time over the nominal one: how many
        times slower than nominal the host ran."""
        return statistics.median(self.walls) / NOMINAL_S[self.kind]
