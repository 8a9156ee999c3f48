"""Checkpointed, resumable corpus-curation runs — the 100 TB shape of
"filter the crawl down to a training corpus".

Same job skeleton as :mod:`pdf_ocr_spark.plans.manifest`'s extraction
runs (bucket = ``pmod(xxhash64(doc_id), B)``; resume = broadcast
anti-join of completed buckets; idempotency = dynamic-partition
overwrite; manifest appended only after the data write commits), with
the curation verdict (:func:`pdf_ocr_spark.operators.curation.
filter_verdicts`) as the payload: kept documents land in the output
table, and the per-bucket manifest row records admission metrics
(docs in, docs kept, mean quality).

One subtlety the extraction run doesn't have: the exact-dup keeper
election windows over the **whole corpus**, so verdicts are computed
over all documents every run — only the *write* is restricted to the
resumed buckets. At 10^12 docs the verdict pass is scan -> window ->
project (one shuffle); restricting the election itself to resumed
buckets would change keeper identity across resumes and break
idempotency.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_ocr_spark.operators.curation import filter_verdicts
from pdf_ocr_spark.plans.manifest import _hadoop_path, local_frame

CURATION_MANIFEST_SCHEMA = (
    "run_id STRING, bucket INT, status STRING, n_docs_in LONG, "
    "n_docs_kept LONG, mean_quality DOUBLE, elapsed_s DOUBLE, ts TIMESTAMP"
)


def _manifest_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def _output_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "kept")


def completed_buckets(spark: SparkSession, out_dir: str, run_id: str) -> DataFrame:
    path = _manifest_dir(out_dir)
    fs, jpath = _hadoop_path(spark, path)
    if not fs.exists(jpath):
        return local_frame(spark, [], "bucket INT")
    return (
        spark.read.schema(CURATION_MANIFEST_SCHEMA)
        .parquet(path)
        .where((F.col("run_id") == run_id) & (F.col("status") == "completed"))
        .select("bucket")
        .distinct()
    )


def run_curation(
    spark: SparkSession,
    documents: DataFrame,
    out_dir: str,
    run_id: str,
    n_buckets: int = 32,
    only_buckets: list[int] | None = None,
) -> int:
    """Execute (or resume) a curation run. Returns the number of
    buckets written by this invocation. ``only_buckets`` simulates a
    run killed after k buckets (resume test hook)."""
    t0 = time.time()
    verdicts = filter_verdicts(documents).withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(n_buckets)).cast("int")
    )
    if only_buckets is not None:
        verdicts = verdicts.where(F.col("bucket").isin([int(b) for b in only_buckets]))

    done = completed_buckets(spark, out_dir, run_id)
    todo = verdicts.join(F.broadcast(done), "bucket", "left_anti")

    kept = todo.where(F.col("verdict") == "keep")
    (
        kept.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(_output_dir(out_dir))
    )

    # phase 2: write committed -> manifest rows (admission metrics per
    # bucket, computed from the verdict table, not re-read)
    stats_rows = (
        todo.groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs_in"),
            F.sum((F.col("verdict") == "keep").cast("long")).alias("n_docs_kept"),
            F.avg("quality").alias("mean_quality"),
        )
        .collect()
    )
    if not stats_rows:
        return 0
    elapsed = float(time.time() - t0)
    manifest = local_frame(
        spark,
        [
            (
                run_id,
                int(r["bucket"]),
                "completed",
                int(r["n_docs_in"]),
                int(r["n_docs_kept"]),
                float(r["mean_quality"]) if r["mean_quality"] is not None else None,
                elapsed,
            )
            for r in stats_rows
        ],
        "run_id STRING, bucket INT, status STRING, n_docs_in LONG, "
        "n_docs_kept LONG, mean_quality DOUBLE, elapsed_s DOUBLE",
    ).withColumn("ts", F.current_timestamp())
    manifest.write.mode("append").parquet(_manifest_dir(out_dir))
    return len(stats_rows)


def read_curated(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(_output_dir(out_dir))
