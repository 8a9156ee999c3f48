"""Checkpointed, resumable extraction runs (SURVEY §4 #2, FIXTURES F4).

The unit of checkpointing is a *bucket*: ``pmod(xxhash64(doc_id), B)``,
defined once by :func:`~pdf_ocr_spark.operators.spans.doc_bucket` for
the resume anti-join, the reassembly clustering and the write.
A run:

1. reads the manifest, collects this run_id's completed buckets (a
   missing manifest is an empty :func:`local_frame`, which the
   optimizer folds away: a fresh run plans no resume join at all),
2. anti-joins them away (the reference's resume analogue: its task
   lifecycle at /root/reference/app.py:593-628 restarts whole jobs;
   we restart at bucket granularity),
3. extracts the remaining documents, with the reassembly clustered by
   bucket (``extract_documents(..., buckets=B)``),
4. writes output parquet partitioned by bucket with **dynamic partition
   overwrite** — so re-processing a bucket is idempotent by
   construction (a half-written bucket from a killed run is simply
   overwritten). The write runs in the reassembly's tasks, at most
   ``min(B, defaultParallelism)`` of them, each holding whole buckets,
   so every bucket is one Parquet file. That cap is also the limit on
   a large corpus (:mod:`pdf_ocr_spark.plans.pipeline`),
5. appends manifest rows (status='completed', per-bucket metrics)
   only *after* the output write action has succeeded — two-phase, so
   the manifest never claims a bucket whose data didn't commit. The
   metrics are taken during the write: ``count``/``sum``/``avg`` over
   ``Window.partitionBy("bucket")``, read by one ``observe()`` of
   ``collect_set(struct(bucket, ...))``, so the driver holds one entry
   per bucket per task and the output is not read back. The window
   reuses the bucket exchange and the sort the partitioned write
   needs, and runs before the serializers, so it buffers a bucket's
   spans but not its txt/md/html. The rows go to the manifest as one
   file built on the driver (:func:`local_frame`).
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from pdf_ocr_spark.config import ExtractionConfig
from pdf_ocr_spark.functions.jvmcache import per_jvm
from pdf_ocr_spark.operators.rows import arrow_batch
from pdf_ocr_spark.operators.serialize import serialize_documents
from pdf_ocr_spark.operators.spans import doc_bucket
from pdf_ocr_spark.plans.pipeline import extract_documents
from pdf_ocr_spark.schema import MANIFEST_SCHEMA


def _manifest_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def _output_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "documents")


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: StructType | str
) -> DataFrame:
    """A driver-built frame that plans as a ``LocalRelation``.

    ``spark.createDataFrame(<python list>)`` plans a Python-backed RDD,
    so every action over it runs ``defaultParallelism`` Python tasks
    (each ~150-230 ms of worker start-up on a 4-core host). Going
    through an Arrow table keeps the rows in the plan: actions run no
    Python task, and an empty frame lets the optimizer prune the
    operators above it. The table is built by the executors' row
    conversion, :func:`~pdf_ocr_spark.operators.rows.arrow_batch`.
    ``rows`` are tuples in ``schema`` field order;
    naive datetimes are read in the session time zone, as
    ``createDataFrame`` reads them."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    batch = arrow_batch(list(rows), to_arrow_schema(schema, timestamp_utc=False))
    return spark.createDataFrame(pa.Table.from_batches([batch]), schema)


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    path = _manifest_dir(out_dir)
    fs, jpath = _hadoop_path(spark, path)
    if fs.exists(jpath):
        return spark.read.schema(MANIFEST_SCHEMA).parquet(path)
    return local_frame(spark, [], MANIFEST_SCHEMA)


def _hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path``, with the Hadoop FileSystem
    resolved for its URI — works for file://, hdfs://, s3a:// alike.
    Manifest reads check existence through it instead of catching a
    failed read: once a session has used an ``Observation``, a query
    that fails analysis (as a missing path does) makes Spark's
    observation listener log an error with a full stack trace."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def completed_buckets(spark: SparkSession, out_dir: str, run_id: str) -> DataFrame:
    return (
        read_manifest(spark, out_dir)
        .where((F.col("run_id") == run_id) & (F.col("status") == "completed"))
        .select(F.col("partition_id").alias("bucket"))
        .distinct()
    )


#: the helper columns that carry each bucket's manifest metrics
#: through the write
_STAT_COLUMNS = ("_n_docs", "_n_pages", "_mean_confidence")


@per_jvm
def _bucket_stats() -> tuple[Column, ...]:
    w = Window.partitionBy("bucket")
    return (
        F.count(F.lit(1)).over(w).alias("_n_docs"),
        F.sum("n_pages").over(w).alias("_n_pages"),
        F.avg("mean_confidence").over(w).alias("_mean_confidence"),
    )


def run_extraction(
    spark: SparkSession,
    documents: DataFrame,
    media: DataFrame,
    out_dir: str,
    run_id: str,
    config: ExtractionConfig | None = None,
    n_buckets: int = 32,
    only_buckets: list[int] | None = None,
) -> int:
    """Execute (or resume) an extraction run. Returns the number of
    buckets processed in this invocation.

    ``only_buckets`` is a test hook simulating a run killed after k
    buckets (FIXTURES F4 resume test).
    """
    cfg = config or ExtractionConfig()
    t0 = time.time()

    docs = documents.withColumn("bucket", doc_bucket(n_buckets))
    if only_buckets is not None:
        docs = docs.where(F.col("bucket").isin([int(b) for b in only_buckets]))

    done = completed_buckets(spark, out_dir, run_id)
    todo = docs.join(F.broadcast(done), "bucket", "left_anti")
    extracted = extract_documents(
        todo.drop("bucket"), media, cfg, serialize=False, buckets=n_buckets
    )
    # every task adds one set entry per bucket it holds (module docstring)
    stats = Observation()
    observed = extracted.select("*", *_bucket_stats()).observe(
        stats, F.collect_set(F.struct("bucket", *_STAT_COLUMNS)).alias("buckets")
    )
    written = serialize_documents(observed.drop(*_STAT_COLUMNS), formats=cfg.output_formats)
    (
        written.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(_output_dir(out_dir))
    )

    # Phase 2: the write committed, so its buckets get manifest rows.
    # When todo is empty AQE can replace the write's stage before it
    # runs, and the observation then holds an empty row.
    elapsed = time.time() - t0
    buckets = stats.get["buckets"] if stats._jo.getRow().length() else []
    if not buckets:
        return 0
    rows = [
        (run_id, b, None, "completed", n_docs, n_pages, mean_confidence, elapsed, None)
        for b, n_docs, n_pages, mean_confidence in sorted(buckets, key=lambda r: r[0])
    ]
    (
        local_frame(spark, rows, MANIFEST_SCHEMA)
        .withColumn("ts", F.current_timestamp())
        .coalesce(1)
        .write.mode("append")
        .parquet(_manifest_dir(out_dir))
    )
    return len(rows)
