"""Checkpointed, resumable extraction runs (SURVEY §4 #2, FIXTURES F4).

The unit of checkpointing is a *bucket*: ``pmod(xxhash64(doc_id), B)``,
defined once by :func:`~pdf_ocr_spark.operators.spans.doc_bucket` for
the resume anti-join, the reassembly clustering and the write.
A run:

1. checks once whether the manifest directory exists. Only when it
   does, the run reads the manifest and collects this run_id's
   completed buckets; a fresh run plans no resume join at all,
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
   ``Window.partitionBy("bucket")``, summed in ``doc_id`` order so that
   they depend on the bucket's documents only, not on the order the
   plan delivers them in, read by one ``observe()`` of
   ``collect_set(struct(bucket, ...))``, so the driver holds one entry
   per bucket per task and the output is not read back. The window
   reuses the bucket exchange and the sort the partitioned write
   needs, and runs before the serializers, so it buffers a bucket's
   spans but not its txt/md/html. The driver commits the rows without
   a Spark job, as table formats commit their metadata files: one
   snappy Parquet file built in memory with pyarrow is written
   through the manifest path's Hadoop ``FileSystem`` under a
   ``_``-prefixed name, which Spark's file listing skips, and then
   renamed to a unique ``part-`` name. The rename is the commit, so a
   reader sees the whole file or none of it: a rename is atomic on
   HDFS and the local file system, and on s3a a single object becomes
   visible whole. An interrupted commit leaves only a hidden file,
   which :func:`read_manifest` and resume ignore.
"""

from __future__ import annotations

import datetime
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from pdf_ocr_spark.config import ExtractionConfig
from pdf_ocr_spark.functions.jvmcache import per_jvm
from pdf_ocr_spark.operators.rows import arrow_batch, local_frame
from pdf_ocr_spark.operators.serialize import serialize_documents
from pdf_ocr_spark.operators.spans import doc_bucket
from pdf_ocr_spark.plans.pipeline import extract_documents
from pdf_ocr_spark.schema import MANIFEST_SCHEMA


def _manifest_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def _output_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "documents")


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
def _bucket_stats() -> tuple[tuple[Column, ...], Column]:
    """The window's projection (every column plus its bucket's stats)
    and the observed set of (bucket, stats) entries."""
    # summed in doc_id order, so a bucket's stats do not depend on the
    # order its rows arrive in; the write reuses this (bucket, doc_id) sort
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        (
            F.col("*"),
            F.count(F.lit(1)).over(w).alias("_n_docs"),
            F.sum("n_pages").over(w).alias("_n_pages"),
            F.avg("mean_confidence").over(w).alias("_mean_confidence"),
        ),
        F.collect_set(F.struct("bucket", *_STAT_COLUMNS)).alias("buckets"),
    )


def _commit_manifest(spark: SparkSession, fs, manifest, rows: list[tuple]) -> None:
    """Append ``rows`` to the manifest directory ``manifest`` (a Hadoop
    ``Path`` on ``fs``) as one Parquet file, without a Spark job: the
    file is written under a hidden ``_`` name, which readers skip, and
    renamed to its ``part-`` name (module docstring, step 5)."""
    table = pa.Table.from_batches([arrow_batch(rows, to_arrow_schema(MANIFEST_SCHEMA))])
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf, compression="snappy")
    Path = spark._jvm.org.apache.hadoop.fs.Path
    name = f"{uuid.uuid4()}.snappy.parquet"
    hidden, final = Path(manifest, f"_committing-{name}"), Path(manifest, f"part-{name}")
    out = fs.create(hidden, False)
    try:
        out.write(buf.getvalue().to_pybytes())
    finally:
        out.close()
    if not fs.rename(hidden, final):
        raise OSError(f"manifest commit: could not rename {hidden} to {final}")


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
    fs, manifest = _hadoop_path(spark, _manifest_dir(out_dir))

    todo = documents
    resume = fs.exists(manifest)
    if only_buckets is not None or resume:
        todo = todo.withColumn("bucket", doc_bucket(n_buckets))
        if only_buckets is not None:
            todo = todo.where(F.col("bucket").isin([int(b) for b in only_buckets]))
        if resume:
            done = completed_buckets(spark, out_dir, run_id)
            todo = todo.join(F.broadcast(done), "bucket", "left_anti")
        todo = todo.drop("bucket")
    extracted = extract_documents(todo, media, cfg, serialize=False, buckets=n_buckets)
    # every task adds one set entry per bucket it holds (module docstring)
    stats = Observation()
    with_stats, bucket_set = _bucket_stats()
    observed = extracted.select(*with_stats).observe(stats, bucket_set)
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
    ts = datetime.datetime.now(datetime.timezone.utc)
    rows = [
        (run_id, b, None, "completed", n_docs, n_pages, mean_confidence, elapsed, ts)
        for b, n_docs, n_pages, mean_confidence in sorted(buckets, key=lambda r: r[0])
    ]
    _commit_manifest(spark, fs, manifest, rows)
    return len(rows)
