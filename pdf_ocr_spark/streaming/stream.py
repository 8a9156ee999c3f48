"""Structured Streaming surface: three incremental queries, each with
the exact SQL oracle of its batch twin.

The reference has no streaming — each upload is a batch job polled over
HTTP (/root/reference/app.py:593-628, templates/status.html backoff
polling). The Spark-native equivalent of "documents keep arriving" is a
file-source stream whose micro-batches run the batch operators
unchanged through ``foreachBatch``:

* :func:`stream_reassemble_books` — per-book txt reassembly;
* :func:`stream_pdf_profiles` — the fused PDF profile over a binaryFile
  stream, on :func:`scan_session`;
* :func:`stream_dedup_exact` — exact-duplicate groups.

Each stages or keys its input so that no group straddles a micro-batch,
writes every batch to its own ``batch_id=<n>`` partition with dynamic
partition overwrite (a replayed batch rewrites its partition rather
than appending twice), drains with ``availableNow`` and reads the sink
back, so its exact-SQL oracle is the batch query's.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession

#: "session" -> (weakref to SparkContext, binaryFile scan session) —
#: see :func:`scan_session`; one entry.
_SCAN_SESSIONS: dict = {}


def stream_reassemble_books(
    spark: SparkSession,
    pages: DataFrame,
    workdir: str,
    n_batches: int = 4,
) -> DataFrame:
    """Run per-book txt reassembly THROUGH the streaming engine and
    return the materialized batch result — the driver-checkable form
    of the foreachBatch pipeline (its exact-SQL oracle is the batch
    ``reassemble_txt`` oracle, because the two compute the identical
    function; see below).

    ``pages`` is a bounded (book_id, page, text) frame. It is staged
    to ``workdir/input`` hash-repartitioned on book_id into
    ``n_batches`` files, so every book's pages land wholly inside one
    file; the file-source stream consumes them one file per trigger
    (``maxFilesPerTrigger=1``), which makes the per-micro-batch
    groupBy(book_id) equal the global groupBy — the union of batch
    results IS the batch answer, with no cross-batch state needed.
    Each micro-batch lands in its own ``batch_id=<n>`` partition via
    dynamic partition overwrite: foreachBatch is at-least-once, and a
    replayed batch rewrites its own partition instead of appending its
    books a second time. availableNow drains the backlog, and the sink
    parquet is read back as the result.

    At scale this is the standard incremental-reassembly deployment:
    arriving page files are keyed so documents don't straddle file
    boundaries (the upstream writer buckets by doc), and each trigger
    appends its documents' spans exactly once."""
    import os

    from pyspark.sql import functions as F

    from pdf_ocr_spark.functions.serialize import txt_doc_col

    in_dir = os.path.join(workdir, "input")
    out_dir = os.path.join(workdir, "out")
    ckpt = os.path.join(workdir, "ckpt")
    pages.repartition(n_batches, F.col("book_id")).write.mode("overwrite").parquet(
        in_dir
    )

    stream = spark.readStream.schema(pages.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(in_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spans = F.collect_list(
            F.struct(F.col("page").alias("offset"), F.col("text").alias("text"))
        )
        (
            batch_df.groupBy("book_id")
            .agg(txt_doc_col(spans).alias("txt"))
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).select("book_id", "txt")


def scan_session(spark: SparkSession) -> SparkSession:
    """The session :func:`stream_pdf_profiles` streams on: one per
    SparkContext, with the parallel-listing threshold raised. Each
    trigger's ``getBatch`` lists its explicit file list, one root path
    per file, and above 32 roots Spark would list them in a job of one
    task per file (~2 s of pure scheduling per 1250-file batch). The
    conf lives on a ``newSession()`` (same SparkContext, isolated SQL
    conf) so the caller's session never observes it, and the session
    is cached so a long-lived application does not accumulate JVM-side
    session state. Every call first makes the cached session's
    modifiable runtime confs equal the caller's (session time zone,
    Arrow settings, shuffle partitions), then sets the threshold."""
    ctx = spark.sparkContext
    entry = _SCAN_SESSIONS.get("session")
    # weakref: a GC'd SparkContext can never alias a new one
    if entry is not None and entry[0]() is ctx:
        s = entry[1]
    else:
        s = spark.newSession()
        _SCAN_SESSIONS["session"] = (weakref.ref(ctx), s)
    conf = spark.conf
    caller = {k: v for k, v in conf.getAll.items() if conf.isModifiable(k)}
    for k in s.conf.getAll:
        if k not in caller and s.conf.isModifiable(k):
            s.conf.unset(k)
    for k, v in caller.items():
        s.conf.set(k, v)
    s.conf.set(
        "spark.sql.sources.parallelPartitionDiscovery.threshold", "100000"
    )
    return s


def stream_pdf_profiles(
    spark: SparkSession,
    pdf_dir: str,
    workdir: str,
    n_batches: int = 4,
    password: str = "",
) -> DataFrame:
    """The fused metadata-tier harvest as an INCREMENTAL job over real
    binary PDFs, driver-checkable: a binaryFile readStream consumes
    the corpus in ``n_batches`` micro-batches (maxFilesPerTrigger),
    each batch runs the SAME Arrow profile kernel as the batch scan
    (sources/pdfsource.py profile_harvest — one definition, two
    execution modes) and lands in its own ``batch_id=<n>`` partition
    via dynamic partition overwrite (at-least-once replay writes the
    identical partition, so the sink is idempotent), availableNow
    drains the backlog, and the sink parquet is read back as the
    result. The profile is per-FILE, so no document can straddle a
    micro-batch and the union of batch outputs IS the batch answer —
    the exact-SQL oracle is pdf_document_profile's.

    At scale this is the standing metadata-ingestion deployment: new
    PDF drops are discovered by the file source, each trigger profiles
    only the new files, and the checkpoint makes restarts resume
    where discovery stopped."""
    import glob
    import os

    from pyspark.sql import functions as F

    from pdf_ocr_spark.sources.pdfsource import (
        PROFILE_SCHEMA,
        light_partitions,
        map_files,
        profile_harvest,
    )

    out_dir = os.path.join(workdir, "out")
    ckpt = os.path.join(workdir, "ckpt")
    paths = glob.glob(os.path.join(pdf_dir, "*.pdf"))
    n_files = len(paths)
    per_trigger = max(1, -(-n_files // n_batches))  # ceil
    per_file, on_error = profile_harvest(password)
    # the batch metadata harvests' light-scan rule, applied to each
    # trigger's REAL bytes (the profile kernel costs ~1 ms/file)
    try:
        per_trigger_bytes = (
            sum(os.path.getsize(p) for p in paths) // max(1, n_batches)
        )
    except OSError:
        per_trigger_bytes = None
    batch_coalesce = light_partitions(spark, per_trigger_bytes)

    stream = (
        # the scan session raises the parallel-listing threshold:
        # getBatch otherwise launches a one-task-per-file listing JOB
        # per trigger (~2 s pure scheduling per 1250-file batch)
        scan_session(spark).readStream.format("binaryFile")
        # the streaming file source requires an explicit schema even
        # for fixed-schema formats; this is binaryFile's, verbatim
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("pathGlobFilter", "*.pdf")
        .option("maxFilesPerTrigger", str(per_trigger))
        .load(pdf_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if batch_coalesce is not None:
            batch_df = batch_df.coalesce(batch_coalesce)
        (
            map_files(batch_df, per_file, on_error, PROFILE_SCHEMA)
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).drop("batch_id")


def stream_dedup_exact(
    spark: SparkSession,
    corpus: DataFrame,
    workdir: str,
    n_batches: int = 4,
    text_col: str = "text",
    id_col: str = "id",
) -> DataFrame:
    """Exact-duplicate detection as an INCREMENTAL job — the third
    driver-checkable streaming query (the stream_reassemble_books
    playbook applied to dedup): the corpus is staged HASH-BUCKETED BY
    NORMALIZED-TEXT HASH into ``n_batches`` files, so every duplicate
    group lands wholly inside one file; the file-source stream consumes
    one file per trigger, each micro-batch runs the SAME
    exact_dedup_groups operator as the batch query, results land in
    idempotent ``batch_id=<n>`` partitions (dynamic overwrite),
    availableNow drains, and the sink reads back as the result. Because
    no hash group straddles a batch, the union of per-batch groupBys IS
    the global groupBy — the oracle is dedup_exact's batch SQL.

    At scale this is how incremental dedup deploys: the upstream
    writer buckets arriving documents by content hash (the same key
    the dedup groups on), so each trigger's group counts are final and
    append exactly once."""
    import os

    from pyspark.sql import functions as F

    from pdf_ocr_spark.operators.dedup import exact_dedup_groups, norm_text_col

    in_dir = os.path.join(workdir, "input")
    out_dir = os.path.join(workdir, "out")
    ckpt = os.path.join(workdir, "ckpt")
    bucket = F.pmod(
        F.xxhash64(F.md5(norm_text_col(F.col(text_col)))), F.lit(n_batches)
    )
    (
        corpus.repartition(n_batches, bucket)
        .write.mode("overwrite")
        .parquet(in_dir)
    )

    stream = spark.readStream.schema(corpus.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(in_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            exact_dedup_groups(batch_df, text_col=text_col, id_col=id_col)
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).select("text_hash", "n_copies", "keeper_id")
