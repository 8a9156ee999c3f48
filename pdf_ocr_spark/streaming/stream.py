"""Structured Streaming surface: incremental document extraction.

The reference has no streaming — each upload is a batch job polled over
HTTP (/root/reference/app.py:593-628, templates/status.html backoff
polling). The Spark-native equivalent of "documents keep arriving" is a
stream over the documents table; the extraction kernel is batch/stream
agnostic, so:

* stateless span normalization runs directly on the stream
  (``stream_normalize``) — pure projection, append mode;
* the full pipeline (OCR kernel + per-document reassembly, which needs
  a per-doc aggregation) runs via ``foreachBatch`` reusing the *exact*
  batch plan (``stream_extract``) — each micro-batch is a bounded
  batch job appended to the output, the standard incremental-ETL shape.

Progress/metrics flow through StreamingQueryProgress (the analogue of
the reference's TASK_STATUS polling endpoint).
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from pdf_ocr_spark.config import ExtractionConfig
from pdf_ocr_spark.operators.normalize import normalize_documents
from pdf_ocr_spark.plans.pipeline import extract_documents
from pdf_ocr_spark.schema import DOCUMENTS_SCHEMA

#: "session" -> (weakref to SparkContext, binaryFile scan session) —
#: see :func:`scan_session`; one entry.
_SCAN_SESSIONS: dict = {}


def stream_normalize(
    spark: SparkSession,
    input_path: str,
    out_path: str,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Stateless streaming normalization of text spans (M2+M5) —
    the kernel as a pure streaming projection, no state store."""
    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(input_path)
    writer = (
        normalize_documents(stream)
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_windowed_event_counts(
    spark: SparkSession,
    input_path: str,
    schema,
    query_name: str = "event_counts",
    window_duration: str = "1 hour",
    watermark: str = "10 minutes",
    available_now: bool = True,
) -> StreamingQuery:
    """Event-time windowed aggregation with a watermark for late data —
    the standard streaming-rollup shape (counts + value sum per
    (window, event_type)). Results land in an in-memory table named
    ``query_name`` (complete mode) for inspection/tests; swap the sink
    for parquet/Kafka in production."""
    from pyspark.sql import functions as F

    stream = spark.readStream.schema(schema).parquet(input_path)
    # watermarks require TIMESTAMP (ltz); parquet timestamps read as NTZ
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agged = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
    )
    writer = (
        agged.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_windowed_to_files(
    spark: SparkSession,
    input_path: str,
    schema,
    out_path: str,
    checkpoint: str,
    window_duration: str = "1 hour",
    watermark: str = "10 minutes",
    available_now: bool = True,
) -> StreamingQuery:
    """Append-mode windowed aggregation to a parquet file sink — the
    shape production streaming rollups take: a window row is written
    exactly once, when the event-time watermark passes its end (late
    data beyond the watermark is dropped rather than re-emitting the
    window). Columns are flattened (window_start, window_end) for the
    file sink."""
    from pyspark.sql import functions as F

    stream = spark.readStream.schema(schema).parquet(input_path)
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agged = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    writer = (
        agged.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_rate_normalize(
    spark: SparkSession,
    query_name: str = "rate_norm",
    rows_per_second: int = 500,
) -> StreamingQuery:
    """Rate-source ingestion smoke: the built-in unbounded ``rate``
    source (the kafka-shaped stand-in — (timestamp, value) rows at a
    fixed rate) through a stateless normalize projection into a memory
    sink. Swap ``format("rate")`` for ``format("kafka")`` + the same
    projection in production."""
    from pyspark.sql import functions as F

    from pdf_ocr_spark.functions.text import normalize_text_col

    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    normed = stream.select(
        "timestamp",
        "value",
        normalize_text_col(
            F.concat(F.lit("r0w  value:\n"), F.col("value").cast("string"))
        ).alias("text"),
    )
    return (
        normed.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .start()
    )


#: Output schema of the stateful assembler.
_ASSEMBLED_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "complete boolean"
)
#: State: accumulated spans as JSON + the expected page count.
_STATE_SCHEMA = "collected string, n_total int"


def assemble_pages_stateful(pages_stream, timeout_ms: int = 60000):
    """Custom stateful streaming operator (applyInPandasWithState):
    pages of a document arrive **out of order across micro-batches**;
    per-doc state accumulates them until all ``n_total`` pages are seen,
    then the assembled ordered document is emitted and state cleared.
    On processing-time timeout, a partial document is emitted with
    ``complete=false`` (the reference's task-TTL analogue,
    /root/reference/app.py:95-102).

    Input stream columns: doc_id, offset, kind, text, media_ref, n_total.
    """
    import json

    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    def assemble(key, pdfs, state):
        doc_id = key[0]
        if state.hasTimedOut:
            collected, _ = state.get
            spans = sorted(json.loads(collected), key=lambda s: s["offset"])
            state.remove()
            yield pd.DataFrame({"doc_id": [doc_id], "spans": [spans], "complete": [False]})
            return
        if state.exists:
            collected, n_total = state.get
            # keyed by offset: redelivered pages (at-least-once upstream)
            # overwrite rather than double-count toward completeness
            by_offset = {s["offset"]: s for s in json.loads(collected)}
        else:
            by_offset, n_total = {}, None
        for pdf in pdfs:
            for k, t, m, o, n in zip(
                pdf["kind"], pdf["text"], pdf["media_ref"], pdf["offset"], pdf["n_total"]
            ):
                o = int(o)
                by_offset[o] = {"kind": k, "text": t, "media_ref": m, "offset": o}
                n_total = int(n)
        if n_total is not None and len(by_offset) >= n_total:
            state.remove()
            spans = [by_offset[o] for o in sorted(by_offset)]
            yield pd.DataFrame({"doc_id": [doc_id], "spans": [spans], "complete": [True]})
        else:
            state.update((json.dumps(list(by_offset.values())), n_total))
            state.setTimeoutDuration(timeout_ms)

    return pages_stream.groupBy("doc_id").applyInPandasWithState(
        assemble,
        outputStructType=_ASSEMBLED_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def write_extract_batch(
    batch_df: DataFrame,
    batch_id: int,
    media: DataFrame,
    out_path: str,
    config: ExtractionConfig | None = None,
) -> None:
    """Idempotent per-micro-batch write used by :func:`stream_extract`:
    the extracted rows land in partition ``batch_id=<id>`` via dynamic
    partition overwrite, so a replayed batch (foreachBatch is
    at-least-once) rewrites its own partition instead of appending
    duplicates. Exposed at module level so the replay path is directly
    testable."""
    from pyspark.sql import functions as F

    (
        extract_documents(batch_df, media, config or ExtractionConfig())
        .withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_path)
    )


def stream_extract(
    spark: SparkSession,
    input_path: str,
    media: DataFrame,
    out_path: str,
    checkpoint: str,
    config: ExtractionConfig | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Full incremental extraction via foreachBatch: every micro-batch
    of arriving documents runs the identical batch pipeline (OCR decode
    -> normalize -> reassemble -> serialize).

    foreachBatch is at-least-once — a micro-batch that fails between a
    partial write and the checkpoint commit is replayed — so a blind
    ``mode("append")`` would duplicate rows. Output is therefore
    partitioned by ``batch_id`` and written with **dynamic partition
    overwrite**: a replayed batch rewrites its own partition atomically
    and the sink stays effectively exactly-once (same idempotency trick
    as :mod:`pdf_ocr_spark.plans.manifest` bucket writes)."""
    cfg = config or ExtractionConfig()
    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(input_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        write_extract_batch(batch_df, batch_id, media, out_path, cfg)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_join_pages_media(
    spark: SparkSession,
    pages_path: str,
    pages_schema,
    media_path: str,
    media_schema,
    out_path: str,
    checkpoint: str,
    watermark: str = "10 minutes",
    join_window: str = "5 minutes",
    available_now: bool = True,
) -> StreamingQuery:
    """Stream-stream inner equi-join: page rows and media payloads
    arrive on separate streams and meet on ``media_ref`` within an
    event-time window. Both sides carry watermarks and the join
    condition bounds their time distance, so Spark can expire join
    state — the requirement that makes a stream-stream join runnable
    forever (unbounded state otherwise). Late media beyond
    watermark+window never joins (standard streaming-join semantics).

    Input schemas: pages (media_ref, doc_id, offset, p_ts timestamp),
    media (m_media_ref, payload, m_ts timestamp)."""
    from pyspark.sql import functions as F

    pages = (
        spark.readStream.schema(pages_schema)
        .parquet(pages_path)
        .withColumn("p_ts", F.col("p_ts").cast("timestamp"))
        .withWatermark("p_ts", watermark)
    )
    media = (
        spark.readStream.schema(media_schema)
        .parquet(media_path)
        .withColumn("m_ts", F.col("m_ts").cast("timestamp"))
        .withWatermark("m_ts", watermark)
    )
    joined = pages.join(
        media,
        F.expr(
            f"media_ref = m_media_ref AND "
            f"m_ts >= p_ts - INTERVAL {join_window} AND "
            f"m_ts <= p_ts + INTERVAL {join_window}"
        ),
    ).select("media_ref", "doc_id", "offset", "payload", "p_ts", "m_ts")
    writer = (
        joined.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_static_extract_pages(
    spark: SparkSession,
    pages_path: str,
    pages_schema,
    media: DataFrame,
    out_path: str,
    checkpoint: str,
    config: ExtractionConfig | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Stream-STATIC join + continuous OCR: page rows stream in and
    join the static media table (no watermark needed — the static side
    is a plain DataFrame, re-read per micro-batch), then the Arrow OCR
    kernel decodes inside the streaming plan and decoded page rows land
    in an append-mode file sink. The third join mechanism alongside
    foreachBatch (batch join per micro-batch) and the watermarked
    stream-stream join; this is the continuous-query form.

    Input stream columns: doc_id, offset, media_ref."""
    from pdf_ocr_spark.operators.ocr import ocr_pages

    stream = spark.readStream.schema(pages_schema).parquet(pages_path)
    joined = stream.join(media, "media_ref", "left")
    decoded = ocr_pages(
        joined.select("doc_id", "offset", "media_ref", "payload"),
        config or ExtractionConfig(),
    )
    writer = (
        decoded.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_extract_html(
    spark: SparkSession,
    input_path: str,
    out_path: str,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming HTML boilerplate strip: the web main-content extractor
    as a stateless streaming projection (``mapInPandas`` is stateless,
    so the exact batch operator runs on the stream unchanged — no
    foreachBatch needed, no state store). Input: parquet of
    (doc_id: long, html: string); output: parquet of
    (doc_id, main_text) in append mode."""
    from pdf_ocr_spark.operators.webextract import extract_main_text

    schema = "doc_id LONG, html STRING"
    stream = spark.readStream.schema(schema).parquet(input_path)
    writer = (
        extract_main_text(stream)
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_audio_features(
    spark: SparkSession,
    input_path: str,
    out_path: str,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming audio ingestion: the WAV decode + feature kernel as a
    stateless streaming projection — the exact batch operator runs on
    the stream unchanged (``mapInPandas`` is stateless). Input: parquet
    of (media_ref: string, payload: binary); output: parquet of
    AUDIO_FEATURES_SCHEMA rows in append mode, error payloads included
    as error rows (a poisoned record can never wedge the stream)."""
    from pdf_ocr_spark.operators.multimodal import audio_features

    schema = "media_ref STRING, payload BINARY"
    stream = spark.readStream.schema(schema).parquet(input_path)
    writer = (
        audio_features(stream)
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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
    dynamic partition overwrite (the at-least-once replay idempotency
    of :func:`write_extract_batch`), availableNow drains the backlog,
    and the sink parquet is read back as the result.

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
    session state.

    Known gap: the whole streaming query runs on this session, so it
    does not see runtime confs set on the caller's session (session
    time zone, Arrow settings)."""
    ctx = spark.sparkContext
    entry = _SCAN_SESSIONS.get("session")
    # weakref: a GC'd SparkContext can never alias a new one
    if entry is not None and entry[0]() is ctx:
        return entry[1]
    s = spark.newSession()
    s.conf.set(
        "spark.sql.sources.parallelPartitionDiscovery.threshold", "100000"
    )
    _SCAN_SESSIONS["session"] = (weakref.ref(ctx), s)
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
