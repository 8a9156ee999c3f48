"""The end-to-end extraction pipeline (SURVEY §3.1 Spark shape).

    documents ──explode_outer──┬─ text spans (+ spanless docs) ────────────┐
                               └─ image spans ─join media─ OCR kernel ──┴─ union
        ── normalize ── groupBy(doc_id) ordered reassembly ── serialize

Physical notes for scale:

* The media join is an equi-join on ``media_ref`` (unique per page —
  no skew); Catalyst/AQE picks sort-merge, or broadcast when the media
  side is small. At 100 TB, bucket both tables by ``media_ref`` to
  make it shuffle-free.
* The single shuffle that must exist is the reassembly, and the
  per-document metrics are read from its sorted array
  (:func:`pdf_ocr_spark.operators.spans.ordered`,
  :func:`~pdf_ocr_spark.operators.spans.page_metrics`). Skewed
  many-page docs take its salted two-stage form through
  ``ExtractionConfig.reassembly_salt``.
* A plain call groups on ``doc_id``, and AQE sizes that shuffle by
  bytes. A checkpointed run
  (:func:`pdf_ocr_spark.plans.manifest.run_extraction`) passes
  ``buckets``. The reassembly then groups on (bucket, doc_id) behind
  one exchange by number, which AQE does not coalesce: bucket ``k``
  goes to task ``k mod min(buckets, defaultParallelism)``. Each bucket
  sits whole in one task, so the write still makes one file per
  bucket. This pays when the reassembly shuffle is small enough that
  AQE would coalesce it into fewer tasks than there are cores.
  ``span_extract`` at local[4] moves ~200 KB, which became one task
  running the sorts, the serializers and all 32 Parquet files.
  Limits: the reassembly, the serializers and the write run in at most
  ``min(buckets, defaultParallelism)`` tasks, whatever the shuffle's
  size. ``defaultParallelism`` is read when the run is planned; under
  dynamic allocation it can be smaller than the executors granted
  later. A bucket must fit one task, so size ``buckets`` to the
  corpus. BENCH.md has both sides on a shuffle far past AQE's
  advisory partition size, at local[4] only.
* Everything else — normalization, serialization — is projection work
  fused into the surrounding stages by whole-stage codegen.
  Normalization is one projection above the union; error rows skip it.
* A document with no spans (an empty or NULL array) keeps one row with
  a NULL offset through the union and the reassembly, and comes out
  with ``spans = []``, ``n_pages = 0`` and ``mean_confidence`` NULL.
* The fixed Column trees — the normalize chain, the span
  re-projection, the page metrics and the txt/md/html serializers —
  are built once per JVM (:mod:`pdf_ocr_spark.functions.jvmcache`):
  they are over a thousand py4j round trips, which every call paid
  before.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdf_ocr_spark.config import ExtractionConfig
from pdf_ocr_spark.functions.jvmcache import per_jvm
from pdf_ocr_spark.functions.text import normalize_text_col
from pdf_ocr_spark.operators.ocr import ocr_pages
from pdf_ocr_spark.operators.serialize import serialize_documents
from pdf_ocr_spark.operators.spans import (
    SPAN_FIELDS,
    canonical_spans,
    explode_spans,
    ordered,
    page_metrics,
)


def extract_pages(
    documents: DataFrame, media: DataFrame, config: ExtractionConfig | None = None
) -> DataFrame:
    """Per-page extraction: one output row per span with final text.

    Output: (doc_id, offset, kind, text, media_ref, confidence, error).
    Decoded image spans become ``kind='text'`` rows (the document is
    fully textual after extraction) with media_ref kept for lineage.
    Error strings bypass normalization, as in the reference. A document
    with no spans keeps one row with a NULL offset, so the reassembly
    still gives it a row (:func:`~pdf_ocr_spark.operators.spans.ordered`).
    """
    cfg = config or ExtractionConfig()
    pages = explode_spans(documents, outer=True)

    text_pages = pages.where((F.col("kind") == "text") | F.col("offset").isNull()).select(
        "doc_id",
        "offset",
        "text",
        "media_ref",
        F.lit(1.0).alias("confidence"),
        F.lit(False).alias("error"),
    )

    image_pages = (
        pages.where(F.col("kind") == "image")
        .select("doc_id", "offset", "media_ref")
        .join(media, "media_ref", "left")  # left: missing payload -> error row
    )
    decoded = ocr_pages(image_pages, cfg).select(
        "doc_id", "offset", "text", "media_ref", "confidence", "error"
    )

    return text_pages.unionByName(decoded).select(
        "doc_id", "offset", *_final_text(), "media_ref", "confidence", "error"
    )


@per_jvm
def _final_text() -> tuple[Column, Column]:
    """``kind`` and ``text`` of an extracted page: every page is text
    now, normalized unless it is an error row."""
    text = F.col("text")
    return (
        F.lit("text").alias("kind"),
        F.when(F.col("error"), text).otherwise(normalize_text_col(text)).alias("text"),
    )


def extract_documents(
    documents: DataFrame,
    media: DataFrame,
    config: ExtractionConfig | None = None,
    serialize: bool = True,
    observation=None,
    buckets: int = 0,
) -> DataFrame:
    """Full pipeline: returns one row per document with ordered spans,
    metrics, and (optionally) serialized txt/md/html columns.

    Pass a ``pyspark.sql.Observation`` to collect job-level metrics
    (docs/pages/errors/mean confidence) at action time with zero extra
    passes — the Spark-native replacement for the reference's polled
    TASK_STATUS progress dict (/root/reference/app.py:518-522).

    ``buckets`` (set by :func:`pdf_ocr_spark.plans.manifest.run_extraction`)
    clusters the reassembly by output bucket and adds the ``bucket``
    column; see :func:`~pdf_ocr_spark.operators.spans.ordered`.
    """
    cfg = config or ExtractionConfig()
    pages = extract_pages(documents, media, cfg)
    docs = ordered(
        pages, (*SPAN_FIELDS, "confidence", "error"), cfg.reassembly_salt, buckets
    ).select(
        "doc_id", canonical_spans(), *page_metrics(), *(["bucket"] if buckets else [])
    )
    if observation is not None:
        docs = docs.observe(
            observation,
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_pages").alias("n_pages"),
            F.sum("n_errors").alias("n_errors"),
            F.avg("mean_confidence").alias("mean_confidence"),
        )
    if serialize:
        docs = serialize_documents(docs, formats=cfg.output_formats)
    return docs
