"""The end-to-end extraction pipeline (SURVEY §3.1 Spark shape).

    documents ──explode_outer──┬─ image spans ─join media─ OCR kernel ──┬─ union
                               └─ text spans (+ spanless docs) ────────────┘
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
* The OCR rows come first in the union. A union's tasks run in
  partition order, so the OCR kernel's tasks, the stage's long ones,
  take its first wave and the text rows' short tasks fill in behind
  them; with text first, the OCR tasks waited for the text tasks to
  free the cores.
* A document with no spans (an empty or NULL array) keeps one row with
  a NULL offset through the union and the reassembly, and comes out
  with ``spans = []``, ``n_pages = 0`` and ``mean_confidence`` NULL.
* Every fixed Column tree of a run is built once per JVM
  (:mod:`pdf_ocr_spark.functions.jvmcache`): the explode and its
  re-projection, :func:`extract_pages`' filters and projections, the
  normalize chain, the reassembly's merge and its bucket, the span
  re-projection, the page metrics, the txt/md/html serializers and the
  manifest's window and observation. Each PySpark function call on a
  Column costs several py4j round trips of call-site bookkeeping, so
  rebuilding them cost every call over a thousand. Only ``F.col`` and
  ``F.lit`` trees are cached: a ``df["x"]`` reference names one plan.
  The serializers are added by one ``withColumns``, one analyzer pass
  instead of one per format.
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
    is_text, text_page, is_image, image_page, page, final = _page_columns()
    pages = explode_spans(documents)
    text_pages = pages.where(is_text).select(*text_page)
    image_pages = (
        pages.where(is_image)
        .select(*image_page)
        .join(media, "media_ref", "left")  # left: missing payload -> error row
    )
    decoded = ocr_pages(image_pages, cfg).select(*page)
    # OCR first: its long tasks take the stage's first wave (module docstring)
    return decoded.unionByName(text_pages).select(*final)


@per_jvm
def _page_columns() -> tuple:
    """:func:`extract_pages`' filters and projections: the text-page
    filter (a spanless document's NULL-offset row goes with the text
    pages) and projection, the image-page filter and projection, the
    decoded page, and the final page, which is text, normalized unless
    it is an error row."""
    doc_id, offset, text, media_ref = (
        F.col(c) for c in ("doc_id", "offset", "text", "media_ref")
    )
    confidence, error = F.col("confidence"), F.col("error")
    return (
        (F.col("kind") == "text") | offset.isNull(),
        (
            doc_id,
            offset,
            text,
            media_ref,
            F.lit(1.0).alias("confidence"),
            F.lit(False).alias("error"),
        ),
        F.col("kind") == "image",
        (doc_id, offset, media_ref),
        (doc_id, offset, text, media_ref, confidence, error),
        (
            doc_id,
            offset,
            F.lit("text").alias("kind"),
            F.when(error, text).otherwise(normalize_text_col(text)).alias("text"),
            media_ref,
            confidence,
            error,
        ),
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
    ).select(*_document_columns(bool(buckets)))
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


@per_jvm
def _document_columns(bucketed: bool) -> tuple[Column, ...]:
    """A document's row, from its :func:`ordered` array."""
    bucket = (F.col("bucket"),) if bucketed else ()
    return (F.col("doc_id"), canonical_spans(), *page_metrics(), *bucket)
