"""The end-to-end extraction pipeline (SURVEY §3.1 Spark shape).

    documents ──explode──┬─ text spans ───────────────────────────┐
                         └─ image spans ─join media─ OCR kernel ──┴─ union
                    ── groupBy(doc_id) ordered reassembly ── serialize

Physical notes for scale:

* The media join is an equi-join on ``media_ref`` (unique per page —
  no skew); Catalyst/AQE picks sort-merge, or broadcast when the media
  side is small. At 100 TB, bucket both tables by ``media_ref`` to
  make it shuffle-free.
* The single shuffle that must exist is the reassembly groupBy on
  ``doc_id`` (partial aggregation map-side), and the per-document
  metrics are read from its sorted array
  (:func:`pdf_ocr_spark.operators.spans.ordered`,
  :func:`~pdf_ocr_spark.operators.spans.page_metrics`). Skewed
  many-page docs take its salted two-stage form through
  ``ExtractionConfig.reassembly_salt``.
* Everything else — normalization, serialization — is projection work
  fused into the surrounding stages by whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_ocr_spark.config import ExtractionConfig
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
    Error strings bypass normalization, as in the reference.
    """
    cfg = config or ExtractionConfig()
    pages = explode_spans(documents)

    text_pages = (
        pages.where(F.col("kind") == "text")
        .select(
            "doc_id",
            "offset",
            F.lit("text").alias("kind"),
            normalize_text_col(F.col("text")).alias("text"),
            "media_ref",
            F.lit(1.0).alias("confidence"),
            F.lit(False).alias("error"),
        )
    )

    image_pages = (
        pages.where(F.col("kind") == "image")
        .select("doc_id", "offset", "media_ref")
        .join(media, "media_ref", "left")  # left: missing payload -> error row
    )
    decoded = ocr_pages(image_pages, cfg).select(
        "doc_id",
        "offset",
        F.lit("text").alias("kind"),
        F.when(F.col("error"), F.col("text"))
        .otherwise(normalize_text_col(F.col("text")))
        .alias("text"),
        "media_ref",
        "confidence",
        "error",
    )

    return text_pages.unionByName(decoded)


def extract_documents(
    documents: DataFrame,
    media: DataFrame,
    config: ExtractionConfig | None = None,
    serialize: bool = True,
    observation=None,
) -> DataFrame:
    """Full pipeline: returns one row per document with ordered spans,
    metrics, and (optionally) serialized txt/md/html columns.

    Pass a ``pyspark.sql.Observation`` to collect job-level metrics
    (docs/pages/errors/mean confidence) at action time with zero extra
    passes — the Spark-native replacement for the reference's polled
    TASK_STATUS progress dict (/root/reference/app.py:518-522).
    """
    cfg = config or ExtractionConfig()
    pages = extract_pages(documents, media, cfg)
    docs = ordered(
        pages, (*SPAN_FIELDS, "confidence", "error"), cfg.reassembly_salt
    ).select("doc_id", canonical_spans(), *page_metrics())
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
