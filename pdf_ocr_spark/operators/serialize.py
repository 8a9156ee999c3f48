"""Multi-format document serialization operator (sinks S5/S6/S7).

Adds per-document output columns (txt/md/html) computed from the span
array. Pure projection — serialization rides in the same stage as
normalization, no extra shuffle. The docx container (S8) is out of the
span-equality contract (binary zip with timestamps); its *content*
equals the txt page sequence, which is what we emit.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdf_ocr_spark.functions.jvmcache import per_jvm
from pdf_ocr_spark.functions.serialize import html_doc_col, markdown_doc_col, txt_doc_col

FORMATS = ("txt", "md", "html")


def _text_pages(spans_col):
    """Project a document's text-bearing spans to (offset, text) structs.

    After the OCR kernel every span carries text; ``kind='image'`` spans
    that were never decoded serialize as their (empty) text, matching the
    reference's behavior for pages whose OCR produced ''.
    """
    return F.transform(
        spans_col,
        lambda s: F.struct(s["offset"].alias("offset"), s["text"].alias("text")),
    )


def serialize_documents(
    documents: DataFrame,
    formats: Iterable[str] = FORMATS,
    title_col: str | None = None,
) -> DataFrame:
    """Add one output column per requested format.

    ``title_col`` feeds the HTML <title>/<h1>; defaults to the doc_id
    (the reference uses the uploaded base filename,
    /root/reference/app.py:556-558).
    """
    cols = {}
    for fmt in formats:
        if fmt in FORMATS:
            cols[fmt] = _format_col(fmt, title_col)
        elif fmt == "docx":
            from pdf_ocr_spark.operators.docx import docx_udf

            cols[fmt] = docx_udf()(_text_pages(F.col("spans")))
        elif fmt == "json":
            from pdf_ocr_spark.operators.hocr import json_doc_col

            cols[fmt] = json_doc_col(F.col("doc_id"), F.col("spans"))
        else:
            raise ValueError(f"Unsupported output format: {fmt}")
    # one withColumns: one analyzer pass over the plan, not one per format
    return documents.withColumns(cols) if cols else documents


@per_jvm
def _format_col(fmt: str, title_col: str | None) -> Column:
    """The txt, md or html column of a document's ``spans``: built-in
    expressions only, so one tree serves every session on the JVM (the
    docx and json columns hold Python UDFs, which belong to one
    SparkContext)."""
    pages = _text_pages(F.col("spans"))
    if fmt == "txt":
        return txt_doc_col(pages)
    if fmt == "md":
        return markdown_doc_col(pages)
    return html_doc_col(pages, F.col(title_col or "doc_id"))
