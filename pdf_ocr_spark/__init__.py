"""pdf_ocr_spark — a PySpark-native document-extraction engine.

From-scratch reimplementation of the capabilities of the reference
``fabriziosalmi/pdf-ocr`` (a single-process Flask OCR converter) as a
distributed Spark dataflow over tables of interleaved text+media documents:

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

Design principles (see SURVEY.md):

* DataFrame/Catalyst first — every text transformation that the reference
  performs row-at-a-time in Python is expressed as built-in Spark SQL
  column expressions (JVM-side, whole-stage-codegen), so the normalize /
  serialize path is shuffle-free and UDF-free.
* Python touches data only behind one row boundary,
  :func:`pdf_ocr_spark.operators.rows.map_rows` (one Arrow stage per
  kernel): the per-page OCR (rasterize/enhance/decode), mirroring the
  reference's per-page OCR worker (its ``app.py:226-345``),
  and the other byte decoders, all with error-as-row semantics.
* Per-row invariant vs the reference: span-sequence equality on
  ``(kind, text, media_ref, order)``.
"""

__version__ = "0.1.0"

from pdf_ocr_spark.schema import DOCUMENTS_SCHEMA, SPAN_STRUCT, MANIFEST_SCHEMA  # noqa: F401
