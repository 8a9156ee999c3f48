"""Per-page OCR: the reference's ``process_image``
(/root/reference/app.py:226-345) as one function, :func:`ocr_image`,
and the Arrow-batched ``mapInPandas`` kernel over PNG payloads,
:func:`ocr_pages`.

:func:`ocr_image` is the only per-page OCR in the package. Both
extraction paths call it: :func:`ocr_pages` (span documents, via
``extract_documents`` / ``run_extraction``) on each decoded PNG, and
:func:`pdf_ocr_spark.sources.pdfsource.extract_pdf_documents` on each
raster the PDF codec decodes. It has the reference's observable
semantics:

* engine dispatch on a config value; unsupported engine -> error row
* preprocess flag -> enhancement chain before decode; derotate flag ->
  rotation estimate and undo
* every failure is **data, not an exception**: the page row survives
  with a bracketed error message, exactly like the reference's
  ``return i, "[Error ...]"`` paths. :func:`page_error` is the one
  definition of those messages; the hOCR kernel uses it too.

From Spark's perspective there is no per-row Python — batches arrive as
Arrow RecordBatches and the kernel loops inside the batch, importing
heavy deps lazily once per python worker (the reference's lazy-import
pattern, /root/reference/app.py:270,298).
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from pdf_ocr_spark.config import ExtractionConfig

OCR_OUTPUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("offset", IntegerType(), False),
        StructField("media_ref", StringType(), True),
        StructField("text", StringType(), True),
        StructField("confidence", DoubleType(), True),
        StructField("error", BooleanType(), False),
    ]
)

SUPPORTED_ENGINES = ("glyph", "tesseract", "easyocr", "pyocr")


def page_error(offset: int, e: Exception) -> str:
    """The error row's text for an exception raised while OCR-ing page
    ``offset``. A missing payload, raised as
    ``FileNotFoundError(media_ref)``, is the reference's "File not
    found" row (app.py:332-334); anything else is its catch-all
    (app.py:335-337), whose ``offset + 1`` mirrors the reference's
    1-based page numbers."""
    if isinstance(e, FileNotFoundError):
        return f"[Error: File not found: {e}. Ensure the file exists and is accessible.]"
    return f"[Error processing page {offset + 1}: {e}]"


def ocr_image(img, offset: int, config: ExtractionConfig) -> tuple[str, float, bool]:
    """OCR one page; returns (text, confidence, is_error) and never
    raises. ``img`` is a decoded raster, or a zero-argument callable
    returning one, so that a failed decode (:func:`ocr_pages`' PNG
    payloads) is this page's error row like any other failure. An
    unsupported engine is rejected before ``img`` is touched."""
    # Lazy imports: once per python worker, not per task from Spark's view
    from pdf_ocr_spark.operators.imaging import (
        derotate_image,
        enhance_image,
        ocr_decode,
    )

    if config.ocr_engine not in SUPPORTED_ENGINES:
        return f"[Error: Unsupported OCR engine: {config.ocr_engine}]", 0.0, True
    try:
        if callable(img):
            img = img()
        if config.preprocess:
            img = enhance_image(img)
        if config.derotate:
            img = derotate_image(img)
        if config.ocr_engine == "glyph":
            text, conf = ocr_decode(img)
            return text, conf, False
        if config.ocr_engine == "tesseract":
            from pdf_ocr_spark.operators.engines import tesseract_decode

            try:
                import pytesseract  # not present in this container

                backend = pytesseract.image_to_string
            except Exception as e:  # matches app.py:264-266 error shape
                return f"[Error with Tesseract OCR: {e}]", 0.0, True
            # full reference contract: config string (--oem 1 --psm 3,
            # --dpi 300 for pure English) + empty-result psm-6 retry
            text, is_err = tesseract_decode(img, config.language, backend)
        elif config.ocr_engine == "easyocr":
            from pdf_ocr_spark.operators.engines import easyocr_decode

            # is_err includes "[Error with EasyOCR: <import error>]"
            text, is_err = easyocr_decode(img, config.language)
        else:  # pyocr
            from pdf_ocr_spark.operators.engines import pyocr_decode

            text, is_err = pyocr_decode(img, config.language)
        return text, 0.0 if is_err else 1.0, is_err
    except Exception as e:
        return page_error(offset, e), 0.0, True


def ocr_pages(pages: DataFrame, config: ExtractionConfig | None = None) -> DataFrame:
    """Decode image-span pages: (doc_id, offset, media_ref, payload) ->
    (doc_id, offset, media_ref, text, confidence, error).

    Raw decode only — text normalization (M2+M5) is applied afterwards
    as column expressions, and only to non-error rows (the reference's
    error strings bypass sanitize/fix via early return).
    """
    cfg = config or ExtractionConfig()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pdf_ocr_spark.sources.pngcodec import decode_png

        def load(payload, media_ref):
            if payload is None:  # left join found no media row
                raise FileNotFoundError(media_ref)
            return decode_png(bytes(payload))

        for pdf in batches:
            texts, confs, errs = [], [], []
            for payload, ref, off in zip(pdf["payload"], pdf["media_ref"], pdf["offset"]):
                t, c, e = ocr_image(partial(load, payload, ref), int(off), cfg)
                texts.append(t)
                confs.append(c)
                errs.append(e)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "offset": pdf["offset"],
                    "media_ref": pdf["media_ref"],
                    "text": texts,
                    "confidence": confs,
                    "error": errs,
                }
            )

    return pages.mapInPandas(kernel, schema=OCR_OUTPUT_SCHEMA)
