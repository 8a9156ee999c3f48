"""Per-page OCR: the reference's ``process_image``
(/root/reference/app.py:226-345) as one function, :func:`ocr_image`,
and the span pipeline's page kernel over PNG payloads,
:func:`ocr_pages`, one ``per_row`` function over the package's row
boundary (:func:`pdf_ocr_spark.operators.rows.map_rows`).

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

:func:`load_page` (payload -> raster, then ``preprocess``/``derotate``)
is the one image preparation; :func:`ocr_image` and the hOCR kernel
both start from it. Heavy deps are imported lazily, once per Python
worker (the reference's lazy-import pattern, app.py:270,298).
"""

from __future__ import annotations

from functools import partial

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
from pdf_ocr_spark.operators.rows import map_rows

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


def png_page(payload: bytes | None, media_ref: str):
    """A span page's raster, decoded from its PNG payload. A NULL
    payload (the left join found no media row) raises
    ``FileNotFoundError(media_ref)``, :func:`page_error`'s "File not
    found" row."""
    from pdf_ocr_spark.sources.pngcodec import decode_png

    if payload is None:
        raise FileNotFoundError(media_ref)
    return decode_png(payload)


def load_page(img, config: ExtractionConfig):
    """The raster a page is OCR-ed from: ``img`` (a decoded raster, or
    a zero-argument callable returning one) with the config's
    ``preprocess`` enhancement and ``derotate`` correction applied."""
    from pdf_ocr_spark.operators.imaging import derotate_image, enhance_image

    if callable(img):
        img = img()
    if config.preprocess:
        img = enhance_image(img)
    if config.derotate:
        img = derotate_image(img)
    return img


def ocr_image(img, offset: int, config: ExtractionConfig) -> tuple[str, float, bool]:
    """OCR one page; returns (text, confidence, is_error) and never
    raises. ``img`` is as for :func:`load_page`, so that a failed
    decode (:func:`ocr_pages`' PNG payloads) is this page's error row
    like any other failure. An unsupported engine is rejected before
    ``img`` is touched."""
    # Lazy import: once per python worker, not per task from Spark's view
    from pdf_ocr_spark.operators.imaging import ocr_decode

    if config.ocr_engine not in SUPPORTED_ENGINES:
        return f"[Error: Unsupported OCR engine: {config.ocr_engine}]", 0.0, True
    try:
        img = load_page(img, config)
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
    (doc_id, offset, media_ref, text, confidence, error), one row per
    page. :func:`ocr_image` contains every failure of a page, so the
    row boundary needs no ``on_error``.

    Raw decode only — text normalization (M2+M5) is applied afterwards
    as column expressions, and only to non-error rows (the reference's
    error strings bypass sanitize/fix via early return).
    """
    cfg = config or ExtractionConfig()

    def per_row(doc_id, offset, media_ref, payload):
        page = ocr_image(partial(png_page, payload, media_ref), offset, cfg)
        return [(doc_id, offset, media_ref, *page)]

    cols = pages.select("doc_id", "offset", "media_ref", "payload")
    return map_rows(cols, per_row, OCR_OUTPUT_SCHEMA)
