"""hOCR serialization — layout-to-span output (north-star format list:
txt/json/hOCR).

The glyph OCR decoder exposes line/word pixel geometry
(:func:`pdf_ocr_spark.operators.imaging.ocr_decode_layout`); this module
turns it into standard hOCR (ocr_page / ocr_line / ocrx_word with bbox
titles) per page, plus a document-level wrapper assembled in offset
order with pure column ops.

JSON span serialization rides along here: ``json_doc_col`` emits the
compact-JSON document (to_json over the ordered span array), verified
byte-equal to ``json.dumps(..., separators=(',', ':'))`` in tests.
"""

from __future__ import annotations

from functools import partial
from xml.sax.saxutils import escape

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from pdf_ocr_spark.config import ExtractionConfig
from pdf_ocr_spark.operators.ocr import load_page, ocr_image, page_error, png_page
from pdf_ocr_spark.operators.rows import map_rows

HOCR_PAGE_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("offset", IntegerType(), False),
        StructField("media_ref", StringType(), True),
        StructField("text", StringType(), True),
        StructField("hocr", StringType(), True),
        StructField("confidence", DoubleType(), True),
        StructField("error", BooleanType(), False),
    ]
)


def hocr_page(lines: list[dict], page_no: int, width: int, height: int, media_ref: str) -> str:
    """One hOCR ocr_page div. Deterministic ids: page_{n}, line_{n}_{i},
    word_{n}_{i}_{j}; 1-based like tesseract's hOCR output."""
    n = page_no + 1
    out = [
        f"<div class='ocr_page' id='page_{n}' "
        f"title='image \"{escape(media_ref)}\"; bbox 0 0 {width} {height}; ppageno {page_no}'>"
    ]
    for i, line in enumerate(lines, start=1):
        x0, y0, x1, y1 = line["bbox"]
        out.append(
            f"<span class='ocr_line' id='line_{n}_{i}' title='bbox {x0} {y0} {x1} {y1}'>"
        )
        for j, w in enumerate(line["words"], start=1):
            wx0, wy0, wx1, wy1 = w["bbox"]
            conf = int(round(line["confidence"] * 100))
            out.append(
                f"<span class='ocrx_word' id='word_{n}_{i}_{j}' "
                f"title='bbox {wx0} {wy0} {wx1} {wy1}; x_wconf {conf}'>"
                f"{escape(w['text'])}</span>"
            )
        out.append("</span>")
    out.append("</div>")
    return "".join(out)


def ocr_pages_hocr(pages: DataFrame, config: ExtractionConfig | None = None) -> DataFrame:
    """Layout OCR kernel: (doc_id, offset, media_ref, payload) ->
    per-page text + hOCR, from the page :func:`load_page` prepares.
    Error-as-row semantics identical to
    :func:`pdf_ocr_spark.operators.ocr.ocr_pages`. Only the glyph engine
    reports layout: any other ``ocr_engine`` gives ``ocr_pages``' row
    for the page, with ``hocr = NULL``."""
    cfg = config or ExtractionConfig()

    def per_row(doc_id, offset, media_ref, payload):
        from pdf_ocr_spark.operators.imaging import ocr_decode_layout, to_grayscale

        img = partial(png_page, payload, media_ref)
        if cfg.ocr_engine != "glyph":
            text, conf, err = ocr_image(img, offset, cfg)
            return [(doc_id, offset, media_ref, text, None, conf, err)]
        gray = to_grayscale(load_page(img, cfg))
        lines, conf = ocr_decode_layout(gray)
        h, w = gray.shape
        text = "\n".join(l["text"] for l in lines)
        hocr = hocr_page(lines, offset, w, h, str(media_ref))
        return [(doc_id, offset, media_ref, text, hocr, conf, False)]

    def on_error(doc_id, offset, media_ref, payload, e):
        return [(doc_id, offset, media_ref, page_error(offset, e), None, 0.0, True)]

    cols = pages.select("doc_id", "offset", "media_ref", "payload")
    return map_rows(cols, per_row, HOCR_PAGE_SCHEMA, on_error)


_HOCR_HEAD = (
    "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n"
    "<!DOCTYPE html>\n"
    "<html xmlns=\"http://www.w3.org/1999/xhtml\">\n<head>\n<title></title>\n"
    "<meta name='ocr-system' content='pdf-ocr-spark glyph 0.1' />\n"
    "<meta name='ocr-capabilities' content='ocr_page ocr_line ocrx_word' />\n"
    "</head>\n<body>\n"
)


def hocr_doc_col(pages: Column) -> Column:
    """Document-level hOCR: page divs joined in offset order inside the
    standard hOCR scaffold. ``pages`` is array<struct<offset, hocr>>."""
    body = F.array_join(
        F.transform(F.array_sort(pages), lambda p: p["hocr"]), "\n"
    )
    return F.concat(F.lit(_HOCR_HEAD), body, F.lit("\n</body>\n</html>\n"))


def json_doc_col(doc_id: Column, spans: Column) -> Column:
    """Compact-JSON document serialization of the span sequence (already
    offset-ordered by the pipeline; sorting here would reorder by the
    struct's leading 'kind' field). Byte-matches
    ``json.dumps(..., separators=(',',':'))``."""
    return F.to_json(F.struct(doc_id.alias("doc_id"), spans.alias("spans")))


WORD_BOXES_SCHEMA = (
    "media_ref string, line_idx int, word_idx int, word string, "
    "x0 int, y0 int, x1 int, y1 int"
)


def word_boxes_table(media: DataFrame) -> DataFrame:
    """Flat word-geometry table from the layout OCR kernel: one row per
    recognized word with its pixel bounding box (x0, y0, x1, y1; the
    segmenter's deskewed frame). This is the oracle-checkable form of
    the hOCR output — the generator knows every word's analytic
    position (:func:`pdf_ocr_spark.sources.corpus.expected_word_boxes`),
    so segmentation + grid-origin estimation are value-checked end to
    end, not just eyeballed."""

    def per_row(media_ref, payload):
        from pdf_ocr_spark.operators.imaging import ocr_decode_layout, to_grayscale

        lines, _ = ocr_decode_layout(to_grayscale(png_page(payload, media_ref)))
        return [
            (media_ref, li, wi, w["text"], *map(int, w["bbox"]))
            for li, line in enumerate(lines)
            for wi, w in enumerate(line["words"])
        ]

    # a missing or malformed payload has no geometry rows
    cols = media.select("media_ref", "payload")
    return map_rows(cols, per_row, WORD_BOXES_SCHEMA, lambda *_: [])
