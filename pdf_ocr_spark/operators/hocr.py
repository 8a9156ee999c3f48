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

from collections.abc import Iterator
from xml.sax.saxutils import escape

import pandas as pd

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
from pdf_ocr_spark.operators.ocr import page_error

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
    per-page text + hOCR. Error-as-row semantics identical to
    :func:`pdf_ocr_spark.operators.ocr.ocr_pages`."""
    cfg = config or ExtractionConfig()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pdf_ocr_spark.operators.imaging import enhance_image, ocr_decode_layout, to_grayscale
        from pdf_ocr_spark.sources.pngcodec import decode_png

        for pdf in batches:
            texts, hocrs, confs, errs = [], [], [], []
            for payload, ref, off in zip(pdf["payload"], pdf["media_ref"], pdf["offset"]):
                try:
                    if payload is None:
                        raise FileNotFoundError(ref)
                    img = decode_png(bytes(payload))
                    if cfg.preprocess:
                        img = enhance_image(img)
                    gray = to_grayscale(img)
                    lines, conf = ocr_decode_layout(gray)
                    h, w = gray.shape
                    texts.append("\n".join(l["text"] for l in lines))
                    hocrs.append(hocr_page(lines, int(off), w, h, str(ref)))
                    confs.append(conf)
                    errs.append(False)
                except Exception as e:
                    texts.append(page_error(int(off), e))
                    hocrs.append(None)
                    confs.append(0.0)
                    errs.append(True)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "offset": pdf["offset"],
                    "media_ref": pdf["media_ref"],
                    "text": texts,
                    "hocr": hocrs,
                    "confidence": confs,
                    "error": errs,
                }
            )

    return pages.mapInPandas(kernel, schema=HOCR_PAGE_SCHEMA)


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

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pdf_ocr_spark.operators.imaging import ocr_decode_layout, to_grayscale
        from pdf_ocr_spark.sources.pngcodec import decode_png

        for pdf in batches:
            rows = {k: [] for k in ("media_ref", "line_idx", "word_idx", "word", "x0", "y0", "x1", "y1")}
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    lines, _ = ocr_decode_layout(to_grayscale(decode_png(bytes(payload))))
                except Exception:
                    continue  # malformed media: no geometry rows
                for li, line in enumerate(lines):
                    for wi, w in enumerate(line["words"]):
                        x0, y0, x1, y1 = w["bbox"]
                        rows["media_ref"].append(ref)
                        rows["line_idx"].append(li)
                        rows["word_idx"].append(wi)
                        rows["word"].append(w["text"])
                        rows["x0"].append(int(x0))
                        rows["y0"].append(int(y0))
                        rows["x1"].append(int(x1))
                        rows["y1"].append(int(y1))
            yield pd.DataFrame(rows)

    return media.mapInPandas(kernel, schema=WORD_BOXES_SCHEMA)
