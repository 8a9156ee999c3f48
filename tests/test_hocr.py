"""hOCR + JSON serialization: geometry golden-checked against the
renderer's own metrics (margin=4, char pitch=6, line pitch=10)."""

from __future__ import annotations

import json
import re

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from pdf_ocr_spark.operators.hocr import hocr_doc_col, json_doc_col, ocr_pages_hocr
from pdf_ocr_spark.operators.imaging import ocr_decode_layout
from pdf_ocr_spark.sources.glyphs import CHAR_PITCH, GLYPH_H, LINE_PITCH, MARGIN, render_text_image
from pdf_ocr_spark.sources.pngcodec import encode_png


def test_layout_geometry_exact():
    img = render_text_image("AB CD\nX")
    lines, conf = ocr_decode_layout(img)
    assert conf == 1.0
    assert [l["text"] for l in lines] == ["AB CD", "X"]
    l0 = lines[0]
    assert [w["text"] for w in l0["words"]] == ["AB", "CD"]
    # word 'AB': starts at margin, spans 2 cells
    assert l0["words"][0]["bbox"] == (MARGIN, MARGIN, MARGIN + 2 * CHAR_PITCH - 1, MARGIN + GLYPH_H)
    # word 'CD': after 'AB' + space = 3 cells in
    assert l0["words"][1]["bbox"][0] == MARGIN + 3 * CHAR_PITCH
    # second line band starts one line pitch down
    assert lines[1]["bbox"][1] == MARGIN + LINE_PITCH


def test_hocr_pages_kernel(spark):
    img = render_text_image("HOCR TEST")
    pages = spark.createDataFrame(
        [
            Row(doc_id="d1", offset=0, media_ref="m://ok", payload=bytes(encode_png(img))),
            Row(doc_id="d1", offset=1, media_ref="m://bad", payload=b"nope"),
            Row(doc_id="d1", offset=2, media_ref="m://gone", payload=None),
        ],
        "doc_id string, offset int, media_ref string, payload binary",
    )
    out = {r["offset"]: r for r in ocr_pages_hocr(pages).collect()}
    ok = out[0]
    assert ok["text"] == "HOCR TEST"
    assert "class='ocr_page'" in ok["hocr"] and "ocrx_word" in ok["hocr"]
    words = re.findall(r"ocrx_word[^>]*>([^<]+)</span>", ok["hocr"])
    assert words == ["HOCR", "TEST"]
    assert "x_wconf 100" in ok["hocr"]
    assert out[1]["error"] and out[1]["hocr"] is None  # error-as-row
    assert out[1]["text"] == "[Error processing page 2: not a PNG (bad signature)]"
    # a missing payload is the same row ocr_pages makes of it
    assert out[2]["error"] and out[2]["hocr"] is None
    assert out[2]["text"] == (
        "[Error: File not found: m://gone. Ensure the file exists and is accessible.]"
    )


def test_hocr_honours_engine_and_derotate(spark):
    """The hOCR kernel reads the same ``ExtractionConfig`` as
    ``ocr_pages``: a non-glyph engine gives ``ocr_pages``' row with no
    markup, and ``derotate`` straightens a rotated page before layout."""
    from pdf_ocr_spark.config import ExtractionConfig
    from pdf_ocr_spark.operators.imaging import rotate_image
    from pdf_ocr_spark.operators.ocr import ocr_pages

    pages = spark.createDataFrame(
        [
            Row(doc_id="d", offset=0, media_ref="m://flat",
                payload=bytes(encode_png(render_text_image("HOCR TEST")))),
            Row(doc_id="d", offset=1, media_ref="m://rot",
                payload=bytes(encode_png(rotate_image(render_text_image("ROTATED PAGE"), 0.04)))),
        ],
        "doc_id string, offset int, media_ref string, payload binary",
    )
    for engine in ("notreal", "tesseract"):
        cfg = ExtractionConfig(ocr_engine=engine)
        want = {r["offset"]: tuple(r) for r in ocr_pages(pages, cfg).collect()}
        got = ocr_pages_hocr(pages, cfg).collect()
        assert len(got) == 2
        for r in got:
            assert r["error"] and r["hocr"] is None
            row = (r["doc_id"], r["offset"], r["media_ref"], r["text"], r["confidence"], r["error"])
            assert row == want[r["offset"]]
    out = {r["offset"]: r for r in ocr_pages_hocr(pages, ExtractionConfig(derotate=True)).collect()}
    assert [out[k]["text"] for k in (0, 1)] == ["HOCR TEST", "ROTATED PAGE"]
    assert not out[1]["error"] and out[1]["confidence"] == 1.0
    assert re.findall(r"ocrx_word[^>]*>([^<]+)</span>", out[1]["hocr"]) == ["ROTATED", "PAGE"]


def test_hocr_doc_assembly(spark):
    img_a = render_text_image("PAGE ONE")
    img_b = render_text_image("PAGE TWO")
    pages = spark.createDataFrame(
        [  # deliberately out of order
            Row(doc_id="d", offset=1, media_ref="m://b", payload=bytes(encode_png(img_b))),
            Row(doc_id="d", offset=0, media_ref="m://a", payload=bytes(encode_png(img_a))),
        ],
        "doc_id string, offset int, media_ref string, payload binary",
    )
    hp = ocr_pages_hocr(pages)
    doc = (
        hp.groupBy("doc_id")
        .agg(F.collect_list(F.struct("offset", "hocr")).alias("pages"))
        .select(hocr_doc_col(F.col("pages")).alias("hocr"))
        .collect()[0]["hocr"]
    )
    assert doc.index("ONE") < doc.index("TWO")  # offset order restored
    assert doc.startswith("<?xml") and doc.rstrip().endswith("</html>")
    assert "ocr-capabilities" in doc


def test_json_doc_matches_python_json(spark):
    spans = [
        Row(kind="text", text='he said "hi"\n', media_ref="", offset=0),
        Row(kind="image", text="", media_ref="mem://d/p.png", offset=1),
    ]
    df = spark.createDataFrame(
        [Row(doc_id="d1", spans=spans)],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    got = df.select(json_doc_col(F.col("doc_id"), F.col("spans")).alias("j")).collect()[0]["j"]
    want = json.dumps(
        {
            "doc_id": "d1",
            "spans": [
                {"kind": "text", "text": 'he said "hi"\n', "media_ref": "", "offset": 0},
                {"kind": "image", "text": "", "media_ref": "mem://d/p.png", "offset": 1},
            ],
        },
        separators=(",", ":"),
        ensure_ascii=False,
    )
    assert got == want
    assert json.loads(got)["spans"][0]["offset"] == 0


def test_hocr_over_sheared_and_corrupt_media(spark):
    """The deskew-retry and error-as-row hOCR paths over generated media
    (the coverage the exact-oracle hocr_pages query no longer carries:
    its clean corpus has no analytic markup for sheared pages)."""
    from pdf_ocr_spark.operators.spans import explode_spans
    from pdf_ocr_spark.sources.corpus import (
        expected_page_text,
        generate_documents,
        generate_media,
        parse_media_ref,
    )

    docs = generate_documents(spark, n_docs=30, seed=13)
    media = generate_media(spark, docs, seed=13, corrupt_rate=0.1, shear_rate=0.5)
    pages = (
        explode_spans(docs)
        .where(F.col("kind") == "image")
        .select("doc_id", "offset", "media_ref")
        .join(media, "media_ref", "left")
    )
    rows = ocr_pages_hocr(pages).collect()
    assert rows
    n_err = 0
    for r in rows:
        if r["error"]:
            n_err += 1
            assert r["hocr"] is None and r["text"].startswith("[Error")
            continue
        # sheared pages must still decode exactly (deskew retry) and
        # carry well-formed markup with perfect word confidence
        doc_id, offset = parse_media_ref(r["media_ref"])
        assert r["text"] == expected_page_text(doc_id, offset, seed=13).upper()
        assert r["confidence"] == 1.0
        assert "class='ocr_page'" in r["hocr"] and "x_wconf 100" in r["hocr"]
    assert n_err > 0  # corrupt_rate=0.1 must have produced error rows


def test_expected_hocr_page_matches_kernel_exactly():
    """The analytic hOCR expectation (renderer constants + glyph masks,
    no segmentation) must equal the kernel's render->segment->decode
    markup byte-for-byte on a clean page."""
    from pdf_ocr_spark.operators.hocr import hocr_page
    from pdf_ocr_spark.sources.corpus import (
        _page_jitter,
        expected_hocr_page,
        expected_page_text,
        media_ref_for,
    )

    doc_id, offset, seed = "doc_00000007", 2, 13
    text = expected_page_text(doc_id, offset, seed)
    img = render_text_image(text, jitter=_page_jitter(doc_id, offset, seed))
    lines, conf = ocr_decode_layout(img)
    h, w = img.shape
    got = hocr_page(lines, offset, w, h, media_ref_for(doc_id, offset))
    exp = expected_hocr_page(doc_id, offset, media_ref_for(doc_id, offset), seed)
    assert conf == exp["confidence"] == 1.0
    assert got == exp["hocr"]
    assert "\n".join(l["text"] for l in lines) == exp["text"]
