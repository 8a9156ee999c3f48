"""Unit tests: PNG codec round-trips, glyph OCR decode, enhancement."""

from __future__ import annotations

import numpy as np
import pytest

from pdf_ocr_spark.operators.imaging import enhance_image, ocr_decode, to_grayscale
from pdf_ocr_spark.sources.corpus import _page_jitter, expected_page_text
from pdf_ocr_spark.sources.glyphs import render_text_image
from pdf_ocr_spark.sources.pngcodec import decode_png, encode_png


@pytest.mark.parametrize(
    "text",
    [
        "TESSERACT OCR TEST",  # the reference's golden phrase (ocr_test.py:103-143)
        "HELLO, WORLD!",
        "LINE ONE\nLINE TWO: 105",
        "...",  # glyphs that don't touch their cell origin
        "- ; !",
        "A",
        "MULTI  SPACE",
    ],
)
@pytest.mark.parametrize("jitter", [(0, 0), (3, 5)])
def test_render_decode_roundtrip(text, jitter):
    img = render_text_image(text, jitter=jitter)
    got, conf = ocr_decode(decode_png(encode_png(img)))
    assert got == text.upper()
    assert conf == 1.0


def test_png_gray_roundtrip():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 255, (33, 57), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img)), img)


def test_png_rgb_roundtrip_and_gray():
    rng = np.random.default_rng(8)
    img = rng.integers(0, 255, (21, 13, 3), dtype=np.uint8)
    rt = decode_png(encode_png(img))
    assert np.array_equal(rt, img)
    g = to_grayscale(rt)
    assert g.shape == (21, 13) and g.dtype == np.uint8


def test_decode_rejects_garbage():
    with pytest.raises(ValueError):
        decode_png(b"\x89PNG but not really")
    with pytest.raises(ValueError):
        decode_png(b"")


def test_enhanced_image_still_decodes():
    img = render_text_image("ENHANCE ME 123")
    got, conf = ocr_decode(enhance_image(img))
    assert got == "ENHANCE ME 123"


def test_enhance_error_tolerant():
    # matches the reference's return-original-on-failure (app.py:222-224)
    weird = np.zeros((1, 1), dtype=np.uint8)  # too small to sharpen
    out = enhance_image(weird)
    assert out.shape == (1, 1)


def test_empty_page_decodes_empty():
    blank = np.full((40, 60), 255, dtype=np.uint8)
    text, conf = ocr_decode(blank)
    assert text == "" and conf == 0.0


def test_low_contrast_retry():
    # ink lighter than the default threshold: primary pass sees nothing,
    # the adaptive retry (the reference's --psm 6 analogue) recovers it
    img = render_text_image("RETRY PASS", ink=200, paper=255)
    text, _ = ocr_decode(img)
    assert text == "RETRY PASS"


def test_corpus_roundtrip_bulk():
    for i in range(100):
        doc, off = f"doc_{i:08d}", i % 5
        t = expected_page_text(doc, off)
        img = render_text_image(t, jitter=_page_jitter(doc, off, 42))
        got, _ = ocr_decode(img)
        assert got == t


def test_deskew_recovery():
    """Skewed pages (horizontal-shear model) decode exactly: candidate
    slopes shortlisted by column-projection sharpness, selected by
    template confidence."""
    from pdf_ocr_spark.operators.imaging import shear_image

    for text in ["DESKEW TEST PAGE", "LINE A\nLINE B", "MIXED, PUNCT: 105!"]:
        for slope in [-0.25, -0.08, 0.05, 0.12, 0.3]:
            got, conf = ocr_decode(shear_image(render_text_image(text), slope))
            assert got == text, (text, slope, got)


def test_clean_page_fast_path_unchanged():
    # unskewed pages must not pay the candidate search (conf 1.0 short-circuit)
    got, conf = ocr_decode(render_text_image("FAST PATH"))
    assert got == "FAST PATH" and conf == 1.0
