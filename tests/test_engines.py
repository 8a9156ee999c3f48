"""Golden tests for the external-engine dispatch contracts — the
reference's own test strategy (mocked backends,
/root/reference/test_app.py:265-302) applied to the injectable
functions in pdf_ocr_spark/operators/engines.py."""

from __future__ import annotations

from pdf_ocr_spark.operators.engines import (
    easyocr_assemble,
    easyocr_decode,
    pyocr_decode,
    tesseract_config,
    tesseract_decode,
)


def test_tesseract_config_dpi_conditional():
    """app.py:246-249: --dpi 300 only for pure-English specs; the
    check is a substring test and a '+' test, faithfully."""
    assert tesseract_config("eng") == "--oem 1 --psm 3 -l eng --dpi 300"
    assert tesseract_config("fra") == "--oem 1 --psm 3 -l fra"
    assert tesseract_config("eng+fra") == "--oem 1 --psm 3 -l eng+fra"  # '+' kills it
    assert tesseract_config("english") == "--oem 1 --psm 3 -l english --dpi 300"
    assert tesseract_config("eng", retry=True) == "--oem 1 --psm 6 -l eng"


def test_tesseract_decode_mock_and_retry():
    """test_app.py:265-280 shape: mocked image_to_string returns known
    text; plus the app.py:259-263 empty-result psm-6 retry."""
    calls = []

    def backend(img, config):
        calls.append(config)
        return "Test OCR result"

    text, err = tesseract_decode("img", "eng", backend)
    assert (text, err) == ("Test OCR result", False)
    assert calls == ["--oem 1 --psm 3 -l eng --dpi 300"]

    calls.clear()

    def empty_then_text(img, config):
        calls.append(config)
        return "   " if len(calls) == 1 else "second try"

    text, err = tesseract_decode("img", "deu", empty_then_text)
    assert (text, err) == ("second try", False)
    assert calls == ["--oem 1 --psm 3 -l deu", "--oem 1 --psm 6 -l deu"]


def test_tesseract_decode_error_as_data():
    def broken(img, config):
        raise RuntimeError("tesseract is not installed")

    text, err = tesseract_decode("img", "eng", broken)
    assert err and text == "[Error with Tesseract OCR: tesseract is not installed]"


def test_easyocr_assemble_golden():
    """app.py:290-291: paragraphs joined with newline; falsy -> ''. """
    assert easyocr_assemble(["para one", "para two"]) == "para one\npara two"
    assert easyocr_assemble([]) == ""
    assert easyocr_assemble(None) == ""


def test_easyocr_decode_language_mapping_and_reader():
    """app.py:272-289: ISO-3 codes map to 2-letter (unknown codes pass
    through), ONE reader over all '+'-separated languages, readtext
    called with detail=0 paragraph=True."""
    seen = {}

    class Reader:
        def __init__(self, langs):
            seen["langs"] = langs

        def readtext(self, img, detail, paragraph):
            seen["call"] = (detail, paragraph)
            return ["hello world", "second paragraph"]

    text, err = easyocr_decode("img", "eng+fra+xyz", Reader)
    assert not err and text == "hello world\nsecond paragraph"
    assert seen["langs"] == ["en", "fr", "xyz"]
    assert seen["call"] == (0, True)


def test_easyocr_decode_error_as_data():
    def factory(langs):
        raise ImportError("No module named 'easyocr'")

    text, err = easyocr_decode("img", "eng", factory)
    assert err and text == "[Error with EasyOCR: No module named 'easyocr']"
    # real path (no factory): container has no easyocr -> same shape
    text, err = easyocr_decode("img", "eng")
    assert err and text.startswith("[Error with EasyOCR: ")


def test_pyocr_decode_contract():
    """app.py:296-320: empty tool list -> the reference's exact no-tool
    string; first tool wins; lang passed through unmapped."""
    text, err = pyocr_decode("img", "eng", tools=[])
    assert err
    assert text == "[Error: No OCR tool found for PyOCR. Install Tesseract or Cuneiform.]"

    class Tool:
        def image_to_string(self, img, lang, builder):
            return f"pyocr:{lang}"

    text, err = pyocr_decode("img", "deu+eng", tools=[Tool(), "never-used"])
    assert (text, err) == ("pyocr:deu+eng", False)


def test_spark_kernel_routes_engine_errors_as_rows(spark):
    """End to end through the Arrow kernel: easyocr/pyocr without
    backends yield typed error ROWS (never exceptions), with the
    reference's bracketed message shapes."""
    from pdf_ocr_spark.config import ExtractionConfig
    from pdf_ocr_spark.operators.ocr import ocr_pages
    from pdf_ocr_spark.sources.glyphs import render_text_image
    from pdf_ocr_spark.sources.pngcodec import encode_png

    png = encode_png(render_text_image("hello"))
    pages = spark.createDataFrame(
        [("d", 0, "m", bytearray(png))],
        "doc_id string, offset int, media_ref string, payload binary",
    )
    for engine, prefix in (
        ("easyocr", "[Error with EasyOCR: "),
        ("pyocr", "[Error with PyOCR: "),
        ("tesseract", "[Error with Tesseract OCR: "),
    ):
        row = ocr_pages(pages, ExtractionConfig(ocr_engine=engine)).collect()[0]
        assert row["error"] is True and row["text"].startswith(prefix), (engine, row)


def test_ocr_image_turns_a_raising_kernel_into_the_page_error_row():
    """The per-page catch-all (reference app.py:335-337): whatever the
    kernel raises on becomes this page's bracketed row, 1-based."""
    from pdf_ocr_spark.config import ExtractionConfig
    from pdf_ocr_spark.operators.ocr import ocr_image

    text, conf, err = ocr_image("not a raster", 4, ExtractionConfig())
    assert text.startswith("[Error processing page 5: ") and text.endswith("]")
    assert (conf, err) == (0.0, True)


def test_pdf_extraction_routes_every_engine_through_one_path(spark, tmp_path):
    """extract_pdf_documents under every non-glyph engine: each page of
    a good file is that engine's error row, and a truncated file is one
    ``[Error: ...]`` row, as under glyph."""
    from pdf_ocr_spark.config import ExtractionConfig
    from pdf_ocr_spark.sources.glyphs import render_text_image
    from pdf_ocr_spark.sources.pdfcodec import encode_pdf
    from pdf_ocr_spark.sources.pdfsource import extract_pdf_documents

    pages = [render_text_image("first page"), render_text_image("second page")]
    (tmp_path / "doc_two.pdf").write_bytes(encode_pdf(pages, compress=True))
    (tmp_path / "doc_cut.pdf").write_bytes(b"%PDF-1.4 but truncated garbage")
    for engine, prefix in (
        ("tesseract", "[Error with Tesseract OCR: "),
        ("easyocr", "[Error with EasyOCR: "),
        ("pyocr", "[Error with PyOCR: "),
        ("notreal", "[Error: Unsupported OCR engine: notreal]"),
    ):
        cfg = ExtractionConfig(ocr_engine=engine)
        out = {r.doc_id: r for r in extract_pdf_documents(spark, str(tmp_path), cfg).collect()}
        two, cut = out["two"], out["cut"]
        assert (two.n_pages, two.n_errors) == (2, 2), (engine, two)
        assert all(p.startswith(prefix) for p in two.txt.split("\n\n")), (engine, two.txt)
        assert (cut.n_pages, cut.n_errors) == (1, 1), (engine, cut)
        assert cut.txt.startswith("[Error: ") and "\n\n" not in cut.txt, (engine, cut.txt)
