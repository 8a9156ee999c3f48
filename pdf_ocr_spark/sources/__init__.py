from pdf_ocr_spark.sources.pngcodec import decode_png, encode_png  # noqa: F401
from pdf_ocr_spark.sources.corpus import (  # noqa: F401
    expected_page_text,
    generate_documents,
    generate_media,
)
from pdf_ocr_spark.sources.testdata import load_table  # noqa: F401
