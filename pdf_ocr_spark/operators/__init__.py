from pdf_ocr_spark.operators.spans import (  # noqa: F401
    explode_spans,
    reassemble_spans,
)
from pdf_ocr_spark.operators.serialize import serialize_documents  # noqa: F401
