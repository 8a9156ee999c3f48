from pdf_ocr_spark.plans.pipeline import extract_documents  # noqa: F401
from pdf_ocr_spark.plans.manifest import run_extraction, read_manifest  # noqa: F401
