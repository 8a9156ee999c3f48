"""Extraction benchmark for pdf_ocr_spark; see run.py and NOTES.md."""
