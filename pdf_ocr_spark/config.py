"""Job configuration — the five options the reference backend actually
reads (/root/reference/app.py:663-667), plus derived knobs.

(The reference UI exposes many more fields — dpi, denoise, deskew,
thresholds — that the server never reads; they are dead config and are
deliberately not modeled, SURVEY §2.2 M7.)
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class ExtractionConfig:
    ocr_engine: str = "glyph"  # 'glyph' (built-in), 'tesseract', 'easyocr', 'pyocr'
    language: str = "eng"
    quality: str = "standard"  # 'high' -> 600 DPI
    preprocess: bool = False
    #: True -> estimate and undo page rotation before decode (3-shear
    #: derotation with decode-rescored angle refinement). Costs a
    #: candidate-grid of decodes per page, so it is opt-in for corpora
    #: known to contain rotated scans rather than a default.
    derotate: bool = False
    output_formats: tuple[str, ...] = ("txt", "md", "html")
    #: >0 routes reassembly through the salted two-stage aggregate
    #: (operators.spans.ordered with n_salt) for corpora with
    #: pathologically many-page documents; 0 = plain single-stage.
    reassembly_salt: int = 0
    #: Password for encrypted PDFs (standard security handler — tried
    #: as user then owner; RC4/AES-128 legacy and AES-256 R6 alike).
    #: Empty = open only files readable without a prompt (the default
    #: real-world shape); files needing a password become typed error
    #: rows, never exceptions.
    pdf_password: str = ""

    @property
    def dpi(self) -> int:
        """M8: quality knob is the only DPI input
        (/root/reference/app.py:432-435)."""
        return 600 if self.quality == "high" else 300
