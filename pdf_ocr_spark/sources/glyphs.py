"""Deterministic 5x7 bitmap glyph renderer — the sandbox's rasterizer.

The reference rasterizes PDF pages with Poppler and OCRs them with
Tesseract (/root/reference/app.py:447-473, app.py:258). Neither binary
exists in this container, so fixtures are synthesized the way the
reference's own self-test synthesizes its golden image
(/root/reference/ocr_test.py:103-143: white canvas, black fixed-font
text at a fixed position): text is rendered onto a white canvas with a
built-in 5x7 font, and the OCR kernel in
:mod:`pdf_ocr_spark.operators.imaging` genuinely re-reads it (binarize
-> segment -> template-match). Rendering and decoding are deterministic,
so OCR output is stable across runs and parallelism levels.
"""

from __future__ import annotations

import numpy as np

#: 5x7 glyphs, 7 rows of 5 cells; 'X' = ink. Covers the generator
#: charset: uppercase letters, digits, and the punctuation that the
#: fix_common_ocr_errors chain cares about.
FONT_5X7: dict[str, tuple[str, ...]] = {
    "A": (".XXX.", "X...X", "X...X", "XXXXX", "X...X", "X...X", "X...X"),
    "B": ("XXXX.", "X...X", "X...X", "XXXX.", "X...X", "X...X", "XXXX."),
    "C": (".XXXX", "X....", "X....", "X....", "X....", "X....", ".XXXX"),
    "D": ("XXXX.", "X...X", "X...X", "X...X", "X...X", "X...X", "XXXX."),
    "E": ("XXXXX", "X....", "X....", "XXXX.", "X....", "X....", "XXXXX"),
    "F": ("XXXXX", "X....", "X....", "XXXX.", "X....", "X....", "X...."),
    "G": (".XXXX", "X....", "X....", "X..XX", "X...X", "X...X", ".XXX."),
    "H": ("X...X", "X...X", "X...X", "XXXXX", "X...X", "X...X", "X...X"),
    "I": ("XXXXX", "..X..", "..X..", "..X..", "..X..", "..X..", "XXXXX"),
    "J": ("..XXX", "...X.", "...X.", "...X.", "...X.", "X..X.", ".XX.."),
    "K": ("X...X", "X..X.", "X.X..", "XX...", "X.X..", "X..X.", "X...X"),
    "L": ("X....", "X....", "X....", "X....", "X....", "X....", "XXXXX"),
    "M": ("X...X", "XX.XX", "X.X.X", "X.X.X", "X...X", "X...X", "X...X"),
    "N": ("X...X", "XX..X", "X.X.X", "X..XX", "X...X", "X...X", "X...X"),
    "O": (".XXX.", "X...X", "X...X", "X...X", "X...X", "X...X", ".XXX."),
    "P": ("XXXX.", "X...X", "X...X", "XXXX.", "X....", "X....", "X...."),
    "Q": (".XXX.", "X...X", "X...X", "X...X", "X.X.X", "X..X.", ".XX.X"),
    "R": ("XXXX.", "X...X", "X...X", "XXXX.", "X.X..", "X..X.", "X...X"),
    "S": (".XXXX", "X....", "X....", ".XXX.", "....X", "....X", "XXXX."),
    "T": ("XXXXX", "..X..", "..X..", "..X..", "..X..", "..X..", "..X.."),
    "U": ("X...X", "X...X", "X...X", "X...X", "X...X", "X...X", ".XXX."),
    "V": ("X...X", "X...X", "X...X", "X...X", "X...X", ".X.X.", "..X.."),
    "W": ("X...X", "X...X", "X...X", "X.X.X", "X.X.X", "XX.XX", "X...X"),
    "X": ("X...X", "X...X", ".X.X.", "..X..", ".X.X.", "X...X", "X...X"),
    "Y": ("X...X", "X...X", ".X.X.", "..X..", "..X..", "..X..", "..X.."),
    "Z": ("XXXXX", "....X", "...X.", "..X..", ".X...", "X....", "XXXXX"),
    "0": (".XXX.", "X...X", "X..XX", "X.X.X", "XX..X", "X...X", ".XXX."),
    "1": ("..X..", ".XX..", "..X..", "..X..", "..X..", "..X..", "XXXXX"),
    "2": (".XXX.", "X...X", "....X", "...X.", "..X..", ".X...", "XXXXX"),
    "3": ("XXXXX", "...X.", "..X..", "...X.", "....X", "X...X", ".XXX."),
    "4": ("...X.", "..XX.", ".X.X.", "X..X.", "XXXXX", "...X.", "...X."),
    "5": ("XXXXX", "X....", "XXXX.", "....X", "....X", "X...X", ".XXX."),
    "6": ("..XX.", ".X...", "X....", "XXXX.", "X...X", "X...X", ".XXX."),
    "7": ("XXXXX", "....X", "...X.", "..X..", ".X...", ".X...", ".X..."),
    "8": (".XXX.", "X...X", "X...X", ".XXX.", "X...X", "X...X", ".XXX."),
    "9": (".XXX.", "X...X", "X...X", ".XXXX", "....X", "...X.", ".XX.."),
    ".": (".....", ".....", ".....", ".....", ".....", "..X..", "..X.."),
    ",": (".....", ".....", ".....", ".....", "..X..", "..X..", ".X..."),
    ":": (".....", "..X..", "..X..", ".....", "..X..", "..X..", "....."),
    ";": (".....", "..X..", "..X..", ".....", "..X..", "..X..", ".X..."),
    "!": ("..X..", "..X..", "..X..", "..X..", "..X..", ".....", "..X.."),
    "?": (".XXX.", "X...X", "....X", "...X.", "..X..", ".....", "..X.."),
    "-": (".....", ".....", ".....", "XXXXX", ".....", ".....", "....."),
}

GLYPH_W, GLYPH_H = 5, 7
CHAR_PITCH = GLYPH_W + 1  # one blank column between glyphs
LINE_PITCH = GLYPH_H + 3  # blank rows between lines
MARGIN = 4

def glyph_array(ch: str) -> np.ndarray:
    """5x7 bool array of ink cells for one glyph ('space' is blank)."""
    rows = FONT_5X7.get(ch)
    if rows is None:
        return np.zeros((GLYPH_H, GLYPH_W), dtype=bool)
    return np.array([[c == "X" for c in row] for row in rows], dtype=bool)


def render_text_image(
    text: str, ink: int = 0, paper: int = 255, jitter: tuple[int, int] = (0, 0)
) -> np.ndarray:
    """Render multi-line text to a HxW uint8 grayscale page image.

    ``jitter`` translates the whole text block (dy, dx) — used by the
    corpus generator so the OCR kernel cannot rely on a fixed origin.
    """
    lines = text.upper().split("\n")
    n_cols = max((len(ln) for ln in lines), default=0)
    dy, dx = jitter
    h = 2 * MARGIN + len(lines) * LINE_PITCH + dy
    w = 2 * MARGIN + max(n_cols, 1) * CHAR_PITCH + dx
    img = np.full((h, w), paper, dtype=np.uint8)
    for li, line in enumerate(lines):
        y0 = MARGIN + dy + li * LINE_PITCH
        for ci, ch in enumerate(line):
            g = glyph_array(ch)
            if not g.any():
                continue
            x0 = MARGIN + dx + ci * CHAR_PITCH
            block = img[y0 : y0 + GLYPH_H, x0 : x0 + GLYPH_W]
            block[g] = ink
    return img
