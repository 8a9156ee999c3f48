"""Numpy image kernels: enhancement + from-scratch glyph OCR decoding.

These run only inside the Arrow stages of
:func:`pdf_ocr_spark.operators.rows.map_rows` (never per-row from
Spark's perspective). The OCR decoder is a real, tiny
pipeline — grayscale, binarize, text-line segmentation by projection,
fixed-pitch cell segmentation, template matching with grid-origin
search — standing in for Tesseract (absent in this container) exactly
the way the reference's self-test stands in for real scans
(/root/reference/ocr_test.py:57-184). Deterministic by construction.
"""

from __future__ import annotations

import numpy as np

from pdf_ocr_spark.sources.glyphs import (
    CHAR_PITCH,
    FONT_5X7,
    GLYPH_H,
    GLYPH_W,
    glyph_array,
)

# --- M3: enhance_image (/root/reference/app.py:204-224) --------------------

#: PIL ImageFilter.SHARPEN: 3x3 kernel, scale 16, offset 0.
_SHARPEN_KERNEL = np.array([[-2, -2, -2], [-2, 32, -2], [-2, -2, -2]], dtype=np.int64)


def _sharpen_channel(ch: np.ndarray) -> np.ndarray:
    acc = np.zeros((ch.shape[0] - 2, ch.shape[1] - 2), dtype=np.int64)
    src = ch.astype(np.int64)
    for dy in range(3):
        for dx in range(3):
            acc += _SHARPEN_KERNEL[dy, dx] * src[dy : dy + acc.shape[0], dx : dx + acc.shape[1]]
    out = ch.copy()
    # PIL leaves the 1-px border unfiltered
    out[1:-1, 1:-1] = np.clip((acc + 8) // 16, 0, 255).astype(np.uint8)
    return out


def to_grayscale(img: np.ndarray) -> np.ndarray:
    """ITU-R 601 luma, integer arithmetic (PIL 'L' convention)."""
    if img.ndim == 2:
        return img
    r, g, b = img[..., 0].astype(np.int64), img[..., 1].astype(np.int64), img[..., 2].astype(np.int64)
    return ((r * 299 + g * 587 + b * 114) // 1000).astype(np.uint8)


def enhance_image(img: np.ndarray) -> np.ndarray:
    """Sharpen -> contrast x1.5 -> grayscale, the reference's preprocess
    chain (sharpen filter, ImageEnhance.Contrast(1.5), convert('L')).
    On any internal error the original image is returned, matching
    /root/reference/app.py:222-224."""
    try:
        if img.ndim == 3:
            sharp = np.stack([_sharpen_channel(img[..., c]) for c in range(3)], axis=-1)
        else:
            sharp = _sharpen_channel(img)
        # ImageEnhance.Contrast: blend toward the solid-gray mean of the
        # L-converted image: out = mean + 1.5*(px - mean).
        mean = int(to_grayscale(sharp).mean() + 0.5)
        contrasted = np.clip(
            np.floor(mean + 1.5 * (sharp.astype(np.float64) - mean) + 0.5), 0, 255
        ).astype(np.uint8)
        return to_grayscale(contrasted)
    except Exception:
        return img


# --- OCR decode ------------------------------------------------------------

_CHARS = list(FONT_5X7)
_TEMPLATES = np.stack([glyph_array(c) for c in _CHARS])  # (n_glyphs, 7, 5)
_BLANK_SCORE = GLYPH_H * GLYPH_W

# Bit-packed template matching (the per-page hot path): each 7x5 cell
# packs into 35 bits of a uint64; pixel agreement with a template is
# 35 - popcount(cell ^ template), so one XOR + three 16-bit LUT lookups
# replace a (n_templates, 7, 5) boolean broadcast per cell, and a whole
# line's cells classify in one vectorized shot.
_POW2 = (1 << np.arange(_BLANK_SCORE, dtype=np.uint64)).astype(np.uint64)
_TBITS = (_TEMPLATES.reshape(len(_CHARS), -1).astype(np.uint64) @ _POW2).astype(np.uint64)
_POPCOUNT16 = np.array([bin(i).count("1") for i in range(1 << 16)], dtype=np.uint8)
_CHARS_ARR = np.array(_CHARS)


def _popcount(x: np.ndarray) -> np.ndarray:
    return (
        _POPCOUNT16[x & np.uint64(0xFFFF)].astype(np.int64)
        + _POPCOUNT16[(x >> np.uint64(16)) & np.uint64(0xFFFF)]
        + _POPCOUNT16[(x >> np.uint64(32)) & np.uint64(0xFFFF)]
    )


def _shear_shift(slope: float, ys: np.ndarray) -> np.ndarray:
    """Per-row horizontal shift for a shear slope. The product is
    pre-rounded to 9 decimals before the integer round so that slopes
    differing only in fp representation (0.05 vs linspace's
    0.049999999999999996) produce identical shifts at half-boundary
    rows — shear and unshear must agree bit-for-bit."""
    return np.round(np.round(slope * ys, 9)).astype(int)


def shear_image(img: np.ndarray, slope: float, fill: int = 255) -> np.ndarray:
    """Horizontal shear (the small-angle skew model: row y shifts right
    by round(slope*y)). Canvas widens to fit; background = fill."""
    h, w = img.shape
    shift = _shear_shift(slope, np.arange(h))
    lo, hi = int(shift.min()), int(shift.max())
    out = np.full((h, w + hi - lo), np.uint8(fill), dtype=np.uint8)
    for y in range(h):
        s = shift[y] - lo
        out[y, s : s + w] = img[y]
    return out


def _shear_candidates(
    ys: np.ndarray, xs: np.ndarray, max_slope: float = 0.3, k: int = 12
) -> list[float]:
    """Top-k deskew slope candidates over a fine grid, ranked by
    column-projection sharpness, deduplicated by locality."""
    if ys.size == 0:
        return []
    grid = np.linspace(-max_slope, max_slope, 121)
    scored = []
    for slope in grid:
        shifted = xs - _shear_shift(slope, ys)
        proj = np.bincount(shifted - shifted.min())
        scored.append((float((proj.astype(np.float64) ** 2).sum()), float(slope)))
    scored.sort(reverse=True)
    out: list[float] = []
    for _, slope in scored:
        # radius must stay below the grid step (0.005), else the exact
        # slope can be shadowed by a higher-scoring neighbor
        if all(abs(slope - o) > 0.004 for o in out):
            out.append(slope)
        if len(out) >= k:
            break
    return out


def _segment_lines(ink: np.ndarray, max_gap: int = 2) -> list[tuple[int, int]]:
    """Group ink rows into text-line bands; gaps <= max_gap stay within a
    line (glyphs like ':' have internal blank rows; the renderer leaves
    >= 3 blank rows between lines)."""
    rows = np.flatnonzero(ink.any(axis=1))
    if rows.size == 0:
        return []
    bands: list[tuple[int, int]] = []
    start = prev = int(rows[0])
    for r in rows[1:]:
        if r - prev > max_gap + 1:
            bands.append((start, prev))
            start = int(r)
        prev = int(r)
    bands.append((start, prev))
    return bands


def _decode_line(ink: np.ndarray, band: tuple[int, int]) -> tuple[str, float]:
    """Decode one text-line band: estimate the glyph-grid origin (the
    band's first ink row/col only bounds it, since glyphs like '.' don't
    touch their cell's top-left), then classify each fixed-pitch cell by
    max pixel agreement against the font templates."""
    top, bottom = band
    cols = np.flatnonzero(ink[top : bottom + 1].any(axis=0))
    if cols.size == 0:
        return "", 0.0
    c0, c_last = int(cols[0]), int(cols[-1])

    h, w = ink.shape

    def decode_at(oy: int, ox: int) -> tuple[str, float, int]:
        n_cells = max(1, -(-(c_last + 1 - ox) // CHAR_PITCH))
        # clip-copy the whole line window once, then classify every cell
        # in one vectorized pass (bit-pack -> XOR -> popcount LUT)
        span = n_cells * CHAR_PITCH
        window = np.zeros((GLYPH_H, span + GLYPH_W), dtype=bool)
        ys, xs = max(0, oy), max(0, ox)
        ye, xe = min(h, oy + GLYPH_H), min(w, ox + span + GLYPH_W)
        if ys < ye and xs < xe:
            window[ys - oy : ye - oy, xs - ox : xe - ox] = ink[ys:ye, xs:xe]
        # cell k = window[:, k*CHAR_PITCH : k*CHAR_PITCH + GLYPH_W]
        strided = np.lib.stride_tricks.sliding_window_view(window, GLYPH_W, axis=1)
        cells = strided[:, ::CHAR_PITCH, :][:, :n_cells, :]  # (H, n_cells, W)
        flat = cells.transpose(1, 0, 2).reshape(n_cells, _BLANK_SCORE)
        bits = (flat.astype(np.uint64) @ _POW2).astype(np.uint64)
        pop = _popcount(bits[:, None] ^ _TBITS[None, :])  # (n_cells, T)
        best = pop.argmin(axis=1)  # first-min == argmax of agreement
        agree = _BLANK_SCORE - pop[np.arange(n_cells), best]
        blank = bits == 0
        chars = np.where(blank, " ", _CHARS_ARR[best])
        total = int(np.where(blank, _BLANK_SCORE, agree).sum())
        return "".join(chars).rstrip(), total, n_cells

    # Fast path: assume the band's top-left ink pixel is the grid origin
    # (true whenever the line contains any full-height, left-anchored
    # glyph). Accept on a perfect score; otherwise search nearby origins.
    text, score, n = decode_at(top, c0)
    if score == n * _BLANK_SCORE:
        return text, 1.0
    best = (score / (n * _BLANK_SCORE), text)
    for oy in range(top - (GLYPH_H - 1), top + 1):
        for ox in range(c0 - (GLYPH_W - 1), c0 + 1):
            t, s, k = decode_at(oy, ox)
            conf = s / (k * _BLANK_SCORE)
            if conf > best[0]:
                best = (conf, t)
    return best[1], best[0]


def _line_layout(ink: np.ndarray, band: tuple[int, int]) -> dict | None:
    """Word-level layout for one line band: decode at the estimated grid
    origin, then group consecutive non-space cells into words with
    pixel bounding boxes (x0, y0, x1, y1; right/bottom exclusive)."""
    top, bottom = band
    cols = np.flatnonzero(ink[top : bottom + 1].any(axis=0))
    if cols.size == 0:
        return None
    text, conf = _decode_line(ink, band)
    if not text:
        return None
    c0 = int(cols[0])
    words = []
    pos = 0
    for raw in text.split(" "):
        if raw:
            x0 = c0 + pos * CHAR_PITCH
            x1 = c0 + (pos + len(raw)) * CHAR_PITCH - 1
            words.append(
                {
                    "text": raw,
                    "bbox": (x0, top, x1, top + GLYPH_H),
                }
            )
        pos += len(raw) + 1
    return {
        "text": text,
        "bbox": (c0, top, int(cols[-1]) + 1, top + GLYPH_H),
        "words": words,
        "confidence": conf,
    }


def _deskewed_decode(img: np.ndarray, threshold: int, decode, empty):
    """The deskew search both decoders share: binarize (retrying at the
    image's own mean when ``threshold`` finds no ink), run ``decode``
    on the ink mask, and if its confidence is low, re-run it on each
    shear candidate's re-binned ink and keep the most confident result.
    ``decode(mask)`` returns (result, confidence); ``empty`` is the
    result for an inkless page."""
    gray = to_grayscale(img)
    ink = gray < threshold
    if not ink.any():
        # retry: adapt threshold to the image's own intensity spread
        ink = gray < gray.mean()
        if not ink.any():
            return empty, 0.0
    out, conf = decode(ink)
    if conf >= 0.999:
        return out, conf
    # Low confidence: the page may be skewed. Shortlist slope candidates
    # by column-projection sharpness, decode each, keep the decode with
    # the best template confidence (projection score alone can lock
    # onto stroke-alignment false maxima).
    ys, xs = np.nonzero(ink)
    for slope in _shear_candidates(ys, xs):
        shifted = xs - _shear_shift(slope, ys)
        off = int(shifted.min())
        fixed = np.zeros((ink.shape[0], int(shifted.max()) - off + 1), dtype=bool)
        fixed[ys, shifted - off] = True
        out2, conf2 = decode(fixed)
        if conf2 > conf:
            out, conf = out2, conf2
        if conf >= 0.999:
            break
    return out, conf


def _layout_of(mask: np.ndarray) -> tuple[list[dict], float]:
    lines = [l for l in (_line_layout(mask, b) for b in _segment_lines(mask)) if l]
    conf = float(np.mean([l["confidence"] for l in lines])) if lines else 0.0
    return lines, conf


def _text_of(mask: np.ndarray) -> tuple[str, float]:
    lines, confs = [], []
    for band in _segment_lines(mask):
        text, conf = _decode_line(mask, band)
        lines.append(text)
        confs.append(conf)
    return "\n".join(lines), float(np.mean(confs)) if confs else 0.0


def ocr_decode_layout(img: np.ndarray, threshold: int = 128) -> tuple[list[dict], float]:
    """Layout-aware decode: text lines with word bounding boxes (the
    hOCR feed). Same segmentation + template matching + deskew retry as
    :func:`ocr_decode`; geometry is reported in the deskewed frame
    (standard for hOCR after skew correction)."""
    return _deskewed_decode(img, threshold, _layout_of, [])


def ocr_decode(img: np.ndarray, threshold: int = 128) -> tuple[str, float]:
    """Decode a rendered page image to (text, mean_confidence).

    Mirrors the reference's M4 shape: primary pass, and if the result is
    empty a retry with an alternative segmentation setting (the
    reference retries tesseract with ``--psm 6``,
    /root/reference/app.py:259-263) — here a data-driven threshold.
    """
    return _deskewed_decode(img, threshold, _text_of, "")


# ---------------------------------------------------------------------------
# True rotation (3-shear decomposition) — round-3 addition
# ---------------------------------------------------------------------------


def _centered_shift(slope: float, n: int) -> np.ndarray:
    """Integer shifts anchored at the canvas CENTER, symmetric under
    negation (round(-v) == -round(v) with banker's rounding), so a
    shear and its negation cancel bit-for-bit on a same-size canvas."""
    idx = np.arange(n) - (n - 1) / 2.0
    return np.round(np.round(slope * idx, 9)).astype(int)


def _xshear_centered(canvas: np.ndarray, slope: float, fill: int) -> None:
    """In-place horizontal shear about the canvas center (no growth)."""
    shift = _centered_shift(slope, canvas.shape[0])
    for y, s in enumerate(shift):
        if s > 0:
            canvas[y, s:] = canvas[y, :-s]
            canvas[y, :s] = fill
        elif s < 0:
            canvas[y, :s] = canvas[y, -s:]
            canvas[y, s:] = fill


def _yshear_centered(canvas: np.ndarray, slope: float, fill: int) -> None:
    """In-place vertical shear about the canvas center (no growth)."""
    shift = _centered_shift(slope, canvas.shape[1])
    for x, s in enumerate(shift):
        if s > 0:
            canvas[s:, x] = canvas[:-s, x]
            canvas[:s, x] = fill
        elif s < 0:
            canvas[:s, x] = canvas[-s:, x]
            canvas[s:, x] = fill


def rotate_image(img: np.ndarray, theta: float, fill: int = 255) -> np.ndarray:
    """Small-angle rotation by the classic 3-shear decomposition
    (Paeth 1986, "A Fast Algorithm for General Raster Rotation" —
    public): R(theta) = shear_x(-tan(theta/2)) . shear_y(sin theta) .
    shear_x(-tan(theta/2)).

    Every step is an integer row/column shift on one symmetrically
    padded canvas — no resampling blur, and because shifts are
    center-anchored (symmetric padding preserves center-relative
    coordinates), ``rotate_image(rotate_image(p, t), -t)`` cancels
    **bit-for-bit**: the inverse shears see the same center offsets
    negated. (The naive grow-per-shear formulation re-indexes rows
    between passes and leaves coherent 1-px column breaks — measured
    3-38% ink overlap after a round trip on page-width images.)"""
    import math

    a = -math.tan(theta / 2.0)
    b = math.sin(theta)
    h, w = img.shape
    pad_x = int(math.ceil(abs(a) * h)) * 2 + int(math.ceil(abs(b) * w)) + 2
    pad_y = int(math.ceil(abs(b) * (w + 2 * pad_x))) + 2
    canvas = np.full((h + 2 * pad_y, w + 2 * pad_x), np.uint8(fill), dtype=np.uint8)
    canvas[pad_y : pad_y + h, pad_x : pad_x + w] = img
    _xshear_centered(canvas, a, fill)
    _yshear_centered(canvas, b, fill)
    _xshear_centered(canvas, a, fill)
    return canvas


def estimate_rotation(ink: np.ndarray, max_theta: float = 0.3, steps: int = 13) -> float:
    """Rotation estimate by ROW-projection sharpness: level the text
    baselines by vertically unshearing (y - slope*x) and maximize the
    row-histogram energy. Rows are page-wide and lines are few, so this
    landscape is far less alias-prone than the column-projection score
    (which locks onto glyph-pitch harmonics on rotated input —
    measured: theta=0.06 estimated as -0.15 via columns, 0.060 via
    rows). A coarse scan over [-max_theta, max_theta] is followed by two
    hierarchical refinement passes around the best candidate; exact-tie
    preference for 0."""
    import math

    ys, xs = np.nonzero(ink)
    if ys.size == 0:
        return 0.0

    def score_of(slope: float):
        shifted = ys - _shear_shift(slope, xs)
        proj = np.bincount(shifted - shifted.min())
        # primary: fewest inked rows (each line collapses to exactly its
        # glyph height only when baselines are level — a stepwise-sharp,
        # unbiased criterion; the energy term alone has biased plateaus,
        # measured ~0.003 rad off); secondary: projection energy
        return (
            -int((proj > 0).sum()),
            float((proj.astype(np.float64) ** 2).sum()),
        )

    def scan(lo: float, hi: float, n: int, seed_slope: float, seed_score):
        best_slope, best_score = seed_slope, seed_score
        for slope in np.linspace(lo, hi, n):
            s = score_of(float(slope))
            if s > best_score or (s == best_score and abs(slope) < abs(best_slope)):
                best_slope, best_score = float(slope), s
        return best_slope, best_score

    max_slope = math.tan(max_theta)
    best, score = scan(-max_slope, max_slope, steps, 0.0, score_of(0.0))
    span = 2 * max_slope / (steps - 1)
    for _ in range(3):  # three refinement levels: resolution ~max_slope/3000
        best, score = scan(best - span, best + span, 11, best, score)
        span = 2 * span / 10
    return math.atan(best)


def derotate_image(img: np.ndarray, threshold: int = 128) -> np.ndarray:
    """Detect and undo true (small-angle) rotation. Two stages:

    1. coarse angle from row-projection sharpness
       (:func:`estimate_rotation`, accuracy ~0.003 rad — its score
       plateaus are ~1/W wide, so it cannot localize further);
    2. **hypothesis rescoring**: a width-adaptive micro-grid of
       candidate angles around the coarse estimate, each derotated and
       ranked by (decoded character count, kernel confidence) — blank
       cells score full agreement, so raw confidence alone would
       prefer a derotation that segments to nothing.

    Unlike undoing an x-shear alone, this also removes the vertical
    shear component, so baselines land level again and line
    banding survives rotations, not just shears.

    Resolution limit (honest contract): bit-exact shear cancellation
    with an *estimated* angle would need it within ~1e-5 rad on a
    page-width raster (any one of ~2W+H integer shifts flipping
    displaces a row/column segment by 1 px), so at this fixture's
    1-px stroke width full OCR recovery is reliable for |theta| up to
    ~0.06 rad (3.4 deg — beyond typical scan skew); larger angles
    recover most but not all glyphs. At real scan resolutions strokes
    are many pixels wide and the same ±1-px residue is sub-stroke.
    Exact-angle derotation (``rotate_image(img, -theta)`` with known
    theta) is bit-exact at ANY angle — see rotate_image."""
    gray = img if img.ndim == 2 else to_grayscale(img)
    theta = estimate_rotation(gray < threshold)
    if theta == 0.0:
        return gray
    w = max(gray.shape[1], 1)
    step = 0.1 / w
    best = None
    for k in range(-29, 30):
        cand = theta + k * step
        fixed = rotate_image(gray, -cand)
        txt, conf = ocr_decode(fixed, threshold)
        # blank cells score full agreement, so raw confidence alone
        # prefers derotations that segment to nothing — rank by how
        # much text actually decoded first, confidence second
        n_chars = sum(c not in " \n" for c in txt)
        score = (n_chars, conf)
        if best is None or score > best[0]:
            best = (score, fixed)
    return best[1]
