"""From-scratch JPEG (JFIF) codec, baseline + progressive — pure
numpy, no external image libraries (the container has none).

Why it exists: real-world scanned color PDFs store pages as
``/DCTDecode`` (JPEG) image XObjects — the one filter the PDF subset
codec previously rejected with a typed error (the reference ingests
them through Poppler, /root/reference/app.py:447-482). This module
gives :mod:`pdf_ocr_spark.sources.pdfcodec` a real decode path, and an
encoder so fixtures can round-trip the full binaryFile -> parse ->
DCT-decode -> OCR pipeline.

Scope:

* SOF0 (baseline sequential) and — round 4 — SOF2 (progressive:
  spectral selection, successive approximation with correction bits,
  EOB runs, interleaved and non-interleaved scans; ISO 10918-1 G.2).
  8-bit samples, 1 component (grayscale) or 3 components (YCbCr —
  4:4:4, 4:2:2, or 4:2:0 chroma subsampling; the MCU walk handles any
  sampling factors in {1,2}, which covers what real producers emit),
  JFIF marker layout. Real libjpeg-progressive files (custom tables,
  genuine EOB runs) decode — pinned by the interop test.
* Standard Annex-K quantization + Huffman tables (the tables are
  published constants in ISO/IEC 10918-1; every JPEG implementation
  embeds them). Encoder and decoder share the constants below, and the
  decoder *reads the tables from the file* (DQT/DHT), so files from
  other producers with custom tables decode too. The progressive
  encoder emits per-block EOBs only (Annex-K has no EOB-run codes);
  the decoder handles full EOB runs regardless.
* Arithmetic coding, lossless/hierarchical frames, 12-bit, and
  sampling factors above 2 raise ``ValueError`` naming the feature,
  so the PDF source can surface a typed error row — never a crash.

JPEG is lossy: round-trip tests assert bounded error (and the OCR
path's binarization absorbs the quantization noise at the qualities
the fixture writer uses), not byte equality.

Performance: the DCT/IDCT, color transforms, quantization and zigzag
are vectorized over all blocks at once (one ``T @ blocks @ T.T``
einsum); only the entropy coder is a per-symbol Python loop, and
quantized text pages are sparse (most blocks hit EOB after a few
symbols), which keeps decode ~1-2 ms/page at fixture sizes.
"""

from __future__ import annotations

import re

import numpy as np

# --------------------------------------------------------------------------
# Constants (ISO/IEC 10918-1 Annex K — published standard tables)
# --------------------------------------------------------------------------

#: Annex K.1 luminance / K.2 chrominance base quantization tables.
QUANT_LUM = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int32,
).reshape(8, 8)

QUANT_CHROM = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int32,
).reshape(8, 8)

#: Zigzag scan order: ZIGZAG[i] = linear index into the 8x8 block of
#: the i-th zigzag position.
def _zigzag_order() -> np.ndarray:
    order = sorted(
        ((r, c) for r in range(8) for c in range(8)),
        key=lambda rc: (rc[0] + rc[1], rc[1] if (rc[0] + rc[1]) % 2 else rc[0]),
    )
    return np.array([r * 8 + c for r, c in order], dtype=np.int64)


ZIGZAG = _zigzag_order()

# Annex K.3 standard Huffman tables: (BITS[1..16], HUFFVAL)
DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
DC_CHROM = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
AC_CHROM = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)

#: Orthonormal DCT-II matrix: coeffs = T @ block @ T.T
_DCT_T = np.array(
    [
        [
            (np.sqrt(1 / 8) if k == 0 else np.sqrt(2 / 8))
            * np.cos((2 * n + 1) * k * np.pi / 16)
            for n in range(8)
        ]
        for k in range(8)
    ]
)


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG quality scaling of the Annex-K base tables."""
    q = min(100, max(1, quality))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    lum = np.clip((QUANT_LUM * scale + 50) // 100, 1, 255)
    chrom = np.clip((QUANT_CHROM * scale + 50) // 100, 1, 255)
    return lum.astype(np.int32), chrom.astype(np.int32)


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman: symbol -> (code, length)."""
    codes: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill per spec


def _magnitude(v: int) -> tuple[int, int]:
    """(category, appended bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    s = int(abs(v)).bit_length()
    bits = v if v > 0 else v + (1 << s) - 1
    return s, bits


def _rgb_to_ycbcr(img: np.ndarray) -> np.ndarray:
    r, g, b = (img[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = (ycc[..., i] for i in range(3))
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.rint(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


#: Per-format (h, v) sampling factors for the Y component; chroma is
#: always (1, 1).
_SAMPLING = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}


def _downsample(plane: np.ndarray, fx: int, fy: int) -> np.ndarray:
    """Box-mean downsample by (fy, fx) with edge padding."""
    if fx == 1 and fy == 1:
        return plane
    h, w = plane.shape
    padded = np.pad(plane, ((0, -h % fy), (0, -w % fx)), mode="edge")
    hh, ww = padded.shape
    return padded.reshape(hh // fy, fy, ww // fx, fx).mean(axis=(1, 3))


def _pad_to(plane: np.ndarray, rows: int, cols: int) -> np.ndarray:
    h, w = plane.shape
    return np.pad(plane, ((0, rows - h), (0, cols - w)), mode="edge")


def _encode_block(bw: _BitWriter, zz: np.ndarray, pred: int, dc_tab, ac_tab) -> int:
    diff = int(zz[0]) - pred
    s, bits = _magnitude(diff)
    code, ln = dc_tab[s]
    bw.write(code, ln)
    if s:
        bw.write(bits, s)
    run = 0
    nz = np.nonzero(zz[1:])[0]
    last = nz[-1] + 1 if len(nz) else 0
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_tab[0xF0]  # ZRL
            bw.write(code, ln)
            run -= 16
        s, bits = _magnitude(v)
        code, ln = ac_tab[(run << 4) | s]
        bw.write(code, ln)
        bw.write(bits, s)
        run = 0
    if last < 63:
        code, ln = ac_tab[0x00]  # EOB
        bw.write(code, ln)
    return int(zz[0])


def _progressive_encode_scans(
    comp_zz, grid_cols, samp, n_comp, mcus_x, mcus_y, h, w, dc_tabs, ac_tabs
) -> list[tuple[bytes, bytes]]:
    """The libjpeg-style progressive scan script over already-quantized
    coefficients: DC first (Al=1) -> per-component AC first (Al=1) ->
    DC refinement -> per-component AC refinement (Al 1->0). EOB *runs*
    are never emitted (per-block EOB only), so the fixed Annex-K
    Huffman tables stay legal — (r<<4)|0 symbols for r in 1..14 do not
    exist in them; the decoder still handles full EOB runs from other
    producers. Returns [(sos_payload, entropy_bytes)]."""
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    nat = []
    for hi, vi in samp:
        ch, cw = -(-(h * vi) // vmax), -(-(w * hi) // hmax)
        nat.append((-(-ch // 8), -(-cw // 8)))

    def sos(ids_tabs, ss, se, ah, al) -> bytes:
        p = bytearray([len(ids_tabs)])
        for ci, dct, act in ids_tabs:
            p += bytes([ci + 1, (dct << 4) | act])
        p += bytes([ss, se, (ah << 4) | al])
        return bytes(p)

    scans: list[tuple[bytes, bytes]] = []

    def dc_scan(ah, al):
        bw = _BitWriter()
        preds = [0] * n_comp

        def one(ci, bidx):
            v = int(comp_zz[ci][bidx][0]) >> al  # arithmetic shift (G.1.2.1)
            if ah == 0:
                t = 0 if ci == 0 else 1
                diff = v - preds[ci]
                preds[ci] = v
                s, bits = _magnitude(diff)
                code, ln = dc_tabs[t][s]
                bw.write(code, ln)
                if s:
                    bw.write(bits, s)
            else:
                bw.write(v & 1, 1)  # refinement: raw bit, no Huffman

        if n_comp > 1:  # interleaved MCU order over padded grids
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    for ci in range(n_comp):
                        hi, vi = samp[ci]
                        for by in range(vi):
                            for bx in range(hi):
                                one(ci, (my * vi + by) * grid_cols[ci] + mx * hi + bx)
            ids = [(ci, 0 if ci == 0 else 1, 0) for ci in range(n_comp)]
        else:  # single component: non-interleaved natural grid
            rows_u, cols_u = nat[0]
            for by in range(rows_u):
                for bx in range(cols_u):
                    one(0, by * grid_cols[0] + bx)
            ids = [(0, 0, 0)]
        bw.flush()
        scans.append((sos(ids, 0, 0, ah, al), bytes(bw.out)))

    def ac_first_scan(ci, al):
        bw = _BitWriter()
        t = 0 if ci == 0 else 1
        act = ac_tabs[t]
        rows_u, cols_u = nat[ci]
        for by in range(rows_u):
            for bx in range(cols_u):
                blk = comp_zz[ci][by * grid_cols[ci] + bx]
                run = 0
                for k in range(1, 64):
                    v = int(blk[k])
                    v = (v >> al) if v >= 0 else -((-v) >> al)  # trunc toward 0
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, ln = act[0xF0]
                        bw.write(code, ln)
                        run -= 16
                    s, bits = _magnitude(v)
                    code, ln = act[(run << 4) | s]
                    bw.write(code, ln)
                    bw.write(bits, s)
                    run = 0
                if run > 0:
                    code, ln = act[0x00]  # per-block EOB (run of 1)
                    bw.write(code, ln)
        bw.flush()
        scans.append((sos([(ci, 0, t)], 1, 63, 0, al), bytes(bw.out)))

    def ac_refine_scan(ci, ah, al):
        bw = _BitWriter()
        t = 0 if ci == 0 else 1
        act = ac_tabs[t]
        rows_u, cols_u = nat[ci]
        for by in range(rows_u):
            for bx in range(cols_u):
                blk = comp_zz[ci][by * grid_cols[ci] + bx]
                pending: list[int] = []  # correction bits awaiting flush

                def flush():
                    for b in pending:
                        bw.write(b, 1)
                    pending.clear()

                r = 0  # run of zero-HISTORY coefficients
                for k in range(1, 64):
                    v = int(blk[k])
                    av = abs(v) >> al
                    if av == 0:
                        r += 1
                        continue
                    # ZRL check precedes the history test (jcphuff order)
                    while r > 15:
                        code, ln = act[0xF0]
                        bw.write(code, ln)
                        r -= 16
                        flush()
                    if av > 1:  # already significant: one correction bit
                        pending.append(av & 1)
                        continue
                    # newly significant this scan
                    code, ln = act[(r << 4) | 1]
                    bw.write(code, ln)
                    bw.write(1 if v > 0 else 0, 1)  # sign
                    flush()
                    r = 0
                if r > 0 or pending:
                    code, ln = act[0x00]  # EOB, then trailing corrections
                    bw.write(code, ln)
                    flush()
        bw.flush()
        scans.append((sos([(ci, 0, t)], 1, 63, ah, al), bytes(bw.out)))

    dc_scan(0, 1)
    for ci in range(n_comp):
        ac_first_scan(ci, 1)
    dc_scan(1, 0)
    for ci in range(n_comp):
        ac_refine_scan(ci, 1, 0)
    return scans


def encode_jpeg(
    img: np.ndarray,
    quality: int = 90,
    subsampling: str = "444",
    restart_interval: int = 0,
    progressive: bool = False,
    cmyk_transform: int = 0,
) -> bytes:
    """Encode H x W uint8 (grayscale) or H x W x 3 uint8 (RGB) to a
    baseline JFIF byte string. ``subsampling`` is '444', '422', or
    '420' (chroma box-mean downsampling; ignored for grayscale);
    ``restart_interval`` > 0 emits a DRI marker and RSTn markers
    every that many MCUs (what scanners do for error resilience).
    ``progressive`` emits an SOF2 multi-scan file (spectral selection +
    successive approximation, the libjpeg-style script) — same
    quantized coefficients, so progressive and baseline decodes of the
    same image are pixel-identical.

    H x W x 4 input is **CMYK** (the print-workflow scan shape): a
    4-component Adobe file — APP14 marker with transform 0, samples
    stored inverted (255-X, the Adobe-application convention libjpeg
    documents in libjpeg.txt and every PDF viewer compensates for),
    no subsampling, no JFIF marker (JFIF allows only 1/3 components).
    Baseline only. ``cmyk_transform=2`` stores YCCK instead (the
    other Adobe shape: the inverted C/M/Y channels pushed through the
    YCbCr forward transform, K carried through)."""
    if cmyk_transform not in (0, 2):
        raise ValueError("cmyk_transform must be 0 (CMYK) or 2 (YCCK)")
    if progressive and restart_interval:
        raise ValueError("restart intervals unsupported in the progressive encoder")
    if img.dtype != np.uint8 or img.ndim not in (2, 3):
        raise ValueError("image must be 2-D gray or 3-D RGB/CMYK uint8")
    if img.ndim == 3 and img.shape[2] not in (3, 4):
        raise ValueError("3-D images must have 3 (RGB) or 4 (CMYK) channels")
    if img.ndim == 3 and img.shape[2] == 4 and progressive:
        raise ValueError("progressive CMYK unsupported (baseline Adobe only)")
    if subsampling not in _SAMPLING:
        raise ValueError("subsampling must be one of %s" % sorted(_SAMPLING))
    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    n_comp = 1 if img.ndim == 2 else img.shape[2]
    lum_q, chrom_q = _quality_tables(quality)
    yh, yv = (1, 1) if n_comp != 3 else _SAMPLING[subsampling]
    samp = [(yh, yv)] + [(1, 1)] * (n_comp - 1)
    hmax, vmax = yh, yv
    mcus_x, mcus_y = -(-w // (8 * hmax)), -(-h // (8 * vmax))

    if n_comp == 1:
        planes = [img.astype(np.float64)]
    elif n_comp == 4:
        # Adobe inversion: CMYK samples are stored complemented
        inv = 255.0 - img.astype(np.float64)
        if cmyk_transform == 2:  # YCCK: YCbCr forward on inverted CMY
            ycc = _rgb_to_ycbcr(np.clip(inv[..., :3], 0, 255).astype(np.uint8))
            planes = [ycc[..., 0], ycc[..., 1], ycc[..., 2], inv[..., 3]]
        else:
            planes = [inv[..., i] for i in range(4)]
    else:
        ycc = _rgb_to_ycbcr(img)
        planes = [
            _downsample(ycc[..., i], hmax // samp[i][0], vmax // samp[i][1])
            for i in range(3)
        ]

    # vectorized forward DCT + quantization per component, blocks laid
    # out on each component's (mcus_y*v, mcus_x*h) grid
    comp_zz: list[np.ndarray] = []
    grid_cols: list[int] = []
    for ci, plane in enumerate(planes):
        hi, vi = samp[ci]
        rows, cols = mcus_y * vi * 8, mcus_x * hi * 8
        padded = _pad_to(plane, rows, cols)
        blocks = (
            padded.reshape(rows // 8, 8, cols // 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(-1, 8, 8)
        )
        coeffs = np.einsum("ij,bjk,lk->bil", _DCT_T, blocks - 128.0, _DCT_T)
        # CMYK: every channel carries image detail — all use the
        # luminance table (what Adobe-path encoders do)
        q = lum_q if ci == 0 or n_comp == 4 else chrom_q
        quant = np.rint(coeffs / q).astype(np.int32)
        comp_zz.append(quant.reshape(-1, 64)[:, ZIGZAG])
        grid_cols.append(cols // 8)

    dc_tabs = [_build_codes(*DC_LUM), _build_codes(*DC_CHROM)]
    ac_tabs = [_build_codes(*AC_LUM), _build_codes(*AC_CHROM)]

    if progressive:
        scans = _progressive_encode_scans(
            comp_zz, grid_cols, samp, n_comp, mcus_x, mcus_y, h, w, dc_tabs, ac_tabs
        )
    else:
        bw = _BitWriter()
        pred = [0] * n_comp
        mcu_i = 0
        rst_n = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                    bw.flush()
                    bw.out += bytes([0xFF, 0xD0 + rst_n])
                    rst_n = (rst_n + 1) % 8
                    pred = [0] * n_comp
                mcu_i += 1
                for ci in range(n_comp):
                    hi, vi = samp[ci]
                    t = 0 if ci == 0 or n_comp == 4 else 1
                    for by in range(vi):
                        for bx in range(hi):
                            bidx = (my * vi + by) * grid_cols[ci] + mx * hi + bx
                            pred[ci] = _encode_block(
                                bw, comp_zz[ci][bidx], pred[ci], dc_tabs[t], ac_tabs[t]
                            )
        bw.flush()
        sos = bytearray([n_comp])
        for ci in range(n_comp):
            tid = 0 if ci == 0 or n_comp == 4 else 1
            sos += bytes([ci + 1, (tid << 4) | tid])
        sos += bytes([0, 63, 0])
        scans = [(bytes(sos), bytes(bw.out))]

    # ---- marker layout -------------------------------------------------
    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    out = bytearray(b"\xff\xd8")  # SOI
    if n_comp == 4:
        # APP14 "Adobe": version 100, flags 0/0, transform 0 (samples
        # are (inverted) CMYK) or 2 (YCCK)
        out += seg(0xEE, b"Adobe" + bytes([0, 100, 0, 0, 0, 0, cmyk_transform]))
    else:
        out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, b"\x00" + bytes(lum_q.reshape(-1)[ZIGZAG].astype(np.uint8)))
    if n_comp == 3:
        out += seg(0xDB, b"\x01" + bytes(chrom_q.reshape(-1)[ZIGZAG].astype(np.uint8)))
    sof = bytearray([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([n_comp])
    for ci in range(n_comp):
        hi, vi = samp[ci]
        sof += bytes([ci + 1, (hi << 4) | vi, 0 if ci == 0 or n_comp == 4 else 1])
    out += seg(0xC2 if progressive else 0xC0, bytes(sof))
    for cls, tid, (bits, vals) in (
        (0, 0, DC_LUM),
        (1, 0, AC_LUM),
        (0, 1, DC_CHROM),
        (1, 1, AC_CHROM),
    ):
        if n_comp != 3 and tid == 1:
            continue
        out += seg(0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals))
    if restart_interval:
        out += seg(0xDD, restart_interval.to_bytes(2, "big"))
    for sos_payload, ent in scans:
        out += seg(0xDA, sos_payload)
        out += ent
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --------------------------------------------------------------------------
# Decoder
# --------------------------------------------------------------------------


class _HuffTable:
    """Flat 16-bit-prefix lookup decode: one table index replaces the
    spec's per-bit MINCODE/MAXCODE walk (up to 16 read(1) calls per
    symbol — the dominant cost of entropy decoding in Python; the LUT
    form measured ~3x faster on the DCT-scan corpus). Entries pack
    ``(symbol << 5) | code_length``; 0 marks an invalid prefix.
    Construction is cached per (bits, vals) — every file reusing the
    standard Annex-K tables shares one build."""

    def __init__(self, bits: list[int], vals: list[int]):
        lut = [0] * 65536
        code, k = 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                lo = code << (16 - ln)
                hi = (code + 1) << (16 - ln)
                lut[lo:hi] = [(vals[k] << 5) | ln] * (hi - lo)
                code += 1
                k += 1
            code <<= 1
        self.lut = lut


_HUFF_CACHE: dict[tuple, _HuffTable] = {}


def _huff_table(bits: list[int], vals: list[int]) -> _HuffTable:
    key = (tuple(bits), tuple(vals))
    tab = _HUFF_CACHE.get(key)
    if tab is None:
        tab = _HUFF_CACHE[key] = _HuffTable(bits, vals)
    return tab


class _BitReader:
    def __init__(self, data: bytes):
        # un-stuff 0xFF00 -> 0xFF once up front
        self.data = data.replace(b"\xff\x00", b"\xff")
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self, need: int):
        # refill four bytes at a time; zero-pad past the stream end
        # (same tail semantics as the old byte-at-a-time fill)
        while self.nbits < need:
            chunk = self.data[self.pos : self.pos + 4]
            if chunk:
                self.acc = (self.acc << (8 * len(chunk))) | int.from_bytes(chunk, "big")
                self.nbits += 8 * len(chunk)
                self.pos += len(chunk)
            else:
                self.acc <<= need - self.nbits
                self.nbits = need

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._fill(n)
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1
        return v

    def decode(self, tab: _HuffTable) -> int:
        if self.nbits < 16:
            self._fill(16)
        entry = tab.lut[(self.acc >> (self.nbits - 16)) & 0xFFFF]
        if entry == 0:
            raise ValueError("corrupt JPEG entropy stream (bad Huffman code)")
        self.nbits -= entry & 31
        self.acc &= (1 << self.nbits) - 1
        return entry >> 5


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode baseline JFIF bytes to H x W (gray) or H x W x 3 (RGB)
    uint8. Non-baseline features — and structural damage of any kind —
    raise ``ValueError`` naming the problem (never IndexError etc., so
    the PDF source's error-as-row containment holds)."""
    try:
        return _decode_jpeg(data)
    except ValueError:
        raise
    except (IndexError, KeyError, OverflowError) as e:
        raise ValueError("truncated or malformed JPEG (%s)" % type(e).__name__) from e


def _decode_jpeg(data: bytes) -> np.ndarray:
    if len(data) < 4 or data[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], _HuffTable] = {}
    dri = 0
    frame = None  # (h, w, [(comp_id, qtab_id, h_samp, v_samp)])
    progressive = False
    adobe = None  # APP14 transform byte (0 CMYK/RGB, 1 YCbCr, 2 YCCK)
    coeff: list[np.ndarray] | None = None  # progressive coefficient state
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("marker desync at byte %d" % pos)
        # ISO 10918-1 B.1.1.2: any number of 0xFF fill bytes may
        # precede a marker — skip them so other producers' files parse
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= len(data):
            raise ValueError("truncated JPEG (stream ends inside a marker)")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI — progressive files land here after scans
            if progressive and coeff is not None:
                return _reconstruct(coeff, frame, qtabs, adobe)
            continue
        if marker == 0xD8:
            continue
        if marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError(
                "unsupported JPEG frame type SOF%d (baseline + progressive only)"
                % (marker - 0xC0)
            )
        ln = int.from_bytes(data[pos : pos + 2], "big")
        payload = data[pos + 2 : pos + ln]
        if marker == 0xEE and payload[:5] == b"Adobe" and len(payload) >= 12:
            adobe = payload[11]  # color-transform code
        if marker == 0xDB:  # DQT (possibly multiple tables per marker)
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quantization tables unsupported")
                tab = np.zeros(64, dtype=np.int32)
                tab[ZIGZAG] = np.frombuffer(payload[p + 1 : p + 65], dtype=np.uint8)
                qtabs[tq] = tab.reshape(8, 8)
                p += 65
        elif marker == 0xC4:  # DHT (possibly multiple)
            p = 0
            while p < len(payload):
                cls, tid = payload[p] >> 4, payload[p] & 0xF
                bits = list(payload[p + 1 : p + 17])
                n = sum(bits)
                vals = list(payload[p + 17 : p + 17 + n])
                htabs[(cls, tid)] = _huff_table(bits, vals)
                p += 17 + n
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            prec = payload[0]
            if prec != 8:
                raise ValueError("%d-bit samples unsupported (8-bit only)" % prec)
            h = int.from_bytes(payload[1:3], "big")
            w = int.from_bytes(payload[3:5], "big")
            n_comp = payload[5]
            if n_comp not in (1, 3, 4):
                raise ValueError("%d-component JPEG unsupported" % n_comp)
            comps = []
            for ci in range(n_comp):
                cid, hv, tq = payload[6 + 3 * ci : 9 + 3 * ci]
                hi, vi = hv >> 4, hv & 0xF
                if hi not in (1, 2) or vi not in (1, 2):
                    raise ValueError(
                        "sampling factor %dx%d unsupported (1 or 2 only)" % (hi, vi)
                    )
                comps.append((cid, tq, hi, vi))
            frame = (h, w, comps)
        elif marker == 0xDD:  # DRI — restart interval
            dri = int.from_bytes(payload[0:2], "big")
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            n_scan = payload[0]
            scan_ids = []
            scan_tabs = []
            for ci in range(n_scan):
                cid, tsel = payload[1 + 2 * ci : 3 + 2 * ci]
                scan_ids.append(cid)
                scan_tabs.append((tsel >> 4, tsel & 0xF))
            ent_start = pos + ln
            if not progressive:
                # entropy data cannot contain a bare FF D9 (0xFF is
                # always stuffed; restarts are FFD0-D7), so the first
                # EOI AFTER the scan start is the true end — a global
                # rfind could land on FF D9 bytes inside a table
                # segment of a truncated file and silently decode an
                # empty stream as all-gray garbage
                ent_end = data.find(b"\xff\xd9", ent_start)
                if ent_end == -1:
                    raise ValueError("truncated JPEG (missing EOI)")
                return _decode_scan(
                    data[ent_start:ent_end], frame, qtabs, htabs, scan_tabs, dri, adobe
                )
            # progressive: this is one of several scans over persistent
            # coefficient state; spectral band + successive-approximation
            # parameters follow the component selectors
            ss, se = payload[1 + 2 * n_scan], payload[2 + 2 * n_scan]
            a = payload[3 + 2 * n_scan]
            ah, al = a >> 4, a & 0xF
            geom = _geometry(frame)
            if coeff is None:
                # list-backed for the same reason as _decode_scan's zz
                coeff = [
                    [[0] * 64 for _ in range(r * c)] for r, c in geom[4]
                ]
            # map scan component ids -> frame component indices
            frame_ids = [c[0] for c in frame[2]]
            try:
                scan_idx = [frame_ids.index(cid) for cid in scan_ids]
            except ValueError:
                raise ValueError("scan references unknown component id") from None
            ent_end = _entropy_end(data, ent_start)
            _progressive_scan(
                data[ent_start:ent_end], frame, geom, htabs, scan_idx,
                scan_tabs, ss, se, ah, al, coeff, dri,
            )
            pos = ent_end
            continue
        pos += ln
    if progressive and coeff is not None:
        # tolerate a missing EOI if all scans parsed (some producers
        # truncate the trailer)
        return _reconstruct(coeff, frame, qtabs, adobe)
    raise ValueError("no SOS marker (truncated JPEG)")


def _entropy_end(data: bytes, start: int) -> int:
    """Index of the first real marker after ``start``: skips stuffed
    0x00 bytes, restart markers, and 0xFF fill bytes — the scan
    delimiter progressive files need (the next marker is DHT/SOS/EOI,
    not necessarily EOI)."""
    i = start
    while True:
        i = data.find(b"\xff", i)
        if i == -1 or i + 1 >= len(data):
            raise ValueError("truncated JPEG (unterminated entropy data)")
        nxt = data[i + 1]
        if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
            i += 2
            continue
        if nxt == 0xFF:
            i += 1
            continue
        return i


def _decode_scan(ent, frame, qtabs, htabs, scan_tabs, dri=0, adobe=None) -> np.ndarray:
    h, w, comps = frame
    n_comp = len(comps)
    hmax = max(c[2] for c in comps)
    vmax = max(c[3] for c in comps)
    mcus_x, mcus_y = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    grid = [(mcus_y * c[3], mcus_x * c[2]) for c in comps]  # (rows, cols) of blocks
    # restart markers (0xFFD0-D7) are unambiguous in entropy data
    # (literal 0xFF is always stuffed as 0xFF00): split into restart
    # segments; each resets the DC predictors and byte-aligns.
    segments = re.split(b"\xff[\xd0-\xd7]", ent) if dri else [ent]
    seg_iter = iter(segments)
    # plain-list coefficient blocks: per-element writes in the entropy
    # loop are 3-5x faster than numpy scalar indexing; _reconstruct
    # converts to an array once at the end
    zz = [[[0] * 64 for _ in range(r * c)] for r, c in grid]
    pred = [0] * n_comp
    for ci in range(n_comp):
        if htabs.get((0, scan_tabs[ci][0])) is None or htabs.get(
            (1, scan_tabs[ci][1])
        ) is None:
            raise ValueError("scan references undefined Huffman table")
    luts = [
        (htabs[(0, scan_tabs[ci][0])].lut, htabs[(1, scan_tabs[ci][1])].lut)
        for ci in range(n_comp)
    ]
    # the (ci, block-index-expression) sequence of one MCU, precomputed
    mcu_members = [
        (ci, comps[ci][3], comps[ci][2], grid[ci][1])
        for ci in range(n_comp)
    ]

    # The entropy loop below inlines the _BitReader operations on plain
    # locals (acc/nbits/pos) — the method-call form spends ~half its
    # time on call overhead (measured: ~900k calls/page). Semantics are
    # identical: 4-byte refills, zero-pad past stream end, 16-bit-LUT
    # Huffman decode. _BitReader remains the readable reference (and
    # the progressive path's reader).
    data = next(seg_iter).replace(b"\xff\x00", b"\xff")
    acc = nbits = pos = 0
    mcu_i = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if dri and mcu_i and mcu_i % dri == 0:
                try:
                    data = next(seg_iter).replace(b"\xff\x00", b"\xff")
                except StopIteration:
                    raise ValueError("missing restart marker in entropy stream") from None
                acc = nbits = pos = 0
                pred[:] = [0] * n_comp
            mcu_i += 1
            for ci, vi, hi, cols in mcu_members:
                dc_lut, ac_lut = luts[ci]
                blocks = zz[ci]
                for by in range(vi):
                    for bx in range(hi):
                        row = blocks[(my * vi + by) * cols + mx * hi + bx]
                        # --- DC ---
                        if nbits < 16:
                            while nbits < 16:
                                chunk = data[pos : pos + 4]
                                if chunk:
                                    acc = (acc << (8 * len(chunk))) | int.from_bytes(chunk, "big")
                                    nbits += 8 * len(chunk)
                                    pos += len(chunk)
                                else:
                                    acc <<= 16 - nbits
                                    nbits = 16
                        entry = dc_lut[(acc >> (nbits - 16)) & 0xFFFF]
                        if entry == 0:
                            raise ValueError("corrupt JPEG entropy stream (bad Huffman code)")
                        nbits -= entry & 31
                        acc &= (1 << nbits) - 1
                        s = entry >> 5
                        if s:
                            if nbits < s:
                                while nbits < s:
                                    chunk = data[pos : pos + 4]
                                    if chunk:
                                        acc = (acc << (8 * len(chunk))) | int.from_bytes(chunk, "big")
                                        nbits += 8 * len(chunk)
                                        pos += len(chunk)
                                    else:
                                        acc <<= s - nbits
                                        nbits = s
                            v = (acc >> (nbits - s)) & ((1 << s) - 1)
                            nbits -= s
                            acc &= (1 << nbits) - 1
                            pred[ci] += v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                        row[0] = pred[ci]
                        # --- AC ---
                        k = 1
                        while k <= 63:
                            if nbits < 16:
                                while nbits < 16:
                                    chunk = data[pos : pos + 4]
                                    if chunk:
                                        acc = (acc << (8 * len(chunk))) | int.from_bytes(chunk, "big")
                                        nbits += 8 * len(chunk)
                                        pos += len(chunk)
                                    else:
                                        acc <<= 16 - nbits
                                        nbits = 16
                            entry = ac_lut[(acc >> (nbits - 16)) & 0xFFFF]
                            if entry == 0:
                                raise ValueError("corrupt JPEG entropy stream (bad Huffman code)")
                            nbits -= entry & 31
                            acc &= (1 << nbits) - 1
                            rs = entry >> 5
                            s = rs & 0xF
                            if s == 0:
                                if rs >> 4 == 15:
                                    k += 16  # ZRL
                                    continue
                                break  # EOB
                            k += rs >> 4
                            if k > 63:
                                raise ValueError("AC coefficient index overflow")
                            if nbits < s:
                                while nbits < s:
                                    chunk = data[pos : pos + 4]
                                    if chunk:
                                        acc = (acc << (8 * len(chunk))) | int.from_bytes(chunk, "big")
                                        nbits += 8 * len(chunk)
                                        pos += len(chunk)
                                    else:
                                        acc <<= s - nbits
                                        nbits = s
                            v = (acc >> (nbits - s)) & ((1 << s) - 1)
                            nbits -= s
                            acc &= (1 << nbits) - 1
                            row[k] = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                            k += 1

    return _reconstruct(zz, frame, qtabs, adobe)


def _geometry(frame):
    """(hmax, vmax, mcus_x, mcus_y, padded block grid per comp,
    natural (non-interleaved, unpadded) block grid per comp)."""
    h, w, comps = frame
    hmax = max(c[2] for c in comps)
    vmax = max(c[3] for c in comps)
    mcus_x, mcus_y = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    grid = [(mcus_y * c[3], mcus_x * c[2]) for c in comps]
    nat = []
    for _cid, _tq, hi, vi in comps:
        ch, cw = -(-(h * vi) // vmax), -(-(w * hi) // hmax)  # A.1.1 dims
        nat.append((-(-ch // 8), -(-cw // 8)))
    return hmax, vmax, mcus_x, mcus_y, grid, nat


def _reconstruct(zz, frame, qtabs, adobe=None) -> np.ndarray:
    """Dequantize + IDCT the per-component zigzag coefficient arrays
    (padded-grid layout) into the final image — shared by the baseline
    single-scan path and the progressive multi-scan path. 4-component
    frames return H x W x 4 **true CMYK**: an APP14 transform of 2
    (YCCK) first converts the leading three channels through the
    YCbCr inverse, and the presence of any Adobe marker undoes the
    Adobe sample inversion (255-X); a markerless 4-component file is
    taken as direct CMYK."""
    h, w, comps = frame
    n_comp = len(comps)
    hmax, vmax, _mx, _my, grid, _nat = _geometry(frame)
    planes = []
    for ci in range(n_comp):
        q = qtabs.get(comps[ci][1])
        if q is None:
            raise ValueError("frame references undefined quantization table")
        rows, cols = grid[ci]
        blocks = np.zeros((rows * cols, 64), dtype=np.float64)
        blocks[:, ZIGZAG] = zz[ci]
        blocks = blocks.reshape(-1, 8, 8) * q
        pix = np.einsum("ji,bjk,kl->bil", _DCT_T, blocks, _DCT_T) + 128.0
        plane = (
            pix.reshape(rows, cols, 8, 8).transpose(0, 2, 1, 3).reshape(rows * 8, cols * 8)
        )
        fy, fx = vmax // comps[ci][3], hmax // comps[ci][2]
        if fy > 1 or fx > 1:
            plane = np.repeat(np.repeat(plane, fy, axis=0), fx, axis=1)
        planes.append(plane[:h, :w])
    if n_comp == 1:
        return np.clip(np.rint(planes[0]), 0, 255).astype(np.uint8)
    if n_comp == 4:
        if adobe == 2:  # YCCK: YCbCr inverse on the first three planes
            rgbish = _ycbcr_to_rgb(np.stack(planes[:3], axis=-1)).astype(np.float64)
            planes = [rgbish[..., 0], rgbish[..., 1], rgbish[..., 2], planes[3]]
        stored = np.clip(np.rint(np.stack(planes, axis=-1)), 0, 255).astype(np.uint8)
        return 255 - stored if adobe is not None else stored
    return _ycbcr_to_rgb(np.stack(planes, axis=-1))


def _progressive_scan(
    ent, frame, geom, htabs, scan_idx, scan_tabs, ss, se, ah, al, coeff, dri
) -> None:
    """Decode one progressive scan into the persistent coefficient
    state (ISO 10918-1 G.2): DC first/refinement (interleaved or not),
    AC first with EOB runs, AC successive-approximation refinement
    with correction bits. Restart markers reset DC predictors and the
    EOB run and byte-align, as in sequential mode."""
    _h, _w, comps = frame
    _hmax, _vmax, mcus_x, mcus_y, grid, nat = geom
    segments = re.split(b"\xff[\xd0-\xd7]", ent) if dri else [ent]
    seg_iter = iter(segments)
    br = _BitReader(next(seg_iter))
    state = {"eobrun": 0, "pred": dict.fromkeys(scan_idx, 0), "mcu": 0, "br": br}

    def restart_check():
        if dri and state["mcu"] and state["mcu"] % dri == 0:
            try:
                state["br"] = _BitReader(next(seg_iter))
            except StopIteration:
                raise ValueError("missing restart marker in entropy stream") from None
            state["pred"] = dict.fromkeys(scan_idx, 0)
            state["eobrun"] = 0
        state["mcu"] += 1

    def dc_block(ci, bidx):
        br = state["br"]
        blk = coeff[ci][bidx]
        if ah == 0:
            tab = htabs.get((0, scan_tabs[scan_idx.index(ci)][0]))
            if tab is None:
                raise ValueError("scan references undefined Huffman table")
            s = br.decode(tab)
            diff = _extend(br.read(s), s) if s else 0
            state["pred"][ci] += diff
            blk[0] = state["pred"][ci] << al
        else:
            if br.read(1):
                blk[0] |= 1 << al

    if ss == 0:  # DC scan
        if se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        if len(scan_idx) > 1:  # interleaved: MCU order over padded grids
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    restart_check()
                    for ci in scan_idx:
                        _cid, _tq, hi, vi = comps[ci]
                        cols = grid[ci][1]
                        for by in range(vi):
                            for bx in range(hi):
                                dc_block(ci, (my * vi + by) * cols + mx * hi + bx)
        else:  # non-interleaved: natural (unpadded) grid, 1 block/MCU
            ci = scan_idx[0]
            rows_u, cols_u = nat[ci]
            cols_p = grid[ci][1]
            for by in range(rows_u):
                for bx in range(cols_u):
                    restart_check()
                    dc_block(ci, by * cols_p + bx)
        return

    # AC scans are always non-interleaved (G.1.1.1.1)
    if len(scan_idx) != 1:
        raise ValueError("progressive AC scan must cover exactly one component")
    ci = scan_idx[0]
    ac_tab = htabs.get((1, scan_tabs[0][1]))
    if ac_tab is None:
        raise ValueError("scan references undefined Huffman table")
    rows_u, cols_u = nat[ci]
    cols_p = grid[ci][1]

    def ac_first(blk):
        if state["eobrun"]:
            state["eobrun"] -= 1
            return
        # bit reader inlined on locals for the symbol loop (same
        # rationale + semantics as the baseline scan loop); state is
        # pulled from / pushed back to the shared reader per block
        br = state["br"]
        acc, nbits, pos, data = br.acc, br.nbits, br.pos, br.data
        lut = ac_tab.lut
        k = ss
        while k <= se:
            if nbits < 16:
                while nbits < 16:
                    chunk = data[pos : pos + 4]
                    if chunk:
                        acc = (acc << (8 * len(chunk))) | int.from_bytes(chunk, "big")
                        nbits += 8 * len(chunk)
                        pos += len(chunk)
                    else:
                        acc <<= 16 - nbits
                        nbits = 16
            entry = lut[(acc >> (nbits - 16)) & 0xFFFF]
            if entry == 0:
                raise ValueError("corrupt JPEG entropy stream (bad Huffman code)")
            nbits -= entry & 31
            acc &= (1 << nbits) - 1
            rs = entry >> 5
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r == 15:
                    k += 16  # ZRL
                    continue
                eobrun = (1 << r) - 1
                if r:
                    if nbits < r:
                        while nbits < r:
                            chunk = data[pos : pos + 4]
                            if chunk:
                                acc = (acc << (8 * len(chunk))) | int.from_bytes(chunk, "big")
                                nbits += 8 * len(chunk)
                                pos += len(chunk)
                            else:
                                acc <<= r - nbits
                                nbits = r
                    eobrun += (acc >> (nbits - r)) & ((1 << r) - 1)
                    nbits -= r
                    acc &= (1 << nbits) - 1
                state["eobrun"] = eobrun
                break
            k += r
            if k > se:
                raise ValueError("AC coefficient index overflow")
            if nbits < s:
                while nbits < s:
                    chunk = data[pos : pos + 4]
                    if chunk:
                        acc = (acc << (8 * len(chunk))) | int.from_bytes(chunk, "big")
                        nbits += 8 * len(chunk)
                        pos += len(chunk)
                    else:
                        acc <<= s - nbits
                        nbits = s
            v = (acc >> (nbits - s)) & ((1 << s) - 1)
            nbits -= s
            acc &= (1 << nbits) - 1
            blk[k] = (v if v >= (1 << (s - 1)) else v - (1 << s) + 1) << al
            k += 1
        br.acc, br.nbits, br.pos = acc, nbits, pos

    p1, m1 = 1 << al, -(1 << al)

    def ac_refine(blk):
        # ISO 10918-1 G.2 / the jdphuff correction-bit walk, bit reader
        # inlined on locals (single-bit reads dominate this scan type)
        br = state["br"]
        acc, nbits, pos, data = br.acc, br.nbits, br.pos, br.data
        lut = ac_tab.lut

        def fill(need):
            nonlocal acc, nbits, pos
            while nbits < need:
                chunk = data[pos : pos + 4]
                if chunk:
                    acc = (acc << (8 * len(chunk))) | int.from_bytes(chunk, "big")
                    nbits += 8 * len(chunk)
                    pos += len(chunk)
                else:
                    acc <<= need - nbits
                    nbits = need

        k = ss
        if state["eobrun"] == 0:
            while k <= se:
                if nbits < 16:
                    fill(16)
                entry = lut[(acc >> (nbits - 16)) & 0xFFFF]
                if entry == 0:
                    raise ValueError("corrupt JPEG entropy stream (bad Huffman code)")
                nbits -= entry & 31
                acc &= (1 << nbits) - 1
                rs = entry >> 5
                r, s = rs >> 4, rs & 0xF
                if s == 0:
                    if r != 15:
                        eobrun = 1 << r
                        if r:
                            if nbits < r:
                                fill(r)
                            eobrun += (acc >> (nbits - r)) & ((1 << r) - 1)
                            nbits -= r
                            acc &= (1 << nbits) - 1
                        state["eobrun"] = eobrun
                        break
                    val = 0  # ZRL: skip 16 zero-history coefficients
                else:
                    if s != 1:
                        raise ValueError("invalid refinement magnitude category")
                    if nbits < 1:
                        fill(1)
                    bit = (acc >> (nbits - 1)) & 1
                    nbits -= 1
                    acc &= (1 << nbits) - 1
                    val = p1 if bit else m1
                while k <= se:
                    c = blk[k]
                    if c != 0:
                        if nbits < 1:
                            fill(1)
                        bit = (acc >> (nbits - 1)) & 1
                        nbits -= 1
                        acc &= (1 << nbits) - 1
                        if bit and (c & p1) == 0:
                            blk[k] = c + (p1 if c >= 0 else m1)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val and k <= se:
                    blk[k] = val
                k += 1
        if state["eobrun"] > 0:
            while k <= se:
                c = blk[k]
                if c != 0:
                    if nbits < 1:
                        fill(1)
                    bit = (acc >> (nbits - 1)) & 1
                    nbits -= 1
                    acc &= (1 << nbits) - 1
                    if bit and (c & p1) == 0:
                        blk[k] = c + (p1 if c >= 0 else m1)
                k += 1
            state["eobrun"] -= 1
        br.acc, br.nbits, br.pos = acc, nbits, pos

    body = ac_first if ah == 0 else ac_refine
    for by in range(rows_u):
        for bx in range(cols_u):
            restart_check()
            body(coeff[ci][by * cols_p + bx])
