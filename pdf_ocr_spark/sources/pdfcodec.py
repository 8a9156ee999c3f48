"""Minimal from-scratch PDF writer + parser for the scanned-page shape.

The reference ingests real scanned PDFs and rasterizes them with
Poppler (/root/reference/app.py:447-482); its own test suite *synthesizes*
a one-page fixture PDF and round-trips it (/root/reference/ocr_test.py:186-265).
Poppler does not exist in this container, so this module plays both
roles for the engine's real-PDF path:

* :func:`encode_pdf` writes a valid PDF 1.4 file where each page is one
  full-page **8-bit DeviceGray or DeviceRGB Image XObject**, raw or
  Flate-compressed (``compress=True`` adds ``/Filter /FlateDecode`` —
  the filter essentially every real-world producer applies) — the
  canonical "scanned document" structure (one raster per page, no text
  layer), byte-stable for a given page list.
* :func:`decode_pdf` parses that structure back into page images
  **in page order** by walking trailer -> /Root -> /Pages -> /Kids,
  i.e. a genuine (subset) PDF parser, not a reverse of the writer's
  byte layout. ``/FlateDecode`` streams are inflated with stdlib zlib;
  ``/DCTDecode`` rasters (JPEG scans — the common color-scan shape)
  decode through the from-scratch baseline codec in
  :mod:`pdf_ocr_spark.sources.jpegcodec`; anything outside the subset
  (other filters, filter chains, non-gray/RGB color spaces,
  non-baseline JPEG) raises ``ValueError`` **naming the offending
  feature** so callers can surface it as a typed error row, never a
  crash.

Both functions are pure bytes<->numpy; the Spark-facing source lives in
:mod:`pdf_ocr_spark.sources.pdfsource`.
"""

from __future__ import annotations

import re
import zlib

import numpy as np

_HEADER = b"%PDF-1.4\n"


def _obj(num: int, body: bytes) -> bytes:
    return b"%d 0 obj\n%s\nendobj\n" % (num, body)


def _pack_samples(img: np.ndarray, bpc: int, invert: bool = False) -> bytes:
    """Serialize a uint8 raster at /BitsPerComponent ``bpc``.

    16-bit widens each sample to ``v*257`` big-endian (ISO 32000-1
    §8.9.5.1 stores 16-bit samples high byte first), so the 16→8
    downconversion ``v >> 8`` on read is the exact inverse. Sub-byte
    depths (1/2/4) pack samples MSB-first with each row padded to a
    byte boundary (§8.9.5.1: every row starts on a byte), and demand
    inputs already quantized to multiples of ``255/(2^bpc-1)`` —
    fixture renders are bitonal 0/255, which is exact at every depth.
    ``invert=True`` stores ``max-v`` (paired with a ``/Decode [1 0]``
    declaration by the caller, §8.9.5.2)."""
    h = img.shape[0]
    flat = img.reshape(h, -1)
    if invert:
        flat = 255 - flat
    if bpc == 8:
        return np.ascontiguousarray(flat).tobytes()
    if bpc == 16:
        return (flat.astype(np.uint16) * 257).astype(">u2").tobytes()
    step = 255 // ((1 << bpc) - 1)  # 255 / 85 / 17 — exact for 1/2/4
    if np.any(flat % step):
        raise ValueError(
            "samples must be multiples of %d for lossless %d-bit packing"
            % (step, bpc)
        )
    vals = (flat // step).astype(np.uint8)
    bits = (
        (vals[:, :, None] >> np.arange(bpc - 1, -1, -1, dtype=np.uint8)) & 1
    ).reshape(h, -1)
    rb = (flat.shape[1] * bpc + 7) // 8
    padded = np.zeros((h, rb * 8), dtype=np.uint8)
    padded[:, : bits.shape[1]] = bits
    return np.packbits(padded, axis=1).tobytes()


def _pack_indices(idx: np.ndarray, bpc: int) -> bytes:
    """Serialize palette indices (``h x w`` uint8, values < 2^bpc) at
    /BitsPerComponent 1/2/4/8 — like :func:`_pack_samples` but WITHOUT
    the 0..255 rescale: /Indexed samples are raw lookup indices
    (ISO 32000-1 §8.6.6.3). Rows pad to byte boundaries."""
    h = idx.shape[0]
    if bpc == 8:
        return np.ascontiguousarray(idx).tobytes()
    bits = (
        (idx[:, :, None] >> np.arange(bpc - 1, -1, -1, dtype=np.uint8)) & 1
    ).reshape(h, -1)
    rb = (idx.shape[1] * bpc + 7) // 8
    padded = np.zeros((h, rb * 8), dtype=np.uint8)
    padded[:, : bits.shape[1]] = bits
    return np.packbits(padded, axis=1).tobytes()


def _unpack_indices(raw: bytes, w: int, h: int, bpc: int) -> np.ndarray:
    """Inverse of :func:`_pack_indices`: decode an /Indexed sample
    stream into an ``h x w`` uint8 index array (no rescale)."""
    rb = (w * bpc + 7) // 8
    if len(raw) != h * rb:
        raise ValueError(
            "indexed stream is %d bytes, expected %dx%d rows of %d bytes "
            "(%d-bit)" % (len(raw), h, rb, rb, bpc)
        )
    if bpc == 8:
        return np.frombuffer(raw, dtype=np.uint8).reshape(h, w)
    if bpc not in (1, 2, 4):
        raise ValueError("unsupported /Indexed /BitsPerComponent %d" % bpc)
    bits = np.unpackbits(np.frombuffer(raw, dtype=np.uint8).reshape(h, rb), axis=1)
    groups = bits[:, : w * bpc].reshape(h, w, bpc).astype(np.uint16)
    weights = 1 << np.arange(bpc - 1, -1, -1, dtype=np.uint16)
    return (groups * weights).sum(axis=2).astype(np.uint8)


def _icc_profile(n_comp: int) -> bytes:
    """A minimal syntactically-plausible ICC profile (128-byte header,
    zero tag entries) for the ``[/ICCBased N 0 R]`` writer path — the
    reader side is un-color-managed (like this codec's CMYK handling),
    so only the stream dict's /N is semantically load-bearing
    (ISO 32000-1 §8.6.5.5: a reader may use the alternate/device
    space); the payload just has to be a well-formed stream."""
    hdr = bytearray(128)
    hdr[0:4] = (132).to_bytes(4, "big")  # profile size incl. tag count
    hdr[12:16] = b"mntr"
    hdr[16:20] = b"GRAY" if n_comp == 1 else (b"RGB " if n_comp == 3 else b"CMYK")
    hdr[20:24] = b"XYZ "
    hdr[36:40] = b"acsp"
    return bytes(hdr) + (0).to_bytes(4, "big")


def _unpack_samples(
    raw: bytes, w: int, h: int, channels: int, bpc: int
) -> np.ndarray:
    """Inverse of :func:`_pack_samples`: decode a raster stream at any
    subset /BitsPerComponent into an ``h x (w*channels)`` uint8 array.
    16-bit samples are read big-endian and downconverted ``v >> 8``
    (the scanner-export path — precision beyond 8 bits is noise to a
    binarizing OCR pipeline); sub-byte rows are unpacked MSB-first
    honouring the per-row byte padding and rescaled to 0..255."""
    rb = (w * channels * bpc + 7) // 8
    if len(raw) != h * rb:
        raise ValueError(
            "decoded stream is %d bytes, expected %dx%d rows of %d bytes "
            "(%d-bit %d-channel)" % (len(raw), h, rb, rb, bpc, channels)
        )
    if bpc == 8:
        return np.frombuffer(raw, dtype=np.uint8).reshape(h, w * channels)
    if bpc == 16:
        wide = np.frombuffer(raw, dtype=">u2").reshape(h, w * channels)
        return (wide >> 8).astype(np.uint8)
    if bpc not in (1, 2, 4):
        raise ValueError("unsupported /BitsPerComponent %d" % bpc)
    bits = np.unpackbits(np.frombuffer(raw, dtype=np.uint8).reshape(h, rb), axis=1)
    spp = w * channels
    groups = bits[:, : spp * bpc].reshape(h, spp, bpc).astype(np.uint16)
    weights = (1 << np.arange(bpc - 1, -1, -1, dtype=np.uint16))
    vals = (groups * weights).sum(axis=2)
    return (vals * (255 // ((1 << bpc) - 1))).astype(np.uint8)


def _apply_decode_array(d: bytes, img: np.ndarray, channels: int) -> np.ndarray:
    """Honour the XObject's /Decode array (ISO 32000-1 §8.9.5.2) on an
    already-unpacked uint8 raster. The subset accepts the two shapes
    real producers emit per component: the default ``[0 1]`` identity
    and the inverted ``[1 0]`` (negative fax/PostScript exports);
    fractional ranges raise a typed error naming the array."""
    m = re.search(rb"/Decode\s*\[([^\]]*)\]", d)
    if m is None:
        return img
    parts = re.split(rb"\s+", m.group(1).strip())
    try:
        nums = [float(p) for p in parts if p]
    except ValueError:
        raise ValueError("malformed /Decode array %r" % m.group(1)) from None
    if len(nums) != 2 * channels:
        raise ValueError(
            "/Decode has %d entries, expected %d" % (len(nums), 2 * channels)
        )
    out = img.reshape(img.shape[0], -1, channels)
    inverted = out
    copied = False
    for c in range(channels):
        lo, hi = nums[2 * c], nums[2 * c + 1]
        if (lo, hi) == (0.0, 1.0):
            continue
        if (lo, hi) == (1.0, 0.0):
            if not copied:
                inverted = out.copy()
                copied = True
            inverted[:, :, c] = 255 - inverted[:, :, c]
        else:
            raise ValueError(
                "unsupported /Decode range [%g %g] (subset: identity, inverted)"
                % (lo, hi)
            )
    return inverted.reshape(img.shape)


def encode_pdf(
    pages: list[np.ndarray],
    compress: bool = False,
    object_streams: bool = False,
    dct: bool = False,
    dct_quality: int = 90,
    dct_progressive: bool = False,
    dct_cmyk: bool = False,
    dct_cmyk_transform: int = 0,
    encrypt: bool = False,
    cipher: str = "rc4",
    predictor: int = 1,
    lzw: bool = False,
    rle: bool = False,
    ccitt: bool = False,
    ccitt_k: int = -1,
    jbig2: bool = False,
    jbig2_mode: str = "tpgd",
    jpx: bool = False,
    jpx_lossy: bool = False,
    inline: str | None = None,
    indexed: bool = False,
    icc: bool = False,
    rotate: int = 0,
    rotate_inherit: bool = False,
    info: dict[str, str] | None = None,
    xmp_title: str | None = None,
    page_links: list[list[str]] | None = None,
    attachments: list[tuple[str, bytes]] | None = None,
    form_fields: list[tuple[str, str]] | None = None,
    outlines: list[tuple[int, str, int]] | None = None,
    outline_shape: str = "direct",
    ascii85: bool = False,
    sample_bpc: int = 8,
    decode_invert: bool = False,
    user_password: bytes | str = b"",
    owner_password: bytes | str = b"",
) -> bytes:
    """Serialize page images into a PDF — H x W uint8 (DeviceGray) or
    H x W x 3 uint8 (DeviceRGB) arrays; ``compress=True`` Flate-encodes
    each raster stream (``/Filter /FlateDecode``), the layout real-world
    producers emit. ``object_streams=True`` additionally packs every
    non-stream object (catalog, pages tree, page dicts) into one
    Flate-compressed **/ObjStm** and replaces the classic xref table +
    ``trailer`` with a binary **cross-reference stream** (/Type /XRef)
    — the PDF 1.5+ layout essentially all modern producers emit.

    Object layout: 1 = catalog, 2 = pages tree, then per page i:
    (3+3i) = page, (4+3i) = content stream, (5+3i) = image XObject.
    A correct xref (table or stream) is emitted, so the output is a
    real PDF any conforming reader can open, not just
    :func:`decode_pdf`. Byte-stable for a given (pages, compress,
    object_streams): zlib.compress at a fixed level is deterministic.

    ``predictor`` (with ``compress=True`` or ``lzw=True``) applies a
    /DecodeParms predictor to the raster before compression — 2 =
    TIFF, 10-15 = PNG family; 12 (Up) is what most real producers
    emit. ``lzw=True`` writes /LZWDecode instead of /FlateDecode (the
    legacy-producer shape); ``rle=True`` writes /RunLengthDecode (the
    PostScript-converter / fax-export shape), taking precedence over
    both.

    ``sample_bpc`` stores the raw/Flate/LZW raster at a non-8
    /BitsPerComponent — 16 widens each uint8 sample to the big-endian
    16-bit value ``v*257`` (the high-bit-depth scanner export shape,
    ISO 32000-1 §8.9.5.1: 16-bit samples are stored high byte first);
    1/2/4 pack sub-byte samples MSB-first with rows padded to byte
    boundaries (the low-color legacy shape) and require every input
    value to be an exact multiple of ``255/(2^bpc-1)`` so the round
    trip is lossless. ``decode_invert=True`` stores the raster
    inverted and declares ``/Decode [1 0 ...]`` — the
    negative-samples mapping some fax exporters and PostScript
    converters emit (§8.9.5.2).

    ``inline`` ('flate' | 'raw' | 'rle') stores each page's raster as
    a §8.9.7 INLINE image — ``BI /W .. /H .. /CS /G|/RGB /BPC 8 [/F
    /Fl|/RL] ID <data> EI`` inside the content stream, with NO image
    XObject (the raster object number becomes a free xref entry) —
    the fax-converter / print-driver shape. 'flate' and 'rle' filter
    the inline data inside a plain content stream; 'raw' embeds
    unfiltered samples and Flate-codes the whole content stream.
    Mutually exclusive with every other raster mode; encryption
    applies (to the content stream).

    ``indexed=True`` stores each raster through an §8.6.6.3 /Indexed
    palette — samples become lookup indices at the minimal
    /BitsPerComponent (1/2/4/8) over a ``[/Indexed /DeviceGray|RGB
    hival <lookup>]`` hex-string palette of the page's distinct colors
    (≤256 required) — the "optimized"/quantized shape PDF shrinkers
    and screenshot producers emit. ``icc=True`` wraps the device
    space as ``[/ICCBased N 0 R]`` over a minimal ICC profile stream
    (§8.6.5.5 — the born-digital producer default; the profile is
    advisory to an un-color-managed reader). Both compose with
    ``compress`` and encryption; neither combines with the raster
    codec modes.

    ``info`` writes a §14.3.3 document information dictionary (ASCII
    values — /Title /Author /Producer /CreationDate etc.) referenced
    from the trailer (classic) or xref stream dict (1.5). Under RC4
    encryption the strings are per-object RC4-encrypted as the V2
    handler mandates; the AES handlers declare ``/StrF /Identity``
    (spec-legal, §7.6.5) so strings stay plaintext. ``xmp_title``
    additionally emits a §14.3.2 XMP metadata stream (dc:title)
    referenced from the catalog; like any stream it is encrypted
    when the file is (/EncryptMetadata default true).

    ``page_links`` (one item list per page) writes §12.5.6.5 link
    annotations — ``/Annots`` arrays of direct /Link dicts. Each item
    is a plain ``str`` (a §12.6.4.7 /URI action — the outbound-link
    shape a crawl pipeline harvests), or a typed tuple for the
    intra-document / cross-document shapes real producers emit:
    ``("goto", page_idx)`` a §12.6.4.2 /GoTo action with a direct
    ``[page /Fit]`` destination, ``("dest", page_idx)`` the same
    target through the annotation's own /Dest key (§12.5.6.5 allows
    either), ``("goto_named", name)`` a /GoTo action naming a
    destination resolved through the catalog's /Names /Dests tree
    (the caller must ensure the name exists — e.g. the ``sec.<i>``
    names a named-shape outline registers), and ``("gotor", file,
    page_idx)`` a §12.6.4.3 /GoToR remote action whose destination
    array carries a PAGE NUMBER (remote dests index pages, they
    cannot hold refs into another file). Direct dicts keep the
    3-per-page object layout; under 1.5 the strings live inside the
    (encrypted) ObjStm, which §7.6.2 exempts from per-string
    encryption, so RC4 + ``page_links`` requires
    ``object_streams=True`` (typed error otherwise).

    ``rotate`` (90/180/270) writes a §7.7.3.3 /Rotate entry on every
    page — the sideways-fed scanner shape — and stores each raster
    pre-rotated counter-clockwise by the same angle, so a conforming
    viewer (which rotates the page ``rotate`` degrees CLOCKWISE for
    display) shows exactly the input image. :func:`decode_pdf`
    honours the entry the same way, making the round trip the
    identity; the rotation composes with every raster codec (the
    codec just sees the pre-rotated array). ``rotate_inherit=True``
    places the single /Rotate on the PAGES-TREE node instead of each
    page — /Rotate is a §7.7.3.4 inheritable attribute, and this is
    the placement many producers use for uniformly sideways-scanned
    files.

    ``form_fields`` writes an interactive-form dictionary (§12.7.2
    /AcroForm) with one text field (/FT /Tx) per (name, value) pair,
    each a merged field+widget object referenced from BOTH /AcroForm
    /Fields and page 0's /Annots (the filled-in-form producer shape).
    Under RC4 the /T and /V strings are per-object ciphertext, like
    /Info (the field objects sit top-level); the AES handlers declare
    /StrF /Identity so no re-serialization is needed.

    ``outlines`` writes a §12.3.3 document outline (bookmark tree):
    a pre-order list of (level, title, page_index) items, level
    starting at 1 and increasing by at most 1 per step. The writer
    builds the full /First /Last /Next /Prev /Parent /Count graph.
    ``outline_shape='direct'`` puts ``[page /Fit]`` destinations and
    literal titles on the items (under RC4 the /Title strings are
    per-object ciphertext, like /Info); ``'named'`` reproduces the
    pdfTeX shape — indirect title string objects, ``/A << /S /GoTo /D
    (sec.i) >>`` actions, and a /Kids-subdivided /Names /Dests name
    tree mapping each name to a ``<< /D [page /Fit] >>`` value object
    (refused under RC4: the leaf keys would need per-string
    encryption; the AES handlers declare /StrF /Identity so the
    named shape passes through unchanged).

    ``attachments`` embeds (name, bytes) files through the §7.7.4
    /Names /EmbeddedFiles name tree — /Filespec dicts with /EF
    pointing at Flate-coded /EmbeddedFile streams (the invoice-XML /
    portfolio shape). Streams encrypt with the file; name strings
    follow the same §7.6.2 rule as ``page_links`` (RC4 requires
    ``object_streams=True``).
    """
    if not pages:
        raise ValueError("a PDF needs at least one page")
    if (sample_bpc != 8 or decode_invert) and (dct or ccitt or jbig2 or rle or jpx):
        raise ValueError(
            "sample_bpc/decode_invert apply to the raw/Flate/LZW raster path only"
        )
    if sample_bpc not in (1, 2, 4, 8, 16):
        raise ValueError("sample_bpc must be 1, 2, 4, 8 or 16")
    if inline is not None:
        if inline not in ("flate", "raw", "rle"):
            raise ValueError("inline must be 'flate', 'raw', or 'rle'")
        if (
            dct or ccitt or jbig2 or jpx or rle or lzw
            or predictor != 1 or ascii85 or sample_bpc != 8 or decode_invert
            or indexed or icc
        ):
            raise ValueError(
                "inline images carry their own filter; other raster modes do not apply"
            )
    if (indexed or icc) and (
        dct or ccitt or jbig2 or jpx or rle or lzw
        or predictor != 1 or sample_bpc != 8 or decode_invert
        or (indexed and icc)
    ):
        raise ValueError(
            "indexed/icc colorspaces apply to the plain raw/Flate raster "
            "path only, and not to each other"
        )
    if page_links is not None:
        if len(page_links) != len(pages):
            raise ValueError("page_links needs one URI list per page")
        if encrypt and not object_streams:
            raise ValueError(
                "page_links under encryption needs object_streams=True "
                "(ObjStm strings are exempt from per-string encryption, "
                "ISO 32000-1 §7.6.2; top-level page strings are not)"
            )
    if attachments and encrypt and not object_streams:
        raise ValueError(
            "attachments under encryption need object_streams=True "
            "(the catalog's name strings must live in the ObjStm, §7.6.2)"
        )
    objects: dict[int, bytes] = {}
    kids = []
    # objects that must stay out of the 1.5 ObjStm (appended stream
    # objects like /JBIG2Globals whose numbers fall outside the
    # 3-per-page layout, plus the /Encrypt dict added below)
    extra_toplevel: set[int] = set()
    icc_nums: dict[int, int] = {}
    if icc:
        # one shared profile stream per component count, numbered
        # after the 3-per-page triples (stream objects: top-level)
        for j, n in enumerate(sorted({1 if p.ndim == 2 else 3 for p in pages})):
            icc_nums[n] = 3 + 3 * len(pages) + j
    rotate %= 360
    if rotate % 90:
        raise ValueError("rotate must be a multiple of 90 degrees")
    rotate_entry = f"/Rotate {rotate} " if rotate and not rotate_inherit else ""
    for i, img in enumerate(pages):
        if img.dtype != np.uint8 or img.ndim not in (2, 3):
            raise ValueError("pages must be 2-D (gray) or 3-D (RGB) uint8 arrays")
        if rotate:
            # store counter-clockwise so the viewer's clockwise
            # /Rotate recovers the input pixels exactly
            img = np.ascontiguousarray(np.rot90(img, rotate // 90))
        if img.ndim == 3 and img.shape[2] != 3:
            raise ValueError("3-D pages must have exactly 3 (RGB) channels")
        colorspace = "/DeviceGray" if img.ndim == 2 else "/DeviceRGB"
        h, w = img.shape[:2]
        page_num, content_num, image_num = 3 + 3 * i, 4 + 3 * i, 5 + 3 * i
        kids.append(f"{page_num} 0 R")
        annots_entry = ""
        if page_links is not None and page_links[i]:
            # §12.5.6.5 link annotations as DIRECT dicts (spec-legal,
            # keeps the 3-per-page object layout): /URI actions plus
            # the typed intra-/cross-document shapes (see docstring)
            def _esc(s: str) -> str:
                return s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")

            def _link_dict(j: int, item) -> str:
                rect = "/Rect [0 %d %d %d] /Border [0 0 0]" % (
                    max(0, h - 20 * (j + 1)), w, max(0, h - 20 * j),
                )
                if isinstance(item, str):
                    return (
                        f"<< /Type /Annot /Subtype /Link {rect} "
                        f"/A << /S /URI /URI ({_esc(item)}) >> >>"
                    )
                kind = item[0]
                if kind in ("goto", "dest"):
                    t = int(item[1])
                    if not 0 <= t < len(pages):
                        raise ValueError(
                            "page %d link targets page %d of %d" % (i, t, len(pages))
                        )
                    dest = f"[{3 + 3 * t} 0 R /Fit]"
                    body = (
                        f"/A << /S /GoTo /D {dest} >>"
                        if kind == "goto"
                        else f"/Dest {dest}"
                    )
                    return f"<< /Type /Annot /Subtype /Link {rect} {body} >>"
                if kind == "goto_named":
                    return (
                        f"<< /Type /Annot /Subtype /Link {rect} "
                        f"/A << /S /GoTo /D ({_esc(item[1])}) >> >>"
                    )
                if kind == "gotor":
                    return (
                        f"<< /Type /Annot /Subtype /Link {rect} "
                        f"/A << /S /GoToR /F ({_esc(item[1])}) "
                        f"/D [{int(item[2])} /Fit] >> >>"
                    )
                raise ValueError(f"unknown page_links item kind {kind!r}")

            link_dicts = " ".join(
                _link_dict(j, item) for j, item in enumerate(page_links[i])
            )
            annots_entry = f"/Annots [ {link_dicts} ] "
        if inline is not None:
            # §8.9.7 inline image: the raster lives INSIDE the content
            # stream between BI..ID..EI with abbreviated keys — the
            # fax-converter / print-driver shape. No image XObject is
            # emitted, so object number 5+3i stays a free xref entry.
            objects[page_num] = (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {w} {h}] "
                f"{rotate_entry}{annots_entry}/Contents {content_num} 0 R >>"
            ).encode()
            cs_abbrev = "/G" if img.ndim == 2 else "/RGB"
            samples = np.ascontiguousarray(img).tobytes()
            if inline == "flate":
                payload = zlib.compress(samples, 6)
                fentry = "/F /Fl "
            elif inline == "rle":
                from pdf_ocr_spark.sources import pdffilters

                payload = pdffilters.runlength_encode(samples)
                fentry = "/F /RL "
            else:  # raw samples; the CONTENT stream is Flate-coded
                payload = samples
                fentry = ""
            draw = (
                (
                    f"q {w} 0 0 {h} 0 0 cm BI /W {w} /H {h} /CS {cs_abbrev} "
                    f"/BPC 8 {fentry}ID\n"
                ).encode()
                + payload
                + b"\nEI Q"
            )
            if inline == "raw":
                zdraw = zlib.compress(draw, 6)
                objects[content_num] = (
                    b"<< /Filter /FlateDecode /Length %d >>\nstream\n%s\nendstream"
                    % (len(zdraw), zdraw)
                )
            else:
                objects[content_num] = (
                    b"<< /Length %d >>\nstream\n%s\nendstream" % (len(draw), draw)
                )
            continue
        objects[page_num] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {w} {h}] "
            f"{rotate_entry}{annots_entry}"
            f"/Resources << /XObject << /Im0 {image_num} 0 R >> >> "
            f"/Contents {content_num} 0 R >>"
        ).encode()
        draw = f"q {w} 0 0 {h} 0 0 cm /Im0 Do Q".encode()
        objects[content_num] = (
            b"<< /Length %d >>\nstream\n%s\nendstream" % (len(draw), draw)
        )
        bpc = 8
        fnames: list[str] = []
        fparms: list[str | None] = []
        if ccitt:
            from pdf_ocr_spark.sources import ccittcodec

            if img.ndim != 2:
                raise ValueError("CCITT pages must be grayscale (2-D)")
            # bitonal: <128 is ink; exact round trip for 0/255 input
            bits = (img < 128).astype(np.uint8)
            if ccitt_k < 0:
                raw = ccittcodec.g4_encode(bits)
            else:
                raw = ccittcodec.g3_encode(bits, k=ccitt_k)
            fnames.append("/CCITTFaxDecode")
            fparms.append(f"<< /K {ccitt_k} /Columns {w} /Rows {h} >>")
            bpc = 1
        elif jbig2:
            from pdf_ocr_spark.sources import jbig2codec

            if img.ndim != 2:
                raise ValueError("JBIG2 pages must be grayscale (2-D)")
            bits = (img < 128).astype(np.uint8)  # 1 = black (T.88)
            fnames.append("/JBIG2Decode")
            if jbig2_mode == "textg":
                # symbol dictionary in a separate /JBIG2Globals
                # stream — the shared-dictionary organization Acrobat
                # emits; the globals object lives past the 3-per-page
                # layout and must stay out of any ObjStm
                glob, raw = jbig2codec.encode_embedded_split(bits)
                glob_num = 3 * len(pages) + 3 + i
                objects[glob_num] = (
                    b"<< /Length %d >>\nstream\n" % len(glob)
                ) + glob + b"\nendstream"
                extra_toplevel.add(glob_num)
                fparms.append(f"<< /JBIG2Globals {glob_num} 0 R >>")
            else:
                raw = jbig2codec.encode_embedded(bits, mode=jbig2_mode)
                fparms.append(None)
            bpc = 1
        elif dct:
            from pdf_ocr_spark.sources.jpegcodec import encode_jpeg

            if dct_cmyk:
                # print-workflow scan shape: /DeviceCMYK XObject over a
                # 4-component Adobe JPEG. Gray g -> (0,0,0,255-g); RGB
                # -> (255-R,255-G,255-B,0). Baseline only (Adobe CMYK
                # progressive files are not a real producer shape).
                if img.ndim == 2:
                    zeros = np.zeros_like(img)
                    cmyk = np.stack([zeros, zeros, zeros, 255 - img], axis=-1)
                else:
                    cmyk = np.concatenate(
                        [255 - img, np.zeros_like(img[..., :1])], axis=-1
                    )
                raw = encode_jpeg(cmyk, dct_quality, cmyk_transform=dct_cmyk_transform)
                colorspace = "/DeviceCMYK"
            else:
                raw = encode_jpeg(img, dct_quality, progressive=dct_progressive)
            fnames.append("/DCTDecode")
            fparms.append(None)
        elif jpx:
            from pdf_ocr_spark.sources import jpxcodec

            # JP2-wrapped codestream (lossless 5/3, or lossy 9/7 with
            # jpx_lossy — the wild scanner shape) — per ISO 32000-1
            # §7.4.9 the JPX data is colour-self-describing; the dict's
            # /ColorSpace and /BitsPerComponent remain advisory
            raw = jpxcodec.encode_jpx(img, irreversible=jpx_lossy)
            fnames.append("/JPXDecode")
            fparms.append(None)
        elif rle:
            from pdf_ocr_spark.sources import pdffilters

            raw = pdffilters.runlength_encode(np.ascontiguousarray(img).tobytes())
            fnames.append("/RunLengthDecode")
            fparms.append(None)
        elif indexed:
            # §8.6.6.3: samples are lookup indices at the minimal
            # depth; the palette is the page's distinct colors as a
            # hex-string lookup over the device base space
            flat = img.reshape(-1, 1 if img.ndim == 2 else 3)
            pal, inv = np.unique(flat, axis=0, return_inverse=True)
            if len(pal) > 256:
                raise ValueError(
                    "indexed pages need <=256 distinct colors, got %d" % len(pal)
                )
            hival = len(pal) - 1
            bpc = next(b for b in (1, 2, 4, 8) if hival < (1 << b))
            raw = _pack_indices(
                inv.astype(np.uint8).reshape(img.shape[:2]), bpc
            )
            colorspace = "[/Indexed %s %d <%s>]" % (
                colorspace, hival, pal.tobytes().hex().upper()
            )
            if compress:
                raw = zlib.compress(raw, 6)
                fnames.append("/FlateDecode")
                fparms.append(None)
        else:
            raw = _pack_samples(img, sample_bpc, invert=decode_invert)
            bpc = sample_bpc
            if compress or lzw:
                colors = 1 if img.ndim == 2 else 3
                parms = None
                if predictor != 1:
                    from pdf_ocr_spark.sources import pdffilters

                    raw = pdffilters.predictor_encode(
                        raw, predictor, columns=w, colors=colors, bpc=sample_bpc
                    )
                    parms = (
                        f"<< /Predictor {predictor} /Columns {w} "
                        f"/Colors {colors} /BitsPerComponent {sample_bpc} >>"
                    )
                if lzw:
                    from pdf_ocr_spark.sources import pdffilters

                    raw = pdffilters.lzw_encode(raw)
                    fnames.append("/LZWDecode")
                else:
                    raw = zlib.compress(raw, 6)
                    fnames.append("/FlateDecode")
                fparms.append(parms)
        if ascii85 and fnames:
            # wrap the encoded stream: decode order is ASCII85 first,
            # so it leads the /Filter array
            from pdf_ocr_spark.sources import pdffilters

            raw = pdffilters.ascii85_encode(raw)
            fnames.insert(0, "/ASCII85Decode")
            fparms.insert(0, None)
        if not fnames:
            filt = ""
        elif len(fnames) == 1:
            filt = f"/Filter {fnames[0]} "
            if fparms[0]:
                filt += f"/DecodeParms {fparms[0]} "
        else:
            filt = f"/Filter [{' '.join(fnames)}] "
            if any(fparms):
                filt += (
                    "/DecodeParms ["
                    + " ".join(p if p else "null" for p in fparms)
                    + "] "
                )
        decode_entry = ""
        if decode_invert:
            n_comp = 1 if img.ndim == 2 else 3
            decode_entry = "/Decode [" + " ".join(["1 0"] * n_comp) + "] "
        if icc:
            colorspace = "[/ICCBased %d 0 R]" % icc_nums[1 if img.ndim == 2 else 3]
        objects[image_num] = (
            f"<< /Type /XObject /Subtype /Image /Width {w} /Height {h} "
            f"/ColorSpace {colorspace} /BitsPerComponent {bpc} "
            f"{decode_entry}{filt}/Length {len(raw)} >>\n"
        ).encode() + b"stream\n" + raw + b"\nendstream"
    for n_comp, num in icc_nums.items():
        profile = _icc_profile(n_comp)
        objects[num] = (
            b"<< /N %d /Length %d >>\nstream\n%s\nendstream"
            % (n_comp, len(profile), profile)
        )
        extra_toplevel.add(num)
    pages_rotate = f" /Rotate {rotate}" if rotate and rotate_inherit else ""
    objects[2] = (
        f"<< /Type /Pages /Kids [{' '.join(kids)}] "
        f"/Count {len(pages)}{pages_rotate} >>"
    ).encode()
    catalog_extra = b""
    info_num = None
    if info:
        info_num = max(objects) + 1
        objects[info_num] = _serialize_info_dict(info)
        extra_toplevel.add(info_num)
    if xmp_title is not None:
        xmp_num = max(objects) + 1
        packet = _xmp_packet(xmp_title)
        objects[xmp_num] = (
            b"<< /Type /Metadata /Subtype /XML /Length %d >>\nstream\n%s\nendstream"
            % (len(packet), packet)
        )
        extra_toplevel.add(xmp_num)
        catalog_extra += b" /Metadata %d 0 R" % xmp_num
    names_dict_entries: list[bytes] = []  # catalog /Names << ... >> tenants
    attach_filespecs: list[tuple[int, bytes, int]] = []
    if attachments:
        # §7.7.4 embedded files: name tree of /Filespec dicts, each
        # /EF pointing at a Flate-coded /EmbeddedFile stream
        entries = []
        for name, content in attachments:
            ef_num = max(objects) + 1
            raw_a = zlib.compress(content, 6)
            objects[ef_num] = (
                b"<< /Type /EmbeddedFile /Filter /FlateDecode /Length %d "
                b"/Params << /Size %d >> >>\nstream\n%s\nendstream"
                % (len(raw_a), len(content), raw_a)
            )
            extra_toplevel.add(ef_num)
            fs_num = max(objects) + 1
            esc = (
                name.encode("ascii")
                .replace(b"\\", b"\\\\")
                .replace(b"(", b"\\(")
                .replace(b")", b"\\)")
            )
            objects[fs_num] = (
                b"<< /Type /Filespec /F (%s) /UF (%s) /EF << /F %d 0 R >> >>"
                % (esc, esc, ef_num)
            )
            extra_toplevel.add(fs_num)
            attach_filespecs.append((fs_num, name.encode("ascii"), ef_num))
            entries.append(b"(%s) %d 0 R" % (esc, fs_num))
        names_dict_entries.append(
            b"/EmbeddedFiles << /Names [ %s ] >>" % b" ".join(entries)
        )
    outline_objs: list[tuple[int, bytes, bytes]] = []
    if outlines:
        # §12.3.3 document outline: pre-order (level, title, page)
        # items -> the /First /Last /Next /Prev /Parent /Count graph.
        # A stack tracks the open ancestor chain; children[i] lists
        # each node's direct children (index -1 = the outline root).
        root_num = max(objects) + 1
        item_nums = [root_num + 1 + i for i in range(len(outlines))]
        children: dict[int, list[int]] = {-1: []}
        parent_of: list[int] = []
        stack: list[int] = []  # indices of open ancestors
        for i, (level, _title, page_idx) in enumerate(outlines):
            if level < 1 or level > len(stack) + 1:
                raise ValueError(
                    "outline level %d at item %d skips a level" % (level, i)
                )
            if page_idx < 0 or page_idx >= len(pages):
                raise ValueError("outline item %d targets page %d" % (i, page_idx))
            stack = stack[: level - 1]
            parent = stack[-1] if stack else -1
            parent_of.append(parent)
            children.setdefault(i, [])
            children[parent].append(i)
            stack.append(i)

        def _descendants(idx: int) -> int:
            return sum(1 + _descendants(c) for c in children.get(idx, []))

        named_mode = outline_shape == "named"
        if named_mode and encrypt and cipher == "rc4":
            raise ValueError(
                "named outlines under RC4 are not in the writer subset "
                "(name-tree leaf keys would need per-string encryption)"
            )
        title_nums = dest_nums = None
        if named_mode:
            # the pdfTeX shape: indirect title strings, /A GoTo
            # actions naming destinations, and a /Kids-subdivided
            # /Names /Dests tree mapping each name to a << /D [page
            # /Fit] >> value object
            base = item_nums[-1] + 1
            title_nums = [base + 2 * i for i in range(len(outlines))]
            dest_nums = [base + 2 * i + 1 for i in range(len(outlines))]
            for i, (_level, title, page_idx) in enumerate(outlines):
                tb = title.encode("utf-8")
                esc_t = (
                    tb.replace(b"\\", b"\\\\")
                    .replace(b"(", b"\\(")
                    .replace(b")", b"\\)")
                )
                objects[title_nums[i]] = b"(%s)" % esc_t
                objects[dest_nums[i]] = (
                    b"<< /D [%d 0 R /Fit] >>" % (3 + 3 * page_idx)
                )
                extra_toplevel.add(title_nums[i])
                extra_toplevel.add(dest_nums[i])
            # name-tree leaves hold lexically-sorted (name, ref) pairs
            pairs = sorted(
                (b"sec.%d" % i, dest_nums[i]) for i in range(len(outlines))
            )
            half = (len(pairs) + 1) // 2
            leaf_nums = []
            for chunk in (pairs[:half], pairs[half:]):
                if not chunk:
                    continue
                leaf = max(objects) + 1
                objects[leaf] = b"<< /Names [ %s ] /Limits [(%s) (%s)] >>" % (
                    b" ".join(b"(%s) %d 0 R" % p for p in chunk),
                    chunk[0][0],
                    chunk[-1][0],
                )
                extra_toplevel.add(leaf)
                leaf_nums.append(leaf)
            tree_root = max(objects) + 1
            objects[tree_root] = b"<< /Kids [%s] >>" % b" ".join(
                b"%d 0 R" % n for n in leaf_nums
            )
            extra_toplevel.add(tree_root)
            names_dict_entries.append(b"/Dests %d 0 R" % tree_root)
        for i, (level, title, page_idx) in enumerate(outlines):
            parent = parent_of[i]
            sibs = children[parent]
            pos = sibs.index(i)
            entries = [
                b"/Parent %d 0 R"
                % (root_num if parent == -1 else item_nums[parent]),
            ]
            if named_mode:
                entries = [
                    b"/Title %d 0 R" % title_nums[i],
                    b"/A << /S /GoTo /D (sec.%d) >>" % i,
                ] + entries
            else:
                entries.append(b"/Dest [%d 0 R /Fit]" % (3 + 3 * page_idx))
            if pos > 0:
                entries.append(b"/Prev %d 0 R" % item_nums[sibs[pos - 1]])
            if pos + 1 < len(sibs):
                entries.append(b"/Next %d 0 R" % item_nums[sibs[pos + 1]])
            kids_here = children.get(i, [])
            if kids_here:
                entries.append(b"/First %d 0 R" % item_nums[kids_here[0]])
                entries.append(b"/Last %d 0 R" % item_nums[kids_here[-1]])
                entries.append(b"/Count %d" % _descendants(i))
            tail = b" ".join(entries)
            if named_mode:
                objects[item_nums[i]] = b"<< %s >>" % tail
            else:
                tb = title.encode("utf-8")
                esc_t = (
                    tb.replace(b"\\", b"\\\\")
                    .replace(b"(", b"\\(")
                    .replace(b")", b"\\)")
                )
                objects[item_nums[i]] = b"<< /Title (%s) %s >>" % (esc_t, tail)
                outline_objs.append((item_nums[i], tb, tail))
            extra_toplevel.add(item_nums[i])
        top = children[-1]
        objects[root_num] = (
            b"<< /Type /Outlines /First %d 0 R /Last %d 0 R /Count %d >>"
            % (item_nums[top[0]], item_nums[top[-1]], len(outlines))
        )
        extra_toplevel.add(root_num)
        catalog_extra += b" /Outlines %d 0 R" % root_num
    if names_dict_entries:
        catalog_extra += b" /Names << %s >>" % b" ".join(names_dict_entries)
    form_field_objs: list[tuple[int, bytes, bytes]] = []
    if form_fields:
        # §12.7.2 interactive form: merged field+widget objects (the
        # filled-form producer shape), referenced from /AcroForm
        # /Fields AND page 0's /Annots (§12.5.2 requires every widget
        # on a page)
        def _esc(s: bytes) -> bytes:
            return (
                s.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")
            )

        field_refs = []
        for fname, fvalue in form_fields:
            f_num = max(objects) + 1
            nb, vb = fname.encode("utf-8"), fvalue.encode("utf-8")
            objects[f_num] = (
                b"<< /Type /Annot /Subtype /Widget /FT /Tx /T (%s) /V (%s) "
                b"/Rect [0 0 0 0] /F 2 /P 3 0 R >>" % (_esc(nb), _esc(vb))
            )
            extra_toplevel.add(f_num)
            form_field_objs.append((f_num, nb, vb))
            field_refs.append(b"%d 0 R" % f_num)
        refs = b" ".join(field_refs)
        catalog_extra += b" /AcroForm << /Fields [ %s ] >>" % refs
        # widgets join page 0's /Annots — merge with any link annots
        if b"/Annots [ " in objects[3]:
            objects[3] = objects[3].replace(
                b"/Annots [ ", b"/Annots [ %s " % refs, 1
            )
        else:
            objects[3] = objects[3].replace(
                b"/Contents", b"/Annots [ %s ] /Contents" % refs, 1
            )
    objects[1] = b"<< /Type /Catalog /Pages 2 0 R%s >>" % catalog_extra

    trailer_extra = b""
    enc = None
    if encrypt:
        # standard security handler — RC4-128 R3 (cipher='rc4'),
        # AES-128-CBC V4/R4 /AESV2 (cipher='aes'), or AES-256 V5/R6
        # /AESV3 (cipher='aes256', the ISO 32000-2 shape) —
        # ``user_password``/``owner_password`` default empty (readable
        # without a prompt, encrypted on disk); /ID, salts, and AES
        # IVs from content hashes so output is byte-stable
        import hashlib

        from pdf_ocr_spark.sources import pdfcrypt

        if cipher not in ("rc4", "aes", "aes256"):
            raise ValueError("cipher must be 'rc4', 'aes', or 'aes256'")
        upw = user_password.encode() if isinstance(user_password, str) else user_password
        opw = owner_password.encode() if isinstance(owner_password, str) else owner_password
        # like real producers: an unset owner password defaults to the
        # user password (never an empty-owner backdoor on a protected
        # file)
        opw = opw or upw
        content_seed = b"".join(objects[n] for n in sorted(objects))
        id1 = hashlib.md5(content_seed).digest()
        perms = -1
        if cipher == "aes256":
            fkey = hashlib.sha256(b"fkey" + content_seed).digest()
            ent = pdfcrypt.r6_entries(
                fkey, perms, id1, user_password=upw, owner_password=opw
            )

            def enc(num: int, raw: bytes) -> bytes:
                iv = hashlib.md5(b"iv" + id1 + num.to_bytes(4, "big")).digest()
                return pdfcrypt.aes256_cbc_encrypt(fkey, raw, iv)

            for num in list(objects):
                objects[num] = _encrypt_body_stream(objects[num], num, enc)
            enc_num = max(objects) + 1
            objects[enc_num] = (
                b"<< /Filter /Standard /V 5 /R 6 /Length 256 "
                b"/CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen /Length 32 >> >> "
                b"/StmF /StdCF /StrF /Identity /P %d "
                b"/O <%s> /U <%s> /OE <%s> /UE <%s> /Perms <%s> >>"
                % (
                    perms,
                    ent["O"].hex().upper().encode(),
                    ent["U"].hex().upper().encode(),
                    ent["OE"].hex().upper().encode(),
                    ent["UE"].hex().upper().encode(),
                    ent["Perms"].hex().upper().encode(),
                )
            )
            extra_toplevel.add(enc_num)
            idhex = id1.hex().upper().encode()
            trailer_extra = b" /Encrypt %d 0 R /ID [<%s> <%s>]" % (
                enc_num,
                idhex,
                idhex,
            )
            if info_num is not None:
                trailer_extra += b" /Info %d 0 R" % info_num
            if object_streams:
                return _emit_pdf15(objects, extra_toplevel, enc, trailer_extra)
            return _emit_pdf14(objects, trailer_extra)
        rev = 4 if cipher == "aes" else 3
        o = pdfcrypt.owner_entry(16, rev, owner_password=opw, user_password=upw)
        fkey = fkey_s = pdfcrypt.file_key(o, perms, id1, rev, 16, user_password=upw)
        u = pdfcrypt.user_entry(fkey, id1, min(rev, 3))

        if cipher == "aes":

            def enc(num: int, raw: bytes) -> bytes:
                iv = hashlib.md5(b"iv" + id1 + num.to_bytes(4, "big")).digest()
                return pdfcrypt.aes128_cbc_encrypt(
                    pdfcrypt.object_key(fkey, num, aes=True), raw, iv
                )

        else:

            def enc(num: int, raw: bytes) -> bytes:
                return pdfcrypt.encrypt_object(fkey, num, raw)

        if info_num is not None and cipher == "rc4":
            # the V2 handler encrypts ALL strings: re-serialize /Info
            # with per-object RC4 ciphertext as hex strings (the AES
            # handlers declare /StrF /Identity instead)
            objects[info_num] = _serialize_info_dict(
                info,
                enc_str=lambda b, n=info_num: pdfcrypt.encrypt_object(fkey_s, n, b),
            )
        if attach_filespecs and cipher == "rc4":
            # same §7.6.2 obligation for the /Filespec objects: they
            # sit top-level (next to their /EmbeddedFile streams), so
            # under V2 their /F and /UF strings re-serialize as
            # per-object RC4 ciphertext hex strings. The catalog's
            # name-tree strings are exempt — the write guard above
            # forces object_streams, so the catalog lives in the
            # ObjStm whose payload encrypts as one stream.
            for fs_num, nameb, ef_ref in attach_filespecs:
                h = (
                    pdfcrypt.encrypt_object(fkey_s, fs_num, nameb)
                    .hex().upper().encode()
                )
                objects[fs_num] = (
                    b"<< /Type /Filespec /F <%s> /UF <%s> /EF << /F %d 0 R >> >>"
                    % (h, h, ef_ref)
                )
        if outline_objs and cipher == "rc4":
            # outline items sit top-level too: /Title re-serializes as
            # per-object RC4 ciphertext (the graph entries are refs,
            # no other strings involved)
            for o_num, tb, tail in outline_objs:
                objects[o_num] = b"<< /Title <%s> %s >>" % (
                    pdfcrypt.encrypt_object(fkey_s, o_num, tb)
                    .hex().upper().encode(),
                    tail,
                )
        if form_field_objs and cipher == "rc4":
            # ditto for the top-level merged field+widget objects: /T
            # and /V re-serialize as per-object RC4 ciphertext
            for f_num, nb, vb in form_field_objs:
                objects[f_num] = (
                    b"<< /Type /Annot /Subtype /Widget /FT /Tx /T <%s> /V <%s> "
                    b"/Rect [0 0 0 0] /F 2 /P 3 0 R >>"
                    % (
                        pdfcrypt.encrypt_object(fkey_s, f_num, nb).hex().upper().encode(),
                        pdfcrypt.encrypt_object(fkey_s, f_num, vb).hex().upper().encode(),
                    )
                )
        for num in list(objects):
            objects[num] = _encrypt_body_stream(objects[num], num, enc)
        enc_num = max(objects) + 1
        if cipher == "aes":
            objects[enc_num] = (
                b"<< /Filter /Standard /V 4 /R 4 /Length 128 "
                b"/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen /Length 16 >> >> "
                b"/StmF /StdCF /StrF /Identity "
                b"/P %d /O <%s> /U <%s> >>"
                % (perms, o.hex().upper().encode(), u.hex().upper().encode())
            )
        else:
            objects[enc_num] = (
                b"<< /Filter /Standard /V 2 /R 3 /Length 128 /P %d /O <%s> /U <%s> >>"
                % (perms, o.hex().upper().encode(), u.hex().upper().encode())
            )
        extra_toplevel.add(enc_num)
        idhex = id1.hex().upper().encode()
        trailer_extra = b" /Encrypt %d 0 R /ID [<%s> <%s>]" % (enc_num, idhex, idhex)

    if info_num is not None:
        trailer_extra += b" /Info %d 0 R" % info_num
    if object_streams:
        return _emit_pdf15(objects, extra_toplevel, enc, trailer_extra)
    return _emit_pdf14(objects, trailer_extra)


def _emit_pdf14(objects: dict[int, bytes], trailer_extra: bytes = b"") -> bytes:
    """Serialize objects with a classic xref table + ``trailer``."""
    out = bytearray(_HEADER)
    offsets: dict[int, int] = {}
    for num in sorted(objects):
        offsets[num] = len(out)
        out += _obj(num, objects[num])
    xref_at = len(out)
    n = max(objects) + 1
    out += b"xref\n0 %d\n" % n
    out += b"0000000000 65535 f \n"
    for num in range(1, n):
        if num in offsets:
            out += b"%010d 00000 n \n" % offsets[num]
        else:  # gap (inline-image pages emit no raster object)
            out += b"0000000000 65535 f \n"
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R%s >>\nstartxref\n%d\n%%%%EOF\n"
        % (n, trailer_extra, xref_at)
    )
    return bytes(out)


def incremental_update(data: bytes, new_objects: dict[int, bytes]) -> bytes:
    """Append an §7.5.6 incremental update: the original bytes stay
    untouched, the replaced/added object bodies follow, then a new
    cross-reference section chained to the old one via /Prev — the
    layout every save-in-Acrobat / sign / annotate pass produces.
    Readers must honour the LATEST definition of each object number
    (this codec's forward object scan does exactly that).

    The update's xref matches the file's own flavor: classic files get
    a subsectioned ``xref`` table + ``trailer`` (with /Prev), 1.5
    files get an appended /Type /XRef stream (with /Prev and /Index).
    Updating an encrypted file would need the file key for the new
    bodies — outside the subset, typed error."""
    if not data.startswith(b"%PDF-"):
        raise ValueError("not a PDF (missing %PDF- header)")
    _body, trailer, decrypt = _load(data)
    if decrypt is not None:
        raise ValueError(
            "incremental updates of encrypted files are not in the subset"
        )
    sxm = re.findall(rb"startxref\s+(\d+)", data)
    if not sxm:
        raise ValueError("missing startxref")
    prev = int(sxm[-1])
    root_ref = _ref(trailer, b"Root")
    info_m = re.search(rb"/Info\s+(\d+)\s+0\s+R", trailer)
    id_m = re.search(rb"/ID\s*(\[[^\]]*\])", trailer)
    size = max(
        _int_default(trailer, b"Size", 0), max(new_objects) + 1
    )

    out = bytearray(data)
    if not data.endswith(b"\n"):
        out += b"\n"
    offsets: dict[int, int] = {}
    for num in sorted(new_objects):
        offsets[num] = len(out)
        out += _obj(num, new_objects[num])

    # contiguous subsections of the updated numbers
    nums = sorted(offsets)
    runs: list[list[int]] = [[nums[0]]]
    for n in nums[1:]:
        (runs[-1].append(n) if n == runs[-1][-1] + 1 else runs.append([n]))

    tail = b" /Prev %d" % prev
    if info_m is not None:
        tail += b" /Info %s 0 R" % info_m.group(1)
    if id_m is not None:
        tail += b" /ID " + id_m.group(1)
    xref_at = len(out)
    if data.rfind(b"trailer") != -1:  # classic table + trailer update
        out += b"xref\n"
        for run in runs:
            out += b"%d %d\n" % (run[0], len(run))
            for n in run:
                out += b"%010d 00000 n \n" % offsets[n]
        out += b"trailer\n<< /Size %d /Root %d 0 R%s >>\n" % (
            size, root_ref, tail,
        )
    else:  # 1.5: appended cross-reference STREAM
        xnum = size
        size += 1
        runs[-1].append(xnum) if runs[-1][-1] + 1 == xnum else runs.append([xnum])
        index = b" ".join(b"%d %d" % (r[0], len(r)) for r in runs)
        rows = bytearray()
        for run in runs:
            for n in run:
                off = xref_at if n == xnum else offsets[n]
                rows += b"\x01" + off.to_bytes(4, "big") + b"\x00\x00"
        out += _obj(
            xnum,
            b"<< /Type /XRef /Size %d /W [1 4 2] /Index [%s] "
            b"/Root %d 0 R%s /Length %d >>\nstream\n%s\nendstream"
            % (size, index, root_ref, tail, len(rows), bytes(rows)),
        )
    out += b"startxref\n%d\n%%%%EOF\n" % xref_at
    return bytes(out)


def flate_image_xobject(img: np.ndarray) -> bytes:
    """A standalone Flate-coded gray/RGB image XObject body — the
    replacement-object builder for :func:`incremental_update` (zlib
    level 9, so a re-save of identical pixels still has different
    bytes than the original level-6 stream)."""
    cs = "/DeviceGray" if img.ndim == 2 else "/DeviceRGB"
    raw = zlib.compress(np.ascontiguousarray(img).tobytes(), 9)
    h, w = img.shape[:2]
    return (
        f"<< /Type /XObject /Subtype /Image /Width {w} /Height {h} "
        f"/ColorSpace {cs} /BitsPerComponent 8 /Filter /FlateDecode "
        f"/Length {len(raw)} >>\n"
    ).encode() + b"stream\n" + raw + b"\nendstream"


def _serialize_info_dict(info: dict[str, str], enc_str=None) -> bytes:
    """Serialize a §14.3.3 information dictionary. Values are ASCII
    text strings — literal with ``( ) \\`` escaped, or (with
    ``enc_str``, the RC4 string-encryption path) hex strings of the
    per-object ciphertext."""
    parts = []
    for k, v in sorted(info.items()):
        vb = v.encode("ascii")
        if enc_str is not None:
            parts.append("/%s <%s>" % (k, enc_str(vb).hex().upper()))
        else:
            esc = (
                vb.replace(b"\\", b"\\\\")
                .replace(b"(", b"\\(")
                .replace(b")", b"\\)")
                .decode("ascii")
            )
            parts.append("/%s (%s)" % (k, esc))
    return ("<< %s >>" % " ".join(parts)).encode()


def _xmp_packet(title: str) -> bytes:
    """A minimal §14.3.2 XMP packet carrying dc:title (the field real
    producers always set). XML special chars are entity-escaped."""
    esc = (
        title.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )
    return (
        '<?xpacket begin="﻿" id="W5M0MpCehiHzreSzNTczkc9d"?>\n'
        '<x:xmpmeta xmlns:x="adobe:ns:meta/">\n'
        ' <rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">\n'
        '  <rdf:Description rdf:about=""'
        ' xmlns:dc="http://purl.org/dc/elements/1.1/">\n'
        "   <dc:title><rdf:Alt>"
        '<rdf:li xml:lang="x-default">%s</rdf:li>'
        "</rdf:Alt></dc:title>\n"
        "  </rdf:Description>\n"
        " </rdf:RDF>\n"
        "</x:xmpmeta>\n"
        '<?xpacket end="w"?>' % esc
    ).encode("utf-8")


def pdf_info(data: bytes, password: bytes = b"") -> dict:
    """Document metadata without raster work: the trailer's §14.3.3
    /Info dictionary (title/author/producer/created) plus the
    catalog's §14.3.2 XMP metadata stream (xmp_title from dc:title).
    Missing pieces come back None — real files carry any subset.
    String decryption follows the handler: legacy V1/V2 (RC4)
    encrypts all strings, so they decrypt per-object; V4/V5 files
    honour ``/StrF`` (``/Identity`` -> plaintext, else the StdCF
    cipher). UTF-16BE (BOM) text strings decode per §7.9.2.2."""
    if not data.startswith(b"%PDF-"):
        raise ValueError("not a PDF (missing %PDF- header)")
    return _pdf_info_loaded(*_load(data, password))


def _pdf_info_loaded(body, trailer: bytes, decrypt) -> dict:
    out = {
        "title": None, "author": None, "producer": None,
        "created": None, "xmp_title": None,
    }

    str_decrypt = None
    if decrypt is not None:
        ed = _dict_of(body(_ref(trailer, b"Encrypt")))
        if not re.search(rb"/StrF\s*/Identity\b", ed):
            str_decrypt = decrypt

    im = re.search(rb"/Info\s+(\d+)\s+0\s+R", trailer)
    if im is not None:
        num = int(im.group(1))
        d = _dict_of(body(num))
        for key, col in (
            (b"Title", "title"), (b"Author", "author"),
            (b"Producer", "producer"), (b"CreationDate", "created"),
        ):
            try:
                val = _pdf_string(d, key)
            except ValueError:
                continue
            if str_decrypt is not None:
                val = str_decrypt(num, val)
            if val[:2] == b"\xfe\xff":
                out[col] = val[2:].decode("utf-16-be", "replace")
            else:
                out[col] = val.decode("latin-1")
    catalog = _dict_of(body(_ref(trailer, b"Root")))
    mm = re.search(rb"/Metadata\s+(\d+)\s+0\s+R", catalog)
    if mm is not None:
        num = int(mm.group(1))
        mbody = body(num)
        md = _dict_of(mbody)
        raw = _stream_of(mbody, _int(md, b"Length"))
        if decrypt is not None:  # /EncryptMetadata default true
            raw = decrypt(num, raw)
        raw = _decode_stream(md, raw)
        tm = re.search(rb"<rdf:li[^>]*>(.*?)</rdf:li>", raw, re.S)
        if tm is not None:
            t = tm.group(1).decode("utf-8", "replace")
            out["xmp_title"] = (
                t.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")
            )
    return out


def _balanced_span(data: bytes, start: int, op: int, cl: int) -> int:
    """End index (exclusive) of the balanced bracket pair opening at
    ``start`` — literal strings are skipped (escapes honoured) so a
    ``]``/``>>`` inside a URI can't truncate the span."""
    depth = 0
    i = start
    n = len(data)
    while i < n:
        b = data[i]
        if b == 0x28:  # '(' — skip the literal string
            j = i + 1
            sdepth = 1
            while j < n and sdepth:
                if data[j] == 0x5C:
                    j += 2
                    continue
                sdepth += data[j] == 0x28
                sdepth -= data[j] == 0x29
                j += 1
            i = j
            continue
        if b == op:
            depth += 1
        elif b == cl:
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    raise ValueError("unbalanced bracket in dictionary/array")


def _page_numbers(body, node_num: int, depth: int = 0):
    """Leaf page OBJECT NUMBERS of a (possibly nested) page tree, in
    document order."""
    if depth > 64:
        raise ValueError("page tree deeper than 64 levels")
    node = _dict_of(body(node_num))
    if re.search(rb"/Type\s*/Page\b(?!s)", node):
        yield node_num
        return
    kids_m = re.search(rb"/Kids\s*\[([^\]]*)\]", node)
    if kids_m is None:
        raise ValueError("page tree node %d has no /Kids" % node_num)
    for m in re.finditer(rb"(\d+)\s+0\s+R", kids_m.group(1)):
        yield from _page_numbers(body, int(m.group(1)), depth + 1)


def pdf_links(
    data: bytes, password: bytes = b""
) -> list[tuple[int, str, str | None, int | None]]:
    """The full link-edge harvest from §12.5.6.5 link annotations, as
    ``(page_index, kind, uri, to_page)`` rows in document order:

    - ``('uri', uri, None)`` — §12.6.4.7 /URI actions, the outbound
      edge a crawl pipeline feeds its frontier (the HTML-side twin is
      operators/webextract.py's ``html_links``);
    - ``('goto', None, to_page)`` — §12.6.4.2 intra-document edges,
      from /GoTo actions or the annotation's own /Dest key, with the
      destination resolved to a target page index through the shared
      resolver (:func:`_make_dest_resolver` — direct arrays, indirect
      dest objects, and NAMED destinations through the catalog's
      /Names /Dests tree, the same machinery pdf_outline certifies);
    - ``('gotor', remote_file, remote_page)`` — §12.6.4.3
      cross-document edges; remote dest arrays carry page NUMBERS
      (they cannot hold refs into another file).

    Annotations may be direct dicts in /Annots or indirect refs (both
    real-producer shapes); non-link annotations are skipped, as is a
    link whose destination fails to resolve (harvest stays total).
    String decryption follows §7.6.2: only strings whose winning
    object lives top-level decrypt (ObjStm members are covered by the
    stream's own encryption)."""
    if not data.startswith(b"%PDF-"):
        raise ValueError("not a PDF (missing %PDF- header)")
    return _pdf_links_loaded(*_load(data, password))


def _pdf_links_loaded(
    body, trailer: bytes, decrypt
) -> list[tuple[int, str, str | None, int | None]]:
    str_decrypt = None
    if decrypt is not None:
        ed = _dict_of(body(_ref(trailer, b"Encrypt")))
        if not re.search(rb"/StrF\s*/Identity\b", ed):
            str_decrypt = decrypt
    packed = getattr(body, "packed_nums", frozenset())
    catalog = _dict_of(body(_ref(trailer, b"Root")))

    def dec_str(s: bytes, owner: int) -> bytes:
        if str_decrypt is not None and owner not in packed:
            return str_decrypt(owner, s)
        return s

    resolve = _make_dest_resolver(body, catalog, dec_str)
    out: list[tuple[int, str, str | None, int | None]] = []
    for idx, pnum in enumerate(_page_numbers(body, _ref(catalog, b"Pages"))):
        page = _dict_of(body(pnum))
        am = re.search(rb"/Annots\s*(\[|\d+\s+0\s+R)", page)
        if am is None:
            continue
        if am.group(1) == b"[":
            arr = page[am.end() - 1 : _balanced_span(page, am.end() - 1, 0x5B, 0x5D)]
            holder = pnum
        else:
            holder = int(am.group(1).split()[0])
            arr = body(holder)
        # annotation items: direct dicts (scan << >>) and indirect refs
        annots: list[tuple[bytes, int]] = []
        i = 0
        while i < len(arr):
            dm = re.compile(rb"<<").search(arr, i)
            rm = re.compile(rb"(\d+)\s+0\s+R").search(arr, i)
            if dm is not None and (rm is None or dm.start() < rm.start()):
                end = _balanced_span(arr, dm.start(), 0x3C, 0x3E)
                annots.append((arr[dm.start() : end], holder))
                i = end
            elif rm is not None:
                anum = int(rm.group(1))
                annots.append((_dict_of(body(anum)), anum))
                i = rm.end()
            else:
                break
        for annot, owner in annots:
            if not re.search(rb"/Subtype\s*/Link\b", annot):
                continue
            # materialize the action: inline /A dicts are nested in the
            # annot bytes (search the annot directly); an indirect /A
            # ref resolves to its own object, whose number wins string
            # decryption (§7.6.2)
            action, act_owner = annot, owner
            am = re.search(rb"/A\s+(\d+)\s+0\s+R", annot)
            if am is not None:
                act_owner = int(am.group(1))
                action = _dict_of(body(act_owner))
            if re.search(rb"/S\s*/URI\b", action):
                try:
                    val = _pdf_string(action, b"URI")
                except ValueError:
                    continue
                out.append(
                    (idx, "uri", dec_str(val, act_owner).decode("latin-1"), None)
                )
                continue
            if re.search(rb"/S\s*/GoToR\b", action):
                # remote action: /F file string + /D [page-number ...]
                # (remote dests index pages — they cannot hold refs
                # into another file, §12.6.4.3)
                try:
                    fname = dec_str(_pdf_string(action, b"F"), act_owner)
                except ValueError:
                    continue
                dm = re.search(rb"/D\s*\[\s*(\d+)\b(?!\s+0\s+R)", action)
                if dm is None:
                    continue
                out.append(
                    (idx, "gotor", fname.decode("latin-1"), int(dm.group(1)))
                )
                continue
            # intra-document edge: the annotation's own /Dest key or a
            # /GoTo action's /D, resolved through the shared machinery
            spec = _dest_spec(annot, b"Dest")
            spec_owner = owner
            if spec is None:
                if not re.search(rb"/S\s*/GoTo\b", action):
                    continue
                spec = _dest_spec(action, b"D")
                spec_owner = act_owner
            try:
                target = resolve(spec, spec_owner, "link on page %d" % idx)
            except ValueError:
                continue
            out.append((idx, "goto", None, target))
    return out


def pdf_attachments(data: bytes, password: bytes = b"") -> list[tuple[str, bytes]]:
    """Embedded files from the catalog's §7.7.4 /Names /EmbeddedFiles
    name tree, as ``(name, bytes)`` in tree order — the
    attachment-harvest pass (invoice XML, source data, portfolio
    members). The tree may be a flat /Names leaf or /Kids-subdivided
    (the portfolio-producer shape); /Filespec dicts direct in the
    tree root or by reference; streams decrypt and unfilter through
    the standard paths."""
    if not data.startswith(b"%PDF-"):
        raise ValueError("not a PDF (missing %PDF- header)")
    return _pdf_attachments_loaded(*_load(data, password))


def _pdf_attachments_loaded(
    body, trailer: bytes, decrypt
) -> list[tuple[str, bytes]]:
    catalog = _dict_of(body(_ref(trailer, b"Root")))

    def sub_dict(container: bytes, key: bytes) -> bytes | None:
        m = re.search(key + rb"\s*(<<|\d+\s+0\s+R)", container)
        if m is None:
            return None
        if m.group(1) == b"<<":
            return container[
                m.end() - 2 : _balanced_span(container, m.end() - 2, 0x3C, 0x3E)
            ]
        return _dict_of(body(int(m.group(1).split()[0])))

    names = sub_dict(catalog, rb"/Names")
    if names is None:
        return []
    ef = sub_dict(names, rb"/EmbeddedFiles")
    if ef is None:
        return []
    refs: dict[bytes, int] = {}
    _name_tree_node(body, ef, refs)
    out: list[tuple[str, bytes]] = []
    for nameb, fs_ref in refs.items():
        fs = _dict_of(body(fs_ref))
        efd = sub_dict(fs, rb"/EF")
        if efd is None:
            raise ValueError("/Filespec without /EF")
        sm = re.search(rb"/F\s+(\d+)\s+0\s+R", efd)
        if sm is None:
            raise ValueError("/EF without an /F stream ref")
        snum = int(sm.group(1))
        sbody = body(snum)
        sd = _dict_of(sbody)
        raw = _stream_of(sbody, _int(sd, b"Length"))
        if decrypt is not None:
            raw = decrypt(snum, raw)
        out.append((_pdf_text_decode(nameb), _decode_stream(sd, raw)))
    return out


def pdf_form_fields(data: bytes, password: bytes = b"") -> list[tuple[str, str]]:
    """Text-field harvest from the §12.7.2 interactive-form dictionary,
    as ``(name, value)`` in /Fields order — the filled-form extraction
    pass (applications, invoices, questionnaires). Subset: flat
    terminal /Tx fields — hierarchical fields (/Kids) and non-text
    field types are typed errors; an un-filled field (no /V) yields an
    empty value. String decryption follows §7.6.2: only strings whose
    winning object lives top-level decrypt (the AES handlers declare
    /StrF /Identity, so only RC4/V2 fields are ciphertext)."""
    if not data.startswith(b"%PDF-"):
        raise ValueError("not a PDF (missing %PDF- header)")
    return _pdf_form_fields_loaded(*_load(data, password))


def _pdf_form_fields_loaded(
    body, trailer: bytes, decrypt
) -> list[tuple[str, str]]:
    str_decrypt = None
    if decrypt is not None:
        ed = _dict_of(body(_ref(trailer, b"Encrypt")))
        if not re.search(rb"/StrF\s*/Identity\b", ed):
            str_decrypt = decrypt
    packed = getattr(body, "packed_nums", frozenset())
    catalog = _dict_of(body(_ref(trailer, b"Root")))
    m = re.search(rb"/AcroForm\s*(<<|\d+\s+0\s+R)", catalog)
    if m is None:
        return []
    if m.group(1) == b"<<":
        af = catalog[
            m.end() - 2 : _balanced_span(catalog, m.end() - 2, 0x3C, 0x3E)
        ]
    else:
        af = _dict_of(body(int(m.group(1).split()[0])))
    fm = re.search(rb"/Fields\s*\[", af)
    if fm is None:
        return []
    arr = af[fm.end() - 1 : _balanced_span(af, fm.end() - 1, 0x5B, 0x5D)]
    out: list[tuple[str, str]] = []
    for rm in re.finditer(rb"(\d+)\s+0\s+R", arr):
        fnum = int(rm.group(1))
        field = _dict_of(body(fnum))
        if re.search(rb"/Kids\b", field):
            raise ValueError(
                "hierarchical /AcroForm fields (/Kids) are not in the subset"
            )
        ft = re.search(rb"/FT\s*/(\w+)", field)
        if ft is None or ft.group(1) != b"Tx":
            raise ValueError(
                "field type /%s is outside the text-field subset"
                % (ft.group(1).decode() if ft else "?")
            )
        name = _pdf_string(field, b"T")
        try:
            value = _pdf_string(field, b"V")
        except ValueError:
            value = b""  # un-filled field
        if str_decrypt is not None and fnum not in packed:
            name = str_decrypt(fnum, name)
            if value:
                value = str_decrypt(fnum, value)
        out.append((_pdf_text_decode(name), _pdf_text_decode(value)))
    return out


def _name_tree_refs(
    body, node_num: int, out: dict[bytes, int], depth: int = 0
) -> None:
    """Collect (name -> value object number) pairs from a §7.9.6 name
    tree — a flat ``/Names`` leaf or a ``/Kids``-subdivided tree (the
    pdfTeX / dvips shape) — in tree order (python dicts preserve
    insertion order). Subset: values must be indirect refs (direct
    values are a typed error)."""
    _name_tree_node(body, _dict_of(body(node_num)), out, depth)


def _name_tree_node(
    body, node: bytes, out: dict[bytes, int], depth: int = 0
) -> None:
    """:func:`_name_tree_refs` over an already-materialized node dict
    (the root may be a DIRECT dict inside the catalog's /Names)."""
    if depth > 64:
        raise ValueError("name tree deeper than 64 levels")
    km = re.search(rb"/Kids\s*\[([^\]]*)\]", node)
    if km is not None:
        for m in re.finditer(rb"(\d+)\s+0\s+R", km.group(1)):
            _name_tree_refs(body, int(m.group(1)), out, depth + 1)
        return
    nm = re.search(rb"/Names\s*\[", node)
    if nm is None:
        return  # an empty intermediate node contributes nothing
    arr = node[nm.end() - 1 : _balanced_span(node, nm.end() - 1, 0x5B, 0x5D)]
    i = 1
    while True:
        m = re.compile(rb"\(|<(?!<)").search(arr, i)
        if m is None:
            return
        if arr[m.start()] == 0x28:
            nameb, j = _parse_pdf_literal(arr, m.start())
        else:
            e = arr.index(b">", m.start())
            nameb = bytes.fromhex(arr[m.start() + 1 : e].decode("ascii"))
            j = e + 1
        vm = re.compile(rb"\s*(\d+)\s+0\s+R").match(arr, j)
        if vm is None:
            raise ValueError(
                "name tree values must be indirect refs in the subset"
            )
        out[nameb] = int(vm.group(1))
        i = vm.end()


#: /Dest (or action /D) value shapes: an inline ``[page 0 R ...]``
#: array, a literal-string name, a name object, or an indirect ref.
_DEST_RE = re.compile(
    rb"/(Dest|D)\s*(\[\s*(\d+)\s+0\s+R|\(|<(?!<)|/([^\s/\[\]<>()]+)|(\d+)\s+0\s+R)"
)


def _dest_spec(container: bytes, key_first: bytes):
    """The destination named by ``/Dest`` (outline item) or ``/D``
    (GoTo action) in ``container``: ('page', obj_num) for array
    destinations, ('name', bytes) for named ones, ('ref', obj_num)
    for an indirect destination object, or None."""
    for m in _DEST_RE.finditer(container):
        if m.group(1) != key_first:
            continue
        tok = m.group(2)
        if tok.startswith(b"["):
            return ("page", int(m.group(3)))
        if tok == b"(":
            s, _ = _parse_pdf_literal(container, m.start(2))
            return ("name", s)
        if tok.startswith(b"<"):
            e = container.index(b">", m.start(2))
            return ("name", bytes.fromhex(container[m.start(2) + 1 : e].decode()))
        if m.group(4) is not None:
            return ("nameobj", m.group(4))  # /name form: never encrypted
        return ("ref", int(m.group(5)))
    return None


def _make_dest_resolver(body, catalog: bytes, dec_str):
    """Shared §12.3.2.3 destination resolution for outline items and
    /GoTo link annotations: returns ``resolve(spec, owner, ctx)``
    mapping a :func:`_dest_spec` result to a target page index,
    following named destinations through the catalog's /Names /Dests
    name tree (flat or /Kids-subdivided) and indirect destination
    objects (bare array or ``<< /D [...] >>``), with a 4-hop chain
    guard. The page-number→index table and the name table are built
    lazily and shared across calls."""
    page_index: dict[int, int] | None = None
    named: dict[bytes, int] | None = None

    def pages() -> dict[int, int]:
        nonlocal page_index
        if page_index is None:
            page_index = {
                pnum: idx
                for idx, pnum in enumerate(_page_numbers(body, _ref(catalog, b"Pages")))
            }
        return page_index

    def named_table() -> dict[bytes, int]:
        nonlocal named
        if named is None:
            named = {}
            nm = re.search(rb"/Names\s*(<<|\d+\s+0\s+R)", catalog)
            if nm is not None:
                if nm.group(1) == b"<<":
                    names_d = catalog[
                        nm.end() - 2 : _balanced_span(catalog, nm.end() - 2, 0x3C, 0x3E)
                    ]
                else:
                    names_d = _dict_of(body(int(nm.group(1).split()[0])))
                dm = re.search(rb"/Dests\s+(\d+)\s+0\s+R", names_d)
                if dm is not None:
                    raw: dict[bytes, int] = {}
                    _name_tree_refs(body, int(dm.group(1)), raw)
                    named = raw
        return named

    def resolve(spec, owner: int, ctx: str) -> int:
        for _hop in range(4):
            if spec is None:
                raise ValueError("%s has no destination" % ctx)
            kind, val = spec
            if kind == "page":
                if val not in pages():
                    raise ValueError(
                        "%s targets non-page object %d" % (ctx, val)
                    )
                return pages()[val]
            if kind in ("name", "nameobj"):
                # string-form names decrypt with their winning object;
                # name-OBJECT forms (/name) are never encrypted.
                # Name-tree leaf keys are compared as stored — the
                # writer keeps them plaintext under every handler
                # (leaf nodes pack into the ObjStm, §7.6.2-exempt)
                name = dec_str(val, owner) if kind == "name" else val
                dest_num = named_table().get(name)
                if dest_num is None:
                    raise ValueError(
                        "%s names an unknown destination %r" % (ctx, name[:60])
                    )
                spec = ("ref", dest_num)
                continue
            # indirect destination object: bare array or << /D [...] >>
            db = body(val)
            bm = re.match(rb"\s*\[\s*(\d+)\s+0\s+R", db)
            if bm is not None:
                spec = ("page", int(bm.group(1)))
                continue
            spec = _dest_spec(_dict_of(db), b"D")
            owner = val
        raise ValueError("%s destination chain exceeds 4 hops" % ctx)

    return resolve


def pdf_outline(data: bytes, password: bytes = b"") -> list[tuple[int, str, int]]:
    """Document-outline (bookmark) harvest from the §12.3.3 /Outlines
    tree, as pre-order ``(level, title, page_index)`` rows — the
    table-of-contents pass a document-understanding pipeline runs for
    section segmentation. The /First → /Next graph is walked with a
    visited-set cycle guard. Real-producer shapes are covered
    (interop-pinned on third-party pdfTeX files): titles direct or as
    indirect string objects, destinations as direct ``/Dest`` arrays,
    indirect dest objects (bare array or ``<< /D [...] >>``), or
    NAMED destinations reached through ``/A << /S /GoTo /D (name)
    >>`` actions and resolved via the catalog's /Names /Dests name
    tree (flat or /Kids-subdivided). Strings decrypt per §7.6.2 with
    their winning object's number (top-level objects only)."""
    if not data.startswith(b"%PDF-"):
        raise ValueError("not a PDF (missing %PDF- header)")
    return _pdf_outline_loaded(*_load(data, password))


def _pdf_outline_loaded(
    body, trailer: bytes, decrypt
) -> list[tuple[int, str, int]]:
    str_decrypt = None
    if decrypt is not None:
        ed = _dict_of(body(_ref(trailer, b"Encrypt")))
        if not re.search(rb"/StrF\s*/Identity\b", ed):
            str_decrypt = decrypt
    packed = getattr(body, "packed_nums", frozenset())

    def dec_str(s: bytes, owner: int) -> bytes:
        if str_decrypt is not None and owner not in packed:
            return str_decrypt(owner, s)
        return s

    catalog = _dict_of(body(_ref(trailer, b"Root")))
    om = re.search(rb"/Outlines\s+(\d+)\s+0\s+R", catalog)
    if om is None:
        return []
    resolve = _make_dest_resolver(body, catalog, dec_str)

    def resolve_page(item: bytes, owner: int, item_num: int) -> int:
        ctx = "outline item %d" % item_num
        spec = _dest_spec(item, b"Dest")
        if spec is None:
            # follow the /A GoTo action (direct dict or indirect)
            am = re.search(rb"/A\s+(\d+)\s+0\s+R", item)
            if am is not None:
                anum = int(am.group(1))
                action = _dict_of(body(anum))
            else:
                adm = re.search(rb"/A\s*<<", item)
                if adm is None:
                    raise ValueError(
                        "outline item %d has neither /Dest nor a /GoTo action"
                        % item_num
                    )
                anum = owner
                action = item[
                    adm.end() - 2 : _balanced_span(item, adm.end() - 2, 0x3C, 0x3E)
                ]
            if not re.search(rb"/S\s*/GoTo\b", action):
                raise ValueError(
                    "outline item %d has a non-GoTo action" % item_num
                )
            spec = _dest_spec(action, b"D")
            owner = anum
        return resolve(spec, owner, ctx)

    out: list[tuple[int, str, int]] = []
    seen: set[int] = set()

    def walk(node_num: int, level: int) -> None:
        if level > 64:
            raise ValueError("outline tree deeper than 64 levels")
        node = _dict_of(body(node_num))
        fm = re.search(rb"/First\s+(\d+)\s+0\s+R", node)
        cur = int(fm.group(1)) if fm else None
        while cur is not None:
            if cur in seen:
                raise ValueError("outline graph contains a cycle at %d" % cur)
            seen.add(cur)
            item = _dict_of(body(cur))
            tm = re.search(rb"/Title\s+(\d+)\s+0\s+R", item)
            if tm is not None:
                # pdfTeX stores titles as indirect string objects;
                # the string's winning object is the string object
                tnum = int(tm.group(1))
                tb = body(tnum)
                sm = re.match(rb"\s*\(", tb)
                if sm is not None:
                    title, _ = _parse_pdf_literal(tb, sm.end() - 1)
                else:
                    hm = re.match(rb"\s*<([0-9A-Fa-f\s]*)>", tb)
                    if hm is None:
                        raise ValueError(
                            "outline item %d /Title ref is not a string" % cur
                        )
                    title = bytes.fromhex(
                        hm.group(1).decode().replace(" ", "").replace("\n", "")
                    )
                title = dec_str(title, tnum)
            else:
                title = dec_str(_pdf_string(item, b"Title"), cur)
            out.append(
                (
                    level,
                    _pdf_text_decode(title),
                    resolve_page(item, cur, cur),
                )
            )
            walk(cur, level + 1)
            nm = re.search(rb"/Next\s+(\d+)\s+0\s+R", item)
            cur = int(nm.group(1)) if nm else None

    walk(int(om.group(1)), 1)
    return out


def _pdf_text_decode(s: bytes) -> str:
    """§7.9.2.2 text-string decoding: UTF-16BE with BOM, else
    PDFDocEncoding (approximated as latin-1 for the printable range,
    which matches real-producer titles), with UTF-8 attempted first
    (what this writer and many modern producers emit)."""
    if s.startswith(b"\xfe\xff"):
        return s[2:].decode("utf-16-be", "replace")
    try:
        return s.decode("utf-8")
    except UnicodeDecodeError:
        return s.decode("latin-1")


def _encrypt_body_stream(body: bytes, num: int, enc) -> bytes:
    """Encrypt the stream payload of an already-serialized object body
    (no-op for dict-only objects). RC4 preserves length; AES grows the
    payload (IV + padding), so the dict's /Length is patched to the
    ciphertext size — per spec /Length always describes the bytes
    physically in the file."""
    m = re.search(rb"stream\r?\n", body)
    if m is None:
        return body
    length = _int(_dict_of(body), b"Length")
    start = m.end()
    ct = enc(num, body[start : start + length])
    head = body[:start]
    if len(ct) != length:
        head = re.sub(
            rb"/Length\s+%d\b" % length, b"/Length %d" % len(ct), head, count=1
        )
    return head + ct + body[start + length :]


_HEADER15 = b"%PDF-1.5\n"


def _emit_pdf15(
    objects: dict[int, bytes],
    extra_toplevel: set[int] | None = None,
    enc=None,
    trailer_extra: bytes = b"",
) -> bytes:
    """PDF 1.5 emission: non-stream objects packed into one compressed
    /ObjStm; stream objects (contents, rasters) stay top-level (the
    spec forbids streams inside object streams); binary xref stream
    (/W [1 4 2]) carrying the trailer fields, no ``trailer`` keyword.
    With encryption, the /Encrypt dict stays top-level (the spec
    forbids it inside an object stream), the ObjStm payload is
    RC4-encrypted under its own object number, and the xref stream
    stays plaintext — all per ISO 32000-1 §7.5.7/§7.6.2."""
    # catalog (1), pages tree (2), page dicts (3+3i) are dict-only;
    # contents (4+3i) and rasters (5+3i) are stream objects and must
    # stay top-level (the spec forbids streams inside object streams)
    extra_toplevel = extra_toplevel or set()
    packed = {
        n: b
        for n, b in objects.items()
        if (n < 3 or (n - 3) % 3 == 0) and n not in extra_toplevel
    }
    toplevel = {n: b for n, b in objects.items() if n not in packed}
    objstm_num = max(objects) + 1
    xref_num = objstm_num + 1

    header, payload = bytearray(), bytearray()
    index_in_stm: dict[int, int] = {}
    for i, num in enumerate(sorted(packed)):
        header += b"%d %d " % (num, len(payload))
        payload += packed[num] + b"\n"
        index_in_stm[num] = i
    content = zlib.compress(bytes(header) + bytes(payload), 6)
    if enc is not None:
        content = enc(objstm_num, content)
    objstm_body = (
        b"<< /Type /ObjStm /N %d /First %d /Filter /FlateDecode /Length %d >>\n"
        b"stream\n%s\nendstream" % (len(packed), len(header), len(content), content)
    )

    out = bytearray(_HEADER15)
    offsets: dict[int, int] = {}
    for num in sorted(toplevel):
        offsets[num] = len(out)
        out += _obj(num, toplevel[num])
    offsets[objstm_num] = len(out)
    out += _obj(objstm_num, objstm_body)

    # xref stream rows, /W [1 4 2]: (type, field2, field3)
    xref_at = len(out)
    size = xref_num + 1
    rows = bytearray()
    for num in range(size):
        if num == 0:
            t, f2, f3 = 0, 0, 65535  # free head
        elif num in index_in_stm:
            t, f2, f3 = 2, objstm_num, index_in_stm[num]
        elif num == xref_num:
            t, f2, f3 = 1, xref_at, 0
        elif num in offsets:
            t, f2, f3 = 1, offsets[num], 0
        else:  # gap (inline-image pages emit no raster object)
            t, f2, f3 = 0, 0, 65535
        rows += bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
    xref_body = (
        b"<< /Type /XRef /Size %d /W [1 4 2] /Root 1 0 R%s /Length %d >>\n"
        b"stream\n%s\nendstream" % (size, trailer_extra, len(rows), bytes(rows))
    )
    out += _obj(xref_num, xref_body)
    out += b"startxref\n%d\n%%%%EOF\n" % xref_at
    return bytes(out)


_OBJ_RE = re.compile(rb"(\d+)\s+0\s+obj\b")
_STREAM_RE = re.compile(rb"stream\r?\n")


def _objects(data: bytes) -> dict[int, tuple[int, int]]:
    """Map object number -> (body_start, body_end) byte spans.

    Scans ``N 0 obj`` markers forward rather than trusting the xref
    table (tolerant of the off-spec offsets real-world tools emit) —
    but raster stream payloads are raw bytes that can legitimately
    contain ``N 0 obj`` / ``endobj`` sequences, so the scan must never
    look inside a stream: after each object's dictionary, if a stream
    follows, its /Length bytes are skipped before searching for
    ``endobj``.

    DICT-LESS objects (bare strings/arrays/integers as indirect
    objects — pdfTeX stores outline titles this way) end at the first
    ``endobj``: when that keyword appears before any ``<<``, the
    object has no dictionary and the dict/stream probe must not run
    (it would read the NEXT object's dict and overshoot this span)."""
    spans: dict[int, tuple[int, int]] = {}
    pos = 0
    while True:
        m = _OBJ_RE.search(data, pos)
        if m is None:
            break
        num, start = int(m.group(1)), m.end()
        eo = data.find(b"endobj", start)
        lt = data.find(b"<<", start)
        if lt == -1 or (eo != -1 and eo < lt):
            if eo == -1:
                raise ValueError("unterminated object %d" % num)
            spans[num] = (start, eo)
            pos = eo + 6
            continue
        body_probe = data[start : start + _MAX_DICT]
        d = _dict_of(body_probe)
        dict_end = start + body_probe.find(b"<<") + len(d)
        sm = _STREAM_RE.match(data, _skip_ws(data, dict_end))
        if sm is not None:
            length = _int(d, b"Length")
            search_from = sm.end() + length
        else:
            search_from = dict_end
        end = data.find(b"endobj", search_from)
        if end == -1:
            raise ValueError("unterminated object %d" % num)
        spans[num] = (start, end)
        pos = end + len(b"endobj")
    return spans


#: Upper bound on a subset dictionary's serialized size — object dicts
#: here are small; the cap keeps the balanced-<<>> scan from walking
#: into a multi-megabyte raster on malformed input.
_MAX_DICT = 4096


def _skip_ws(data: bytes, pos: int) -> int:
    while pos < len(data) and data[pos : pos + 1] in (b" ", b"\t", b"\r", b"\n"):
        pos += 1
    return pos


def _dict_of(body: bytes) -> bytes:
    start = body.find(b"<<")
    if start == -1:
        raise ValueError("object has no dictionary")
    depth, i = 0, start
    while i < len(body) - 1:
        pair = body[i : i + 2]
        if pair == b"<<":
            depth, i = depth + 1, i + 2
        elif pair == b">>":
            depth, i = depth - 1, i + 2
            if depth == 0:
                return body[start:i]
        else:
            i += 1
    raise ValueError("unbalanced dictionary")


def _stream_of(body: bytes, length: int) -> bytes:
    """Extract exactly ``length`` stream bytes (per /Length) — raster
    bytes may themselves end in CR/LF, so newline-stripping heuristics
    would corrupt them; the spec's byte count is the only safe cut."""
    m = re.search(rb"stream\r?\n", body)
    if m is None:
        raise ValueError("object has no stream")
    raw = body[m.end() : m.end() + length]
    if len(raw) != length:
        raise ValueError("stream shorter than /Length %d" % length)
    return raw


def _ref(d: bytes, key: bytes) -> int:
    m = re.search(rb"/" + key + rb"\s+(\d+)\s+0\s+R", d)
    if m is None:
        raise ValueError("missing /%s reference" % key.decode())
    return int(m.group(1))


def _int(d: bytes, key: bytes) -> int:
    m = re.search(rb"/" + key + rb"\s+(\d+)", d)
    if m is None:
        raise ValueError("missing /%s" % key.decode())
    return int(m.group(1))


_FILTER_ARRAY_RE = re.compile(rb"/Filter\s*\[([^\]]*)\]")
_FILTER_NAME_RE = re.compile(rb"/Filter\s*/(\w+)")


def _filters_of(d: bytes) -> list[bytes]:
    """The stream's declared /Filter names in application order
    (possibly a chain, e.g. ``[/ASCII85Decode /FlateDecode]``);
    empty list when raw."""
    am = _FILTER_ARRAY_RE.search(d)
    if am is not None:
        return re.findall(rb"/(\w+)", am.group(1))
    nm = _FILTER_NAME_RE.search(d)
    return [] if nm is None else [nm.group(1)]


def _filter_of(d: bytes) -> bytes | None:
    """The LAST declared filter (the innermost encoding — what decides
    raster routing); None when raw."""
    names = _filters_of(d)
    return names[-1] if names else None


def _parms_of(d: bytes) -> bytes | None:
    """The stream's /DecodeParms (or legacy /DP) dictionary, if any —
    either inline ``<<..>>`` or a one-element array of one (the
    single-filter shapes; filter chains are rejected upstream)."""
    m = re.search(rb"/(?:DecodeParms|DP)\s*(\[\s*)?<<", d)
    if m is None:
        return None
    start = d.find(b"<<", m.start())
    depth, i = 0, start
    while i < len(d) - 1:
        pair = d[i : i + 2]
        if pair == b"<<":
            depth, i = depth + 1, i + 2
        elif pair == b">>":
            depth, i = depth - 1, i + 2
            if depth == 0:
                return d[start:i]
        else:
            i += 1
    raise ValueError("unbalanced /DecodeParms dictionary")


def _int_default(d: bytes, key: bytes, default: int) -> int:
    m = re.search(rb"/" + key + rb"\s+(\d+)", d)
    return default if m is None else int(m.group(1))


def _parms_list_of(d: bytes, n: int) -> list[bytes | None]:
    """/DecodeParms aligned to the filter chain: an array parses as
    ``null`` / ``<<..>>`` elements in order; a bare single dict with a
    multi-filter chain attaches to the LAST filter (the compression
    stage — the only one real producers parameterize)."""
    m = re.search(rb"/(?:DecodeParms|DP)\s*(\[|<<)", d)
    if m is None:
        return [None] * n
    if m.group(1) == b"<<":
        single = _parms_of(d)
        out: list[bytes | None] = [None] * n
        if n:
            out[-1] = single
        return out
    out = []
    i = m.end()
    while i < len(d) and len(out) < n:
        c = d[i : i + 1]
        if c in (b" ", b"\t", b"\r", b"\n"):
            i += 1
            continue
        if c == b"]":
            break
        if d.startswith(b"null", i):
            out.append(None)
            i += 4
            continue
        if d.startswith(b"<<", i):
            sub = _dict_of(d[i:])
            out.append(sub)
            i += len(sub)
            continue
        raise ValueError("malformed /DecodeParms array")
    out.extend([None] * (n - len(out)))
    return out


def _apply_byte_filter(name: bytes, raw: bytes, parms: bytes | None) -> bytes:
    """One byte-oriented filter stage + its predictor post-step."""
    from pdf_ocr_spark.sources import pdffilters

    if name == b"FlateDecode":
        try:
            out = zlib.decompress(raw)
        except zlib.error as e:
            raise ValueError("corrupt FlateDecode stream: %s" % e) from None
    elif name == b"LZWDecode":
        early = _int_default(parms or b"", b"EarlyChange", 1)
        out = pdffilters.lzw_decode(raw, early_change=early)
    elif name == b"RunLengthDecode":
        return pdffilters.runlength_decode(raw)
    elif name == b"ASCIIHexDecode":
        return pdffilters.asciihex_decode(raw)
    elif name == b"ASCII85Decode":
        return pdffilters.ascii85_decode(raw)
    else:
        raise ValueError("unsupported stream filter /%s" % name.decode())
    if parms is not None:
        pred = _int_default(parms, b"Predictor", 1)
        if pred != 1:
            out = pdffilters.predictor_decode(
                out,
                pred,
                columns=_int_default(parms, b"Columns", 1),
                colors=_int_default(parms, b"Colors", 1),
                bpc=_int_default(parms, b"BitsPerComponent", 8),
            )
    return out


def _decode_stream(d: bytes, raw: bytes) -> bytes:
    """Apply the stream's declared /Filter CHAIN in order for
    byte-oriented streams: FlateDecode (stdlib zlib), LZWDecode,
    ASCIIHexDecode, ASCII85Decode (from-scratch codecs in
    :mod:`pdf_ocr_spark.sources.pdffilters`), each with its
    /DecodeParms predictor when declared (TIFF 2 and the PNG family
    10-15 — the shape most real image producers and 1.5 xref streams
    emit). Any other filter raises naming it, so the Spark source can
    emit a typed error row that tells the user exactly which codec
    their file needs. (/DCTDecode and /CCITTFaxDecode raster streams
    are routed to the from-scratch codecs by the image path in
    decode_pdf, not here.)"""
    names = _filters_of(d)
    if not names:
        return raw
    parms = _parms_list_of(d, len(names))
    for name, p in zip(names, parms):
        raw = _apply_byte_filter(name, raw, p)
    return raw


def _pdf_string(d: bytes, key: bytes) -> bytes:
    """A dictionary entry's string value: hex ``<...>`` or literal
    ``(...)``. The literal branch delegates to
    :func:`_parse_pdf_literal` for the full escape set — octal
    ``\\ooo`` in particular, which real producers (Acrobat) use to
    embed the binary /O and /U digests as literal strings."""
    m = re.search(rb"/" + key + rb"\s*<([0-9A-Fa-f\s]*)>", d)
    if m is not None:
        return bytes.fromhex(m.group(1).decode().replace(" ", "").replace("\n", ""))
    m = re.search(rb"/" + key + rb"\s*\(", d)
    if m is None:
        raise ValueError("missing /%s string" % key.decode())
    try:
        s, _ = _parse_pdf_literal(d, m.end() - 1)
    except ValueError:
        raise ValueError("unterminated /%s string" % key.decode()) from None
    return s


def _decrypt_fn(data: bytes, body, trailer: bytes, password: bytes = b""):
    """Standard-security-handler detection: when the trailer names an
    /Encrypt dictionary, authenticate ``password`` (default empty —
    the common "encrypted but freely readable" shape) and return a
    per-object stream decryptor. Legacy revisions (ISO 32000-1
    §7.6.3, RC4 R2/R3 and AES-128 V4/R4) try the password as user
    first, then as owner (Algorithm 7 recovery); V5/R6 (/AESV3
    AES-256, ISO 32000-2 §7.6.4) authenticates both roles via
    Algorithm 2.A. A password that matches neither role raises
    ``ValueError('password required')`` -> typed error. Returns None
    for unencrypted files."""
    em = re.search(rb"/Encrypt\s+(\d+)\s+0\s+R", trailer)
    if em is None:
        return None
    from pdf_ocr_spark.sources import pdfcrypt

    d = _dict_of(body(int(em.group(1))))
    if not re.search(rb"/Filter\s*/Standard\b", d):
        raise ValueError("unsupported PDF security handler (Standard only)")
    v = _int(d, b"V")
    r = _int(d, b"R")

    if v == 5:
        if r not in (5, 6):
            raise ValueError("unsupported encryption V=5 R=%d" % r)
        if not re.search(rb"/CFM\s*/AESV3\b", d):
            cfm = re.search(rb"/CFM\s*/(\w+)", d)
            raise ValueError(
                "V5 encryption requires /AESV3, found /%s"
                % (cfm.group(1).decode() if cfm else "<missing>")
            )
        u, o = _pdf_string(d, b"U"), _pdf_string(d, b"O")
        ue, oe = _pdf_string(d, b"UE"), _pdf_string(d, b"OE")
        pm = re.search(rb"/P\s+(-?\d+)", d)
        try:
            perms = _pdf_string(d, b"Perms")
        except ValueError:
            perms = None
        fkey = pdfcrypt.file_key_r6(
            u, ue, o, oe, password, perms, int(pm.group(1)) if pm else None
        )
        return lambda num, raw: pdfcrypt.aes256_cbc_decrypt(fkey, raw)

    aes = False
    if v == 4 and r == 4:
        # crypt-filter dispatch: /AESV2 (AES-128-CBC) or /V2 (RC4)
        if re.search(rb"/CFM\s*/AESV2\b", d):
            aes = True
        elif not re.search(rb"/CFM\s*/V2\b", d):
            cfm = re.search(rb"/CFM\s*/(\w+)", d)
            raise ValueError(
                "unsupported crypt filter /%s (AESV2 and V2 only)"
                % (cfm.group(1).decode() if cfm else "<missing>")
            )
    elif v not in (1, 2) or r not in (2, 3):
        raise ValueError(
            "unsupported encryption V=%d R=%d (RC4 V1/V2 R2/R3, AES V4/R4, "
            "AES-256 V5/R6 only)" % (v, r)
        )
    encrypt_metadata = not re.search(rb"/EncryptMetadata\s+false", d)
    lm = re.search(rb"/Length\s+(\d+)", d)
    key_bytes = 16 if aes else (int(lm.group(1)) // 8) if lm else 5
    if not 5 <= key_bytes <= 16:
        # spec range is 40..128 bits; a corrupt /Length must be a typed
        # error, not a zero-length RC4 key (fuzz-found)
        raise ValueError("invalid encryption key length %d bits" % (key_bytes * 8))
    pm = re.search(rb"/P\s+(-?\d+)", d)
    if pm is None:
        raise ValueError("missing /P")
    o, u = _pdf_string(d, b"O"), _pdf_string(d, b"U")
    idm = re.search(rb"/ID\s*\[\s*<([0-9A-Fa-f]+)>", trailer)
    if idm is None:
        raise ValueError("encrypted file missing /ID")
    id1 = bytes.fromhex(idm.group(1).decode())
    # try as user password, then as owner password (Algorithm 7)
    candidates = [password]
    if password:
        candidates.append(
            pdfcrypt.recover_user_password(o, password, key_bytes, r)
        )
    fkey = None
    for cand in candidates:
        k = pdfcrypt.file_key(
            o,
            int(pm.group(1)),
            id1,
            r,
            key_bytes,
            user_password=cand,
            encrypt_metadata=encrypt_metadata,
        )
        if pdfcrypt.check_user_password(k, u, id1, min(r, 3)):
            fkey = k
            break
    if fkey is None:
        raise ValueError("password required (standard security handler)")
    if aes:
        return lambda num, raw: pdfcrypt.aes128_cbc_decrypt(
            pdfcrypt.object_key(fkey, num, aes=True), raw
        )
    return lambda num, raw: pdfcrypt.decrypt_object(fkey, num, raw)


def _load(data: bytes, password: bytes = b""):
    """Resolve the object graph: top-level ``N 0 obj`` spans plus the
    members of every **/ObjStm** (PDF 1.5 object streams — decompressed
    and indexed via their ``N``/``First`` header), and the trailer
    dictionary — the classic ``trailer`` keyword when present, else the
    cross-reference stream's own dict (1.5 files have no keyword).
    RC4-encrypted files (standard handler, empty user password) are
    transparently decrypted. Returns ``(body, trailer_dict, decrypt)``
    where ``body(num)`` yields an object's bytes wherever it lives and
    ``decrypt`` is None or a ``(num, raw) -> bytes`` stream decryptor
    for top-level stream objects."""
    spans = _objects(data)
    xref_dict: bytes | None = None
    dicts: dict[int, bytes] = {}
    for num in spans:
        s, e = spans[num]
        try:
            dicts[num] = _dict_of(data[s:e])
        except ValueError:
            continue
        if re.search(rb"/Type\s*/XRef\b", dicts[num]):
            xref_dict = dicts[num]

    def span_body(num: int) -> bytes:
        if num not in spans:
            raise ValueError("dangling reference to object %d" % num)
        s, e = spans[num]
        return data[s:e]

    troot = data.rfind(b"trailer")
    if troot != -1:
        trailer = data[troot:]
    elif xref_dict is not None:
        trailer = xref_dict
    else:
        raise ValueError("missing trailer")

    decrypt = _decrypt_fn(data, span_body, trailer, password)

    packed: dict[int, bytes] = {}
    for num, d in dicts.items():
        if not re.search(rb"/Type\s*/ObjStm\b", d):
            continue
        raw = _stream_of(span_body(num), _int(d, b"Length"))
        if decrypt is not None:
            raw = decrypt(num, raw)
        content = _decode_stream(d, raw)
        first = _int(d, b"First")
        pairs = [int(x) for x in content[:first].split()]
        nums, offs = pairs[0::2], pairs[1::2]
        if len(nums) != _int(d, b"N") or len(nums) != len(offs):
            raise ValueError("malformed /ObjStm header")
        bounds = offs[1:] + [len(content) - first]
        for onum, off, end in zip(nums, offs, bounds):
            packed[onum] = content[first + off : first + end]

    def body(num: int) -> bytes:
        if num in spans:
            return span_body(num)
        if num in packed:
            return packed[num]
        raise ValueError("dangling reference to object %d" % num)

    # §7.6.2: strings inside object streams are NOT individually
    # encrypted (the ObjStm payload is) — string readers need to know
    # where the WINNING definition lives to decide whether to decrypt
    # its strings (a top-level span shadows an ObjStm member)
    body.packed_nums = frozenset(packed) - spans.keys()
    return body, trailer, decrypt


def decode_pdf(data: bytes, password: bytes = b"") -> list[np.ndarray]:
    """Parse a scanned-page-subset PDF into its page images, in order."""
    if not data.startswith(b"%PDF-"):
        raise ValueError("not a PDF (missing %PDF- header)")
    body, trailer, decrypt = _load(data, password)
    catalog = _dict_of(body(_ref(trailer, b"Root")))
    pages_ref = _ref(catalog, b"Pages")
    pages_dict = _dict_of(body(pages_ref))
    # leaf pages in document order — real producers balance large
    # documents into NESTED page trees (intermediate /Pages nodes),
    # which _page_numbers walks; the flat single-level tree this
    # writer emits is just the depth-1 case
    kid_nums = list(_page_numbers(body, pages_ref))
    if not kid_nums:
        raise ValueError("empty /Kids")

    # §7.7.3.3 /Rotate is INHERITABLE: a value on the pages-tree node
    # applies to every page that doesn't override it (the placement
    # many producers use for a uniformly sideways-scanned file)
    inherited_m = re.search(rb"/Rotate\s+(-?\d+)", pages_dict)

    images: list[np.ndarray] = []
    for kid in kid_nums:
        page = _dict_of(body(kid))
        # §7.7.3.3 /Rotate: the viewer shall rotate the page this many
        # degrees CLOCKWISE for display — honour it on the decoded
        # raster (np.rot90 is counter-clockwise, hence the negation)
        rot = 0
        rot_m = re.search(rb"/Rotate\s+(-?\d+)", page) or inherited_m
        if rot_m is not None:
            rot = int(rot_m.group(1)) % 360
            if rot % 90:
                raise ValueError(
                    "page /Rotate %s is not a multiple of 90" % rot_m.group(1).decode()
                )

        def orient(img: np.ndarray) -> np.ndarray:
            if rot:
                return np.ascontiguousarray(np.rot90(img, -(rot // 90)))
            return img

        xobj_m = re.search(rb"/XObject\s*<<([^>]*)>>", page)
        if xobj_m is not None:
            img_num = _ref(xobj_m.group(1), b"Im0")
            images.append(orient(_decode_image_xobject(body, img_num, decrypt)))
            continue
        # no raster XObject: the fax-converter / print-driver shape
        # stores the scan as an INLINE image (§8.9.7) in the content
        # stream itself — fetch, decrypt, unfilter, and scan BI..ID..EI
        cm = re.search(rb"/Contents\s+(\d+)\s+0\s+R", page)
        if cm is None:
            raise ValueError(
                "page %d has no image XObject and no /Contents" % kid
            )
        cnum = int(cm.group(1))
        cbody = body(cnum)
        cd = _dict_of(cbody)
        raw = _stream_of(cbody, _int(cd, b"Length"))
        if decrypt is not None:
            raw = decrypt(cnum, raw)
        inline_imgs = _decode_inline_images(_decode_stream(cd, raw))
        if len(inline_imgs) != 1:
            raise ValueError(
                "page %d has no image XObject and %d inline images "
                "(scanned-page subset expects exactly 1)"
                % (kid, len(inline_imgs))
            )
        images.append(orient(inline_imgs[0]))
    return images


_BI_RE = re.compile(rb"(?<![A-Za-z0-9])BI(?=[\s/])")
_ID_RE = re.compile(rb"(?<![A-Za-z0-9])ID(?=\s)")

#: §8.9.7 Table 91 abbreviated-name equivalents (keys and filters)
_INLINE_FILTER_NAMES = {
    b"Fl": b"FlateDecode",
    b"AHx": b"ASCIIHexDecode",
    b"A85": b"ASCII85Decode",
    b"LZW": b"LZWDecode",
    b"RL": b"RunLengthDecode",
    b"CCF": b"CCITTFaxDecode",
    b"DCT": b"DCTDecode",
}


def _decode_inline_images(content: bytes) -> list[np.ndarray]:
    """Find and decode every §8.9.7 inline image (``BI … ID <data> EI``)
    in an unfiltered content stream, in stream order. Subset: 8-bit
    /G(/DeviceGray) or /RGB(/DeviceRGB) samples, unfiltered or
    /Fl(/FlateDecode) or /RL(/RunLengthDecode) data — the shapes
    fax-converters and print drivers emit; abbreviated and full key /
    filter names both accepted. The data length is never guessed from
    an ``EI`` scan (raw sample bytes may contain ``EI``): raw length
    is computed from /W /H /CS, Flate self-terminates (zlib EOF), and
    RunLength has an explicit EOD byte — ``EI`` is then *verified* to
    follow."""
    out: list[np.ndarray] = []
    pos = 0
    while True:
        bi = _BI_RE.search(content, pos)
        if bi is None:
            return out
        idm = _ID_RE.search(content, bi.end(), bi.end() + 4096)
        if idm is None:
            raise ValueError("inline image: BI without matching ID")
        params = content[bi.end() : idm.start()]
        if re.search(rb"/(?:IM|ImageMask)\s+true\b", params):
            raise ValueError("inline image masks are not in the subset")
        if re.search(rb"/(?:D|Decode)\s*\[", params):
            raise ValueError("inline image /Decode arrays are not in the subset")
        wm = re.search(rb"/(?:W|Width)\s+(\d+)", params)
        hm = re.search(rb"/(?:H|Height)\s+(\d+)", params)
        if wm is None or hm is None:
            raise ValueError("inline image missing /W or /H")
        w, h = int(wm.group(1)), int(hm.group(1))
        bm = re.search(rb"/(?:BPC|BitsPerComponent)\s+(\d+)", params)
        if bm is not None and int(bm.group(1)) != 8:
            raise ValueError(
                "inline image /BPC %s is outside the 8-bit subset" % bm.group(1)
            )
        csm = re.search(rb"/(?:CS|ColorSpace)\s*/(\w+)", params)
        cs = csm.group(1) if csm is not None else b"G"
        if cs in (b"G", b"DeviceGray"):
            channels = 1
        elif cs in (b"RGB", b"DeviceRGB"):
            channels = 3
        else:
            raise ValueError(
                "inline image colorspace /%s is outside the subset"
                % cs.decode("ascii", "replace")
            )
        fm = re.search(rb"/(?:F|Filter)\s*(?:/(\w+)|\[\s*/(\w+)\s*\])", params)
        filt = None
        if fm is not None:
            filt = fm.group(1) or fm.group(2)
            filt = _INLINE_FILTER_NAMES.get(filt, filt)
        start = idm.end() + 1  # exactly one whitespace byte after ID
        if filt is None:
            end = start + h * w * channels
            if end > len(content):
                raise ValueError("inline image data truncated")
            dec = content[start:end]
        elif filt == b"FlateDecode":
            z = zlib.decompressobj()
            try:
                dec = z.decompress(content[start:])
            except zlib.error as e:
                raise ValueError("inline image Flate data: %s" % e) from None
            if not z.eof:
                raise ValueError("inline image Flate data truncated")
            end = len(content) - len(z.unused_data)
        elif filt == b"RunLengthDecode":
            from pdf_ocr_spark.sources import pdffilters

            i = start
            while i < len(content) and content[i] != 128:
                i += (content[i] + 2) if content[i] < 128 else 2
            if i >= len(content):
                raise ValueError("inline image RunLength data missing EOD")
            end = i + 1
            dec = pdffilters.runlength_decode(content[start:end])
        else:
            raise ValueError(
                "inline image filter /%s is outside the subset"
                % filt.decode("ascii", "replace")
            )
        if len(dec) != h * w * channels:
            raise ValueError(
                "inline image has %d sample bytes, %dx%dx%d declared"
                % (len(dec), h, w, channels)
            )
        tail = content[end : end + 64]
        if re.match(rb"\s*EI(?![A-Za-z0-9])", tail) is None:
            raise ValueError("inline image data not terminated by EI")
        arr = np.frombuffer(dec, dtype=np.uint8)
        out.append(
            arr.reshape(h, w) if channels == 1 else arr.reshape(h, w, 3)
        )
        pos = end


def _resolve_colorspace(d: bytes, body, decrypt) -> tuple[int, np.ndarray | None]:
    """Resolve an image dict's /ColorSpace into ``(channels,
    palette)``. Subset: the Device spaces, ``[/ICCBased N 0 R]``
    (channels from the profile stream's /N — the profile itself is
    advisory to an un-color-managed reader, §8.6.5.5), and
    ``[/Indexed base hival lookup]`` (§8.6.6.3) with a Device or
    ICCBased base and a hex-string, literal-string, or stream-ref
    lookup. ``palette`` is the ``(hival+1) x base_channels`` uint8
    lookup table for Indexed, else None (``channels`` is then the
    SAMPLE channel count: 1 for Indexed). The array form may itself
    be an indirect reference (the born-digital producer layout)."""
    m = re.search(
        rb"/(?:ColorSpace|CS)\s*(\[[^\]]*\]|/\w+|\d+\s+0\s+R)", d
    )
    if m is None:
        raise ValueError("image has no /ColorSpace (subset needs one)")
    cs = m.group(1)
    if cs[:1] not in (b"/", b"["):  # indirect reference to the array
        cs = body(int(cs.split()[0])).strip()

    def base_channels(txt: bytes) -> int:
        if re.search(rb"/DeviceGray\b", txt):
            return 1
        if re.search(rb"/DeviceRGB\b", txt):
            return 3
        if re.search(rb"/DeviceCMYK\b", txt):
            return 4
        im = re.search(rb"/ICCBased\s+(\d+)\s+0\s+R", txt)
        if im is not None:
            prof = _dict_of(body(int(im.group(1))))
            n = _int(prof, b"N")
            if n not in (1, 3, 4):
                raise ValueError("ICCBased /N %d is outside the subset" % n)
            return n
        nm = re.search(rb"/(\w+)", txt)
        raise ValueError(
            "unsupported colorspace /%s (subset: Device*, ICCBased, Indexed)"
            % (nm.group(1).decode("ascii", "replace") if nm else "<missing>")
        )

    idx = re.search(
        rb"/(?:Indexed|I)\b\s*(.*?)\s+(\d+)\s+(<[0-9A-Fa-f\s]*>"
        rb"|\([^)]*\)|\d+\s+0\s+R)\s*$",
        cs.strip(b"[] \n\r\t"), re.S,
    ) if cs.startswith(b"[") and re.search(rb"/(?:Indexed|I)\b", cs) else None
    if idx is None:
        return base_channels(cs), None
    n_base = base_channels(idx.group(1))
    hival = int(idx.group(2))
    lk = idx.group(3)
    if lk.startswith(b"<"):
        lookup = bytes.fromhex(
            b"".join(lk[1:-1].split()).decode("ascii")
        )
    elif lk.startswith(b"("):
        lookup, _ = _parse_pdf_literal(lk, 0)
    else:
        lnum = int(lk.split()[0])
        lbody = body(lnum)
        ld = _dict_of(lbody)
        lraw = _stream_of(lbody, _int(ld, b"Length"))
        if decrypt is not None:
            lraw = decrypt(lnum, lraw)
        lookup = _decode_stream(ld, lraw)
    need = (hival + 1) * n_base
    if len(lookup) < need:
        raise ValueError(
            "indexed lookup has %d bytes, hival %d needs %d"
            % (len(lookup), hival, need)
        )
    palette = np.frombuffer(lookup[:need], dtype=np.uint8).reshape(
        hival + 1, n_base
    )
    return 1, palette


def _decode_image_xobject(body, img_num: int, decrypt) -> np.ndarray:
    """Decode one image XObject (by object number) into an HxW[x3]
    uint8 array — the shared raster path for the scanned-page reader
    and the interleaved span extractor. Handles raw / Flate / LZW
    (+predictors), DCT (JPEG), CCITT G4, and ASCII-wrapped chains."""
    img_body = body(img_num)
    d = _dict_of(img_body)
    channels, palette = _resolve_colorspace(d, body, decrypt)
    w, h = _int(d, b"Width"), _int(d, b"Height")
    stream = _stream_of(img_body, _int(d, b"Length"))
    if decrypt is not None:
        stream = decrypt(img_num, stream)
    # a chain ending in a raster filter (e.g. [/ASCII85Decode
    # /DCTDecode]) applies its byte filters before raster decode
    chain = _filters_of(d)
    if palette is not None and chain and chain[-1] in (
        b"DCTDecode", b"CCITTFaxDecode", b"JBIG2Decode", b"JPXDecode",
    ):
        raise ValueError(
            "indexed color composes with raw/Flate/LZW streams only"
        )
    if chain and chain[-1] in (
        b"DCTDecode", b"CCITTFaxDecode", b"JBIG2Decode", b"JPXDecode",
    ):
        chain_parms = _parms_list_of(d, len(chain))
        for name, p in zip(chain[:-1], chain_parms[:-1]):
            stream = _apply_byte_filter(name, stream, p)
    if _filter_of(d) == b"DCTDecode":
        from pdf_ocr_spark.sources.jpegcodec import decode_jpeg

        img = decode_jpeg(stream)
        got_channels = 1 if img.ndim == 2 else img.shape[2]
        if img.shape[:2] != (h, w) or got_channels != channels:
            raise ValueError(
                "DCT raster is %s, XObject declares %dx%dx%d"
                % (img.shape, h, w, channels)
            )
        img = _apply_decode_array(d, img, channels)
        return _cmyk_to_rgb(img) if channels == 4 else img
    if _filter_of(d) == b"JPXDecode":
        from pdf_ocr_spark.sources import jpxcodec

        img = jpxcodec.decode_jpx(stream)
        got_channels = 1 if img.ndim == 2 else img.shape[2]
        if img.shape[:2] != (h, w):
            raise ValueError(
                "JPX raster is %s, XObject declares %dx%d" % (img.shape, h, w)
            )
        # §7.4.9: the codestream's colour description overrides the
        # dict; a gray codestream under a /DeviceRGB dict (or vice
        # versa) is tolerated like real readers do
        img = _apply_decode_array(d, img, got_channels)
        return img
    if _filter_of(d) == b"CCITTFaxDecode":
        from pdf_ocr_spark.sources import ccittcodec

        if channels != 1:
            raise ValueError("CCITT rasters must be DeviceGray")
        # last chain slot: with a filter chain the CCITT parms are
        # the final /DecodeParms array element, not the first dict
        parms = _parms_list_of(d, len(chain))[-1] or b""
        km = re.search(rb"/K\s+(-?\d+)", parms)
        k = int(km.group(1)) if km else 0
        cols = _int_default(parms, b"Columns", 1728)
        nrows = _int_default(parms, b"Rows", h)
        if cols != w or nrows != h:
            raise ValueError(
                "CCITT geometry %dx%d, XObject declares %dx%d" % (cols, nrows, w, h)
            )
        align = bool(re.search(rb"/EncodedByteAlign\s+true", parms))
        if k < 0:  # Group 4 (pure MMR)
            black = ccittcodec.g4_decode(stream, cols, nrows, byte_align=align)
        else:  # Group 3: K=0 pure 1-D MH, K>0 mixed (round 5)
            black = ccittcodec.g3_decode(stream, cols, nrows, k=k, byte_align=align)
        # filter emits bits; BlackIs1 false (default) -> 0 is black
        bits = black if re.search(rb"/BlackIs1\s+true", parms) else 1 - black
        return _apply_decode_array(d, (bits * 255).astype(np.uint8), 1)
    if _filter_of(d) == b"JBIG2Decode":
        from pdf_ocr_spark.sources import jbig2codec

        if channels != 1:
            raise ValueError("JBIG2 rasters must be DeviceGray")
        # /JBIG2Globals (shared segment stream, usually symbol dicts)
        # is parsed ahead of the page's own segments
        parms = _parms_list_of(d, len(chain))[-1] or b""
        gm = re.search(rb"/JBIG2Globals\s+(\d+)\s+0\s+R", parms)
        globals_data = None
        if gm is not None:
            gbody = body(int(gm.group(1)))
            gdict = _dict_of(gbody)
            graw = _stream_of(gbody, _int(gdict, b"Length"))
            if decrypt is not None:
                graw = decrypt(int(gm.group(1)), graw)
            globals_data = _decode_stream(gdict, graw)
        bits = jbig2codec.decode_embedded(stream, globals_data)
        if bits.shape != (h, w):
            raise ValueError(
                "JBIG2 page is %dx%d, XObject declares %dx%d"
                % (bits.shape[1], bits.shape[0], w, h)
            )
        # T.88: 1 = black -> DeviceGray 0
        return _apply_decode_array(d, ((1 - bits) * 255).astype(np.uint8), 1)
    raw = _decode_stream(d, stream)
    bpc = _int_default(d, b"BitsPerComponent", 8)
    if palette is not None:
        idx = _unpack_indices(raw, w, h, bpc)
        top = int(idx.max(initial=0))
        if top >= len(palette):
            raise ValueError(
                "indexed sample %d exceeds hival %d" % (top, len(palette) - 1)
            )
        out = palette[idx]  # (h, w, n_base) — §8.6.6.3 lookup
        if palette.shape[1] == 1:
            return out.reshape(h, w)
        if palette.shape[1] == 4:
            return _cmyk_to_rgb(out)
        return out
    img = _unpack_samples(raw, w, h, channels, bpc)
    img = _apply_decode_array(d, img, channels)
    if channels == 1:
        return img.reshape(h, w)
    if channels == 4:
        return _cmyk_to_rgb(img.reshape(h, w, 4))
    return img.reshape(h, w, 3)


def _cmyk_to_rgb(img: np.ndarray) -> np.ndarray:
    """Naive device conversion (the PDF 32000-1 §8.6.4.4 un-managed
    formula): X = (255-C)·(255-K)/255 — shared by the DCT (Adobe
    4-component JPEG) and raw/Flate /DeviceCMYK raster paths. The
    downstream OCR kernel binarizes on luminance, so the exactness
    contract is unaffected."""
    cmy = img[..., :3].astype(np.float64)
    k = img[..., 3:4].astype(np.float64)
    return np.clip(np.rint((255.0 - cmy) * (255.0 - k) / 255.0), 0, 255).astype(
        np.uint8
    )


def page_count(data: bytes, password: bytes = b"") -> int:
    """Page count straight from the pages tree (no raster decode) —
    the cheap metadata scan (reference: pdfinfo-style count,
    app.py:415-430 uses the rasterizer's page list length)."""
    if not data.startswith(b"%PDF-"):
        raise ValueError("not a PDF (missing %PDF- header)")
    body, trailer, _decrypt = _load(data, password)
    return _page_count_loaded(body, trailer)


def _page_count_loaded(body, trailer: bytes) -> int:
    catalog = _dict_of(body(_ref(trailer, b"Root")))
    return _int(_dict_of(body(_ref(catalog, b"Pages"))), b"Count")


def pdf_profile_signals(data: bytes, password: bytes = b"") -> dict:
    """The fused metadata-tier pass: every profile signal from ONE
    object-graph load (``_load`` — the xref/ObjStm/decrypt resolution
    that dominates the per-file cost) instead of one load per signal.
    Per-signal semantics are identical to calling the six public
    harvests: a signal whose walk raises ``ValueError`` comes back
    None without disturbing the others; a file the loader itself
    rejects yields all-None (the error-as-row contract). ``links`` is
    the full pdf_links row list (the caller decides how to count)."""
    out = {
        "n_pages": None, "title": None, "links": None,
        "n_attachments": None, "n_form_fields": None, "n_outline": None,
    }
    try:
        if not data.startswith(b"%PDF-"):
            raise ValueError("not a PDF (missing %PDF- header)")
        body, trailer, decrypt = _load(data, password)
    except ValueError:
        return out
    try:
        out["n_pages"] = _page_count_loaded(body, trailer)
    except ValueError:
        pass
    try:
        out["title"] = _pdf_info_loaded(body, trailer, decrypt).get("title")
    except ValueError:
        pass
    try:
        out["links"] = _pdf_links_loaded(body, trailer, decrypt)
    except ValueError:
        pass
    try:
        out["n_attachments"] = len(_pdf_attachments_loaded(body, trailer, decrypt))
    except ValueError:
        pass
    try:
        out["n_form_fields"] = len(_pdf_form_fields_loaded(body, trailer, decrypt))
    except ValueError:
        pass
    try:
        out["n_outline"] = len(_pdf_outline_loaded(body, trailer, decrypt))
    except ValueError:
        pass
    return out


# ---------------------------------------------------------------------------
# Text-layer PDFs (born-digital documents) — round 4
# ---------------------------------------------------------------------------
#
# The reference rasterizes + OCRs every input (app.py:447-516) because
# its corpus is scans; real-world corpora are mostly born-digital PDFs
# whose text lives in content streams. This writer/extractor pair
# handles that shape: pages of `BT .. ET` blocks with /F1 Tf, Td/TL
# positioning, `(..) Tj`, `[..] TJ` arrays, and T*/'/" line advances.
# Strings are escaped per the spec (\( \) \\ \n octal); non-ASCII text
# is carried as UTF-8 bytes inside literal strings — round-trip exact
# for extraction, though rendering non-Latin glyphs would need CID
# fonts (out of subset, documented).


def _escape_pdf_string(s: bytes) -> bytes:
    out = bytearray()
    for b in s:
        if b in (0x28, 0x29, 0x5C):  # ( ) backslash
            out += b"\\" + bytes([b])
        elif b == 0x0A:
            out += b"\\n"
        elif b == 0x0D:
            out += b"\\r"
        else:
            out.append(b)
    return bytes(out)


#: /Differences variant: lowercase letters remapped to codes >= 0x80 —
#: the content stream then carries high bytes a decoder can only read
#: by consulting the Differences table (the pdfTeX-custom-encoding
#: shape, with /WinAnsiEncoding as the declared base for the rest).
_DIFF_REMAP = {c: 0x80 + i for i, c in enumerate("abcdefghijklmnopqrstuvwxyz")}


def _encode_text_page(
    lines: list[str], encoding: str, ttf_remap: dict[str, int] | None = None
) -> tuple[bytes, str]:
    """(content-stream body, required font flavor) for one page."""
    body = bytearray(b"BT /F1 12 Tf 14 TL 72 720 Td\n")
    for line in lines:
        if encoding == "cid":
            codes = b"".join(ord(ch).to_bytes(2, "big") for ch in line)
            body += b"<" + codes.hex().encode() + b"> Tj T*\n"
            continue
        if encoding == "winansi":
            raw = line.encode("cp1252", errors="replace")
        elif encoding == "differences":
            raw = bytes(
                _DIFF_REMAP.get(ch, ord(ch) if ord(ch) < 128 else 0x3F)
                for ch in line
            )
        elif encoding in ("ttf", "type1"):
            # symbolic-subset codes: document-level remap, no relation
            # to any standard encoding — only the embedded program
            # (TrueType cmap+post / Type1 builtin encoding) can decode
            raw = bytes(ttf_remap[ch] for ch in line)
        else:  # legacy: UTF-8 bytes directly in the literal string
            raw = line.encode("utf-8")
        body += b"(" + _escape_pdf_string(raw) + b") Tj T*\n"
    body += b"ET"
    return bytes(body), encoding


def _tounicode_stream(chars: set[str]) -> bytes:
    """A minimal /ToUnicode CMap for the cid writer: 2-byte Identity
    codespace, one bfrange per used high byte (ranges must not cross
    first-byte boundaries, per ISO 32000-1 §9.10.3)."""
    highs = sorted({ord(c) >> 8 for c in chars} or {0})
    ranges = "".join(
        "<%02x00> <%02xff> <%02x00>\n" % (h, h, h) for h in highs
    )
    return (
        "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
        "/CMapName /Adobe-Identity-UCS def\n/CMapType 2 def\n"
        "1 begincodespacerange\n<0000> <ffff>\nendcodespacerange\n"
        f"{len(highs)} beginbfrange\n{ranges}endbfrange\n"
        "endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend\n"
    ).encode()


def encode_text_pdf(
    pages: list[list[str]],
    encoding: str = "legacy",
    encrypt: bool = False,
) -> bytes:
    """Serialize pages of text lines into a born-digital PDF (Type1
    Helvetica, one `Tj` per line, `T*` line advances). Reuses the
    image writer's object plumbing: object 1 catalog, 2 pages tree,
    per page i (3+3i) page / (4+3i) content, and a shared /F1 font as
    the object after the last page triple.

    ``encoding`` selects the font-encoding shape real producers emit
    (round 5 — so the extractor's font path has first-party fixtures):

    * ``legacy`` — no /Encoding, UTF-8 bytes in literals (the subset
      carrying convention; extraction-exact for any text).
    * ``winansi`` — ``/Encoding /WinAnsiEncoding``, cp1252 bytes (the
      Word-era simple-font shape; bytes >= 0x80 for accented latin).
    * ``differences`` — ``/Encoding << /BaseEncoding /WinAnsiEncoding
      /Differences [...] >>`` remapping a-z to codes 0x80.. (the
      pdfTeX custom-encoding shape — high bytes only decodable via
      the table).
    * ``cid`` — ``/Subtype /Type0`` Identity-H composite font, 2-byte
      hex-string codes, /ToUnicode CMap (the modern Word/LibreOffice
      unicode shape).

    ``encrypt=True`` wraps the file in the RC4-128 R3 standard
    security handler (empty user password — the "protected but freely
    readable" born-digital shape): content and /ToUnicode streams are
    per-object encrypted; the extractor reads them back through the
    same decrypt path the raster corpus exercises."""
    if not pages:
        raise ValueError("a PDF needs at least one page")
    if encoding not in ("legacy", "winansi", "differences", "cid", "ttf", "type1"):
        raise ValueError("unknown text encoding %r" % encoding)
    ttf_remap: dict[str, int] | None = None
    if encoding in ("ttf", "type1"):
        # document-level symbolic code assignment: sorted used chars
        # get sequential codes from 0x20 (deliberately unrelated to
        # their Unicode values — the hard no-/ToUnicode shape)
        chars = sorted({ch for lines in pages for line in lines for ch in line})
        if len(chars) > 0xE0:
            raise ValueError(
                "ttf subset encoding fits at most 224 distinct chars "
                f"(got {len(chars)})"
            )
        ttf_remap = {ch: 0x20 + i for i, ch in enumerate(chars)}
    font_num = 3 + 3 * len(pages)
    objects: dict[int, bytes] = {}
    kids = []
    for i, lines in enumerate(pages):
        page_num, content_num = 3 + 3 * i, 4 + 3 * i
        kids.append(f"{page_num} 0 R")
        objects[page_num] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 {font_num} 0 R >> >> "
            f"/Contents {content_num} 0 R >>"
        ).encode()
        body, _ = _encode_text_page(lines, encoding, ttf_remap)
        objects[content_num] = (
            b"<< /Length %d >>\nstream\n%s\nendstream" % (len(body), body)
        )
    objects[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objects[2] = (
        f"<< /Type /Pages /Kids [{' '.join(kids)}] /Count {len(pages)} >>"
    ).encode()
    if encoding == "winansi":
        objects[font_num] = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/Encoding /WinAnsiEncoding >>"
        )
    elif encoding == "differences":
        diffs = " ".join(
            "%d /%s" % (code, ch) for ch, code in _DIFF_REMAP.items()
        )
        objects[font_num] = (
            "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            "/Encoding << /Type /Encoding /BaseEncoding /WinAnsiEncoding "
            f"/Differences [ {diffs} ] >> >>"
        ).encode()
    elif encoding == "cid":
        tu_num = font_num + 1
        desc_num = font_num + 2
        objects[font_num] = (
            f"<< /Type /Font /Subtype /Type0 /BaseFont /Helvetica "
            f"/Encoding /Identity-H /DescendantFonts [{desc_num} 0 R] "
            f"/ToUnicode {tu_num} 0 R >>"
        ).encode()
        chars = {ch for lines in pages for line in lines for ch in line}
        tu = _tounicode_stream(chars)
        objects[tu_num] = (
            b"<< /Length %d >>\nstream\n%s\nendstream" % (len(tu), tu)
        )
        objects[desc_num] = (
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Helvetica "
            b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
            b"/Supplement 0 >> >>"
        )
    elif encoding == "ttf":
        # the symbolic-subset shape: /TrueType font with NO /ToUnicode
        # and NO /Encoding — only the embedded program (FontFile2's
        # (3,0) cmap + post v2.0 names) decodes the codes (§9.6.6.4)
        from pdf_ocr_spark.sources.pdffonts import build_subset_ttf

        desc_num = font_num + 1
        ff_num = font_num + 2
        code_to_char = {c: ch for ch, c in (ttf_remap or {}).items()}
        ttf = build_subset_ttf(code_to_char, symbolic=True)
        objects[font_num] = (
            b"<< /Type /Font /Subtype /TrueType /BaseFont /SUBSET+Glyphs "
            b"/FirstChar 32 /LastChar %d /FontDescriptor %d 0 R >>"
            % (31 + len(code_to_char), desc_num)
        )
        objects[desc_num] = (
            b"<< /Type /FontDescriptor /FontName /SUBSET+Glyphs /Flags 4 "
            b"/FontBBox [0 0 1000 1000] /ItalicAngle 0 /Ascent 800 "
            b"/Descent -200 /CapHeight 700 /StemV 80 /FontFile2 %d 0 R >>"
            % ff_num
        )
        objects[ff_num] = (
            b"<< /Length %d /Length1 %d >>\nstream\n%s\nendstream"
            % (len(ttf), len(ttf), ttf)
        )
    elif encoding == "type1":
        # the pdfTeX CM-font shape: /Type1 with NO /ToUnicode and NO
        # /Encoding — codes decode only through the embedded program's
        # builtin encoding vector (cleartext `dup N /name put`), the
        # path libtasn1.pdf's CMSY10 subset exercises in the wild
        desc_num = font_num + 1
        ff_num = font_num + 2
        enc_lines = "".join(
            "dup %d /uni%04X put\n" % (c, ord(ch))
            for ch, c in sorted((ttf_remap or {}).items(), key=lambda kv: kv[1])
        )
        clear = (
            "%!PS-AdobeFont-1.0: SubsetT1 001.000\n"
            "/FontName /SUBSET+T1 def\n"
            "/Encoding 256 array\n"
            "0 1 255 {1 index exch /.notdef put} for\n"
            + enc_lines
            + "readonly def\ncurrentdict end\ncurrentfile eexec\n"
        ).encode("ascii")
        binary = b"\x00" * 32  # charstring section stub (extraction
        # never rasterizes; /Length2 just frames it)
        prog = clear + binary + b"0" * 512 + b"\ncleartomark\n"
        objects[font_num] = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /SUBSET+T1 "
            b"/FirstChar 32 /LastChar %d /FontDescriptor %d 0 R >>"
            % (31 + len(ttf_remap or {}), desc_num)
        )
        objects[desc_num] = (
            b"<< /Type /FontDescriptor /FontName /SUBSET+T1 /Flags 4 "
            b"/FontBBox [0 0 1000 1000] /ItalicAngle 0 /Ascent 800 "
            b"/Descent -200 /CapHeight 700 /StemV 80 /FontFile %d 0 R >>"
            % ff_num
        )
        objects[ff_num] = (
            b"<< /Length %d /Length1 %d /Length2 %d /Length3 %d >>"
            b"\nstream\n%s\nendstream"
            % (
                len(prog),
                len(clear),
                len(binary),
                # the actual trailing-segment length, so strict Type1
                # consumers see Length1+Length2+Length3 == stream length
                len(prog) - len(clear) - len(binary),
                prog,
            )
        )
    else:
        objects[font_num] = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"

    trailer_extra = b""
    if encrypt:
        import hashlib

        from pdf_ocr_spark.sources import pdfcrypt

        content_seed = b"".join(objects[n] for n in sorted(objects))
        id1 = hashlib.md5(b"txt" + content_seed).digest()
        perms = -1
        o = pdfcrypt.owner_entry(16, 3, owner_password=b"", user_password=b"")
        fkey = pdfcrypt.file_key(o, perms, id1, 3, 16, user_password=b"")
        u = pdfcrypt.user_entry(fkey, id1, 3)

        def enc(num: int, raw: bytes) -> bytes:
            return pdfcrypt.encrypt_object(fkey, num, raw)

        for num in list(objects):
            objects[num] = _encrypt_body_stream(objects[num], num, enc)
        enc_num = max(objects) + 1
        objects[enc_num] = (
            b"<< /Filter /Standard /V 2 /R 3 /Length 128 /P %d /O <%s> /U <%s> >>"
            % (perms, o.hex().upper().encode(), u.hex().upper().encode())
        )
        idhex = id1.hex().upper().encode()
        trailer_extra = b" /Encrypt %d 0 R /ID [<%s> <%s>]" % (
            enc_num, idhex, idhex,
        )

    out = bytearray(_HEADER)
    offsets: dict[int, int] = {}
    for num in sorted(objects):
        offsets[num] = len(out)
        out += _obj(num, objects[num])
    xref_at = len(out)
    n = max(objects) + 1
    out += b"xref\n0 %d\n" % n
    out += b"0000000000 65535 f \n"
    for num in range(1, n):
        out += b"%010d 00000 n \n" % offsets.get(num, 0)
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R%s >>\nstartxref\n%d\n%%%%EOF\n"
        % (n, trailer_extra, xref_at)
    )
    return bytes(out)


def _parse_pdf_literal(data: bytes, pos: int) -> tuple[bytes, int]:
    """Parse a literal string starting at the '(' — nested parens,
    backslash escapes incl. octal — returning (bytes, pos after ')')."""
    out = bytearray()
    depth = 1
    i = pos + 1
    while i < len(data):
        b = data[i]
        if b == 0x5C:  # backslash
            nxt = data[i + 1 : i + 2]
            if nxt.isdigit():  # octal, 1-3 digits
                j = i + 1
                while j < min(i + 4, len(data)) and data[j : j + 1].isdigit():
                    j += 1
                out.append(int(data[i + 1 : j], 8) & 0xFF)
                i = j
                continue
            table = {b"n": 10, b"r": 13, b"t": 9, b"b": 8, b"f": 12}
            if nxt in table:
                out.append(table[nxt])
                i += 2
                continue
            if nxt in (b"(", b")", b"\\"):
                out += nxt
                i += 2
                continue
            if nxt in (b"\r", b"\n"):
                # \<EOL> = line continuation: emit nothing; \<CR><LF>
                # consumes both bytes
                i += 2
                if nxt == b"\r" and data[i : i + 1] == b"\n":
                    i += 1
                continue
            # unknown escape: the backslash alone is ignored, the
            # character stands (ISO 32000-1 7.3.4.2)
            out += nxt
            i += 2
            continue
        if b == 0x28:
            depth += 1
        elif b == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), i + 1
        out.append(b)
        i += 1
    raise ValueError("unterminated literal string in content stream")


_NAME_RE = re.compile(rb"/([^\s/\[\]<>()]+)")
_NUMBER_RE = re.compile(rb"[-+]?(?:\d+\.?\d*|\.\d+)")


def _text_from_content(content: bytes, fonts: dict[bytes, object] | None = None) -> str:
    """Text items of one content stream in reading order: strings shown
    by Tj / ' / \" / TJ, with Td/TD/T*/'/\" starting new lines. Kern
    numbers inside TJ arrays are ignored (they adjust spacing, not
    text). ``fonts`` maps resource names (b"F1") to string decoders
    (:func:`pdf_ocr_spark.sources.pdffonts.make_decoder`); ``Tf``
    switches the active decoder, and strings decode with the decoder
    active at show time. Without a font map every string decodes via
    the legacy UTF-8 convention."""
    from pdf_ocr_spark.sources.pdffonts import legacy_utf8_decoder

    lines: list[list[str]] = [[]]
    i = 0
    # strings awaiting their operator; None marks a word space inferred
    # from a large negative TJ kern (pdfTeX et al. position spaces by
    # kerning instead of space glyphs — thousandths-of-em units, word
    # gaps run ≈ -250..-600; the -150 threshold is the conventional cut)
    pending: list[bytes | None] = []
    decoder = legacy_utf8_decoder
    last_name: bytes | None = None  # most recent /Name token (Tf operand)
    array_depth = 0

    def newline():
        if lines[-1]:
            lines.append([])

    def show():
        for s in pending:
            lines[-1].append(" " if s is None else decoder(s))
        pending.clear()

    n = len(content)
    while i < n:
        b = content[i]
        if b == 0x28:  # (
            s, i = _parse_pdf_literal(content, i)
            pending.append(s)
            continue
        if b == 0x2F:  # /Name
            m = _NAME_RE.match(content, i)
            if m:
                last_name = m.group(1)
                i = m.end()
                continue
        if b == 0x3C and content[i + 1 : i + 2] == b"<":  # << dict — skip
            i += 2
            continue
        if b == 0x3C:  # hex string
            end = content.find(b">", i)
            if end == -1:
                raise ValueError("unterminated hex string in content stream")
            hx = re.sub(rb"\s", b"", content[i + 1 : end])
            if len(hx) % 2:
                hx += b"0"
            pending.append(bytes.fromhex(hx.decode()))
            i = end + 1
            continue
        if b == 0x5B:  # [ — TJ array opens
            array_depth += 1
            i += 1
            continue
        if b == 0x5D:
            array_depth = max(0, array_depth - 1)
            i += 1
            continue
        if array_depth and (0x30 <= b <= 0x39 or b in (0x2D, 0x2B, 0x2E)):
            m = _NUMBER_RE.match(content, i)
            if m:
                if float(m.group(0)) <= -150.0:
                    pending.append(None)
                i = m.end()
                continue
        if content.startswith(b"Tf", i):
            if fonts and last_name in fonts:
                decoder = fonts[last_name]
            i += 2
            continue
        if content.startswith(b"Tj", i):
            show()
            i += 2
            continue
        if content.startswith(b"TJ", i):
            show()
            i += 2
            continue
        if content.startswith(b"T*", i):
            newline()
            i += 2
            continue
        if content.startswith(b"Td", i) or content.startswith(b"TD", i):
            newline()
            i += 2
            continue
        if b in (0x27, 0x22):  # ' and " show-with-newline operators
            newline()
            show()
            i += 1
            continue
        i += 1
    return "\n".join(" ".join(filter(None, ["".join(ln)])) for ln in lines if ln)


def _walk_pages(body, node_num: int, inherited_res: bytes | None, depth: int = 0):
    """Depth-first leaf pages of the page tree with their effective
    /Resources (own, else inherited from the nearest ancestor — the
    spec's inheritable-attribute rule). Real files (pdfTeX among them)
    nest intermediate /Pages nodes; a flat /Kids is just depth 1."""
    if depth > 64:
        raise ValueError("page tree deeper than 64 levels")
    node = _dict_of(body(node_num))
    res = _resources_of(node, body) or inherited_res
    if re.search(rb"/Type\s*/Page\b(?!s)", node):
        yield node, res
        return
    kids_m = re.search(rb"/Kids\s*\[([^\]]*)\]", node)
    if kids_m is None:
        raise ValueError("missing /Kids")
    for x in re.findall(rb"(\d+)\s+0\s+R", kids_m.group(1)):
        yield from _walk_pages(body, int(x), res, depth + 1)


def _resources_of(node: bytes, body) -> bytes | None:
    """A node's own /Resources dictionary bytes (inline or resolved
    through an indirect reference), or None."""
    m = re.search(rb"/Resources\s*(?:(\d+)\s+0\s+R|(<<))", node)
    if m is None:
        return None
    if m.group(1) is not None:
        return _dict_of(body(int(m.group(1))))
    return _dict_of(node[m.start(2) :])


def _page_fonts(resources: bytes | None, body, get_stream):
    """Resource-name -> string decoder for every font in the page's
    /Font dictionary (inline or indirect refs)."""
    from pdf_ocr_spark.sources.pdffonts import make_decoder

    if resources is None:
        return {}
    fm = re.search(rb"/Font\s*(?:(\d+)\s+0\s+R|(<<))", resources)
    if fm is None:
        return {}
    if fm.group(1) is not None:
        font_res = _dict_of(body(int(fm.group(1))))
    else:
        font_res = _dict_of(resources[fm.start(2) :])
    fonts = {}
    for m in re.finditer(rb"/([^\s/\[\]<>()]+)\s+(\d+)\s+0\s+R", font_res):
        name, num = m.group(1), int(m.group(2))
        fonts[name] = make_decoder(_dict_of(body(num)), body, get_stream)
    return fonts


def extract_text_layer(data: bytes, password: bytes = b"") -> list[str]:
    """Per-page text of a born-digital PDF (content-stream parse, no
    rasterization or OCR). Encrypted files decrypt transparently; a
    page with no text operators yields an empty string. String bytes
    route through each page's font encodings — /Encoding tables with
    /Differences, /ToUnicode CMaps (simple and Type0/CID fonts) — per
    :mod:`pdf_ocr_spark.sources.pdffonts`; fonts declaring neither
    fall back to the subset writer's legacy UTF-8 convention."""
    if not data.startswith(b"%PDF-"):
        raise ValueError("not a PDF (missing %PDF- header)")
    body, trailer, decrypt = _load(data, password)

    def get_stream(num: int) -> bytes:
        sbody = body(num)
        d = _dict_of(sbody)
        raw = _stream_of(sbody, _int(d, b"Length"))
        if decrypt is not None:
            raw = decrypt(num, raw)
        return _decode_stream(d, raw)

    catalog = _dict_of(body(_ref(trailer, b"Root")))
    out = []
    for page, resources in _walk_pages(body, _ref(catalog, b"Pages"), None):
        cm = re.search(rb"/Contents\s+(?:(\d+)\s+0\s+R|\[([^\]]*)\])", page)
        if cm is None:
            out.append("")
            continue
        if cm.group(1) is not None:
            cnums = [int(cm.group(1))]
        else:  # content array: streams concatenate in order
            cnums = [int(x) for x in re.findall(rb"(\d+)\s+0\s+R", cm.group(2))]
        content = b"\n".join(get_stream(c) for c in cnums)
        fonts = _page_fonts(resources, body, get_stream)
        bt = content.find(b"BT")
        et = content.rfind(b"ET")
        out.append(
            _text_from_content(content[bt:et], fonts) if bt != -1 and et > bt else ""
        )
    return out


# ---------------------------------------------------------------------------
# Interleaved (hybrid) pages — round 5
# ---------------------------------------------------------------------------
#
# Real-world PDFs mix born-digital text and raster images ON THE SAME
# PAGE (reports with figures, scans with OCR overlays, slide decks).
# This is exactly the engine's interleaved span model — the north
# star's (kind, text, media_ref, offset) rows — so the writer/extractor
# pair below produces and recovers ordered span sequences from one
# page's content stream: text spans from BT..ET blocks, image spans
# from XObject Do operators, in content-stream order.


def encode_mixed_pdf(pages: list[list[tuple[str, object]]]) -> bytes:
    """Serialize hybrid pages: each page is an ordered list of
    ``('text', [line, ...])`` and ``('image', HxW[x3] uint8 array)``
    segments, interleaved freely. Text uses the legacy UTF-8 Tj
    convention (the font-encoding variants are exercised by
    :func:`encode_text_pdf`); each image is its own Flate XObject.
    Object layout is dynamic (variable objects per page); a correct
    classic xref is emitted."""
    if not pages:
        raise ValueError("a PDF needs at least one page")
    objects: dict[int, bytes] = {}
    kids = []
    next_num = 3
    page_specs = []
    for segments in pages:
        page_num = next_num
        content_num = next_num + 1
        next_num += 2
        img_nums = []
        for kind, _payload in segments:
            if kind == "image":
                img_nums.append(next_num)
                next_num += 1
        page_specs.append((page_num, content_num, img_nums, segments))
        kids.append(f"{page_num} 0 R")
    font_num = next_num
    for page_num, content_num, img_nums, segments in page_specs:
        xobj_entries = " ".join(
            f"/Im{j} {num} 0 R" for j, num in enumerate(img_nums)
        )
        objects[page_num] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 {font_num} 0 R >> "
            f"/XObject << {xobj_entries} >> >> "
            f"/Contents {content_num} 0 R >>"
        ).encode()
        body = bytearray()
        img_idx = 0
        for kind, payload in segments:
            if kind == "text":
                body += b"BT /F1 12 Tf 14 TL 72 720 Td\n"
                for line in payload:
                    body += b"(" + _escape_pdf_string(line.encode("utf-8")) + b") Tj T*\n"
                body += b"ET\n"
            elif kind == "image":
                img = payload
                if img.dtype != np.uint8 or img.ndim not in (2, 3):
                    raise ValueError("image segments must be uint8 2-D/3-D arrays")
                h, w = img.shape[:2]
                colorspace = "/DeviceGray" if img.ndim == 2 else "/DeviceRGB"
                raw = zlib.compress(np.ascontiguousarray(img).tobytes(), 6)
                objects[img_nums[img_idx]] = (
                    f"<< /Type /XObject /Subtype /Image /Width {w} /Height {h} "
                    f"/ColorSpace {colorspace} /BitsPerComponent 8 "
                    f"/Filter /FlateDecode /Length {len(raw)} >>\n"
                ).encode() + b"stream\n" + raw + b"\nendstream"
                body += f"q {w} 0 0 {h} 72 400 cm /Im{img_idx} Do Q\n".encode()
                img_idx += 1
            else:
                raise ValueError("segment kind must be 'text' or 'image'")
        objects[content_num] = (
            b"<< /Length %d >>\nstream\n%s\nendstream" % (len(body), bytes(body))
        )
    objects[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objects[2] = (
        f"<< /Type /Pages /Kids [{' '.join(kids)}] /Count {len(pages)} >>"
    ).encode()
    objects[font_num] = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    return _emit_pdf14(objects)


_DO_RE = re.compile(rb"/(\w+)\s+Do\b")
_BT_RE = re.compile(rb"\bBT\b")


def extract_page_segments(
    data: bytes, password: bytes = b""
) -> list[list[tuple[str, object]]]:
    """Recover each page's ordered segment sequence:
    ``('text', str)`` for every BT..ET block (decoded through the
    page's font encodings) and ``('image', ndarray)`` for every
    XObject ``Do``, in content-stream order — the interleaved span
    sequence of a hybrid document."""
    if not data.startswith(b"%PDF-"):
        raise ValueError("not a PDF (missing %PDF- header)")
    body, trailer, decrypt = _load(data, password)

    def get_stream(num: int) -> bytes:
        sbody = body(num)
        d = _dict_of(sbody)
        raw = _stream_of(sbody, _int(d, b"Length"))
        if decrypt is not None:
            raw = decrypt(num, raw)
        return _decode_stream(d, raw)

    catalog = _dict_of(body(_ref(trailer, b"Root")))
    out: list[list[tuple[str, object]]] = []
    for page, resources in _walk_pages(body, _ref(catalog, b"Pages"), None):
        cm = re.search(rb"/Contents\s+(?:(\d+)\s+0\s+R|\[([^\]]*)\])", page)
        if cm is None:
            out.append([])
            continue
        if cm.group(1) is not None:
            cnums = [int(cm.group(1))]
        else:
            cnums = [int(x) for x in re.findall(rb"(\d+)\s+0\s+R", cm.group(2))]
        content = b"\n".join(get_stream(c) for c in cnums)
        fonts = _page_fonts(resources, body, get_stream)
        xobjects: dict[bytes, int] = {}
        if resources is not None:
            xm = re.search(rb"/XObject\s*(?:(\d+)\s+0\s+R|(<<))", resources)
            if xm is not None:
                if xm.group(1) is not None:
                    xdict = _dict_of(body(int(xm.group(1))))
                else:
                    xdict = _dict_of(resources[xm.start(2) :])
                for m in re.finditer(rb"/([^\s/\[\]<>()]+)\s+(\d+)\s+0\s+R", xdict):
                    xobjects[m.group(1)] = int(m.group(2))
        # merge BT..ET blocks and Do operators by stream position
        events: list[tuple[int, int, str, object]] = []
        for m in _BT_RE.finditer(content):
            et = content.find(b"ET", m.end())
            if et == -1:
                et = len(content)
            events.append((m.start(), et + 2, "text", content[m.start() : et]))
        for m in _DO_RE.finditer(content):
            inside = any(s <= m.start() < e for s, e, k, _ in events if k == "text")
            if not inside:
                events.append((m.start(), m.end(), "image", m.group(1)))
        events.sort(key=lambda e: e[0])
        segments: list[tuple[str, object]] = []
        for _s, _e, kind, payload in events:
            if kind == "text":
                segments.append(("text", _text_from_content(payload, fonts)))
            else:
                num = xobjects.get(payload)
                if num is None:
                    raise ValueError(
                        "Do references undefined XObject /%s"
                        % payload.decode(errors="replace")
                    )
                segments.append(("image", _decode_image_xobject(body, num, decrypt)))
        out.append(segments)
    return out
