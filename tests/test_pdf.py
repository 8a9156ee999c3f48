"""Real-PDF ingestion tests: codec round-trip, binaryFile source,
OCR span equality, and error-as-row on malformed files.

Mirrors the reference's own synthesized-PDF round-trip test
(/root/reference/ocr_test.py:186-265): build a PDF, push it through the
whole pipeline, assert the extracted text equals what was rendered.
"""

from __future__ import annotations

import numpy as np
import pytest

from pdf_ocr_spark.sources.glyphs import render_text_image
from pdf_ocr_spark.sources.pdfcodec import decode_pdf, encode_pdf, page_count
from pdf_ocr_spark.sources.pdfsource import (
    extract_pdf_documents,
    page_texts,
    pdf_page_counts,
    write_pdf_corpus,
)


def test_codec_round_trip_bytes_exact():
    rng = np.random.RandomState(3)
    pages = [rng.randint(0, 256, (h, w)).astype(np.uint8) for h, w in [(40, 30), (13, 99), (1, 1)]]
    pages[0][-1, -1] = 0x0A  # raster ending in LF must survive
    pages[1][-1, -1] = 0x0D  # raster ending in CR must survive
    data = encode_pdf(pages)
    back = decode_pdf(data)
    assert len(back) == 3
    for a, b in zip(pages, back):
        assert (a == b).all()
    assert page_count(data) == 3
    assert encode_pdf(pages) == data  # byte-stable


def test_codec_rejects_non_subset():
    data = encode_pdf([np.zeros((4, 4), dtype=np.uint8)])
    with pytest.raises(ValueError):
        decode_pdf(b"not a pdf")
    with pytest.raises(ValueError, match="DeviceRGBx"):
        decode_pdf(data.replace(b"/DeviceGray", b"/DeviceRGBx"))
    # a /Filter /FlateDecode whose payload is NOT zlib data is corrupt
    with pytest.raises(ValueError, match="corrupt FlateDecode"):
        decode_pdf(
            data.replace(b"/BitsPerComponent", b"/Filter /FlateDecode /BitsPerComponent")
        )


def test_codec_flate_round_trip():
    """FlateDecode (the real-world layout) round-trips byte-exactly and
    actually shrinks scanned-page-shaped (mostly-white) rasters."""
    rng = np.random.RandomState(11)
    noisy = rng.randint(0, 256, (40, 30)).astype(np.uint8)
    page = np.full((120, 200), 255, dtype=np.uint8)
    page[20:30, 10:150] = 0
    data = encode_pdf([noisy, page], compress=True)
    assert b"/FlateDecode" in data
    back = decode_pdf(data)
    assert len(back) == 2 and (back[0] == noisy).all() and (back[1] == page).all()
    assert page_count(data) == 2
    assert encode_pdf([noisy, page], compress=True) == data  # byte-stable
    assert len(data) < len(encode_pdf([noisy, page]))  # compression wins


def test_codec_rgb_round_trip_raw_and_flate():
    rng = np.random.RandomState(5)
    rgb = rng.randint(0, 256, (22, 17, 3)).astype(np.uint8)
    gray = rng.randint(0, 256, (9, 9)).astype(np.uint8)
    for compress in (False, True):
        data = encode_pdf([rgb, gray], compress=compress)
        assert b"/DeviceRGB" in data and b"/DeviceGray" in data
        a, b = decode_pdf(data)
        assert a.shape == (22, 17, 3) and (a == rgb).all()
        assert b.shape == (9, 9) and (b == gray).all()


def test_codec_unsupported_filter_and_chain_are_typed_errors():
    data = encode_pdf([np.zeros((6, 6), dtype=np.uint8)], compress=True)
    # /JPXDecode now routes to the JPEG 2000 codec — zlib bytes are
    # not a codestream, so the typed error names the real problem
    # (round 5: this used to be 'unsupported stream filter')
    with pytest.raises(ValueError, match="JPEG 2000"):
        decode_pdf(data.replace(b"/FlateDecode", b"/JPXDecode\x20\x20"))
    # /DCTDecode now routes to the JPEG codec — zlib bytes are not a
    # JPEG, so the typed error names the real problem (round 3: this
    # used to be 'unsupported stream filter')
    with pytest.raises(ValueError, match="not a JPEG"):
        decode_pdf(data.replace(b"/FlateDecode", b"/DCTDecode\x20\x20"))
    # filter CHAINS are supported since round 5 — a chain whose stages
    # mismatch the actual bytes fails with the stage's own typed error
    # (here: zlib bytes are not an LZW stream), not a chain rejection
    chained = data.replace(
        b"/Filter /FlateDecode", b"/Filter [/LZWDecode /FlateDecode] %"
    )
    with pytest.raises(ValueError, match="LZW"):
        decode_pdf(chained)
    # a chain containing a genuinely unsupported filter names it
    chained2 = data.replace(
        b"/Filter /FlateDecode", b"/Filter [/JBIG2Decode /FlateDecode]"
    )
    with pytest.raises(ValueError, match="JBIG2Decode"):
        decode_pdf(chained2)


@pytest.mark.parametrize("mode", ["flate", "raw", "rle"])
@pytest.mark.parametrize("objstm", [False, True])
def test_inline_image_round_trip(mode, objstm):
    """§8.9.7 inline images (BI..ID..EI in the content stream, no
    raster XObject — the fax-converter / print-driver shape) round-trip
    in all three data forms, both PDF layouts, gray and RGB."""
    rng = np.random.RandomState(11)
    gray = rng.randint(0, 256, (19, 23)).astype(np.uint8)
    rgb = rng.randint(0, 256, (12, 7, 3)).astype(np.uint8)
    data = encode_pdf([gray, rgb], inline=mode, object_streams=objstm)
    assert b"/XObject" not in data or objstm  # ObjStm bytes are Flate
    a, b = decode_pdf(data)
    assert (a == gray).all() and (b == rgb).all()
    assert page_count(data) == 2
    # byte-stable, like every other writer mode
    assert encode_pdf([gray, rgb], inline=mode, object_streams=objstm) == data


@pytest.mark.parametrize("cipher", ["rc4", "aes", "aes256"])
def test_inline_image_encrypted(cipher):
    """Inline data lives inside the content stream, so encryption
    rotates through it like any other stream object."""
    img = render_text_image("inline encrypted page")
    data = encode_pdf([img], inline="flate", encrypt=True, cipher=cipher)
    assert (decode_pdf(data)[0] == img).all()


def test_inline_image_ei_bytes_in_raw_data():
    """Raw sample bytes legitimately containing ``EI`` must not
    truncate the scan — the decoder computes the data length from
    /W /H /CS instead of searching for EI."""
    evil = np.frombuffer(b"xEI Qx" * 20, dtype=np.uint8)[:100].reshape(10, 10).copy()
    data = encode_pdf([evil], inline="raw")
    assert (decode_pdf(data)[0] == evil).all()


def test_inline_image_subset_typed_errors():
    from pdf_ocr_spark.sources.pdfcodec import _decode_inline_images

    def content_for(**kw):
        img = np.zeros((4, 4), dtype=np.uint8)
        data = encode_pdf([img], inline="flate", **kw)
        import re as _re

        m = _re.search(rb"stream\r?\n(.*?)\nendstream", data, _re.S)
        return m.group(1)

    base = content_for()
    with pytest.raises(ValueError, match="BPC"):
        _decode_inline_images(base.replace(b"/BPC 8", b"/BPC 1"))
    with pytest.raises(ValueError, match="colorspace"):
        _decode_inline_images(base.replace(b"/CS /G", b"/CS /CMYK"))
    with pytest.raises(ValueError, match="CCITTFax"):  # /CCF normalized
        _decode_inline_images(base.replace(b"/F /Fl", b"/F /CCF"))
    with pytest.raises(ValueError, match="mask"):
        _decode_inline_images(base.replace(b"/BPC 8", b"/BPC 8 /IM true"))
    with pytest.raises(ValueError, match="truncated|Flate"):
        _decode_inline_images(base[:-10])
    # other raster modes cannot be combined with inline
    with pytest.raises(ValueError, match="inline"):
        encode_pdf([np.zeros((4, 4), dtype=np.uint8)], inline="flate", ccitt=True)
    with pytest.raises(ValueError, match="inline"):
        encode_pdf([np.zeros((4, 4), dtype=np.uint8)], inline="bogus")


@pytest.mark.parametrize("objstm", [False, True])
@pytest.mark.parametrize("compress", [False, True])
def test_indexed_palette_round_trip(objstm, compress):
    """§8.6.6.3 /Indexed palettes (the optimizer/quantizer shape)
    round-trip: bitonal -> 1-bit indices, 4-level gray -> 2-bit,
    RGB palette -> minimal depth; lookup is a hex string."""
    rng = np.random.RandomState(13)
    bitonal = (rng.randint(0, 2, (21, 17)) * 255).astype(np.uint8)
    multi = (rng.randint(0, 4, (9, 11)) * 85).astype(np.uint8)
    pal = np.array(
        [[0, 0, 0], [255, 0, 0], [0, 255, 0], [10, 20, 30], [255, 255, 255]],
        dtype=np.uint8,
    )
    rgb = pal[rng.randint(0, 5, (13, 7))]
    data = encode_pdf(
        [bitonal, multi, rgb], indexed=True, compress=compress,
        object_streams=objstm,
    )
    a, b, c = decode_pdf(data)
    assert (a == bitonal).all() and (b == multi).all() and (c == rgb).all()
    if not objstm:
        assert b"/Indexed" in data


def test_indexed_typed_errors():
    rng = np.random.RandomState(17)
    with pytest.raises(ValueError, match="256"):
        encode_pdf(
            [rng.randint(0, 256, (64, 64, 3)).astype(np.uint8)], indexed=True
        )
    with pytest.raises(ValueError, match="indexed"):
        encode_pdf([np.zeros((4, 4), np.uint8)], indexed=True, rle=True)
    # an index past hival is a typed error, not a silent wrap
    img = (np.arange(16, dtype=np.uint8).reshape(4, 4) * 17)
    data = encode_pdf([img], indexed=True)
    import re as _re

    m = _re.search(rb"/Indexed /DeviceGray (\d+)", data)
    broken = data.replace(
        b"/Indexed /DeviceGray " + m.group(1),
        b"/Indexed /DeviceGray " + str(int(m.group(1)) - 1).encode(),
    )
    with pytest.raises(ValueError, match="hival|lookup"):
        decode_pdf(broken)


@pytest.mark.parametrize("objstm", [False, True])
def test_iccbased_round_trip(objstm):
    """[/ICCBased N 0 R] colorspaces (the born-digital producer
    default) resolve through the profile stream's /N; the profile
    itself is advisory to this un-color-managed reader (§8.6.5.5)."""
    rng = np.random.RandomState(19)
    gray = rng.randint(0, 256, (14, 9)).astype(np.uint8)
    rgb = rng.randint(0, 256, (7, 12, 3)).astype(np.uint8)
    data = encode_pdf([gray, rgb], icc=True, compress=True, object_streams=objstm)
    a, b = decode_pdf(data)
    assert (a == gray).all() and (b == rgb).all()
    if not objstm:
        assert b"/ICCBased" in data and b"acsp" in data


@pytest.mark.parametrize("kw", [dict(indexed=True), dict(icc=True)])
def test_indexed_icc_encrypted(kw):
    rng = np.random.RandomState(23)
    pal = np.array([[0, 0, 0], [200, 100, 50]], dtype=np.uint8)
    rgb = pal[rng.randint(0, 2, (8, 8))]
    data = encode_pdf([rgb], compress=True, encrypt=True, **kw)
    assert (decode_pdf(data)[0] == rgb).all()


def test_pdf_info_round_trip_all_handlers():
    """§14.3.3 /Info + §14.3.2 XMP metadata round-trip in both layouts
    and under every encryption handler: RC4 encrypts the strings
    per-object (V2 mandates it), AES handlers declare /StrF /Identity
    so strings stay plaintext, and the XMP stream is encrypted like
    any other stream."""
    from pdf_ocr_spark.sources.pdfcodec import pdf_info

    img = np.zeros((8, 8), dtype=np.uint8)
    meta = {
        "Title": "Document 7", "Author": "Author 0",
        "Producer": "pdf-ocr-spark 1.0", "CreationDate": "D:20260801000000Z",
    }
    for objstm in (False, True):
        for enc, ciph in (
            (False, "rc4"), (True, "rc4"), (True, "aes"), (True, "aes256"),
        ):
            data = encode_pdf(
                [img], compress=True, object_streams=objstm, info=meta,
                xmp_title="Document 7", encrypt=enc, cipher=ciph,
            )
            got = pdf_info(data)
            assert got == {
                "title": "Document 7", "author": "Author 0",
                "producer": "pdf-ocr-spark 1.0",
                "created": "D:20260801000000Z", "xmp_title": "Document 7",
            }, (objstm, enc, ciph)
            if enc and ciph == "rc4" and not objstm:
                assert b"(Document 7)" not in data  # strings really encrypted
    # absent metadata -> all None; escaping round-trips
    assert all(v is None for v in pdf_info(encode_pdf([img])).values())
    g = pdf_info(encode_pdf([img], info={"Title": r"a(b)\c"}, xmp_title="x & <y>"))
    assert g["title"] == r"a(b)\c" and g["xmp_title"] == "x & <y>"


@pytest.mark.parametrize("objstm", [False, True])
def test_incremental_update_latest_definition_wins(objstm):
    """§7.5.6 incremental updates: the original bytes stay intact, the
    appended xref (classic table or 1.5 xref stream, matching the
    file) chains via /Prev, and readers take the LATEST definition of
    every replaced object — raster AND /Info."""
    from pdf_ocr_spark.sources.pdfcodec import (
        _serialize_info_dict,
        flate_image_xobject,
        incremental_update,
        pdf_info,
    )

    rng = np.random.RandomState(29)
    img = rng.randint(0, 256, (10, 12)).astype(np.uint8)
    img2 = rng.randint(0, 256, (10, 12)).astype(np.uint8)
    base = encode_pdf(
        [img], compress=True, object_streams=objstm,
        info={"Title": "Document 3", "Producer": "pdf-ocr-spark 1.0"},
    )
    import re as _re

    info_num = int(_re.findall(rb"/Info\s+(\d+)\s+0\s+R", base)[-1])
    upd = incremental_update(base, {
        5: flate_image_xobject(img2),
        info_num: _serialize_info_dict(
            {"Title": "Document 3", "Producer": "pdf-ocr-spark 1.1"}
        ),
    })
    assert upd.startswith(base)  # append-only
    assert (decode_pdf(upd)[0] == img2).all()
    assert page_count(upd) == 1
    got = pdf_info(upd)
    assert got["producer"] == "pdf-ocr-spark 1.1" and got["title"] == "Document 3"
    # a second save chains a second /Prev
    upd2 = incremental_update(upd, {5: flate_image_xobject(img)})
    assert (decode_pdf(upd2)[0] == img).all()
    assert upd2.count(b"/Prev") == 2
    with pytest.raises(ValueError, match="encrypted"):
        incremental_update(
            encode_pdf([img], compress=True, encrypt=True), {5: b"<< >>"}
        )


def test_pdf_links_round_trip():
    """§12.5.6.5 /Link annotations with /URI actions round-trip in
    both layouts, under every handler (ObjStm strings are exempt from
    per-string encryption, §7.6.2), on inline-image pages, and with
    parens in the URI."""
    from pdf_ocr_spark.sources.pdfcodec import pdf_links

    img = np.zeros((60, 40), dtype=np.uint8)
    links = [["https://a.example/x", "https://b.example/y(z)"], [],
             ["https://c.example/p2"]]
    want = [(0, "uri", "https://a.example/x", None),
            (0, "uri", "https://b.example/y(z)", None),
            (2, "uri", "https://c.example/p2", None)]
    for objstm in (False, True):
        data = encode_pdf(
            [img, img, img], compress=True, object_streams=objstm,
            page_links=links,
        )
        assert pdf_links(data) == want, objstm
        assert len(decode_pdf(data)) == 3
    for ciph in ("rc4", "aes", "aes256"):
        data = encode_pdf(
            [img], compress=True, object_streams=True, encrypt=True,
            cipher=ciph, page_links=[["https://e.example/enc"]],
        )
        assert pdf_links(data) == [(0, "uri", "https://e.example/enc", None)], ciph
    with pytest.raises(ValueError, match="ObjStm|object_streams"):
        encode_pdf([img], encrypt=True, page_links=[["u"]])
    assert pdf_links(encode_pdf([img])) == []
    data = encode_pdf([img], inline="flate", page_links=[["https://i.example/in"]])
    assert pdf_links(data) == [(0, "uri", "https://i.example/in", None)]


def test_pdf_link_edges_round_trip():
    """Typed link edges: /GoTo actions (direct-array dests), the
    /Dest-key annotation shape, /GoToR remote edges (page NUMBERS in
    the remote dest), NAMED destinations resolved through the /Names
    /Dests tree a named-shape outline registers, and mixed kinds on
    one page — in both layouts and under encryption."""
    from pdf_ocr_spark.sources.pdfcodec import pdf_links

    img = np.zeros((60, 40), dtype=np.uint8)
    links = [
        ["https://a.example/x", ("goto", 2), ("gotor", "other.pdf", 7)],
        [("dest", 0)],
        [],
    ]
    want = [
        (0, "uri", "https://a.example/x", None),
        (0, "goto", None, 2),
        (0, "gotor", "other.pdf", 7),
        (1, "goto", None, 0),
    ]
    for objstm in (False, True):
        data = encode_pdf(
            [img, img, img], compress=True, object_streams=objstm,
            page_links=links,
        )
        assert pdf_links(data) == want, objstm
        assert len(decode_pdf(data)) == 3
    for ciph in ("rc4", "aes", "aes256"):
        data = encode_pdf(
            [img, img, img], compress=True, object_streams=True,
            encrypt=True, cipher=ciph, page_links=links,
        )
        assert pdf_links(data) == want, ciph
    # named destination: the outline's /Names /Dests tree resolves the
    # link's /D (sec.i -> page i)
    toc = [(1, "One", 0), (1, "Two", 1), (1, "Three", 2)]
    data = encode_pdf(
        [img, img, img], compress=True, object_streams=True,
        outlines=toc, outline_shape="named",
        page_links=[[("goto_named", "sec.2")], [], []],
    )
    assert pdf_links(data) == [(0, "goto", None, 2)]
    # an unknown name is skipped, not fatal (harvest stays total)
    data = encode_pdf(
        [img], compress=True, object_streams=True,
        outlines=[(1, "One", 0)], outline_shape="named",
        page_links=[[("goto_named", "sec.9"), "https://ok.example/"]],
    )
    assert pdf_links(data) == [(0, "uri", "https://ok.example/", None)]
    # out-of-range targets are a typed writer error
    with pytest.raises(ValueError, match="targets page"):
        encode_pdf([img], page_links=[[("goto", 3)]])


def test_page_rotate_round_trip():
    """§7.7.3.3 /Rotate: the writer stores the raster pre-rotated
    counter-clockwise and the reader rotates it back clockwise, so
    the round trip is the identity at every angle, in both layouts,
    composed with raster codecs (CCITT bitonal, RGB Flate) and with
    inline-image pages; non-multiple-of-90 is a typed error."""
    rng = np.random.RandomState(43)
    gray = rng.randint(0, 256, (10, 14)).astype(np.uint8)
    rgb = rng.randint(0, 256, (9, 13, 3)).astype(np.uint8)
    bitonal = (rng.randint(0, 2, (16, 24)) * 255).astype(np.uint8)
    for rot in (0, 90, 180, 270, 360, -90):
        for objstm in (False, True):
            data = encode_pdf([gray, rgb], compress=True,
                              object_streams=objstm, rotate=rot)
            got = decode_pdf(data)
            assert (got[0] == gray).all() and (got[1] == rgb).all(), (rot, objstm)
        if rot % 360:
            # the stored raster really is rotated (dims swap at 90/270)
            sw = b"/Rotate %d" % (rot % 360)
            assert sw in encode_pdf([gray], rotate=rot)
    got = decode_pdf(encode_pdf([bitonal], ccitt=True, rotate=90))
    assert (got[0] == bitonal).all()
    got = decode_pdf(encode_pdf([gray], inline="flate", rotate=270))
    assert (got[0] == gray).all()
    got = decode_pdf(encode_pdf([gray], compress=True, object_streams=True,
                                encrypt=True, rotate=180))
    assert (got[0] == gray).all()
    with pytest.raises(ValueError, match="multiple of 90"):
        encode_pdf([gray], rotate=45)
    bad = encode_pdf([gray], rotate=90).replace(b"/Rotate 90", b"/Rotate 45")
    with pytest.raises(ValueError, match="multiple of 90"):
        decode_pdf(bad)
    # /Rotate is inheritable (§7.7.3.4): a single entry on the
    # pages-tree node applies to every page
    for objstm in (False, True):
        data = encode_pdf([gray, rgb], compress=True, object_streams=objstm,
                          rotate=90, rotate_inherit=True)
        got = decode_pdf(data)
        assert (got[0] == gray).all() and (got[1] == rgb).all(), objstm
        if not objstm:  # (the 1.5 layout Flate-packs the pages tree)
            assert data.count(b"/Rotate 90") == 1  # on the tree only


def test_nested_page_tree_decodes():
    """Real producers balance big documents into NESTED page trees
    (intermediate /Pages nodes); decode_pdf walks them in document
    order. Constructed by re-pointing the root /Kids at an appended
    intermediate node — legal because the parser scans object
    markers, never trusting xref offsets."""
    rng = np.random.RandomState(7)
    imgs = [rng.randint(0, 256, (6, 8)).astype(np.uint8) for _ in range(3)]
    flat = encode_pdf(imgs, compress=True)
    assert b"/Kids [3 0 R 6 0 R 9 0 R]" in flat
    # root keeps page 3 and delegates pages 6, 9 to a nested node 90
    nested = flat.replace(
        b"/Kids [3 0 R 6 0 R 9 0 R]", b"/Kids [3 0 R 90 0 R]", 1
    )
    at = nested.rindex(b"xref")
    nested = (
        nested[:at]
        + b"90 0 obj\n<< /Type /Pages /Parent 2 0 R "
        b"/Kids [6 0 R 9 0 R] /Count 2 >>\nendobj\n"
        + nested[at:]
    )
    got = decode_pdf(nested)
    assert len(got) == 3
    assert all((g == i).all() for g, i in zip(got, imgs))
    assert page_count(nested) == 3
    # inherited /Rotate from the ROOT still applies to nested leaves
    rot = encode_pdf(imgs, compress=True, rotate=180, rotate_inherit=True)
    rot_nested = rot.replace(
        b"/Kids [3 0 R 6 0 R 9 0 R]", b"/Kids [3 0 R 90 0 R]", 1
    )
    at = rot_nested.rindex(b"xref")
    rot_nested = (
        rot_nested[:at]
        + b"90 0 obj\n<< /Type /Pages /Parent 2 0 R "
        b"/Kids [6 0 R 9 0 R] /Count 2 >>\nendobj\n"
        + rot_nested[at:]
    )
    got = decode_pdf(rot_nested)
    assert all((g == i).all() for g, i in zip(got, imgs))


def test_pdf_attachments_round_trip():
    """§7.7.4 embedded files round-trip in both layouts and under
    every handler: names come from the catalog's /EmbeddedFiles name
    tree (ObjStm members are exempt from per-string encryption,
    §7.6.2 — enforced by the write guard), contents decrypt+inflate
    through the standard stream paths, and under RC4 the top-level
    /Filespec strings are really ciphertext."""
    from pdf_ocr_spark.sources.pdfcodec import pdf_attachments

    img = np.zeros((8, 8), dtype=np.uint8)
    atts = [
        ("invoice_7.xml", b'<invoice doc="7"><words>40</words></invoice>'),
        ("notes (draft).txt", b"alpha beta\x00\xff binary ok"),
        ("empty.bin", b""),
    ]
    for objstm in (False, True):
        data = encode_pdf([img], compress=True, object_streams=objstm,
                          attachments=atts)
        assert pdf_attachments(data) == atts, objstm
        assert len(decode_pdf(data)) == 1
    for ciph in ("rc4", "aes", "aes256"):
        data = encode_pdf([img], compress=True, object_streams=True,
                          encrypt=True, cipher=ciph, attachments=atts)
        assert pdf_attachments(data) == atts, ciph
        if ciph == "rc4":
            # the top-level /Filespec /F strings are per-object RC4
            # ciphertext, never plaintext literals
            assert b"(invoice_7.xml)" not in data
    # attachments + encryption need the ObjStm layout (catalog strings)
    with pytest.raises(ValueError, match="object_streams"):
        encode_pdf([img], encrypt=True, attachments=atts)
    # no attachments -> empty harvest, never an error
    assert pdf_attachments(encode_pdf([img])) == []
    # coexists with the other catalog tenants (XMP metadata + links)
    data = encode_pdf([img], xmp_title="T", page_links=[["https://l.example/x"]],
                      attachments=atts[:1])
    assert pdf_attachments(data) == atts[:1]
    # a /Kids-subdivided name tree (the portfolio-producer shape)
    # resolves too: re-point /EmbeddedFiles at appended leaf nodes —
    # legal surgery because the parser scans object markers
    flat = encode_pdf([img], attachments=atts)
    import re as _re

    inner = _re.search(rb"/EmbeddedFiles << /Names \[ (.*?) \] >>", flat)
    pairs = _re.findall(rb"\((?:[^()\\]|\\.)*\)\s+\d+ 0 R", inner.group(1))
    assert len(pairs) == 3
    subdiv = flat.replace(
        inner.group(0), b"/EmbeddedFiles << /Kids [91 0 R 92 0 R] >>", 1
    )
    at = subdiv.rindex(b"xref")
    subdiv = (
        subdiv[:at]
        + b"91 0 obj\n<< /Names [ %s %s ] >>\nendobj\n" % (pairs[0], pairs[1])
        + b"92 0 obj\n<< /Names [ %s ] >>\nendobj\n" % pairs[2]
        + subdiv[at:]
    )
    assert pdf_attachments(subdiv) == atts


def test_pdf_form_fields_round_trip():
    """§12.7.2 AcroForm text fields round-trip in both layouts and
    under every handler (RC4 field strings are per-object ciphertext;
    AES declares /StrF /Identity), coexist with link annotations on
    the same page's /Annots, and the subset edges are typed errors."""
    from pdf_ocr_spark.sources.pdfcodec import pdf_form_fields, pdf_links

    img = np.zeros((30, 20), dtype=np.uint8)
    fields = [("applicant", "Ada (Lovelace)"), ("lang", "en"),
              ("notes", ""), ("total", "42")]
    for objstm in (False, True):
        data = encode_pdf([img], compress=True, object_streams=objstm,
                          form_fields=fields)
        assert pdf_form_fields(data) == fields, objstm
        assert len(decode_pdf(data)) == 1
    for ciph in ("rc4", "aes", "aes256"):
        data = encode_pdf([img], compress=True, object_streams=True,
                          encrypt=True, cipher=ciph, form_fields=fields)
        assert pdf_form_fields(data) == fields, ciph
        if ciph == "rc4":
            assert b"(applicant)" not in data  # really ciphertext
    # RC4 without the ObjStm layout also works: field strings encrypt
    # per object, no catalog strings involved
    data = encode_pdf([img], compress=True, encrypt=True, cipher="rc4",
                      form_fields=fields)
    assert pdf_form_fields(data) == fields
    # widgets share page 0's /Annots with link annotations; the link
    # harvest must not see widgets nor vice versa
    data = encode_pdf([img], form_fields=fields,
                      page_links=[["https://l.example/x"]])
    assert pdf_form_fields(data) == fields
    assert pdf_links(data) == [(0, "uri", "https://l.example/x", None)]
    assert pdf_form_fields(encode_pdf([img])) == []
    # subset edges: hierarchical fields and non-text types
    flat = encode_pdf([img], form_fields=fields[:1])
    with pytest.raises(ValueError, match="Kids"):
        pdf_form_fields(flat.replace(b"/FT /Tx /T", b"/Kids[] /T"))
    with pytest.raises(ValueError, match="subset"):
        pdf_form_fields(flat.replace(b"/FT /Tx", b"/FT /Btn"))
    # §7.9.2.2 text strings: a UTF-16BE (BOM) /V decodes (the Word /
    # Acrobat shape for non-ASCII fills)
    u16 = "Zoë".encode("utf-16-be")
    utf = flat.replace(
        b"/V (Ada \\(Lovelace\\))", b"/V <FEFF" + u16.hex().upper().encode() + b">"
    )
    assert utf != flat
    assert pdf_form_fields(utf)[0] == ("applicant", "Zoë")


def test_pdf_outline_round_trip():
    """§12.3.3 outlines: the full /First /Last /Next /Prev /Parent
    /Count graph round-trips in pre-order at three nesting levels, in
    both layouts, under every handler (RC4 titles are per-object
    ciphertext), and the subset edges (cycles, named destinations,
    level skips) are typed errors."""
    from pdf_ocr_spark.sources.pdfcodec import pdf_outline

    img = np.zeros((20, 16), dtype=np.uint8)
    toc = [
        (1, "Chapter 0", 0),
        (2, "Section 0.1 (intro)", 0),
        (3, "Sub 0.1.1", 1),
        (2, "Section 0.2", 1),
        (1, "Chapter 1", 2),
        (2, "Section 1.1", 2),
    ]
    for objstm in (False, True):
        data = encode_pdf([img, img, img], compress=True,
                          object_streams=objstm, outlines=toc)
        assert pdf_outline(data) == toc, objstm
        assert len(decode_pdf(data)) == 3
        # the graph is well-formed: counts match the item total
        assert b"/Type /Outlines" in data or objstm
    for ciph in ("rc4", "aes", "aes256"):
        data = encode_pdf([img, img, img], compress=True, object_streams=True,
                          encrypt=True, cipher=ciph, outlines=toc)
        assert pdf_outline(data) == toc, ciph
        if ciph == "rc4":
            assert b"(Chapter 0)" not in data  # titles really encrypted
    assert pdf_outline(encode_pdf([img])) == []
    with pytest.raises(ValueError, match="skips a level"):
        encode_pdf([img], outlines=[(2, "orphan", 0)])
    with pytest.raises(ValueError, match="targets page"):
        encode_pdf([img], outlines=[(1, "oob", 5)])
    flat = encode_pdf([img], outlines=[(1, "A", 0), (1, "B", 0)])
    # a cycle (B's /Next pointing back at A) is a typed error, and a
    # named destination is outside the subset
    import re as _re

    nums = _re.findall(rb"(\d+) 0 obj\n<< /Title", flat)
    a = nums[0]
    cyc = flat.replace(b"/Prev %s 0 R" % a, b"/Next %s 0 R" % a, 1)
    with pytest.raises(ValueError, match="cycle"):
        pdf_outline(cyc)
    named = flat.replace(b"/Dest [3 0 R /Fit]", b"/Dest /NamedDest42 ", 1)
    with pytest.raises(ValueError, match="unknown destination"):
        pdf_outline(named)


def test_pdf_outline_named_shape_round_trip():
    """The pdfTeX outline shape — indirect /Title string objects,
    /A GoTo actions, a /Kids-subdivided /Names /Dests tree — yields
    the same rows as the direct shape, in both layouts and under the
    AES handlers (RC4 + named is refused: leaf keys would need
    per-string encryption)."""
    from pdf_ocr_spark.sources.pdfcodec import pdf_outline

    img = np.zeros((20, 16), dtype=np.uint8)
    toc = [
        (1, "Chapter 0 (overview)", 0),
        (2, "Section 0.1", 1),
        (1, "Chapter 1", 2),
        (2, "Section 1.1", 2),
        (2, "Section 1.2", 0),
    ]
    for objstm in (False, True):
        data = encode_pdf([img, img, img], compress=True,
                          object_streams=objstm, outlines=toc,
                          outline_shape="named")
        assert pdf_outline(data) == toc, objstm
        assert b"/GoTo" in data or objstm
        assert len(decode_pdf(data)) == 3
    for ciph in ("aes", "aes256"):
        data = encode_pdf([img, img, img], compress=True, object_streams=True,
                          encrypt=True, cipher=ciph, outlines=toc,
                          outline_shape="named")
        assert pdf_outline(data) == toc, ciph
    with pytest.raises(ValueError, match="RC4|rc4"):
        encode_pdf([img], encrypt=True, cipher="rc4",
                   outlines=[(1, "A", 0)], outline_shape="named")
    # named outlines coexist with attachments in one catalog /Names
    data = encode_pdf([img], outlines=[(1, "A", 0)], outline_shape="named",
                      attachments=[("x.txt", b"payload")])
    from pdf_ocr_spark.sources.pdfcodec import pdf_attachments

    assert pdf_outline(data) == [(1, "A", 0)]
    assert pdf_attachments(data) == [("x.txt", b"payload")]


def test_interop_outline_on_real_world_pdfs():
    """The bookmark harvest works on REAL third-party pdfTeX files
    (indirect titles with octal escapes, /A GoTo actions, named
    destinations through /Kids-subdivided /Names /Dests trees,
    negative /Count closed sections) — pinned counts and first rows,
    and every destination resolves to an in-range page."""
    import os

    from pdf_ocr_spark.sources.pdfcodec import pdf_outline

    cases = {
        "/usr/share/doc/libtasn1-doc/libtasn1.pdf": (
            21, (1, "1 Introduction", 3)),
        "/usr/share/doc/shared-mime-info/shared-mime-info-spec.pdf": (
            24, (1, "1. Introduction", 0)),
    }
    found = {p: c for p, c in cases.items() if os.path.exists(p)}
    if not found:
        pytest.skip("no real-world pdfTeX PDFs on this system")
    for p, (n, first) in found.items():
        data = open(p, "rb").read()
        toc = pdf_outline(data)
        assert len(toc) == n, p
        assert toc[0] == first, p
        n_pages = page_count(data)
        assert all(1 <= lvl <= 3 and 0 <= pg < n_pages for lvl, _t, pg in toc), p
        # pre-order: the first item is level 1 and levels never skip
        lvls = [lvl for lvl, _t, _p in toc]
        assert lvls[0] == 1
        assert all(b - a <= 1 for a, b in zip(lvls, lvls[1:]))
    # the sibling metadata/link/form harvests also parse these files
    from pdf_ocr_spark.sources.pdfcodec import (
        pdf_form_fields,
        pdf_info,
        pdf_links,
    )

    for p in found:
        data = open(p, "rb").read()
        info = pdf_info(data)
        assert info["producer"].startswith("pdfTeX-1.40"), info
        assert info["created"].startswith("D:20"), info
        assert pdf_form_fields(data) == []  # no AcroForm in either
        pdf_links(data)  # parses without error (0 or more rows)


def test_inline_image_extracts_through_ocr(spark, tmp_path):
    """End to end: an inline-image scan flows binaryFile -> parse ->
    OCR exactly like the XObject shape (the corpus rotation plants
    these as 1-in-23 docs; see pdfsource.INLINE_RESIDUES)."""
    text = "inline image page words"
    img = render_text_image(text)
    with open(f"{tmp_path}/doc_i.pdf", "wb") as f:
        f.write(encode_pdf([img], inline="rle", object_streams=True))
    rows = extract_pdf_documents(spark, str(tmp_path)).collect()
    assert len(rows) == 1 and rows[0].n_pages == 1
    assert rows[0].txt == text.upper() and rows[0].n_errors == 0


def test_rgb_pdf_extracts_through_ocr(spark, tmp_path):
    """Color scanned pages (DeviceRGB, Flate) flow through binaryFile ->
    parse -> luma -> OCR and produce the same text as the gray path."""
    text = "color page words here"
    gray_img = render_text_image(text)
    rgb_img = np.repeat(gray_img[:, :, None], 3, axis=2)
    root = str(tmp_path)
    with open(f"{root}/doc_c.pdf", "wb") as f:
        f.write(encode_pdf([rgb_img], compress=True))
    rows = extract_pdf_documents(spark, root).collect()
    assert len(rows) == 1 and rows[0].n_pages == 1
    assert rows[0].txt == text.upper() and rows[0].n_errors == 0


def test_unsupported_filter_pdf_becomes_typed_error_row(spark, tmp_path):
    """A scan with a filter outside the subset (/CryptDecode) must
    emit one error row NAMING the filter, not crash; mislabeled
    streams routed to a real codec (DCT since round 3, JPX since
    round 5) become typed error rows via that codec's own errors."""
    data = encode_pdf([np.zeros((8, 8), dtype=np.uint8)], compress=True)
    with open(f"{tmp_path}/doc_c.pdf", "wb") as f:
        f.write(data.replace(b"/FlateDecode", b"/CryptDecode"))
    with open(f"{tmp_path}/doc_j.pdf", "wb") as f:
        f.write(data.replace(b"/FlateDecode", b"/JPXDecode\x20\x20"))
    with open(f"{tmp_path}/doc_k.pdf", "wb") as f:
        f.write(data.replace(b"/FlateDecode", b"/DCTDecode\x20\x20"))
    rows = {r.doc_id: r for r in extract_pdf_documents(spark, str(tmp_path)).collect()}
    assert len(rows) == 3
    assert all((r.n_pages, r.n_errors) == (1, 1) for r in rows.values())
    assert rows["c"].txt.startswith("[Error: ") and "/CryptDecode" in rows["c"].txt
    assert rows["j"].txt.startswith("[Error: ") and "JPEG 2000" in rows["j"].txt
    assert rows["k"].txt.startswith("[Error: ") and "not a JPEG" in rows["k"].txt


def test_page_texts_chunking():
    assert page_texts("", 3) == [""]
    assert page_texts("a b c d", 3) == ["a b c", "d"]
    assert page_texts("a b c", 3) == ["a b c"]


@pytest.fixture(scope="module")
def pdf_dir(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pdfs"))
    docs = spark.createDataFrame(
        [
            ("0", "the quick brown fox jumps over the lazy dog " * 6),
            ("1", "hello world"),
            ("2", "lorem ipsum dolor sit amet " * 9),
        ],
        "doc_id string, text string",
    )
    manifest = {r.doc_id: r.n_pages for r in write_pdf_corpus(docs, root).collect()}
    return root, manifest


def test_binaryfile_page_counts_match_manifest(spark, pdf_dir):
    root, manifest = pdf_dir
    got = {r.doc_id: r.n_pages for r in pdf_page_counts(spark, root).collect()}
    assert got == manifest


def test_extract_spans_equal_rendered_text(spark, pdf_dir):
    """Span-sequence equality for the PDF path: OCR'd page text must
    equal the rendered chunk, uppercased, in page order."""
    root, _ = pdf_dir
    got = {r.doc_id: r for r in extract_pdf_documents(spark, root).collect()}
    texts = {
        "0": "the quick brown fox jumps over the lazy dog " * 6,
        "1": "hello world",
        "2": "lorem ipsum dolor sit amet " * 9,
    }
    assert set(got) == set(texts)
    for doc_id, text in texts.items():
        want = [chunk.upper() for chunk in page_texts(text)]
        assert got[doc_id].txt.split("\n\n") == want
        assert (got[doc_id].n_pages, got[doc_id].n_errors) == (len(want), 0)


def test_corrupt_pdf_is_error_row_not_crash(spark, pdf_dir, tmp_path):
    import shutil

    root, _ = pdf_dir
    alt = str(tmp_path / "withbad")
    shutil.copytree(root, alt)
    with open(f"{alt}/doc_bad.pdf", "wb") as f:
        f.write(b"%PDF-1.4 but truncated garbage")
    out = {r.doc_id: r for r in extract_pdf_documents(spark, alt).collect()}
    assert (out["bad"].n_pages, out["bad"].n_errors) == (1, 1)
    assert out["bad"].txt.startswith("[Error: ") and "\n\n" not in out["bad"].txt
    assert out["1"].txt == "HELLO WORLD"


@pytest.mark.parametrize(
    "reader, bad_rows",
    [
        ("pdf_page_counts", [("bad", -1)]),
        ("read_pdf_info", [("bad", None, None, None, None, None)]),
        ("read_pdf_links", []),
        ("read_pdf_attachments", []),
        ("read_pdf_form_fields", []),
        ("read_pdf_outline", []),
        ("read_pdf_profiles", [("bad", None, None, None, None, None, None)]),
    ],
)
def test_metadata_readers_malformed_file_shape(spark, pdf_dir, tmp_path, reader, bad_rows):
    """Each metadata reader's malformed-file shape is pinned exactly
    (a -1 count, a row of NULLs, or no rows), and a junk file beside
    the good ones leaves the good documents' rows unchanged."""
    import shutil

    from pdf_ocr_spark.sources import pdfsource

    root, _ = pdf_dir
    alt = str(tmp_path / "withbad")
    shutil.copytree(root, alt)
    with open(f"{alt}/doc_bad.pdf", "wb") as f:
        f.write(b"%PDF-1.4 but truncated garbage")
    read = getattr(pdfsource, reader)
    good = sorted(map(tuple, read(spark, root).collect()), key=repr)
    rows = sorted(map(tuple, read(spark, alt).collect()), key=repr)
    assert [r for r in rows if r[0] == "bad"] == bad_rows
    assert [r for r in rows if r[0] != "bad"] == good
    if reader in ("pdf_page_counts", "read_pdf_info", "read_pdf_profiles"):
        assert {r[0] for r in good} == {"0", "1", "2"}


def test_rotated_incrementally_updated_doc_extracts(spark, tmp_path):
    """A fixture doc that is both /Rotate'd (id % 43 == 15) and
    incrementally updated (id % 37 == 13, not encrypted, not inline)
    extracts to its rendered text: the update's re-saved page 0 is
    stored rotated like every other raster. 2122 is the first such id."""
    from pdf_ocr_spark.sources.pdfcodec import pdf_info
    from pdf_ocr_spark.sources.pdfsource import ROTATE_RESIDUES, UPDATE_RESIDUES

    assert 2122 % ROTATE_RESIDUES == 15 and 2122 % UPDATE_RESIDUES == 13
    text = "lorem ipsum dolor sit amet " * 6
    docs = spark.createDataFrame([("2122", text)], "doc_id string, text string")
    out = str(tmp_path / "rotupd")
    write_pdf_corpus(docs, out).count()
    data = open(f"{out}/doc_2122.pdf", "rb").read()
    assert pdf_info(data)["producer"] == "pdf-ocr-spark 1.1"  # the update
    got = extract_pdf_documents(spark, out).select("doc_id", "txt", "n_errors")
    got = [tuple(r) for r in got.collect()]
    assert got == [("2122", "\n\n".join(p.upper() for p in page_texts(text)), 0)]


def test_fixture_cache_rebuilds_after_in_process_rewrite(spark, tmp_path, monkeypatch):
    """A fixture validated earlier in this process is rebuilt when its
    source documents table is rewritten, not served stale."""
    import os

    import pandas as pd

    from pdf_ocr_spark import entrypoints as ep

    monkeypatch.setattr(ep, "_PDF_CACHE_ROOT", str(tmp_path / "cache"))
    sf = tmp_path / "sf_tiny"
    sf.mkdir()

    def write_documents(texts):
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}).to_parquet(
            sf / "documents.parquet"
        )

    def pdfs(out):
        return sorted(f for f in os.listdir(out) if f.endswith(".pdf"))

    write_documents(["alpha beta", "gamma"])
    out = ep._text_pdf_fixture_dir(spark, str(sf))
    assert pdfs(out) == ["doc_0.pdf", "doc_1.pdf"]
    write_documents(["alpha beta", "gamma", "delta epsilon"])
    assert ep._text_pdf_fixture_dir(spark, str(sf)) == out
    assert pdfs(out) == ["doc_0.pdf", "doc_1.pdf", "doc_2.pdf"]


def test_extract_documents_reassembles_in_page_order(spark, pdf_dir):
    root, _ = pdf_dir
    out = {r.doc_id: r for r in extract_pdf_documents(spark, root).collect()}
    text0 = "the quick brown fox jumps over the lazy dog " * 6
    expected = "\n\n".join(p.upper() for p in page_texts(text0))
    assert out["0"].txt == expected
    assert out["0"].n_pages == len(page_texts(text0))
    assert out["0"].n_errors == 0


def test_parser_never_crashes_on_fuzzed_bytes():
    """The subset parser must raise ValueError (error-as-row upstream),
    never any other exception, on arbitrary and near-valid inputs."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    valid = encode_pdf([np.zeros((4, 6), dtype=np.uint8)])

    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=400))
    def fuzz_raw(data):
        try:
            decode_pdf(data)
            page_count(data)
        except ValueError:
            pass

    @settings(max_examples=200, deadline=None)
    @given(
        st.integers(0, len(valid) - 1),
        st.integers(1, 30),
        st.binary(min_size=1, max_size=30),
    )
    def fuzz_mutated(pos, cut, repl):
        data = valid[:pos] + repl + valid[pos + cut:]
        try:
            decode_pdf(data)
            page_count(data)
        except ValueError:
            pass

    fuzz_raw()
    fuzz_mutated()


def test_raster_bytes_containing_pdf_syntax_round_trip():
    """Raw raster payloads can legitimately contain 'N 0 obj'/'endobj'/
    'stream' byte sequences; the object scanner must skip stream bodies
    (via /Length) instead of regex-matching into them."""
    evil = np.frombuffer(
        b"\n2 0 obj\nendobj\nstream\ntrailer" + bytes(range(226)), dtype=np.uint8
    ).reshape(16, 16)
    rng = np.random.RandomState(0)
    pages = [evil, rng.randint(0, 256, (31, 9)).astype(np.uint8)]
    data = encode_pdf(pages)
    back = decode_pdf(data)
    assert len(back) == 2
    for a, b in zip(pages, back):
        assert (a == b).all()
    assert page_count(data) == 2


def test_pdf15_object_stream_roundtrip():
    """PDF 1.5 layout: document structure in a compressed /ObjStm, no
    ``trailer`` keyword, binary cross-reference stream — the modern
    producer shape. Both raster encodings round-trip byte-exactly."""
    rng = np.random.RandomState(11)
    gray = rng.randint(0, 256, (24, 31)).astype(np.uint8)
    rgb = rng.randint(0, 256, (17, 23, 3)).astype(np.uint8)
    for compress in (False, True):
        data = encode_pdf([gray, rgb], compress=compress, object_streams=True)
        assert data.startswith(b"%PDF-1.5")
        assert b"trailer" not in data
        assert b"/ObjStm" in data and b"/XRef" in data
        out = decode_pdf(data)
        assert len(out) == 2
        assert (out[0] == gray).all() and (out[1] == rgb).all()
        assert page_count(data) == 2
        # byte-stable (fixture determinism)
        assert encode_pdf([gray, rgb], compress=compress, object_streams=True) == data


def test_pdf15_malformed_objstm_header_is_typed_error():
    data = bytearray(encode_pdf([np.zeros((4, 4), dtype=np.uint8)], object_streams=True))
    # corrupt the ObjStm payload so inflate fails
    at = bytes(data).find(b"/ObjStm")
    stream_at = bytes(data).find(b"stream\n", at) + len(b"stream\n")
    data[stream_at : stream_at + 4] = b"\x00\x00\x00\x00"
    with pytest.raises(ValueError):
        decode_pdf(bytes(data))


def test_interop_page_count_on_real_world_pdfs():
    """The subset parser's metadata scan works on PDFs from real
    producers (pdfTeX/docbook files shipped with system packages use
    compressed object streams — the PDF 1.5 path): page counts resolve
    through trailer/XRef -> Root -> Pages. Raster extraction is out of
    subset for these (text content, no full-page scan images) and must
    stay a typed error, never a crash. Skipped where absent."""
    import os

    candidates = {
        "/usr/share/doc/libtasn1-doc/libtasn1.pdf": 36,
        "/usr/share/doc/shared-mime-info/shared-mime-info-spec.pdf": 17,
    }
    present = {p: n for p, n in candidates.items() if os.path.exists(p)}
    if not present:
        pytest.skip("no third-party PDFs on this system")
    for p, expected in present.items():
        data = open(p, "rb").read()
        assert page_count(data) == expected
        with pytest.raises(ValueError):
            decode_pdf(data)  # typed, not a crash


# ---------------------------------------------------------------------------
# Born-digital text-layer PDFs — round 4
# ---------------------------------------------------------------------------


def test_text_layer_roundtrip_exact():
    """Content-stream text extraction is byte-exact, case and unicode
    preserved, escapes handled, empty pages tolerated."""
    from pdf_ocr_spark.sources.pdfcodec import encode_text_pdf, extract_text_layer

    pages = [
        ["Hello world, this is page one.", "Line with (parens) and back\\slash."],
        ["Página dos — unicode: ñ, é, 中文 текст"],
        [],
    ]
    data = encode_text_pdf(pages)
    assert page_count(data) == 3
    assert extract_text_layer(data) == ["\n".join(p) for p in pages]


def test_text_layer_operator_coverage():
    """TJ arrays (kern numbers ignored), the ' operator, octal and hex
    strings — the shapes real producers emit."""
    from pdf_ocr_spark.sources.pdfcodec import _text_from_content

    content = (
        b"BT /F1 12 Tf 72 720 Td\n"
        b"[(Wor) -30 (ld)] TJ T*\n"
        b"(next) Tj\n"
        b"(quoted) '\n"
        b"(\\101\\102C) Tj\n"
        b"<48657821> Tj ET"
    )
    assert _text_from_content(content) == "World\nnext\nquotedABCHex!"


def test_text_layer_spark_source(spark, tmp_path):
    """binaryFile -> text-layer extraction over written fixtures; a
    garbage file becomes a parse_error row."""
    import pandas as pd

    from pdf_ocr_spark.sources.pdfsource import (
        read_pdf_text_layers,
        text_page_lines,
        write_text_pdf_corpus,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": ["7", "8"],
             "text": ["one two three " * 10, "MixedCase Words, here."]}
        )
    )
    out = str(tmp_path / "text_pdfs")
    write_text_pdf_corpus(docs, out).count()
    open(f"{out}/doc_bad.pdf", "wb").write(b"junk not a pdf")
    rows = {r["doc_id"]: r for r in read_pdf_text_layers(spark, out).collect()}
    for did, text in (("7", "one two three " * 10), ("8", "MixedCase Words, here.")):
        want = "\n\n".join("\n".join(p) for p in text_page_lines(text))
        assert rows[did]["txt"] == want, did
    assert rows["bad"]["parse_error"] is not None


def test_mixed_pdf_interleaved_round_trip():
    """Hybrid pages (born-digital text + raster images interleaved in
    one content stream) recover as ordered (kind, payload) segments —
    the north star's span model at the PDF source."""
    import numpy as np

    from pdf_ocr_spark.sources.glyphs import render_text_image
    from pdf_ocr_spark.sources.pdfcodec import (
        encode_mixed_pdf,
        extract_page_segments,
    )

    img1 = render_text_image("first figure words")
    img2 = render_text_image("second figure words")
    pages = [
        [("text", ["intro line one", "intro two"]), ("image", img1), ("text", ["caption"])],
        [("image", img2), ("text", ["page two text"])],
        [("text", [""])],
    ]
    segs = extract_page_segments(encode_mixed_pdf(pages))
    assert [[k for k, _ in p] for p in segs] == [
        ["text", "image", "text"],
        ["image", "text"],
        ["text"],
    ]
    assert segs[0][0][1] == "intro line one\nintro two"
    assert segs[0][2][1] == "caption"
    assert (segs[0][1][1] == img1).all() and (segs[1][0][1] == img2).all()
    assert segs[2][0][1] == ""
    # OCR closes the loop on the image span
    from pdf_ocr_spark.operators.imaging import ocr_decode

    assert ocr_decode(segs[0][1][1])[0] == "FIRST FIGURE WORDS"


def test_read_pdf_spans_order_and_error_rows(spark, tmp_path):
    """The Spark span reader emits interleaved rows in content-stream
    order and turns a broken file into one error row."""
    import pyspark.sql.functions as F

    from pdf_ocr_spark.sources.pdfsource import read_pdf_spans, write_mixed_pdf_corpus

    docs = spark.createDataFrame(
        [(str(i), " ".join(f"w{i}x{j}" for j in range(i * 13 % 45))) for i in range(6)],
        "doc_id string, text string",
    )
    out = tmp_path / "mixed"
    write_mixed_pdf_corpus(docs, str(out)).count()
    (out / "doc_broken.pdf").write_bytes(b"%PDF-1.4\ngarbage")
    rows = read_pdf_spans(spark, str(out)).collect()
    errs = [r for r in rows if r["parse_error"]]
    assert len(errs) == 1 and errs[0]["doc_id"] == "broken"
    from collections import defaultdict

    by_doc = defaultdict(list)
    for r in rows:
        if not r["parse_error"]:
            by_doc[r["doc_id"]].append(
                (r["offset"], r["kind"], r["text"], r["media_ref"])
            )
    for i in range(6):
        spans = sorted(by_doc[str(i)])
        words = [f"w{i}x{j}" for j in range(i * 13 % 45)]
        # expected structure: per 20-word page, a text span (first 10,
        # NULL media_ref) then an image span (last 10, skipped when
        # empty, carrying the stable <file>#seg=<offset> media_ref)
        exp = []
        off = 0
        chunks = [words[k : k + 20] for k in range(0, max(len(words), 1), 20)]
        for chunk in chunks:
            exp.append((off, "text", " ".join(chunk[:10]), None))
            off += 1
            if chunk[10:]:
                exp.append(
                    (off, "image", " ".join(chunk[10:]).upper(),
                     f"doc_{i}.pdf#seg={off}")
                )
                off += 1
        assert spans == exp, (i, spans, exp)


def test_profile_signals_match_individual_harvests():
    """Round 8: pdf_profile_signals computes all six metadata signals
    from ONE object-graph load. Pin per-signal equality against the
    six public harvests — plain, RC4-encrypted, and /AESV3-encrypted
    docs (synthesized in-test) plus a non-PDF payload (all-None, the
    error-as-row shape)."""
    import numpy as np

    from pdf_ocr_spark.sources import pdfcodec as pc

    img = np.full((10, 12), 77, dtype=np.uint8)
    docs = {
        "plain": pc.encode_pdf([img], compress=True),
        "rc4": pc.encode_pdf([img], compress=True, encrypt=True),
        "aesv3": pc.encode_pdf([img], compress=True, encrypt=True, cipher="aes256"),
    }
    for kind, data in docs.items():
        got = pc.pdf_profile_signals(data)

        def expect(fn, data=data):
            try:
                return fn(data)
            except ValueError:
                return None

        assert got["n_pages"] == expect(pc.page_count) == 1, kind
        info = expect(pc.pdf_info)
        assert got["title"] == (None if info is None else info.get("title")), kind
        assert got["links"] == expect(pc.pdf_links), kind
        att = expect(pc.pdf_attachments)
        assert got["n_attachments"] == (None if att is None else len(att)), kind
        ff = expect(pc.pdf_form_fields)
        assert got["n_form_fields"] == (None if ff is None else len(ff)), kind
        ol = expect(pc.pdf_outline)
        assert got["n_outline"] == (None if ol is None else len(ol)), kind
    bad = pc.pdf_profile_signals(b"not a pdf at all")
    assert all(v is None for v in bad.values())


def _write_blobs(root, sizes) -> str:
    """``doc_<i>.pdf`` files of the given byte sizes under ``root`` (the
    scan reads bytes only, so the content is arbitrary); returns the
    harvest glob."""
    import os

    os.makedirs(root, exist_ok=True)
    for i, n in enumerate(sizes):
        with open(os.path.join(root, f"doc_{i}.pdf"), "wb") as f:
            f.write(bytes([i % 251]) * n)
    return os.path.join(str(root), "*.pdf")


def _files_per_task(df, min_length: int = 0) -> list[int]:
    from collections import Counter

    from pyspark.sql import functions as F

    rows = df.select(F.spark_partition_id().alias("pid"), "length").collect()
    return sorted(Counter(r.pid for r in rows if r.length >= min_length).values())


def test_small_scan_deals_every_size_class_across_cores(spark, tmp_path):
    """A small heavy scan runs one task per core, and each task gets an
    equal share of every size class: Spark packs the 8 large files
    into two bins of their own, and the deal spreads them 2 per task."""
    from pdf_ocr_spark.sources.pdfsource import _binary_scan

    df = _binary_scan(spark, _write_blobs(tmp_path, [40_000] * 8 + [4_000] * 8))
    assert df.rdd.getNumPartitions() == 4
    assert _files_per_task(df, min_length=40_000) == [2, 2, 2, 2]
    assert sum(_files_per_task(df)) == 16


def test_small_scan_has_no_empty_task_and_one_session(spark, tmp_path):
    """Fewer files than cores give one task per file, never an empty
    Python task, and planning a 40-file scan runs no listing job (above
    32 root paths Spark would list them in a job of one task per file)."""
    from pdf_ocr_spark.sources import pdfsource

    for n_files, per_task in ((16, [4] * 4), (3, [1] * 3), (2, [1] * 2), (1, [1])):
        pattern = _write_blobs(tmp_path / str(n_files), [5_000] * n_files)
        df = pdfsource._binary_scan(spark, pattern)
        assert df.rdd.getNumPartitions() == len(per_task), n_files
        assert _files_per_task(df) == per_task, n_files
    pattern = _write_blobs(tmp_path / "40", [5_000] * 40)
    sc = spark.sparkContext
    sc.setJobGroup("scan_listing", "plan a 40-file binaryFile scan")
    try:
        df = pdfsource._binary_scan(spark, pattern)
        assert list(sc.statusTracker().getJobIdsForGroup("scan_listing")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sum(_files_per_task(df)) == 40


def test_harvest_runs_on_the_callers_session(spark, tmp_path):
    """A batch harvest's frame belongs to the caller's session, so the
    query over it keeps the runtime confs set there."""
    from pdf_ocr_spark.sources.pdfsource import harvest

    pattern = _write_blobs(tmp_path, [1_000] * 8)
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    saved = {k: spark.conf.get(k) for k in keys}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        df = harvest(
            spark,
            pattern,
            lambda key, path, data: [(key, len(data))],
            lambda key, path, e: [],
            "doc_id string, n long",
        )
        assert df.sparkSession is spark
        assert df.groupBy("doc_id").count().rdd.getNumPartitions() == 3
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_light_scan_guard_measures_the_globbed_files(spark, tmp_path):
    """The light-scan coalesce counts the bytes of the files the glob
    matches: a large unrelated file in the same directory (sparse, so
    it takes no disk) must not turn it off."""
    from pdf_ocr_spark.sources.pdfsource import _binary_scan

    # 200 tiny files plan as 7 bins of 32 (4 MB open cost per file)
    pattern = _write_blobs(tmp_path, [100] * 200)
    with open(tmp_path / "blob.bin", "wb") as f:
        f.truncate(600 << 20)
    df = _binary_scan(spark, pattern, light=True)
    assert df.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
    assert df.count() == 200


def test_extraction_output_schemas(spark, pdf_dir):
    """Resumed runs append to Parquet written by earlier runs, so the
    output schemas of both extraction entry points stay exactly these."""
    from pdf_ocr_spark.config import ExtractionConfig
    from pdf_ocr_spark.plans.pipeline import extract_documents
    from pdf_ocr_spark.sources.corpus import generate_documents, generate_media

    docs = generate_documents(spark, n_docs=4, seed=1)
    media = generate_media(spark, docs, seed=1)
    spans = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    metrics = "n_pages:bigint,mean_confidence:double,n_errors:bigint"
    for salt in (0, 4):
        got = extract_documents(docs, media, ExtractionConfig(reassembly_salt=salt))
        assert got.schema.simpleString() == (
            f"struct<doc_id:string,spans:{spans},{metrics},txt:string,md:string,html:string>"
        ), salt
    root, _ = pdf_dir
    for engine in ("glyph", "tesseract"):
        got = extract_pdf_documents(spark, root, ExtractionConfig(ocr_engine=engine))
        assert got.schema.simpleString() == f"struct<doc_id:string,txt:string,{metrics}>", engine
