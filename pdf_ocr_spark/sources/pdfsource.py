"""Real-PDF ingestion: ``binaryFile`` source -> page explode -> OCR.

This is the engine's counterpart of the reference's upload path:
``convert_from_path`` rasterizes each PDF into page images which the
OCR worker consumes (/root/reference/app.py:447-482). Here the PDFs are
read distributed via ``spark.read.format("binaryFile")``, parsed by the
from-scratch subset parser (:mod:`pdf_ocr_spark.sources.pdfcodec`), and
each decoded page raster goes to the same per-page OCR function the
span pipeline uses (:func:`pdf_ocr_spark.operators.ocr.ocr_image`).

Scale shape: binaryFile gives one row per file (whole-file bytes — the
right granularity for scanned PDFs, which are page-image containers a
few MB each); page explode happens inside the harvest's Arrow stage,
so a 1000-executor cluster fans pages out without any driver
involvement.

One harvest contract: every reader here, and
:func:`pdf_ocr_spark.sources.warcsource.read_warc_records`, is a
:func:`harvest` — one scan, then one Arrow stage over the package's
row boundary (:func:`pdf_ocr_spark.operators.rows.map_rows`), and two
functions of the reader's own: ``per_file(key, path, data)`` returns a
file's rows, and ``on_error(key, path, exc)`` the rows it becomes if
``per_file`` raises. :func:`map_files` adds only the key rule: the
``<id>`` of a ``doc_<id>.pdf`` file name, else the whole path. The
containment is the boundary's: a file's rows are kept only when the
whole ``per_file`` call returns, so a file that fails part-way leaves
no partial rows, and any ``Exception`` becomes error rows, never a
task failure (the reference's error-as-row discipline,
app.py:335-337). The malformed-file shapes: ``n_pages = -1``
(:func:`pdf_page_counts`), a row of NULLs (:func:`read_pdf_info`,
:func:`read_pdf_profiles`), no rows (links, attachments, form fields,
outline), one ``[Error: ...]`` page with ``n_errors = 1``
(:func:`extract_pdf_documents`), a ``parse_error`` row
(:func:`read_pdf_text_layers`), one ``error`` span
(:func:`read_pdf_spans`), and a ``parse_error`` row keyed by path
(WARC).

The fixture writer (:func:`write_pdf_corpus`) is likewise distributed —
executors render and write their partition's PDFs — and deterministic:
page k of a document holds words [20k, 20k+20) of its text rendered in
the 5x7 font, so expected page text (and therefore page counts and
reassembled text) is derivable in pure SQL for the DuckDB oracle.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable, Iterator

import pandas as pd
from py4j.protocol import Py4JError

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_ocr_spark.operators.rows import map_rows

#: Words rendered per PDF page by the fixture writer. Shared constant
#: with the SQL oracles in entrypoints (n_pages = ceil(n_words / this)).
WORDS_PER_PAGE = 20

_DOC_RE = re.compile(r"doc_([^/]+)\.pdf$")

#: Spark's default file split size (128 MB), which the light-scan rule
#: measures against.
_SPLIT_BYTES = 134217728

#: Fixture-corpus heterogeneity residues (see write_pdf_corpus):
#: doc id % ENCRYPT_RESIDUES == 1 -> RC4-encrypted file;
#: doc id % PROGRESSIVE_RESIDUES == 1 -> progressive JPEG scans (DCT
#: corpus only).
ENCRYPT_RESIDUES = 5
PROGRESSIVE_RESIDUES = 3
#: doc id % PREDICTOR_RESIDUES == 2 -> PNG predictor 12 (Up) on the
#: Flate raster; doc id % LZW_RESIDUES == 3 -> /LZWDecode raster
#: (both non-DCT corpus only — DCT rasters are JPEG streams).
PREDICTOR_RESIDUES = 4
LZW_RESIDUES = 7
#: doc id % CCITT_RESIDUES == 4 -> Group 4 fax raster (/CCITTFaxDecode
#: /K -1, 1-bit) — the dominant wild scanned-PDF shape (non-DCT only).
CCITT_RESIDUES = 9
#: doc id % ASCII85_RESIDUES == 5 -> the raster stream additionally
#: wrapped in /ASCII85Decode (a FILTER CHAIN, e.g.
#: [/ASCII85Decode /FlateDecode] — the legacy-tool wrapping shape).
ASCII85_RESIDUES = 13
#: doc id % RLE_RESIDUES == 6 -> /RunLengthDecode raster (the
#: PostScript-converter / fax-export byte-RLE shape; non-DCT only).
RLE_RESIDUES = 11
#: doc id % CMYK_RESIDUES == 2 -> /DeviceCMYK XObject over a
#: 4-component Adobe JPEG (DCT corpus only — the print-workflow scan
#: shape), APP14 transform rotating 0 (CMYK) / 2 (YCCK) by (id//7)%2.
CMYK_RESIDUES = 7
#: doc id % JBIG2_RESIDUES == 7 -> /JBIG2Decode raster (the
#: "optimized"/compressed bitonal shape Acrobat and scanner stacks
#: emit), coding mode rotating by (id//17)%5 over arithmetic+TPGDON,
#: plain arithmetic, MMR=1, symbol-coded (dictionary + text region),
#: and symbol-coded with the dictionary in a shared /JBIG2Globals
#: stream (non-DCT only; CCITT wins on overlap).
JBIG2_RESIDUES = 17
#: doc id % DEPTH_RESIDUES == 8 -> non-8-bit /BitsPerComponent raster
#: (raw/Flate path only; ccitt/jbig2/rle win on overlap), depth
#: rotating by (id//19)%3 over 16 / 4 / 1 bits, and every other one
#: ((id//57)%2) additionally stored inverted behind /Decode [1 0].
DEPTH_RESIDUES = 19
#: doc id % INLINE_RESIDUES == 9 -> the page raster is a §8.9.7
#: INLINE image (BI..ID..EI in the content stream, no XObject — the
#: fax-converter / print-driver shape), data form rotating by
#: (id//23)%3 over /Fl-coded data in a plain content stream, raw
#: samples inside a Flate-coded content stream, and /RL-coded data.
#: Takes precedence over every other non-DCT raster rotation
#: (encryption still applies — the content stream is encrypted).
INLINE_RESIDUES = 23
#: doc id % INDEXED_RESIDUES == 10 -> /Indexed palette raster
#: (§8.6.6.3 — the "optimized"/quantized shape PDF shrinkers emit):
#: samples become palette indices at the minimal 1/2/4/8-bit depth
#: over a hex-string lookup. Raw/Flate path only; yields to the
#: ccitt/jbig2/rle/inline/depth rotations, wins over predictor/LZW.
INDEXED_RESIDUES = 29
#: doc id % ICC_RESIDUES == 12 -> the device colorspace is wrapped as
#: [/ICCBased N 0 R] over a minimal profile stream (§8.6.5.5 — the
#: born-digital producer default). Same precedence as /Indexed
#: (which wins when both residues hit).
ICC_RESIDUES = 31
#: doc id % UPDATE_RESIDUES == 13 -> the file carries an §7.5.6
#: INCREMENTAL UPDATE (the save-in-Acrobat shape): an appended
#: re-save replaces the page-0 raster with a level-9 Flate re-encode
#: of the same pixels and bumps /Info /Producer to "pdf-ocr-spark
#: 1.1" — last definition wins. Skipped for encrypted (id % 5 == 1:
#: the update bodies would need the file key) and inline (id % 23 ==
#: 9: no raster XObject to replace) docs.
UPDATE_RESIDUES = 37
#: doc id % ATTACH_RESIDUES == 14 -> the file carries §7.7.4 EMBEDDED
#: FILES (the invoice-XML / portfolio shape): an /EmbeddedFiles name
#: tree in the catalog with two Flate-coded attachments whose names
#: and contents derive purely from (doc_id, text) so the
#: pdf_attachments oracle recomputes the exact rows in SQL. Composes
#: with every raster rotation (it only touches the catalog) and with
#: encryption (streams encrypt; under RC4 the /Filespec strings are
#: per-object ciphertext and the name-tree strings live in the ObjStm,
#: §7.6.2).
ATTACH_RESIDUES = 41
#: doc id % ROTATE_RESIDUES == 15 -> every page carries a §7.7.3.3
#: /Rotate entry (the sideways-fed scanner shape), angle rotating by
#: (id//43)%3 over 90/180/270. Content-transparent: the writer stores
#: rasters pre-rotated counter-clockwise and the reader honours
#: /Rotate clockwise, so extracted text is unchanged. Composes with
#: every raster codec and with inline-image pages (non-DCT only).
#: Every other rotated doc ((id//129)%2==1) places the single /Rotate
#: on the PAGES-TREE node instead (§7.7.3.4 inheritance).
ROTATE_RESIDUES = 43
#: doc id % FORM_RESIDUES == 16 -> the file carries a §12.7.2
#: /AcroForm with three filled text fields (title / pages / lang)
#: derived purely from (doc_id, text), so the pdf_form_fields oracle
#: recomputes the exact rows in SQL. Field widgets join page 0's
#: /Annots next to any link annotations; under RC4 the field strings
#: are per-object ciphertext (non-DCT corpus only).
FORM_RESIDUES = 47
#: doc id % OUTLINE_RESIDUES == 17 -> the file carries a §12.3.3
#: document outline (bookmark tree): page i gets a level-1
#: "Chapter i" on even i and a nested level-2 "Section i" on odd i —
#: structure and titles derive purely from (doc_id, n_pages) so the
#: pdf_outline oracle recomputes the exact rows in SQL. Under RC4
#: the /Title strings are per-object ciphertext (non-DCT only).
#: Every other un-encrypted outline doc ((id//53)%2==1) uses the
#: pdfTeX NAMED shape instead — indirect title strings, /A GoTo
#: actions, and a /Kids-subdivided /Names /Dests tree — so the
#: driver-green row certifies both resolution paths.
OUTLINE_RESIDUES = 53

def page_texts(text: str, words_per_page: int = WORDS_PER_PAGE) -> list[str]:
    """Deterministic page chunking: whitespace words, ``words_per_page``
    per page, at least one (possibly empty) page."""
    words = text.split()
    if not words:
        return [""]
    return [
        " ".join(words[i : i + words_per_page])
        for i in range(0, len(words), words_per_page)
    ]


def write_pdf_corpus(
    docs: DataFrame,
    out_dir: str,
    words_per_page: int = WORDS_PER_PAGE,
    compress: bool = True,
    object_streams: bool = True,
    dct: bool = False,
    jpx: bool = False,
) -> DataFrame:
    """Render one scanned-style PDF per (doc_id, text) row into
    ``out_dir`` (executor-side writes, driver never sees a page) and
    return the manifest (doc_id, path, n_pages). Triggering an action
    on the manifest performs the writes. ``compress`` (default on)
    Flate-encodes the raster streams and ``object_streams`` (default
    on) packs the document structure into a PDF 1.5 /ObjStm behind a
    cross-reference stream — together the layout every modern
    real-world producer emits — so the e2e extraction queries exercise
    the inflate + object-stream paths, not just the raw fixture
    shape. ``dct=True`` instead stores each raster as a baseline JPEG
    (``/Filter /DCTDecode``) — the real-world color-scan layout,
    decoded by the from-scratch codec in jpegcodec.py.

    Round 4 — corpus heterogeneity, so the driver's exact-oracle gate
    (not just pytest) certifies the new decode paths: every doc whose
    numeric id satisfies ``id % ENCRYPT_RESIDUES`` is RC4-encrypted
    (standard security handler, empty user password), and in the DCT
    corpus every ``id % PROGRESSIVE_RESIDUES`` doc stores progressive
    (SOF2) JPEG scans. Both transforms are content-transparent, so the
    SQL oracles are unchanged — a hash match proves the decrypt and
    progressive-decode paths return byte-identical text.

    Round 5 adds two more content-transparent variants to the non-DCT
    corpus: ``id % PREDICTOR_RESIDUES == 2`` rasters are Up-filtered
    (/DecodeParms /Predictor 12 — the layout most real Flate image
    producers emit) and ``id % LZW_RESIDUES == 3`` rasters are
    /LZWDecode streams (the legacy-producer shape); ids hitting both
    residues get LZW + predictor together. Of the encrypted files,
    every 25th (``(id // 5) % 25 == 2``) uses the AES-256 V5/R6
    /AESV3 handler instead of RC4 — the post-2017 producer shape.
    ``id % CCITT_RESIDUES == 4`` docs store CCITT fax rasters with the
    mode rotating by ``(id // 9) % 3`` over /K -1 (Group 4 MMR — the
    dominant wild shape), /K 0 (Group 3 1-D MH), and /K 2 (Group 3
    mixed) — 1-bit, exact because glyph renders are bitonal.
    ``id % RLE_RESIDUES == 6`` rasters are /RunLengthDecode streams
    (the PostScript-converter byte-RLE shape; CCITT wins on ids
    hitting both residues). ``id % JBIG2_RESIDUES == 7`` rasters are
    /JBIG2Decode streams (the compressed-bitonal shape Acrobat's
    optimizer emits), organization rotating by ``(id//17)%5`` over
    generic-region arithmetic+TPGDON / plain arithmetic / MMR /
    symbol-coded (dictionary + text region) / symbol-coded with the
    dictionary in a shared /JBIG2Globals stream; CCITT wins on
    overlapping ids. In the DCT corpus ``id % CMYK_RESIDUES ==
    2`` pages are /DeviceCMYK XObjects over 4-component Adobe JPEGs
    (the print-workflow shape), APP14 transform rotating CMYK/YCCK by
    ``(id // 7) % 2``; CMYK wins over progressive on overlapping
    ids (Adobe CMYK progressive is not a real producer shape).
    ``id % DEPTH_RESIDUES == 8`` raw/Flate rasters are stored at a
    non-8-bit /BitsPerComponent — 16-bit big-endian widened, 4-bit
    and 1-bit packed, rotating by ``(id // 19) % 3`` — and every
    other depth doc (``(id // 57) % 2``) is additionally stored
    inverted behind ``/Decode [1 0]`` (the negative-sample export
    shape); all depth variants are content-transparent because the
    bitonal renders are exact at every depth.
    ``id % INLINE_RESIDUES == 9`` non-DCT docs store the raster as a
    §8.9.7 INLINE image (BI..ID..EI inside the content stream, no
    raster XObject — the fax-converter / print-driver shape), data
    form rotating by ``(id // 23) % 3`` over /Fl-coded data in a
    plain content stream, raw samples inside a Flate-coded content
    stream, and /RL-coded data; inline wins over every other non-DCT
    raster rotation, and the encryption rotation still applies (the
    content stream is what gets encrypted).
    ``id % INDEXED_RESIDUES == 10`` plain-raster docs quantize
    through an §8.6.6.3 /Indexed palette (indices at the minimal
    1/2/4/8-bit depth, hex-string lookup) and ``id % ICC_RESIDUES ==
    12`` wrap the device space as ``[/ICCBased N 0 R]`` over a
    minimal profile stream (§8.6.5.5); both apply only where no
    codec/depth rotation hit, Indexed wins when both residues hit,
    and both are content-transparent (the palette lookup
    reconstructs the exact raster)."""

    import numpy as np

    from pdf_ocr_spark.sources.glyphs import render_text_image
    from pdf_ocr_spark.sources.pdfcodec import encode_pdf

    def render(doc_id, text):
        pages = page_texts(text, words_per_page)
        images = [render_text_image(p) for p in pages]
        try:
            d = int(doc_id)
        except ValueError:
            d = 0
        if jpx:
            # pure /JPXDecode corpus (no other rotations):
            # the JPEG 2000 decode surface gets its own
            # focused oracle-certified query. Half the docs
            # ((id//4)%2) use the LOSSY 9/7 path — the wild
            # scanner shape; like the DCT corpus, exactness
            # holds because the near-lossless delta never
            # crosses the OCR binarization threshold (pinned
            # in tests/test_jpx.py)
            blob = encode_pdf(
                images,
                object_streams=object_streams,
                jpx=True,
                jpx_lossy=(d // 4) % 2 == 1,
            )
            return blob, len(images)
        meta, xmp_t = None, None
        if not dct:
            # §14.3 document metadata, derived purely from the
            # doc id so the pdf_metadata oracle can recompute
            # it in SQL (dct corpus skipped: cache stability)
            meta = {
                "Title": f"Document {doc_id}",
                "Author": "Author %d" % (d % 7),
                "Producer": "pdf-ocr-spark 1.0",
                "CreationDate": "D:2026%02d%02d000000Z"
                % (d % 12 + 1, d % 28 + 1),
            }
            if d % 3 == 0:
                xmp_t = f"Document {doc_id}"
        links = None
        if not dct:
            # §12.5.6.5 link annotations, all residue-derived
            # from (id, i) so the pdf_links oracle recomputes
            # the exact row set in SQL:
            #   - (id+i)%2==0: outbound /URI action
            #   - (id+i)%3==0: intra-doc edge to page (i+1)%n —
            #     /A GoTo when (id+i) is even, the /Dest-key
            #     shape otherwise (§12.5.6.5 allows either;
            #     both resolve to the same row)
            #   - (id+i)%6==5: /GoToR remote edge to page
            #     (id+i)%4 of doc_((id*3+i)%1000).pdf
            # Named-outline docs additionally get a /GoTo on
            # page 0 whose /D NAMES the outline's last dest
            # (sec.(n-1) -> page n-1), folding link resolution
            # through the /Names /Dests tree pdf_outline built.
            n_imgs = len(images)
            links = []
            for i in range(n_imgs):
                items: list = []
                if (d + i) % 2 == 0:
                    items.append(f"https://example.org/doc/{doc_id}/p{i}")
                if (d + i) % 3 == 0:
                    t = (i + 1) % n_imgs
                    items.append(
                        ("goto", t) if (d + i) % 2 == 0 else ("dest", t)
                    )
                if (d + i) % 6 == 5:
                    items.append(
                        (
                            "gotor",
                            f"doc_{(d * 3 + i) % 1000}.pdf",
                            (d + i) % 4,
                        )
                    )
                links.append(items)
        rot, rot_inherit = 0, False
        if not dct and d % ROTATE_RESIDUES == 15:
            rot = (90, 180, 270)[(d // ROTATE_RESIDUES) % 3]
            rot_inherit = (d // (ROTATE_RESIDUES * 3)) % 2 == 1
        toc, toc_shape = None, "direct"
        if not dct and d % OUTLINE_RESIDUES == 17:
            if (d // OUTLINE_RESIDUES) % 2 == 1 and d % ENCRYPT_RESIDUES != 1:
                toc_shape = "named"  # the pdfTeX shape
            # §12.3.3 bookmarks: Chapter on even pages, a
            # nested Section on odd pages — SQL-derivable
            toc = [
                (
                    1 if i % 2 == 0 else 2,
                    (f"Chapter {i}" if i % 2 == 0 else f"Section {i}"),
                    i,
                )
                for i in range(len(images))
            ]
        if links is not None and toc is not None and toc_shape == "named":
            # named-dest link edge (see links comment above):
            # resolves through the same /Names /Dests tree the
            # named outline registers (sec.i -> page i)
            links[0] = links[0] + [
                ("goto_named", f"sec.{len(images) - 1}")
            ]
        fields = None
        if not dct and d % FORM_RESIDUES == 16:
            # §12.7.2 filled text fields, SQL-derivable
            fields = [
                ("title", f"Document {doc_id}"),
                ("pages", str(len(images))),
                ("lang", ("en", "fr", "de")[d % 3]),
            ]
        atts = None
        if not dct and d % ATTACH_RESIDUES == 14:
            # §7.7.4 embedded files, SQL-derivable: an
            # invoice-style XML carrying the word count and a
            # notes file carrying the first five words
            words = text.split()
            atts = [
                (
                    f"invoice_{doc_id}.xml",
                    (
                        f'<invoice doc="{doc_id}"><words>'
                        f"{len(words)}</words></invoice>"
                    ).encode(),
                ),
                (f"notes_{doc_id}.txt", " ".join(words[:5]).encode()),
            ]
        if not dct and d % INLINE_RESIDUES == 9:
            # §8.9.7 inline-image page (BI..ID..EI, no raster
            # XObject) — wins over every other non-DCT raster
            # rotation; encryption rotation still applies
            blob = encode_pdf(
                images,
                object_streams=object_streams,
                inline=("flate", "raw", "rle")[(d // INLINE_RESIDUES) % 3],
                info=meta,
                xmp_title=xmp_t,
                page_links=links,
                attachments=atts,
                form_fields=fields,
                outlines=toc,
                outline_shape=toc_shape,
                rotate=rot,
                rotate_inherit=rot_inherit,
                encrypt=d % ENCRYPT_RESIDUES == 1,
                cipher=(
                    "aes256" if (d // ENCRYPT_RESIDUES) % 25 == 2 else "rc4"
                ),
            )
            return blob, len(images)
        depth = (
            not dct
            and d % DEPTH_RESIDUES == 8
            and d % CCITT_RESIDUES != 4
            and d % JBIG2_RESIDUES != 7
            and d % RLE_RESIDUES != 6
        )
        plain_raster = (
            not dct
            and not depth
            and d % CCITT_RESIDUES != 4
            and d % JBIG2_RESIDUES != 7
            and d % RLE_RESIDUES != 6
        )
        indexed = plain_raster and d % INDEXED_RESIDUES == 10
        icc = (
            plain_raster and not indexed and d % ICC_RESIDUES == 12
        )
        blob = encode_pdf(
            images,
            compress=compress,
            object_streams=object_streams,
            dct=dct,
            dct_progressive=dct
            and d % PROGRESSIVE_RESIDUES == 1
            and d % CMYK_RESIDUES != 2,
            dct_cmyk=dct and d % CMYK_RESIDUES == 2,
            dct_cmyk_transform=((d // CMYK_RESIDUES) % 2) * 2,
            encrypt=d % ENCRYPT_RESIDUES == 1,
            # 1 in 25 of the encrypted files use the
            # ISO 32000-2 AES-256/R6 handler. The R6
            # KDF is DESIGNED expensive (hardened
            # SHA-2/AES iteration, ~0.9 s/file open in
            # pure python, memoized per worker) — so
            # it gets a small but oracle-certified
            # share (4 files at sf0.001, 40 at sf0.1)
            # and RC4 carries the bulk encrypted load
            cipher=(
                "aes256"
                if (d // ENCRYPT_RESIDUES) % 25 == 2
                else "rc4"
            ),
            predictor=(
                12
                if not dct
                and d % PREDICTOR_RESIDUES == 2
                and not (indexed or icc)
                else 1
            ),
            lzw=not dct
            and d % LZW_RESIDUES == 3
            and not (indexed or icc),
            indexed=indexed,
            icc=icc,
            info=meta,
            xmp_title=xmp_t,
            page_links=links,
            attachments=atts,
            form_fields=fields,
            outlines=toc,
            outline_shape=toc_shape,
            rotate=rot,
            rotate_inherit=rot_inherit,
            rle=not dct and d % RLE_RESIDUES == 6,
            ccitt=not dct and d % CCITT_RESIDUES == 4,
            # rotate the fax mode: G4, G3 1-D, G3 mixed
            ccitt_k=(-1, 0, 2)[(d // CCITT_RESIDUES) % 3],
            jbig2=not dct
            and d % JBIG2_RESIDUES == 7
            and d % CCITT_RESIDUES != 4,
            jbig2_mode=("tpgd", "arith", "mmr", "text", "textg")[
                (d // JBIG2_RESIDUES) % 5
            ],
            ascii85=d % ASCII85_RESIDUES == 5,
            # depth rotation: 16-bit widened, 4-bit
            # and 1-bit packed (bitonal renders are
            # exact at every depth); every other depth
            # doc stored inverted behind /Decode [1 0]
            sample_bpc=(
                (16, 4, 1)[(d // DEPTH_RESIDUES) % 3]
                if depth
                else 8
            ),
            decode_invert=depth
            and (d // (DEPTH_RESIDUES * 3)) % 2 == 1,
        )
        if not dct and d % UPDATE_RESIDUES == 13 and d % ENCRYPT_RESIDUES != 1:
            # §7.5.6 incremental update (the save-in-Acrobat
            # shape): a re-save replacing the page-0 raster
            # with a level-9 Flate re-encode of the SAME
            # pixels plus a bumped-/Producer /Info — readers
            # must honour the latest definitions (certified
            # by pdf_metadata's oracle CASE on this residue)
            import re as _re

            from pdf_ocr_spark.sources.pdfcodec import (
                _serialize_info_dict,
                flate_image_xobject,
                incremental_update,
            )

            new_info = dict(meta, Producer="pdf-ocr-spark 1.1")
            info_num = int(
                _re.findall(rb"/Info\s+(\d+)\s+0\s+R", blob)[-1]
            )
            # encode_pdf stores rasters pre-rotated, so the
            # re-saved page 0 must be rotated the same way
            page0 = np.rot90(images[0], rot // 90)
            blob = incremental_update(
                blob,
                {
                    5: flate_image_xobject(page0),
                    info_num: _serialize_info_dict(new_info),
                },
            )
        return blob, len(images)

    return _write_corpus(docs, out_dir, render)


def _write_corpus(docs: DataFrame, out_dir: str, render) -> DataFrame:
    """The corpus writers' shared stage: executor-side, each (doc_id,
    text) row becomes ``out_dir/doc_<doc_id>.pdf`` from ``render(doc_id,
    text) -> (pdf bytes, n_pages)``, written atomically (temp file +
    rename: readers never see partials). Returns the manifest (doc_id,
    path, n_pages); triggering an action performs the writes."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        os.makedirs(out_dir, exist_ok=True)
        for pdf in batches:
            paths, n_pages = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                blob, n = render(doc_id, text or "")
                path = os.path.join(out_dir, f"doc_{doc_id}.pdf")
                tmp = path + ".tmp"
                with open(tmp, "wb") as f:
                    f.write(blob)
                os.replace(tmp, path)
                paths.append(path)
                n_pages.append(n)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "path": paths, "n_pages": n_pages}
            )

    return docs.select("doc_id", "text").mapInPandas(
        kernel, schema="doc_id string, path string, n_pages int"
    )


def _binary_scan(spark: SparkSession, pattern: str, light: bool = False) -> DataFrame:
    """The ``binaryFile`` scan every harvest reads, planned so that a
    small corpus runs one Python task per core.

    Spark sorts the files by size, largest first, and fills one bin
    after another (128 MB splits, counting a 4 MB open cost per file),
    so each bin holds one size class — in a scanned corpus, usually one
    codec. A heavy kernel over those bins waits on the bin of expensive
    files: on the ``scanned_pdf`` benchmark (84 files, 4-core x86 host)
    11 size-classed tasks put the JPX files in one or two of them, and
    the slowest task took 2.8–4.6× the median. Each Python task also
    pays ~210–310 ms of worker set-up.

    So when the scan plans fewer than 4 waves of bins, its ``(path,
    content)`` rows are dealt across ``n = min(cores, files)`` tasks in
    bin order, each bin starting where an average-size bin before it
    would have ended. Every task gets its share (±1) of every bin, so
    of every size class. When the bins hold equal file counts (one
    file each, or small files whose 4 MB open cost dominates) the deal
    is exact, and fewer files than cores run one file per task. The
    scan becomes a JVM-only stage whose shuffle carries the file bytes
    (~670 KB on ``scanned_pdf``, which now runs 4 tasks with the
    slowest at 1.06–1.23× the median). A round-robin ``repartition(n)`` would start each bin at a random
    task instead, which put both files of a two-file corpus in one
    task. One file is left alone.

    ``light`` kernels (about a millisecond per file) coalesce instead,
    without a shuffle (:func:`light_partitions`). Corpora that already
    plan >= 4 waves — the 100 TB case, where split count scales with
    data — keep Spark's plan: enough bins that no one bin dominates.

    The scan runs on the caller's session, so the whole query keeps the
    runtime confs set there. It loads the pattern's directory with the
    file-name glob as ``pathGlobFilter``: a glob path would expand into
    one root path per matching file, and above 32 roots Spark lists
    them in a job of one task per file, where one directory root is
    listed on the driver."""
    root, glob = os.path.split(pattern)
    df = spark.read.format("binaryFile").option("pathGlobFilter", glob).load(root)
    if light:
        n = light_partitions(spark, _scanned_bytes(df))
        if n is not None and df.rdd.getNumPartitions() > n:
            df = df.coalesce(n)
        return df
    par = max(1, spark.sparkContext.defaultParallelism)
    bins = df.rdd.getNumPartitions()
    if bins < 4 * par:
        files = len(df._jdf.inputFiles())  # one JVM call, not one per file
        n = min(par, files)
        if n > 1:
            start = (F.spark_partition_id() * files / bins).cast("long")
            r = F.monotonically_increasing_id() % (1 << 33)  # row in bin
            df = df.repartitionById(n, ((start + r) % n).cast("int"))
    return df


def _scanned_bytes(df: DataFrame) -> int | None:
    """Total length of the files a ``binaryFile`` scan lists, from its
    file index (None if not a plain file scan): a few JVM calls however
    many files match, where summing ``globStatus`` in Python pays a
    round trip per file."""
    try:
        return df._jdf.queryExecution().analyzed().relation().location().sizeInBytes()
    except Py4JError:
        return None


def light_partitions(spark: SparkSession, total_bytes: int | None) -> int | None:
    """The light-scan rule, shared by :func:`_binary_scan` and the
    streaming profile harvest. Light (metadata-tier) kernels cost about
    a millisecond per file or less (measured: 0.4–1.75 ms across the
    harvests using this path), so the fixed per-task cost of a python
    stage (~10 ms: worker handshake + Arrow setup) dominates when
    openCostInBytes (4 MB/file) — not real bytes — inflates the
    partition count of a tiny-file corpus. When ``total_bytes`` (the
    REAL bytes) fit inside one wave of default-size splits, return the
    partition count to coalesce to (narrow, no shuffle): one task per
    core. Input whose bytes genuinely need many splits — the 100 TB
    case — or whose size is unknown gets None and stays untouched,
    keeping the scan's balance properties."""
    par = max(1, spark.sparkContext.defaultParallelism)
    if total_bytes is not None and total_bytes <= par * _SPLIT_BYTES:
        return par
    return None


def harvest(
    spark: SparkSession,
    pattern: str,
    per_file: Callable[[str, str, bytes], list[tuple]],
    on_error: Callable[[str, str, Exception], list[tuple]],
    schema: str,
    light: bool = False,
) -> DataFrame:
    """The one ``binaryFile`` reader (module docstring): scan the files
    matching ``pattern`` (:func:`_binary_scan`; ``light`` for kernels
    costing about a millisecond per file) and map each through
    ``per_file`` / ``on_error`` into ``schema`` rows."""
    return map_files(_binary_scan(spark, pattern, light), per_file, on_error, schema)


def map_files(
    files: DataFrame,
    per_file: Callable[[str, str, bytes], list[tuple]],
    on_error: Callable[[str, str, Exception], list[tuple]],
    schema: str,
) -> DataFrame:
    """The harvest stage over any (path, content) frame — a batch
    ``binaryFile`` scan (:func:`harvest`) or a streaming micro-batch
    (streaming/stream.py stream_pdf_profiles): the package's row
    boundary (:func:`pdf_ocr_spark.operators.rows.map_rows`) with the
    file key rule in front of ``per_file`` and ``on_error``."""

    def key(path: str) -> str:
        m = _DOC_RE.search(path)
        return m.group(1) if m else path

    return map_rows(
        files.select("path", "content"),
        lambda path, content: per_file(key(path), path, content),
        schema,
        lambda path, content, e: on_error(key(path), path, e),
    )


def pdf_page_counts(spark: SparkSession, pdf_dir: str) -> DataFrame:
    """Metadata-only page counting: reads /Count from the pages tree,
    no raster decode — the cheap scan (reference app.py:415-430)."""
    from pdf_ocr_spark.sources.pdfcodec import page_count

    return harvest(
        spark,
        os.path.join(pdf_dir, "*.pdf"),
        lambda key, path, data: [(key, page_count(data))],
        lambda key, path, e: [(key, -1)],
        "doc_id string, n_pages int",
        light=True,
    )


def read_pdf_info(spark: SparkSession, pdf_dir: str) -> DataFrame:
    """Document-metadata scan: the §14.3.3 /Info dictionary plus the
    §14.3.2 XMP dc:title per file — no raster decode, the cheap
    metadata pass a curation pipeline runs before committing to
    extraction. One narrow Arrow stage over the binaryFile scan; a
    malformed file yields a row of NULLs rather than failing the
    partition (the error-as-row contract, reference app.py:486-493)."""
    from pdf_ocr_spark.sources.pdfcodec import pdf_info

    cols = ("title", "author", "producer", "created", "xmp_title")

    def per_file(key, path, data):
        got = pdf_info(data)
        return [(key,) + tuple(got.get(c) for c in cols)]

    return harvest(
        spark,
        os.path.join(pdf_dir, "*.pdf"),
        per_file,
        lambda key, path, e: [(key,) + (None,) * len(cols)],
        "doc_id string, title string, author string, "
        "producer string, created string, xmp_title string",
        light=True,
    )


def read_pdf_links(spark: SparkSession, pdf_dir: str) -> DataFrame:
    """Link-edge harvest over PDF corpora: §12.5.6.5 /Link annotations
    exploded to one (doc_id, page, kind, uri, to_page) row each in
    document order — kind 'uri' (§12.6.4.7 outbound actions, the PDF
    twin of the HTML link extractor feeding the crawl frontier),
    'goto' (§12.6.4.2 intra-document edges with the destination —
    direct, indirect, or named via the /Names /Dests tree — resolved
    to a target page index), and 'gotor' (§12.6.4.3 cross-document
    edges: uri carries the remote file, to_page the remote page
    number). Narrow Arrow stage, no raster decode; malformed files
    contribute no rows."""
    from pdf_ocr_spark.sources.pdfcodec import pdf_links

    return harvest(
        spark,
        os.path.join(pdf_dir, "*.pdf"),
        lambda key, path, data: [(key, *edge) for edge in pdf_links(data)],
        lambda key, path, e: [],
        "doc_id string, page int, kind string, uri string, to_page int",
        light=True,
    )


def read_pdf_attachments(
    spark: SparkSession, pdf_dir: str, password: str = ""
) -> DataFrame:
    """Embedded-file harvest over PDF corpora: §7.7.4 /EmbeddedFiles
    name trees exploded to one (doc_id, name, content) row per
    attachment in tree order — the side-data pass an ingestion
    pipeline runs over invoice/portfolio PDFs. Narrow Arrow stage, no
    raster decode; contents decode as UTF-8 text (replacement chars
    for binary payloads); malformed files contribute no rows."""
    from pdf_ocr_spark.sources.pdfcodec import pdf_attachments

    pw = password.encode()

    def per_file(key, path, data):
        return [
            (key, name, blob.decode("utf-8", "replace"))
            for name, blob in pdf_attachments(data, password=pw)
        ]

    return harvest(
        spark,
        os.path.join(pdf_dir, "*.pdf"),
        per_file,
        lambda key, path, e: [],
        "doc_id string, name string, content string",
        light=True,
    )


def read_pdf_form_fields(
    spark: SparkSession, pdf_dir: str, password: str = ""
) -> DataFrame:
    """Filled-form harvest over PDF corpora: §12.7.2 /AcroForm text
    fields exploded to one (doc_id, field, value) row per field in
    /Fields order — the structured-data pass an ingestion pipeline
    runs over application/invoice PDFs. Narrow Arrow stage, no raster
    decode; malformed files contribute no rows."""
    from pdf_ocr_spark.sources.pdfcodec import pdf_form_fields

    pw = password.encode()
    return harvest(
        spark,
        os.path.join(pdf_dir, "*.pdf"),
        lambda key, path, data: [
            (key, *field) for field in pdf_form_fields(data, password=pw)
        ],
        lambda key, path, e: [],
        "doc_id string, field string, value string",
        light=True,
    )


def read_pdf_outline(
    spark: SparkSession, pdf_dir: str, password: str = ""
) -> DataFrame:
    """Bookmark harvest over PDF corpora: §12.3.3 /Outlines trees
    exploded to one (doc_id, level, title, page) row per item in
    pre-order — the table-of-contents pass a document-understanding
    pipeline runs for section segmentation. Narrow Arrow stage, no
    raster decode; malformed files contribute no rows."""
    from pdf_ocr_spark.sources.pdfcodec import pdf_outline

    pw = password.encode()
    return harvest(
        spark,
        os.path.join(pdf_dir, "*.pdf"),
        lambda key, path, data: [
            (key, *item) for item in pdf_outline(data, password=pw)
        ],
        lambda key, path, e: [],
        "doc_id string, level int, title string, page int",
        light=True,
    )


def read_pdf_profiles(
    spark: SparkSession, pdf_dir: str, password: str = ""
) -> DataFrame:
    """The fused document-PROFILE pass: one row per file carrying
    every structure signal the curation tier wants — page count,
    /Info title, link/attachment/form-field/outline counts — from a
    SINGLE binaryFile scan and a SINGLE narrow Arrow stage, no joins.
    This is the 100 TB shape for running the whole metadata tier at
    once: the per-file cost is a handful of object-graph regex passes
    (no raster decode), and the scan is paid once instead of once per
    signal. A file any harvest rejects yields NULLs for that signal
    rather than dropping the row; a file the loader rejects yields a
    row of NULLs with doc_id set (error-as-row)."""
    per_file, on_error = profile_harvest(password)
    return harvest(
        spark,
        os.path.join(pdf_dir, "*.pdf"),
        per_file,
        on_error,
        PROFILE_SCHEMA,
        light=True,
    )


PROFILE_SCHEMA = (
    "doc_id string, n_pages int, title string, n_links int, "
    "n_attachments int, n_form_fields int, n_outline int"
)


def profile_harvest(password: str = ""):
    """The fused-profile ``(per_file, on_error)`` pair, shared by the
    batch scan (:func:`read_pdf_profiles`) and the incremental
    streaming harvest (streaming/stream.py stream_pdf_profiles) — one
    definition, two execution modes."""
    from pdf_ocr_spark.sources.pdfcodec import pdf_profile_signals

    pw = password.encode()

    def per_file(key, path, data):
        # ONE object-graph load per file for all six signals
        # (pdf_profile_signals) — per-signal error semantics
        # identical to the six public harvests
        got = pdf_profile_signals(data, password=pw)
        links = got["links"]
        return [
            (
                key,
                got["n_pages"],
                got["title"],
                # the profile's n_links counts OUTBOUND (/URI) links —
                # the frontier-feeding signal; intra-/cross-document
                # goto/gotor edges are pdf_links' own harvest
                None if links is None else sum(1 for r in links if r[1] == "uri"),
                got["n_attachments"],
                got["n_form_fields"],
                got["n_outline"],
            )
        ]

    return per_file, lambda key, path, e: [(key,) + (None,) * 6]


def extract_pdf_documents(spark: SparkSession, pdf_dir: str, config=None) -> DataFrame:
    """End-to-end real-PDF extraction: binaryFile -> parse -> OCR ->
    ordered per-document reassembly. Output: (doc_id, txt, n_pages,
    mean_confidence, n_errors) — raw OCR text, pages joined with a
    blank line, byte-stable for the fixture corpus.

    Parse and OCR are FUSED into one Arrow stage for every engine: each
    raster the codec decodes goes straight to
    :func:`pdf_ocr_spark.operators.ocr.ocr_image`. Carrying pages from a
    parse stage to an OCR stage as PNG bytes was measured at ~1.8x the
    whole query. A file the codec rejects is one ``[Error: ...]`` row;
    a page whose OCR fails is that page's error row, as in the
    reference (app.py:335-337)."""
    from pdf_ocr_spark.config import ExtractionConfig
    from pdf_ocr_spark.operators.ocr import ocr_image
    from pdf_ocr_spark.operators.spans import ordered, page_metrics
    from pdf_ocr_spark.sources.pdfcodec import decode_pdf

    cfg = config or ExtractionConfig()
    pw = cfg.pdf_password.encode()

    def per_file(key, path, data):
        return [
            (key, i, *ocr_image(img, i, cfg))
            for i, img in enumerate(decode_pdf(data, password=pw))
        ]

    decoded = harvest(
        spark,
        os.path.join(pdf_dir, "*.pdf"),
        per_file,
        lambda key, path, e: [(key, 0, f"[Error: {e}]", 0.0, True)],
        "doc_id string, offset int, text string, confidence double, error boolean",
    )
    return ordered(decoded, ("text", "confidence", "error")).select(
        "doc_id",
        F.array_join(F.transform("_ordered", lambda s: s["text"]), "\n\n").alias("txt"),
        *page_metrics(),
    )


def text_page_lines(text: str, words_per_page: int = WORDS_PER_PAGE, words_per_line: int = 8) -> list[list[str]]:
    """Page/line chunking for born-digital fixtures: the same 20-word
    pages as :func:`page_texts`, each split into 8-word lines (so the
    text-layer writer exercises multi-line Td/TL/T* positioning)."""
    pages = []
    for page in page_texts(text, words_per_page):
        words = page.split()
        if not words:
            pages.append([])
            continue
        pages.append(
            [" ".join(words[j : j + words_per_line]) for j in range(0, len(words), words_per_line)]
        )
    return pages


#: Text-layer corpus font-encoding rotation (round 5): doc id % 4
#: picks the font shape, so driver-green pdf_text_layer rows certify
#: every decode path — 0 legacy UTF-8, 1 /WinAnsiEncoding simple font,
#: 2 /Differences with a-z remapped to high codes, 3 Type0/Identity-H
#: CID with a /ToUnicode CMap. All four are content-transparent.
#: Round 6 overlays ``id % TTF_RESIDUES == 6``: an embedded font with
#: NO /ToUnicode and NO /Encoding — alternating (by ``id // 11``) a
#: symbolic TrueType subset (FontFile2: (3,0) cmap + post names,
#: §9.6.6.4) and a Type1 subset (FontFile: cleartext builtin encoding
#: vector, the pdfTeX CM shape) — certifying both embedded decode
#: tiers under the driver's exact oracle.
TEXT_ENCODINGS = ("legacy", "winansi", "differences", "cid")
TTF_RESIDUES = 11


def write_text_pdf_corpus(docs: DataFrame, out_dir: str) -> DataFrame:
    """One born-digital (text-layer, no raster) PDF per (doc_id, text)
    row — executor-side writes, same manifest contract as
    :func:`write_pdf_corpus`. Font encodings rotate per doc id
    (``TEXT_ENCODINGS``) so the extractor's /Encoding, /Differences,
    and /ToUnicode paths all appear in the fixture corpus; every
    ``id % ENCRYPT_RESIDUES == 1`` doc is additionally RC4-encrypted
    (the protected born-digital shape — content and /ToUnicode
    streams decrypt through the same handler path as the raster
    corpus, certified by pdf_text_layer's exact oracle)."""

    from pdf_ocr_spark.sources.pdfcodec import encode_text_pdf

    def render(doc_id, text):
        pages = text_page_lines(text)
        try:
            d = int(doc_id)
        except ValueError:
            d = 0
        if d % TTF_RESIDUES == 6:
            enc_name = "ttf" if (d // TTF_RESIDUES) % 2 == 0 else "type1"
        else:
            enc_name = TEXT_ENCODINGS[d % 4]
        blob = encode_text_pdf(
            pages, encoding=enc_name, encrypt=d % ENCRYPT_RESIDUES == 1
        )
        return blob, len(pages)

    return _write_corpus(docs, out_dir, render)


def read_pdf_text_layers(
    spark: SparkSession, pdf_dir: str, password: str = ""
) -> DataFrame:
    """binaryFile scan -> content-stream text extraction (no raster, no
    OCR): one row per document, pages joined with blank lines —
    the born-digital fast path the reference lacks entirely (it
    rasterizes and OCRs every input). Unparseable files become
    parse_error rows. ``password`` opens protected files (user or
    owner role)."""
    from pdf_ocr_spark.sources.pdfcodec import extract_text_layer

    pw = password.encode()
    return harvest(
        spark,
        os.path.join(pdf_dir, "*.pdf"),
        lambda key, path, data: [
            (key, "\n\n".join(extract_text_layer(data, password=pw)), None)
        ],
        lambda key, path, e: [(key, None, str(e))],
        "doc_id string, txt string, parse_error string",
        light=True,
    )


def mixed_page_segments(text: str, words_per_page: int = WORDS_PER_PAGE):
    """Deterministic hybrid-page structure for the interleaved fixture
    corpus: each 20-word page carries a born-digital TEXT segment
    (first 10 words) followed by a rendered IMAGE segment (last 10
    words, omitted when the chunk is empty) — so every page is a
    genuine text+media interleaving and the expected span sequence is
    derivable in pure SQL."""
    half = words_per_page // 2
    pages = []
    for chunk in page_texts(text, words_per_page):
        words = chunk.split()
        text_part = " ".join(words[:half])
        img_part = " ".join(words[half:])
        segs = [("text", [text_part])]
        if img_part:
            segs.append(("image", img_part))  # rendered by the writer kernel
        pages.append(segs)
    return pages


def write_mixed_pdf_corpus(docs: DataFrame, out_dir: str) -> DataFrame:
    """One hybrid (interleaved text+image) PDF per (doc_id, text) row —
    executor-side writes, same manifest contract as the other corpus
    writers. This is the fixture for the north star's core data model:
    pages that interleave born-digital text spans with raster media
    spans in content-stream order."""

    from pdf_ocr_spark.sources.glyphs import render_text_image
    from pdf_ocr_spark.sources.pdfcodec import encode_mixed_pdf

    def render(doc_id, text):
        pages = [
            [(k, render_text_image(p) if k == "image" else p) for k, p in segs]
            for segs in mixed_page_segments(text)
        ]
        return encode_mixed_pdf(pages), len(pages)

    return _write_corpus(docs, out_dir, render)


def read_pdf_spans(
    spark: SparkSession, pdf_dir: str, password: str = ""
) -> DataFrame:
    """binaryFile scan -> ordered interleaved span rows per document:
    (doc_id, offset, kind, text, media_ref) — the north star's full
    span tuple. Text spans come from the content stream's BT..ET
    blocks (font-decoded, NULL media_ref); image spans are
    OCR-decoded rasters from the XObject ``Do`` operators, each
    carrying a stable ``<file>#seg=<offset>`` media reference, in
    content-stream order — the PDF source emitting the engine's
    native span model directly. Unparseable files become one
    parse_error row."""
    from pdf_ocr_spark.operators.imaging import ocr_decode
    from pdf_ocr_spark.sources.pdfcodec import extract_page_segments

    pw = password.encode()

    def per_file(key, path, data):
        base = os.path.basename(path)
        rows = []
        for segs in extract_page_segments(data, password=pw):
            for kind, payload in segs:
                off = len(rows)
                if kind == "text":
                    rows.append((key, off, "text", payload, None, None))
                else:
                    text, _conf = ocr_decode(payload)
                    rows.append((key, off, "image", text, f"{base}#seg={off}", None))
        return rows

    return harvest(
        spark,
        os.path.join(pdf_dir, "*.pdf"),
        per_file,
        lambda key, path, e: [(key, 0, "error", None, None, str(e))],
        "doc_id string, offset int, kind string, text string, "
        "media_ref string, parse_error string",
        light=True,
    )
