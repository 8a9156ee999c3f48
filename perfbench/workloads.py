"""The benchmark's three workloads.

Each workload writes its inputs from a seed with the package's own
fixture writers (``generate``), derives the expected output of every
document from those seeded inputs alone (``expect``), runs one
closed-loop iteration of the program on them (``run_once``), reads the
program's output back for the check (``actual``), and times its own
layers single-threaded on the driver for the traced run
(``kernel_profile``).

``scanned_pdf``
    Seeded scanned PDFs (the Flate corpus with its encrypted and rotated
    shapes, baseline and progressive DCT, JPX) through
    ``pdfsource.extract_pdf_documents``. Codec CPU dominates.
``span_extract``
    Seeded ``documents`` + ``media`` Parquet from ``sources.corpus``
    through ``plans.manifest.run_extraction`` into a fresh output
    directory: PNG decode and glyph OCR behind Arrow, a skewed
    reassembly shuffle and a partitioned Parquet write.
``pdf_profile``
    Many one-page Flate PDFs through ``pdfsource.read_pdf_profiles``:
    cheap files, so scan planning, scheduling and Python-worker
    transfer dominate.
"""

from __future__ import annotations

import functools
import os
import random
import time
from dataclasses import dataclass, field

#: Word list the scanned-page generator draws from: every letter is in
#: the glyph renderer's charset once upper-cased, so OCR is lossless.
WORDS = (
    "scan page text line word glyph pixel table query shuffle join merge "
    "sort spark engine batch arrow span image test"
).split()

#: Layer metrics a workload's single-thread profile reports; a layer the
#: workload never runs reads 0.
PROFILE_METRICS = (
    "pdfcodec.decode_ms_per_page.flate",
    "pdfcodec.decode_ms_per_page.dct",
    "pdfcodec.decode_ms_per_page.jpx",
    "pdfcodec.profile_ms_per_file",
    "pdfcodec.error_files",
    "pdfcodec.useful_frac",
    "imaging.ocr_ms_per_page",
    "ocr.png_decode_ms_per_page",
)


@dataclass
class Inputs:
    """What a workload's generator wrote for one seed: the input root and
    the seeded facts the expectation is derived from."""

    root: str
    info: dict = field(default_factory=dict)


@dataclass
class Expected:
    """The expected output of every document, and the input pages one
    iteration completes."""

    docs: dict
    pages: int
    image_pages: int = 0


def count_failures(expected: dict, actual: dict) -> tuple[int, int]:
    """(attempted, failed): every expected document is attempted; one
    whose output is missing or differs fails, and so does every output
    document nobody asked for."""
    failed = sum(1 for k, v in expected.items() if actual.get(k) != v)
    failed += sum(1 for k in actual if k not in expected)
    return len(expected), failed


def _timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def _profile(values: dict) -> dict:
    """``values`` over zeros for every profile metric and ``kernel_s``
    (the summed single-thread kernel seconds of one iteration)."""
    return {**dict.fromkeys(PROFILE_METRICS, 0.0), "kernel_s": 0.0, **values}


def _seeded_text(rng: random.Random, n_words: int) -> str:
    return " ".join(
        str(rng.randint(0, 999)) if rng.random() < 0.1 else rng.choice(WORDS)
        for _ in range(n_words)
    )


def _pdf_writer(spark, root: str, rows: list[tuple[str, str]], cores: int, **kind):
    """The lazy ``write_pdf_corpus`` manifest for ``rows``; counting it
    writes the files."""
    from pdf_ocr_spark.sources.pdfsource import write_pdf_corpus

    docs = spark.createDataFrame(rows, "doc_id string, text string")
    return write_pdf_corpus(docs.repartition(min(len(rows), 2 * cores)), root, **kind)


def _pdf_files(root: str) -> list[tuple[str, bytes]]:
    """(doc_id, bytes) of every PDF under ``root``, in name order."""
    out = []
    for name in sorted(os.listdir(root)):
        if name.endswith(".pdf"):
            with open(os.path.join(root, name), "rb") as f:
                out.append((name[len("doc_") : -len(".pdf")], f.read()))
    return out


class ScannedPdf:
    """Scanned PDFs of three raster codecs."""

    name = "scanned_pdf"
    kernel_layer = "pdfsource"
    calibration = "python"
    #: (docs, words per doc) per codec class; 20 words make one page.
    #: The Flate class is the writer's default corpus, which also rotates
    #: in its encrypted, rotated, CCITT, JBIG2, LZW and RLE shapes by doc
    #: id residue. One-page JPX files are smaller than the two-page DCT
    #: files, so the scan's size-ordered packing puts each codec class in
    #: bins of its own on every seed instead of mixing them by chance.
    SIZES = {"flate": (48, 40), "dct": (24, 40), "jpx": (12, 20)}

    def __init__(self, sizes: dict | None = None):
        self.sizes = dict(sizes or self.SIZES)

    def generate(self, spark, root: str, seed: int, cores: int) -> Inputs:
        rng = random.Random(f"scanned_pdf:{seed}")
        # consecutive ids from a multiple of 43: each class sees every
        # residue rotation of the writer in near-fixed proportions, and
        # the Flate class always holds a /Rotate doc (id % 43 == 15).
        # That doc must not also be an incremental-update doc
        # (id % 37 == 13): the writer re-encodes the update's page 0 from
        # the unrotated raster, so its text cannot be the seed's text.
        next_id = 43 * rng.randrange(1_000, 100_000)
        while (next_id + 15) % 37 == 13:
            next_id = 43 * rng.randrange(1_000, 100_000)
        texts, classes, writers = {}, {}, []
        for cls, (n, words) in self.sizes.items():
            rows = []
            for doc_id in map(str, range(next_id, next_id + n)):
                texts[doc_id] = _seeded_text(rng, words)
                classes[doc_id] = cls
                rows.append((doc_id, texts[doc_id]))
            next_id += n
            if rows:
                writers.append(
                    _pdf_writer(spark, root, rows, cores, dct=cls == "dct", jpx=cls == "jpx")
                )
        # one job for all three codec classes
        functools.reduce(lambda a, b: a.unionByName(b), writers).count()
        return Inputs(root, {"texts": texts, "classes": classes})

    def expect(self, inputs: Inputs) -> Expected:
        """Upper-cased 20-word pages joined by blank lines, no errors."""
        from pdf_ocr_spark.sources.pdfsource import page_texts

        docs = {}
        for doc_id, text in inputs.info["texts"].items():
            pages = [p.upper() for p in page_texts(text)]
            docs[doc_id] = ("\n\n".join(pages), len(pages), 0)
        return Expected(docs, sum(v[1] for v in docs.values()))

    def run_once(self, spark, inputs: Inputs, out_dir: str):
        from pdf_ocr_spark.sources.pdfsource import extract_pdf_documents

        return extract_pdf_documents(spark, inputs.root).collect()

    def actual(self, raw, inputs: Inputs) -> dict:
        return {r["doc_id"]: (r["txt"], r["n_pages"], r["n_errors"]) for r in raw}

    def ocr_pages(self, expected: Expected, actual: dict) -> tuple[int, int]:
        """(pages OCR decoded, error rows among them); every page is."""
        return expected.pages, sum(v[2] for v in actual.values())

    def kernel_profile(self, inputs: Inputs) -> dict:
        """Single-thread ``decode_pdf`` per codec class, ``ocr_decode``
        per page and ``pdf_profile_signals`` per file, over every file."""
        from pdf_ocr_spark.operators.imaging import ocr_decode
        from pdf_ocr_spark.sources.pdfcodec import decode_pdf, pdf_profile_signals

        decode_s = dict.fromkeys(("flate", "dct", "jpx"), 0.0)
        decode_pages = dict.fromkeys(decode_s, 0)
        ocr_s, ocr_pages, profile_s, errors = 0.0, 0, 0.0, 0
        files = _pdf_files(inputs.root)
        for doc_id, data in files:
            cls = inputs.info["classes"][doc_id]
            t0 = time.perf_counter()
            try:
                images = decode_pdf(data)
            except ValueError:
                errors += 1
                continue
            decode_s[cls] += time.perf_counter() - t0
            decode_pages[cls] += len(images)
            for img in images:
                ocr_s += _timed(ocr_decode, img)[1]
                ocr_pages += 1
            profile_s += _timed(pdf_profile_signals, data)[1]
        n = max(len(files), 1)
        out = {
            f"pdfcodec.decode_ms_per_page.{c}": 1e3 * decode_s[c] / max(decode_pages[c], 1)
            for c in decode_s
        }
        out.update(
            {
                "pdfcodec.profile_ms_per_file": 1e3 * profile_s / n,
                "pdfcodec.error_files": float(errors),
                "pdfcodec.useful_frac": (len(files) - errors) / n,
                "imaging.ocr_ms_per_page": 1e3 * ocr_s / max(ocr_pages, 1),
                "kernel_s": sum(decode_s.values()) + ocr_s,
            }
        )
        return _profile(out)


class SpanExtract:
    """The flagship span-model pipeline, written through the manifest."""

    name = "span_extract"
    kernel_layer = "ocr"
    calibration = "engine"
    #: spans (pages) per iteration; the document count follows the seed
    PAGES = 4_000
    MISSING_RATE = 0.02
    CORRUPT_RATE = 0.02
    #: media payloads the single-thread profile decodes
    PROFILE_PAGES = 400

    def __init__(self, pages: int | None = None):
        self.pages = pages or self.PAGES

    @staticmethod
    def docs_for_pages(seed: int, pages: int) -> int:
        """The fewest leading documents of the seed's corpus holding at
        least ``pages`` spans, by the generator's own per-doc span-count
        draw. Fixing pages rather than documents keeps one iteration's
        work steady across seeds despite the 50–200-span documents."""
        from pdf_ocr_spark.sources.corpus import _span_count, doc_id_for

        n = total = 0
        while total < pages:
            total += _span_count(random.Random(f"{seed}:{doc_id_for(n)}"))
            n += 1
        return n

    def generate(self, spark, root: str, seed: int, cores: int) -> Inputs:
        from pdf_ocr_spark.sources.corpus import materialize_corpus

        docs_path, media_path = materialize_corpus(
            spark,
            root,
            n_docs=self.docs_for_pages(seed, self.pages),
            seed=seed,
            missing_rate=self.MISSING_RATE,
            corrupt_rate=self.CORRUPT_RATE,
            partitions=2 * cores,
        )
        return Inputs(root, {"docs": docs_path, "media": media_path, "seed": seed})

    def expect(self, inputs: Inputs) -> Expected:
        """The span-equality oracle over the seeded documents table: text
        spans sanitized and OCR-fixed, image spans the seed's page text,
        planted missing and corrupt media their error rows; then the
        oracle serializers over the ordered pages."""
        import pyarrow.parquet as pq

        from pdf_ocr_spark import oracle

        seed = inputs.info["seed"]
        docs, pages, image_pages = {}, 0, 0
        for row in pq.read_table(inputs.info["docs"]).to_pylist():
            doc_id = row["doc_id"]
            spans, n_errors = [], 0
            for s in sorted(row["spans"], key=lambda s: s["offset"]):
                text, is_error = self._expected_text(doc_id, s, seed)
                spans.append(("text", text, s["media_ref"], s["offset"]))
                n_errors += is_error
            by_offset = {s[3]: s[1] for s in spans}
            docs[doc_id] = (
                tuple(spans),
                len(spans),
                n_errors,
                oracle.serialize_txt(by_offset),
                oracle.serialize_markdown(by_offset),
                oracle.serialize_html(by_offset, title=doc_id),
            )
            pages += len(spans)
            image_pages += sum(1 for s in row["spans"] if s["kind"] == "image")
        return Expected(docs, pages, image_pages)

    def _expected_text(self, doc_id: str, span: dict, seed: int) -> tuple[str, bool]:
        from pdf_ocr_spark import oracle
        from pdf_ocr_spark.sources.corpus import _media_fate, expected_page_text

        if span["kind"] == "text":
            raw = span["text"]
        else:
            off = span["offset"]
            fate = _media_fate(doc_id, off, seed)
            if fate < self.MISSING_RATE:
                return (
                    f"[Error: File not found: {span['media_ref']}. "
                    "Ensure the file exists and is accessible.]",
                    True,
                )
            if fate < self.MISSING_RATE + self.CORRUPT_RATE:
                return f"[Error processing page {off + 1}: not a PNG (bad signature)]", True
            raw = expected_page_text(doc_id, off, seed)
        return oracle.fix_common_ocr_errors(oracle.sanitize_text(raw)) or "", False

    def run_once(self, spark, inputs: Inputs, out_dir: str):
        from pdf_ocr_spark.plans.manifest import run_extraction

        run_extraction(
            spark,
            spark.read.parquet(inputs.info["docs"]),
            spark.read.parquet(inputs.info["media"]),
            out_dir,
            run_id="perfbench",
        )
        return out_dir

    def actual(self, raw, inputs: Inputs) -> dict:
        import pyarrow.parquet as pq

        cols = ["doc_id", "spans", "n_pages", "n_errors", "txt", "md", "html"]
        out = {}
        for r in pq.read_table(os.path.join(raw, "documents"), columns=cols).to_pylist():
            spans = tuple(
                (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
            )
            out[r["doc_id"]] = (spans, r["n_pages"], r["n_errors"], r["txt"], r["md"], r["html"])
        return out

    def ocr_pages(self, expected: Expected, actual: dict) -> tuple[int, int]:
        """(image pages, error rows among them)."""
        return expected.image_pages, sum(v[2] for v in actual.values())

    def kernel_profile(self, inputs: Inputs) -> dict:
        """Single-thread ``decode_png`` and ``ocr_decode`` over the first
        ``PROFILE_PAGES`` media payloads in media_ref order."""
        import pyarrow.parquet as pq

        from pdf_ocr_spark.operators.imaging import ocr_decode
        from pdf_ocr_spark.sources.pngcodec import decode_png

        rows = pq.read_table(inputs.info["media"]).to_pylist()
        rows.sort(key=lambda r: r["media_ref"])
        png_s, ocr_s, decoded = 0.0, 0.0, 0
        for r in rows[: self.PROFILE_PAGES]:
            t0 = time.perf_counter()
            try:
                img = decode_png(r["payload"])
            except ValueError:
                continue  # a planted corrupt payload
            png_s += time.perf_counter() - t0
            decoded += 1
            ocr_s += _timed(ocr_decode, img)[1]
        n = max(decoded, 1)
        return _profile(
            {
                "imaging.ocr_ms_per_page": 1e3 * ocr_s / n,
                "ocr.png_decode_ms_per_page": 1e3 * png_s / n,
            }
        )


class PdfProfile:
    """Many one-page Flate PDFs through the fused profile scan."""

    name = "pdf_profile"
    kernel_layer = "pdfsource"
    calibration = "engine"
    N_FILES = 2000
    WORDS_PER_DOC = 20  # one page

    def __init__(self, n_files: int | None = None):
        self.n_files = n_files or self.N_FILES

    def generate(self, spark, root: str, seed: int, cores: int) -> Inputs:
        rng = random.Random(f"pdf_profile:{seed}")
        first = rng.randrange(1_000, 10_000_000)
        texts = {
            str(d): _seeded_text(rng, self.WORDS_PER_DOC)
            for d in range(first, first + self.n_files)
        }
        _pdf_writer(spark, root, list(texts.items()), cores).count()
        return Inputs(root, {"texts": texts})

    def expect(self, inputs: Inputs) -> Expected:
        """The writer's per-doc rules: /Info title, an outbound link on
        page i iff (id + i) is even, two attachments on id % 41 == 14,
        three form fields on id % 47 == 16, one outline item per page on
        id % 53 == 17."""
        from pdf_ocr_spark.sources.pdfsource import page_texts

        docs = {}
        for doc_id, text in inputs.info["texts"].items():
            d, n = int(doc_id), len(page_texts(text))
            docs[doc_id] = (
                n,
                f"Document {doc_id}",
                sum(1 for i in range(n) if (d + i) % 2 == 0),
                2 if d % 41 == 14 else 0,
                3 if d % 47 == 16 else 0,
                n if d % 53 == 17 else 0,
            )
        return Expected(docs, sum(v[0] for v in docs.values()))

    def run_once(self, spark, inputs: Inputs, out_dir: str):
        from pdf_ocr_spark.sources.pdfsource import read_pdf_profiles

        return read_pdf_profiles(spark, inputs.root).collect()

    def actual(self, raw, inputs: Inputs) -> dict:
        cols = ("n_pages", "title", "n_links", "n_attachments", "n_form_fields", "n_outline")
        return {r["doc_id"]: tuple(r[c] for c in cols) for r in raw}

    def ocr_pages(self, expected: Expected, actual: dict) -> tuple[int, int]:
        return 0, 0  # no OCR in a profile scan

    def kernel_profile(self, inputs: Inputs) -> dict:
        """Single-thread ``pdf_profile_signals`` over every file."""
        from pdf_ocr_spark.sources.pdfcodec import pdf_profile_signals

        files = _pdf_files(inputs.root)
        total, errors = 0.0, 0
        for _, data in files:
            got, dt = _timed(pdf_profile_signals, data)
            total += dt
            errors += got["n_pages"] is None
        n = max(len(files), 1)
        return _profile(
            {
                "pdfcodec.profile_ms_per_file": 1e3 * total / n,
                "pdfcodec.error_files": float(errors),
                "pdfcodec.useful_frac": (len(files) - errors) / n,
                "kernel_s": total,
            }
        )


WORKLOADS = {w.name: w for w in (ScannedPdf, SpanExtract, PdfProfile)}
