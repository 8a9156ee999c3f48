"""Each workload at a tiny size: its seeded inputs, its expectation, one
iteration of the program checked against it, its single-thread
profile, and the failure accounting that feeds ``failed_frac``."""

from __future__ import annotations

import os

import pytest

from perfbench import run
from perfbench.calibrate import Calibration
from perfbench.workloads import (
    PROFILE_METRICS,
    PdfProfile,
    ScannedPdf,
    SpanExtract,
    count_failures,
)

TINY = {
    "scanned_pdf": lambda: ScannedPdf({"flate": (6, 40), "dct": (2, 40), "jpx": (1, 20)}),
    "span_extract": lambda: SpanExtract(pages=1000),
    "pdf_profile": lambda: PdfProfile(n_files=60),
}


@pytest.fixture(scope="module", params=sorted(TINY))
def tiny(request, spark, work):
    wl = TINY[request.param]()
    inputs = wl.generate(spark, os.path.join(work, f"in-{wl.name}"), 7, 2)
    return wl, inputs, wl.expect(inputs)


def test_tiny_workload_passes_its_check(spark, work, tiny):
    wl, inputs, expected = tiny
    raw = wl.run_once(spark, inputs, os.path.join(work, f"out-{wl.name}"))
    actual = wl.actual(raw, inputs)
    assert count_failures(expected.docs, actual) == (len(expected.docs), 0)
    assert expected.pages >= len(expected.docs) > 0


def test_tiny_workload_profile_reports_every_layer(tiny):
    wl, inputs, _ = tiny
    profile = wl.kernel_profile(inputs)
    assert set(profile) == set(PROFILE_METRICS) | {"kernel_s"}
    assert profile["imaging.ocr_ms_per_page"] > 0 or wl.name == "pdf_profile"
    assert profile["pdfcodec.error_files"] == 0


def test_same_seed_same_inputs(spark, work):
    wl = TINY["pdf_profile"]()
    a = wl.generate(spark, os.path.join(work, "seed-a"), 3, 2)
    b = wl.generate(spark, os.path.join(work, "seed-b"), 3, 2)
    c = wl.generate(spark, os.path.join(work, "seed-c"), 4, 2)
    assert a.info == b.info
    assert a.info != c.info
    for name in os.listdir(a.root):
        if name.endswith(".pdf"):
            with open(os.path.join(a.root, name), "rb") as fa:
                with open(os.path.join(b.root, name), "rb") as fb:
                    assert fa.read() == fb.read()


def test_planted_span_errors_are_expected_not_failed(tiny):
    wl, _, expected = tiny
    if wl.name != "span_extract":
        pytest.skip("only the span corpus plants missing and corrupt media")
    errors = [s for doc in expected.docs.values() for s in doc[0] if s[1].startswith("[Error")]
    assert any("File not found" in s[1] for s in errors)
    assert any("not a PNG" in s[1] for s in errors)


def test_failure_accounting():
    expected = {"a": 1, "b": 2, "c": 3}
    assert count_failures(expected, {"a": 1, "b": 2, "c": 3}) == (3, 0)
    assert count_failures(expected, {"a": 1, "b": 9, "c": 3}) == (3, 1)
    assert count_failures(expected, {"a": 1, "c": 3}) == (3, 1)
    assert count_failures(expected, {"a": 1, "b": 2, "c": 3, "d": 4}) == (3, 1)


class _CorruptOne:
    """A workload whose output has one document's text altered."""

    def __init__(self, wl):
        self.wl = wl

    def __getattr__(self, name):
        return getattr(self.wl, name)

    def actual(self, raw, inputs):
        out = dict(self.wl.actual(raw, inputs))
        doc = min(out)
        out[doc] = ("corrupted",) + tuple(out[doc][1:])
        return out


def test_corrupted_output_counts_in_failed_frac(spark, work):
    wl = _CorruptOne(TINY["pdf_profile"]())
    inputs = wl.generate(spark, os.path.join(work, "in-corrupt"), 9, 2)
    expected = wl.expect(inputs)
    cal = Calibration(spark, 2, wl.calibration, work)
    loop = run.Loop(spark, wl, inputs, expected, work, cal)
    loop.run(0.0, "corrupt")
    n = len(loop.walls)
    assert n == run.MIN_ITERATIONS
    assert loop.attempted == n * len(expected.docs)
    assert loop.failed == n
    assert len(cal.walls) == n + 1
    e2e = loop.e2e(1.0)
    assert e2e["pages_per_s"] > 0
    assert e2e["cpu_ms_per_page"] > 0
    assert e2e["peak_rss_mb"] > 0
    assert e2e["setup_s"] > 0
