"""End-to-end pipeline tests: span-sequence equality against the
deterministic corpus oracle, error-as-row semantics, salted reassembly
equivalence, and checkpoint/resume idempotency."""

from __future__ import annotations

import re
import threading

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark import SparkContext

from pdf_ocr_spark import oracle
from pdf_ocr_spark.config import ExtractionConfig
from pdf_ocr_spark.functions import jvmcache
from pdf_ocr_spark.operators.spans import doc_bucket, explode_spans, reassemble_spans
from pdf_ocr_spark.plans.manifest import local_frame, read_manifest, run_extraction
from pdf_ocr_spark.plans.pipeline import extract_documents
from pdf_ocr_spark.sources.corpus import (
    _media_fate,
    expected_page_text,
    generate_documents,
    generate_media,
)

MISSING_RATE = 0.06
CORRUPT_RATE = 0.06
SEED = 42


def expected_output_span(doc_id: str, span) -> tuple[str, str, str, int]:
    """The span-equality oracle: what the pipeline must emit for one
    input span (kind, text, media_ref, offset)."""
    if span["kind"] == "text":
        return ("text", oracle.fix_common_ocr_errors(oracle.sanitize_text(span["text"])) or "", "", span["offset"])
    off = span["offset"]
    fate = _media_fate(doc_id, off, SEED)
    if fate < MISSING_RATE:
        text = (
            f"[Error: File not found: {span['media_ref']}. "
            "Ensure the file exists and is accessible.]"
        )
    elif fate < MISSING_RATE + CORRUPT_RATE:
        text = f"[Error processing page {off + 1}: not a PNG (bad signature)]"
    else:
        raw = expected_page_text(doc_id, off, SEED)
        text = oracle.fix_common_ocr_errors(oracle.sanitize_text(raw)) or ""
    return ("text", text, span["media_ref"], off)


@pytest.fixture(scope="module")
def corpus(spark):
    docs = generate_documents(spark, n_docs=60, seed=SEED).cache()
    media = generate_media(
        spark, docs, seed=SEED, missing_rate=MISSING_RATE, corrupt_rate=CORRUPT_RATE
    ).cache()
    return docs, media


def test_span_sequence_equality(spark, corpus):
    """North-rule invariant: per-document span-sequence equality on
    (kind, text, media_ref, order) against the oracle."""
    docs, media = corpus
    out = {r["doc_id"]: r for r in extract_documents(docs, media).collect()}
    inputs = docs.collect()
    assert len(out) == len(inputs)
    for row in inputs:
        want = [expected_output_span(row["doc_id"], s) for s in row["spans"]]
        got = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in out[row["doc_id"]]["spans"]]
        assert got == want, f"span mismatch for {row['doc_id']}"


def test_serialized_outputs_match_oracle(spark, corpus):
    docs, media = corpus
    out = extract_documents(docs, media).collect()
    for row in out:
        pages = {s["offset"]: s["text"] for s in row["spans"]}
        assert row["txt"] == oracle.serialize_txt(pages)
        assert row["md"] == oracle.serialize_markdown(pages)
        assert row["html"] == oracle.serialize_html(pages, title=row["doc_id"])


def test_error_rows_present_not_fatal(spark, corpus):
    docs, media = corpus
    out = extract_documents(docs, media)
    n_err = out.selectExpr("sum(n_errors) as e").collect()[0]["e"]
    assert n_err > 0  # corpus injects missing+corrupt media
    # errors recorded as data; all documents still produced
    assert out.count() == docs.count()


def test_unsupported_engine_error_rows(spark, corpus):
    docs, media = corpus
    cfg = ExtractionConfig(ocr_engine="notreal")
    out = extract_documents(docs, media, cfg, serialize=False)
    bad = out.selectExpr(
        "exists(spans, s -> s.text = '[Error: Unsupported OCR engine: notreal]') as has_err",
        "size(filter(spans, s -> s.media_ref != '')) as n_img",
    ).collect()
    for r in bad:
        assert (r["n_img"] == 0) or r["has_err"]


def test_salted_reassembly_equivalent(spark, corpus):
    docs, _ = corpus
    pages = explode_spans(docs)
    plain = {r["doc_id"]: r["spans"] for r in reassemble_spans(pages).collect()}
    salted = {r["doc_id"]: r["spans"] for r in reassemble_spans(pages, n_salt=4).collect()}
    assert plain == salted


def test_resume_is_idempotent(spark, corpus, tmp_path):
    """FIXTURES F4: run killed after k buckets, rerun with same run_id ->
    completed buckets skipped, final output identical to uninterrupted."""
    docs, media = corpus
    n_buckets = 8

    interrupted = str(tmp_path / "interrupted")
    clean = str(tmp_path / "clean")

    # simulated partial run (only buckets 0-2 survive before the "kill")
    k1 = run_extraction(
        spark, docs, media, interrupted, "run1", n_buckets=n_buckets, only_buckets=[0, 1, 2]
    )
    assert 0 < k1 <= 3
    # resume: must process only the remaining buckets
    k2 = run_extraction(spark, docs, media, interrupted, "run1", n_buckets=n_buckets)
    m = read_manifest(spark, interrupted)
    assert m.where("status = 'completed'").count() == k1 + k2

    # uninterrupted reference run
    run_extraction(spark, docs, media, clean, "run1", n_buckets=n_buckets)

    a = spark.read.parquet(f"{interrupted}/documents").select("doc_id", "txt").orderBy("doc_id")
    b = spark.read.parquet(f"{clean}/documents").select("doc_id", "txt").orderBy("doc_id")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_auto_salted_reassembly_equivalent(spark, corpus):
    from pdf_ocr_spark.plans.salting import reassemble_spans_auto_salted

    docs, _ = corpus
    pages = explode_spans(docs)
    plain = {r["doc_id"]: r["spans"] for r in reassemble_spans(pages).collect()}
    # low thresholds so the hot path actually engages on the 50-200-span docs
    auto = {
        r["doc_id"]: r["spans"]
        for r in reassemble_spans_auto_salted(pages, hot_threshold=40, target_per_group=25).collect()
    }
    assert plain == auto


def test_span_equality_with_skewed_pages(spark):
    """Pages rendered with shear (deskew path) still meet the
    span-sequence-equality contract end-to-end."""
    docs = generate_documents(spark, n_docs=25, seed=55)
    media = generate_media(spark, docs, seed=55, shear_rate=0.5)
    out = {r["doc_id"]: r for r in extract_documents(docs, media).collect()}
    for row in docs.collect():
        for s in row["spans"]:
            if s["kind"] != "image":
                continue
            want = oracle.fix_common_ocr_errors(
                oracle.sanitize_text(expected_page_text(row["doc_id"], s["offset"], 55))
            ) or ""
            got = [t["text"] for t in out[row["doc_id"]]["spans"] if t["offset"] == s["offset"]][0]
            assert got == want, (row["doc_id"], s["offset"])


def test_salted_join_equivalent(spark):
    from pyspark.sql import functions as F

    from pdf_ocr_spark.plans.salting import salted_join

    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    dims = (
        e.groupBy("user_id").agg(F.count("*").alias("user_events"))
    )
    plain = e.join(dims, "user_id").select("event_id", "user_events")
    salted = salted_join(e, dims, key="user_id", salt_from="event_id", n_salt=8).select(
        "event_id", "user_events"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_resume_tolerates_duplicate_manifest_rows(spark, corpus, tmp_path):
    """Concurrent or retried runs can append duplicate manifest rows
    (e.g. two drivers racing on the same run_id); resume must stay
    correct: distinct completed buckets, idempotent bucket overwrite."""
    docs, media = corpus
    out = str(tmp_path / "dup")
    run_extraction(spark, docs, media, out, "run1", n_buckets=4, only_buckets=[0, 1])
    # simulate a racing driver double-appending the same manifest rows
    n_before = read_manifest(spark, out).count()
    read_manifest(spark, out).write.mode("append").parquet(f"{out}/_manifest")
    assert read_manifest(spark, out).count() == 2 * n_before
    k = run_extraction(spark, docs, media, out, "run1", n_buckets=4)
    assert k == 2  # only the genuinely missing buckets ran
    # output has every document exactly once
    got = spark.read.parquet(f"{out}/documents")
    assert got.count() == docs.count()
    assert got.select("doc_id").distinct().count() == docs.count()


def test_salted_pipeline_equivalent(spark, corpus):
    """extract_documents with reassembly_salt produces identical spans,
    serializations, and metrics to the plain single-stage pipeline."""
    docs, media = corpus
    plain = {r["doc_id"]: r for r in extract_documents(docs, media).collect()}
    salted_cfg = ExtractionConfig(reassembly_salt=4)
    salted = {r["doc_id"]: r for r in extract_documents(docs, media, salted_cfg).collect()}
    assert plain.keys() == salted.keys()
    for k in plain:
        a, b = plain[k], salted[k]
        assert [tuple(s) for s in a["spans"]] == [tuple(s) for s in b["spans"]]
        assert a["txt"] == b["txt"] and a["n_pages"] == b["n_pages"]
        assert a["n_errors"] == b["n_errors"]
        assert a["mean_confidence"] == b["mean_confidence"]


def test_salted_and_plain_bucketed_runs_agree(spark, corpus, tmp_path):
    """Salted and plain bucketed runs write the same rows, and the
    salted plan keeps the (doc_id, _salt) stage-1 exchange below
    (before) the bucket exchange, so hot documents still spread."""
    docs, media = corpus
    salted_cfg = ExtractionConfig(reassembly_salt=4)
    cols = ["doc_id", "spans", "txt", "md", "html", "n_pages", "n_errors", "mean_confidence"]
    written = []
    for name, cfg in (("plain", None), ("salted", salted_cfg)):
        out = str(tmp_path / name)
        run_extraction(spark, docs, media, out, "run1", config=cfg, n_buckets=8)
        got = spark.read.parquet(f"{out}/documents").select(*cols).orderBy("doc_id").collect()
        written.append([tuple(r) for r in got])
    assert written[0] == written[1]
    assert len(written[0]) == docs.count()

    plan = extract_documents(docs, media, salted_cfg, buckets=8)._jdf.queryExecution().executedPlan().toString()
    bucket = re.search(r"Exchange shufflepartitionidpassthrough\(direct_shuffle_partition_id\(bucket#", plan)
    salt = re.search(r"Exchange hashpartitioning\(doc_id#\d+, _salt#\d+L?, \d+\)", plan)
    assert bucket and salt
    assert bucket.start() < salt.start()


def test_manifest_confidence_is_summed_in_doc_id_order(spark, corpus, tmp_path):
    """A bucket's ``mean_confidence`` is its documents' values summed in
    doc_id order, bit for bit, whatever order the plain and the salted
    plan deliver the rows in."""
    docs, media = corpus
    for name, cfg in (("plain", None), ("salted", ExtractionConfig(reassembly_salt=4))):
        out = str(tmp_path / name)
        run_extraction(spark, docs, media, out, "run1", config=cfg, n_buckets=2)
        want = {}
        written = spark.read.parquet(f"{out}/documents").select("bucket", "doc_id", "mean_confidence")
        for r in sorted(written.collect()):
            n, total = want.get(r["bucket"], (0, 0.0))
            want[r["bucket"]] = (n + 1, total + r["mean_confidence"])
        got = {r["partition_id"]: r["mean_confidence"] for r in read_manifest(spark, out).collect()}
        assert {b: float.hex(v) for b, v in got.items()} == {
            b: float.hex(total / n) for b, (n, total) in want.items()
        }, name


#: d2 and d7 have no spans: an empty and a NULL array
SPANLESS_DOCS = [
    ("d1", [("text", "one page", "", 0)]),
    ("d2", []),
    ("d7", None),
]
SPANLESS_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def test_documents_without_spans_keep_one_row(spark):
    docs = local_frame(spark, SPANLESS_DOCS, SPANLESS_SCHEMA)
    media = local_frame(spark, [], "media_ref string, payload binary")
    out = {r["doc_id"]: r for r in extract_documents(docs, media).collect()}
    assert sorted(out) == ["d1", "d2", "d7"]
    assert [tuple(s) for s in out["d1"]["spans"]] == [("text", "one page", "", 0)]
    for doc_id in ("d2", "d7"):
        r = out[doc_id]
        assert r["spans"] == []
        assert (r["n_pages"], r["n_errors"], r["mean_confidence"]) == (0, 0, None)
        assert r["txt"] == oracle.serialize_txt({})
        assert r["md"] == oracle.serialize_markdown({})
        assert r["html"] == oracle.serialize_html({}, title=doc_id)


def test_bucket_of_spanless_documents_completes(spark, tmp_path):
    docs = local_frame(spark, SPANLESS_DOCS, SPANLESS_SCHEMA)
    media = local_frame(spark, [], "media_ref string, payload binary")
    buckets = {r[0] for r in docs.select(doc_bucket(4)).collect()}
    out = str(tmp_path / "spanless")
    assert run_extraction(spark, docs, media, out, "run1", n_buckets=4) == len(buckets)
    manifest = read_manifest(spark, out).collect()
    assert {r["partition_id"] for r in manifest} == buckets
    assert sum(r["n_docs"] for r in manifest) == 3
    assert sum(r["n_pages"] for r in manifest) == 1
    assert run_extraction(spark, docs, media, out, "run1", n_buckets=4) == 0


@pytest.mark.parametrize("n_salt", [0, 4])
def test_reassembly_inverts_explode_for_spanless_documents(spark, n_salt):
    docs = local_frame(spark, SPANLESS_DOCS, SPANLESS_SCHEMA)
    out = reassemble_spans(explode_spans(docs), n_salt=n_salt).collect()
    assert {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in out} == {
        "d1": [("text", "one page", "", 0)],
        "d2": [],
        "d7": [],
    }


def _py4j_calls(build) -> int:
    """py4j commands ``build()`` sends from this thread (the gateway's
    finalizer thread sends object releases on its own)."""
    me, n = threading.get_ident(), [0]
    send = ClientServerConnection.send_command

    def counting(self, command):
        if threading.get_ident() == me:
            n[0] += 1
        return send(self, command)

    ClientServerConnection.send_command = counting
    try:
        build()
    finally:
        ClientServerConnection.send_command = send
    return n[0]


def test_warm_build_makes_at_most_half_the_round_trips(spark, corpus, monkeypatch):
    docs, media = corpus

    def build():
        extract_documents(docs, media, buckets=8)

    build()  # imports and first-use setup outside the counts
    monkeypatch.setattr(jvmcache, "_built", (None, {}))
    cold = _py4j_calls(build)
    warm = min(_py4j_calls(build) for _ in range(2))
    assert 0 < 2 * warm <= cold, (cold, warm)


#: py4j round trips of a warm fresh ``run_extraction`` on this corpus
#: while the manifest was appended by a Spark job and every run planned
#: the resume join (BENCH.md)
SPARK_APPEND_RUN_ROUND_TRIPS = 829


def test_warm_run_makes_at_most_half_the_round_trips(spark, corpus, tmp_path):
    docs, media = corpus
    outs = (str(tmp_path / f"run{k}") for k in range(3))

    def run():
        assert run_extraction(spark, docs, media, next(outs), "run1", n_buckets=4) == 4

    run()  # first-use setup outside the count
    warm = min(_py4j_calls(run) for _ in range(2))
    assert 0 < 2 * warm <= SPARK_APPEND_RUN_ROUND_TRIPS, warm


def test_fixed_expressions_are_cached_per_jvm(monkeypatch):
    """Pure Python: a stub JVM view stands in for the gateway's."""
    built = []

    @jvmcache.per_jvm
    def column(name):
        built.append(name)
        return object()

    jvm_a, jvm_b = object(), object()
    monkeypatch.setattr(jvmcache, "_built", (None, {}))
    monkeypatch.setattr(SparkContext, "_jvm", jvm_a)
    first = column("x")
    assert column("x") is first and built == ["x"]
    assert column("y") is not first and built == ["x", "y"]
    monkeypatch.setattr(SparkContext, "_jvm", jvm_b)  # a relaunched gateway
    second = column("x")
    assert second is not first and built == ["x", "y", "x"]
    assert column("x") is second
    monkeypatch.setattr(SparkContext, "_jvm", jvm_a)
    assert column("x") is not first and built == ["x", "y", "x", "x"]
