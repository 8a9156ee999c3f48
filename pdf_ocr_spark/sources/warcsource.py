"""From-scratch WARC (Web ARChive, ISO 28500) subset reader/writer —
the container format real crawl corpora (e.g. Common Crawl) arrive in.

Writer emits ``response`` records with the standard header block
(``WARC/1.0``, ``WARC-Type``, ``WARC-Record-ID``, ``WARC-Target-URI``,
``Content-Type``, ``Content-Length``) and supports the two real-world
layouts: plain concatenated records (``.warc``) and **per-record gzip
members** (``.warc.gz`` — each record its own gzip stream, the layout
the spec recommends so records stay individually seekable).

Parser is layout-driven, not a reverse of the writer: it walks
``WARC/`` version lines, reads headers until the blank line, cuts the
payload by ``Content-Length`` (payload bytes may contain anything,
including ``WARC/`` — the byte count is the only safe cut, same rule
as the PDF /Length stream cut), and tolerates unknown headers and
record types. Gzip input is detected by magic bytes and inflated
member-by-member.

Spark-facing: ``read_warc_records`` is a ``binaryFile`` scan + one
Arrow-batched fan-out (file -> records) through the harvest boundary,
so a 10^12-record archive parses as a pure map stage; composition with
:mod:`pdf_ocr_spark.operators.webextract` gives the full
crawl-archive -> boilerplate-strip -> interleaved-spans pipeline.
"""

from __future__ import annotations

import gzip
import io
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

WARC_RECORDS_SCHEMA = (
    "path string not null, record_id string, warc_type string, "
    "target_uri string, content_type string, payload string, parse_error string"
)


def write_warc(records: list[tuple[str, str, str]], compress: bool = False) -> bytes:
    """Serialize (record_id, target_uri, html_payload) triples into
    WARC bytes. ``compress`` -> one gzip member per record (.warc.gz
    layout). Deterministic for a given input."""
    out = bytearray()
    for record_id, uri, payload in records:
        body = payload.encode("utf-8")
        rec = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            + f"WARC-Record-ID: <urn:uuid:{record_id}>\r\n".encode()
            + f"WARC-Target-URI: {uri}\r\n".encode()
            + b"Content-Type: text/html\r\n"
            + f"Content-Length: {len(body)}\r\n".encode()
            + b"\r\n"
            + body
            + b"\r\n\r\n"
        )
        if compress:
            buf = io.BytesIO()
            # mtime=0 -> byte-stable output
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(rec)
            out += buf.getvalue()
        else:
            out += rec
    return bytes(out)


def _inflate_members(data: bytes) -> bytes:
    """Concatenated gzip members -> concatenated plain bytes."""
    out = bytearray()
    with gzip.GzipFile(fileobj=io.BytesIO(data)) as gz:
        # gzip module transparently reads concatenated members
        out += gz.read()
    return bytes(out)


def parse_warc(data: bytes) -> list[dict]:
    """Parse WARC bytes into record dicts (record_id, warc_type,
    target_uri, content_type, payload). Unknown headers are ignored;
    a record without Content-Length is a structural error."""
    if data[:2] == b"\x1f\x8b":
        data = _inflate_members(data)
    records = []
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record whitespace
        while pos < n and data[pos : pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            break
        if not data.startswith(b"WARC/", pos):
            raise ValueError("malformed WARC: expected version line at byte %d" % pos)
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end == -1:
            raise ValueError("malformed WARC: unterminated header block")
        headers: dict[str, str] = {}
        lines = data[pos:head_end].split(b"\r\n")[1:]  # drop version line
        for ln in lines:
            k, _, v = ln.partition(b":")
            headers[k.strip().lower().decode()] = v.strip().decode()
        if "content-length" not in headers:
            raise ValueError("malformed WARC: record without Content-Length")
        length = int(headers["content-length"])
        body_start = head_end + 4
        body = data[body_start : body_start + length]
        if len(body) != length:
            raise ValueError("malformed WARC: payload shorter than Content-Length")
        rid = headers.get("warc-record-id", "").strip("<>")
        rid = rid.removeprefix("urn:uuid:")
        records.append(
            {
                "record_id": rid,
                "warc_type": headers.get("warc-type", ""),
                "target_uri": headers.get("warc-target-uri"),
                "content_type": headers.get("content-type"),
                "payload": body.decode("utf-8", errors="replace"),
            }
        )
        pos = body_start + length
    return records


def read_warc_records(spark: SparkSession, path: str) -> DataFrame:
    """``binaryFile`` scan over ``*.warc`` / ``*.warc.gz`` -> one row
    per record. Pure map fan-out; inherits the scan's file splits."""
    from pdf_ocr_spark.sources.pdfsource import harvest

    def fan_out(key, p, data):
        return [
            (
                p,
                rec["record_id"],
                rec["warc_type"],
                rec["target_uri"],
                rec["content_type"],
                rec["payload"],
                None,
            )
            for rec in parse_warc(data)
        ]

    return harvest(
        spark,
        os.path.join(path, "*.warc*"),
        fan_out,
        # error-as-row, never a task failure: one damaged archive file
        # in a 10^12-record scan must cost one diagnosable row, not the
        # job (same contract as the PDF source's parse_error rows)
        lambda key, p, e: [(p, None, None, None, None, None, str(e))],
        WARC_RECORDS_SCHEMA,
    )


def write_warc_corpus(
    html: DataFrame, out_dir: str, docs_per_file: int = 100, compress: bool = True
) -> DataFrame:
    """Shard an (doc_id, html) corpus into ``.warc.gz`` files
    (``docs_per_file`` records each, sharded by ``doc_id //
    docs_per_file`` so membership is deterministic), written
    executor-side. Returns the manifest (shard, path, n_records);
    triggering an action performs the writes."""

    def kernel(key, pdf):  # no hints: lets applyInPandas infer the grouped-map eval type
        shard = int(key[0])
        pdf = pdf.sort_values("doc_id")
        recs = [
            (f"doc-{int(d)}", f"https://corpus.example.org/doc/{int(d)}", h)
            for d, h in zip(pdf["doc_id"], pdf["html"])
        ]
        ext = "warc.gz" if compress else "warc"
        path = os.path.join(out_dir, f"shard_{shard:05d}.{ext}")
        os.makedirs(out_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(write_warc(recs, compress=compress))
        os.replace(tmp, path)
        return pd.DataFrame({"shard": [shard], "path": [path], "n_records": [len(recs)]})

    import pyspark.sql.functions as F

    sharded = html.withColumn(
        "shard", (F.col("doc_id") / docs_per_file).cast("long")
    )
    return sharded.groupBy("shard").applyInPandas(
        kernel, "shard LONG, path STRING, n_records LONG"
    )
