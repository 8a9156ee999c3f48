"""Canonical schemas for the extraction engine.

The input table shape comes from ``BASELINE.json`` ``input_hint``:
``documents(doc_id:string, spans:array<struct<kind,text,media_ref,offset>>)``.
Order inside ``spans`` is semantic (the reference reassembles pages by
sorted page index, ``/root/reference/app.py:548``), hence an ordered
``ArrayType`` of structs — never a ``MapType``.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: One span of an interleaved document. ``kind`` is 'text' or 'image';
#: text spans carry ``text`` (media_ref=''), image spans carry a
#: ``media_ref`` pointer (text='').  ``offset`` is the 0-based position
#: of the span within its document and defines span order.
SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("text", StringType(), True),
        StructField("media_ref", StringType(), True),
        StructField("offset", IntegerType(), False),
    ]
)

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN_STRUCT), False),
    ]
)

#: Side table holding media payloads, keyed by ``media_ref``. Keeping
#: binary payloads out of the documents table keeps its rows small so the
#: span-level shuffle (when used) moves only pointers.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("payload", BinaryType(), True),
    ]
)

#: Per-partition checkpoint manifest (FIXTURES.md F4). Appended once per
#: completed partition; resume anti-joins against status='completed'.
MANIFEST_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("salt", IntegerType(), True),
        StructField("status", StringType(), False),
        StructField("n_docs", LongType(), True),
        StructField("n_pages", LongType(), True),
        StructField("mean_confidence", DoubleType(), True),
        StructField("elapsed_s", DoubleType(), True),
        StructField("ts", TimestampType(), True),
    ]
)
