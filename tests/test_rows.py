"""The row boundary (``operators.rows``): per-row containment, whole-row
output, exact typed output, that it stays the only per-row
``mapInPandas``/``mapInArrow`` stage in the package, and that
``local_frame`` is its only ``createDataFrame``."""

from __future__ import annotations

import ast
import glob
import os

import pytest
from pyspark.errors import PythonException

from pdf_ocr_spark.operators.rows import map_rows
from pdf_ocr_spark.plans.manifest import local_frame

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TYPED = "i long, big long, n int, emb array<float>, raw binary"


def _typed_rows():
    """A ``per_row`` whose rows hold int64 values past 2^53, NULLs of
    every type, ``array<float>`` (float32-exact values) and binary.
    Built in a closure, so that workers unpickle it by value."""

    def per_row(i):
        return [
            (i, (1 << 53) + 2 * i + 1, None if i % 2 else -i, [0.5, -2.0, 1.25], bytes([i, 0, 255])),
            (i, -(1 << 62) - i, 2**31 - 1, None, b""),
            (i, None, None, [], None),
        ]

    return per_row


def test_raising_row_becomes_its_error_rows(spark):
    df = spark.range(0, 40, numPartitions=3)

    def per_row(i):
        if i % 7 == 3:
            raise ValueError(f"bad {i}")
        return [(i, "ok")]

    out = map_rows(df, per_row, "i long, v string", lambda i, e: [(i, f"error: {e}")])
    got = dict(tuple(r) for r in out.collect())
    assert got == {i: f"error: bad {i}" if i % 7 == 3 else "ok" for i in range(40)}


def test_fan_out_that_fails_part_way_leaves_no_partial_rows(spark):
    df = spark.range(0, 6, numPartitions=2)

    def per_row(i):
        yield (i, 0)
        yield (i, 1)
        if i == 4:
            raise ValueError("third frame")
        yield (i, 2)

    out = map_rows(df, per_row, "i long, k int", lambda i, e: [(i, -1)])
    got = sorted(tuple(r) for r in out.collect())
    assert got == sorted([(i, k) for i in range(6) if i != 4 for k in range(3)] + [(4, -1)])


def test_without_on_error_the_exception_propagates(spark):
    def per_row(i):
        raise ValueError("uncontained")

    with pytest.raises(PythonException, match="uncontained"):
        map_rows(spark.range(2), per_row, "i long").collect()


def test_typed_output_round_trips_exactly(spark):
    per_row = _typed_rows()
    want = [r for i in range(5) for r in per_row(i)]
    out = map_rows(spark.range(0, 5, numPartitions=2), per_row, TYPED)
    got = sorted((tuple(r) for r in out.collect()), key=repr)
    assert got == sorted(want, key=repr)
    # the driver-built frame goes through the same conversion
    assert sorted((tuple(r) for r in local_frame(spark, want, TYPED).collect()), key=repr) == sorted(
        want, key=repr
    )


def test_empty_batches_and_empty_output(spark):
    empty = spark.range(0, 10, numPartitions=4).where("id < 0")
    assert map_rows(empty, _typed_rows(), TYPED).collect() == []
    # rows in, no rows out: every output batch is empty
    assert map_rows(spark.range(0, 10, numPartitions=4), lambda i: [], TYPED).count() == 0
    assert local_frame(spark, [], TYPED).collect() == []


#: (file under pdf_ocr_spark/, top-level definition) allowed to call
#: ``mapInPandas``/``mapInArrow`` directly. Everything else that maps
#: rows through Python goes through ``map_rows``.
ALLOWED_MAPS = {
    # the row boundary itself
    ("operators/rows.py", "map_rows"),
    # fixture generators: they write the benchmark's and the queries'
    # inputs and read no untrusted bytes
    ("sources/corpus.py", "generate_documents"),
    ("sources/corpus.py", "generate_media"),
    ("sources/corpus.py", "media_expectation_manifest"),
    ("sources/corpus.py", "layout_expectation_manifest"),
    ("sources/corpus.py", "hocr_expectation_manifest"),
    ("sources/audiogen.py", "wav_corpus"),
    ("sources/videogen.py", "avi_corpus"),
    ("sources/webgen.py", "generate_html_corpus"),
    ("sources/pdfsource.py", "_write_corpus"),
    ("entrypoints.py", "_robots_rules_df"),
    ("entrypoints.py", "q_sitemap_discovery"),
    ("entrypoints.py", "q_crawl_schedule"),
    ("entrypoints.py", "q_multimodal_extract"),
    # batch-numeric kernels: whole-batch numpy work, not one row at a time
    ("operators/ordering.py", "global_ordered_positions"),
    ("operators/ordering.py", "global_running_totals"),
    ("operators/similarity.py", "ivf_topk"),
    ("operators/similarity.py", "hnsw_topk"),
    ("operators/clustering.py", "_assign"),
}


def _map_calls(methods: tuple[str, ...] = ("mapInPandas", "mapInArrow")) -> set[tuple[str, str]]:
    """(file, top-level definition) of every call of one of ``methods``
    in the package."""
    package = os.path.join(REPO, "pdf_ocr_spark")
    found = set()
    for path in glob.glob(os.path.join(package, "**", "*.py"), recursive=True):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        for top in tree.body:
            for n in ast.walk(top):
                if (
                    isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr in methods
                ):
                    name = getattr(top, "name", "<module>")
                    found.add((os.path.relpath(path, package), name))
    return found


def test_map_rows_is_the_only_row_map():
    calls = _map_calls()
    extra = sorted(calls - ALLOWED_MAPS)
    assert not extra, f"per-row Python outside operators.rows.map_rows: {extra}"
    stale = sorted(ALLOWED_MAPS - calls)
    assert not stale, f"in ALLOWED_MAPS but no longer a direct map: {stale}"


def test_local_frame_is_the_only_create_data_frame():
    """A frame built from driver rows plans as a ``LocalRelation``
    (no Python task per action) only through ``local_frame``."""
    calls = _map_calls(("createDataFrame",))
    assert calls == {("operators/rows.py", "local_frame")}, sorted(calls)
