"""Streaming surface tests: each incremental query must produce exactly
the batch query's results (the kernel is batch/stream agnostic)."""

from __future__ import annotations


def test_stream_reassemble_books_matches_batch(spark, tmp_path):
    """The driver-visible streaming query: per-micro-batch reassembly
    over book-bucketed files equals the global batch reassembly, and
    the drain really was incremental (several batch_id partitions)."""
    import pyspark.sql.functions as F

    from pdf_ocr_spark.functions.serialize import txt_doc_col
    from pdf_ocr_spark.streaming.stream import stream_reassemble_books

    pages = spark.createDataFrame(
        [(b, p, f"book {b} page {p} text") for b in range(17) for p in range(b % 4 + 1)],
        "book_id long, page int, text string",
    )
    got = stream_reassemble_books(spark, pages, str(tmp_path / "wd"), n_batches=4)
    spans = F.array_sort(
        F.collect_list(F.struct(F.col("page").alias("offset"), F.col("text").alias("text")))
    )
    want = pages.groupBy("book_id").agg(txt_doc_col(spans).alias("txt"))
    g = {r["book_id"]: r["txt"] for r in got.collect()}
    w = {r["book_id"]: r["txt"] for r in want.collect()}
    assert g == w
    batches = {
        r["batch_id"]
        for r in spark.read.parquet(str(tmp_path / "wd" / "out")).select("batch_id").distinct().collect()
    }
    assert len(batches) > 1  # the work really arrived in micro-batches


def test_stream_pdf_profiles_matches_batch(spark, tmp_path):
    """The second driver-visible streaming query, over REAL binary
    inputs: the incremental binaryFile-stream profile harvest equals
    the one-scan batch profile row-for-row, and the drain really was
    incremental (several batch_id partitions)."""
    import numpy as np

    from pdf_ocr_spark.sources.pdfcodec import encode_pdf
    from pdf_ocr_spark.sources.pdfsource import read_pdf_profiles
    from pdf_ocr_spark.streaming.stream import stream_pdf_profiles

    pdf_dir = tmp_path / "pdfs"
    pdf_dir.mkdir()
    img = np.zeros((40, 30), dtype=np.uint8)
    for d in range(13):
        links = [[f"https://s.example/{d}/{i}"] if (d + i) % 2 == 0 else [] for i in range(d % 3 + 1)]
        blob = encode_pdf(
            [img] * (d % 3 + 1),
            compress=True,
            object_streams=True,
            info={"Title": f"Doc {d}"},
            page_links=links,
        )
        (pdf_dir / f"doc_{d}.pdf").write_bytes(blob)
    got = stream_pdf_profiles(spark, str(pdf_dir), str(tmp_path / "wd"), n_batches=4)
    want = read_pdf_profiles(spark, str(pdf_dir))
    key = lambda r: r["doc_id"]  # noqa: E731
    g = sorted(map(tuple, got.collect()), key=lambda t: t[0])
    w = sorted(map(tuple, want.collect()), key=lambda t: t[0])
    assert g == w
    assert len(g) == 13
    batches = {
        r["batch_id"]
        for r in spark.read.parquet(str(tmp_path / "wd" / "out"))
        .select("batch_id").distinct().collect()
    }
    assert len(batches) > 1  # the corpus really arrived in micro-batches


def test_stream_dedup_exact_matches_batch(spark, tmp_path):
    """The third driver-visible streaming query: per-micro-batch exact
    dedup over hash-bucketed files equals the global batch dedup, and
    the drain really was incremental."""
    from pdf_ocr_spark.operators.dedup import exact_dedup_groups
    from pdf_ocr_spark.streaming.stream import stream_dedup_exact

    rows = [(i, f"doc {i % 7} body text") for i in range(40)]  # 7 groups
    corpus = spark.createDataFrame(rows, "id long, text string")
    got = stream_dedup_exact(spark, corpus, str(tmp_path / "wd"), n_batches=4, id_col="id")
    want = exact_dedup_groups(corpus, text_col="text", id_col="id")
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w and len(g) == 7
    batches = {
        r["batch_id"]
        for r in spark.read.parquet(str(tmp_path / "wd" / "out"))
        .select("batch_id").distinct().collect()
    }
    assert len(batches) > 1


def test_stream_pdf_profiles_runs_with_the_callers_confs(spark, tmp_path, monkeypatch):
    """The profile stream runs on the cached scan session, which must
    carry the caller's runtime confs, here a distinctive session time
    zone seen from inside every micro-batch."""
    import numpy as np

    from pdf_ocr_spark.sources import pdfsource
    from pdf_ocr_spark.sources.pdfcodec import encode_pdf
    from pdf_ocr_spark.streaming.stream import scan_session, stream_pdf_profiles

    TZ = "spark.sql.session.timeZone"
    pdf_dir = tmp_path / "pdfs"
    pdf_dir.mkdir()
    img = np.zeros((20, 20), dtype=np.uint8)
    for d in range(4):
        (pdf_dir / f"doc_{d}.pdf").write_bytes(encode_pdf([img], compress=True))
    seen = []
    map_files = pdfsource.map_files

    def spy(batch_df, *args):
        seen.append(batch_df.sparkSession.conf.get(TZ))
        return map_files(batch_df, *args)

    monkeypatch.setattr(pdfsource, "map_files", spy)
    was_set = TZ in spark.conf.getAll
    before = spark.conf.get(TZ)
    try:
        spark.conf.set(TZ, "Pacific/Chatham")
        got = stream_pdf_profiles(spark, str(pdf_dir), str(tmp_path / "wd"), n_batches=2)
        assert got.count() == 4
    finally:
        if was_set:
            spark.conf.set(TZ, before)
        else:
            spark.conf.unset(TZ)
    assert seen and set(seen) == {"Pacific/Chatham"}
    # a later call follows the caller again, so nothing stays stale
    assert scan_session(spark).conf.get(TZ) == before


def test_drained_stream_result_runs_no_python_task(spark, tmp_path):
    """The streaming queries hand back their drained rows as a
    LocalRelation, not a Python-backed RDD, and remove their scratch
    dir."""
    from pdf_ocr_spark.entrypoints import _drain_stream_result

    wd = tmp_path / "wd"
    spark.createDataFrame([(1, "a"), (2, None)], "id long, t string").write.parquet(
        str(wd / "out")
    )
    out = _drain_stream_result(spark, spark.read.parquet(str(wd / "out")), str(wd))
    plan = out._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert sorted(map(tuple, out.collect())) == [(1, "a"), (2, None)]
    assert not wd.exists()
