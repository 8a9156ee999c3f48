"""Extraction-run bookkeeping: driver-built frames plan as local
relations, a fresh run plans no resume join, a run over completed
buckets changes nothing, the reassembly is clustered by output
bucket (one exchange, one file per bucket), the manifest's per-bucket
stats are taken during the write (one sort, no read-back, one manifest
file per append), and the driver commits the manifest file (no Spark
job; it reads back with Spark-written files, and an interrupted
commit is invisible)."""

from __future__ import annotations

import datetime
import glob
import os
import re
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import TimestampType

from pdf_ocr_spark.config import ExtractionConfig
from pdf_ocr_spark.plans.manifest import (
    completed_buckets,
    local_frame,
    read_manifest,
    run_extraction,
)
from pdf_ocr_spark.plans.pipeline import extract_documents
from pdf_ocr_spark.schema import MANIFEST_SCHEMA
from pdf_ocr_spark.sources.corpus import generate_documents, generate_media

SEED = 7


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan()


def _tree(path: str) -> dict[str, bytes]:
    out = {}
    for root, _, files in os.walk(path):
        for name in files:
            full = os.path.join(root, name)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, path)] = fh.read()
    return out


@pytest.fixture(scope="module")
def corpus(spark):
    docs = generate_documents(spark, n_docs=24, seed=SEED).cache()
    media = generate_media(spark, docs, seed=SEED).cache()
    return docs, media


def test_missing_manifest_is_empty_local_relation(spark, tmp_path):
    m = read_manifest(spark, str(tmp_path / "none"))
    assert m.schema == MANIFEST_SCHEMA
    plan = _optimized(m)
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert plan.data().isEmpty()


def test_fresh_run_plans_no_resume_join(spark, tmp_path):
    docs = spark.range(16).select(F.col("id").cast("int").alias("bucket"))
    done = completed_buckets(spark, str(tmp_path / "none"), "r")
    todo = docs.join(F.broadcast(done), "bucket", "left_anti")
    assert "Join" not in _optimized(todo).toString()
    assert todo.count() == 16


def test_local_frame_round_trip(spark):
    ts = datetime.datetime(2026, 1, 2, 3, 4, 5, 678901)
    rows = [
        ("r", 1, None, "completed", 3, None, 0.5, 1.25, ts),
        ("r", 2, 7, "completed", None, 4, None, None, None),
    ]
    df = local_frame(spark, rows, MANIFEST_SCHEMA)
    assert df.schema == MANIFEST_SCHEMA
    assert _optimized(df).getClass().getSimpleName() == "LocalRelation"
    assert [tuple(r) for r in df.collect()] == rows
    ddl = local_frame(spark, [(5, "x")], "bucket INT, status STRING")
    assert [tuple(r) for r in ddl.collect()] == [(5, "x")]


def test_resume_over_completed_buckets_is_a_no_op(spark, corpus, tmp_path):
    docs, media = corpus
    out = str(tmp_path / "done")
    k = run_extraction(spark, docs, media, out, "run1", n_buckets=4)
    assert k == 4
    manifest = sorted(tuple(r) for r in read_manifest(spark, out).collect())
    before = _tree(os.path.join(out, "documents"))

    assert run_extraction(spark, docs, media, out, "run1", n_buckets=4) == 0
    assert sorted(tuple(r) for r in read_manifest(spark, out).collect()) == manifest
    assert _tree(os.path.join(out, "documents")) == before


def test_partition_overwrite_leaves_session_conf(spark, corpus, tmp_path):
    docs, media = corpus
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "static")
    try:
        out = str(tmp_path / "dyn")
        assert run_extraction(spark, docs, media, out, "run1", n_buckets=4, only_buckets=[0]) == 1
        first = sorted(
            tuple(r) for r in spark.read.parquet(f"{out}/documents").select("doc_id", "txt").collect()
        )
        assert first
        assert run_extraction(spark, docs, media, out, "run1", n_buckets=4, only_buckets=[1]) == 1
        assert spark.conf.get(key) == "static"
        written = spark.read.parquet(f"{out}/documents")
        assert {r["bucket"] for r in written.select("bucket").distinct().collect()} == {0, 1}
        survived = sorted(
            tuple(r) for r in written.where("bucket = 0").select("doc_id", "txt").collect()
        )
        assert survived == first
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_bucketed_reassembly_plans_one_bucket_exchange(spark, corpus):
    docs, media = corpus
    n = 8
    tasks = min(n, spark.sparkContext.defaultParallelism)
    plan = extract_documents(docs, media, buckets=n)._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"(?<!Broadcast)Exchange (.*), \[plan_id", plan)
    assert len(exchanges) == 1 and "hashpartitioning(doc_id" not in plan
    assert re.fullmatch(
        rf"shufflepartitionidpassthrough\(direct_shuffle_partition_id\(bucket#\d+\), {tasks}\), REPARTITION_BY_NUM",
        exchanges[0],
    )
    # the tree prints top-down: the OCR kernel runs below (before) the exchange
    assert plan.index("REPARTITION_BY_NUM") < plan.index("MapInArrow kernel(")


def test_bucket_overwrite_leaves_other_buckets_byte_identical(spark, corpus, tmp_path):
    docs, media = corpus
    out = str(tmp_path / "buckets")
    documents = os.path.join(out, "documents")
    assert run_extraction(spark, docs, media, out, "run1", n_buckets=4) == 4
    dirs = sorted(glob.glob(os.path.join(documents, "bucket=*")))
    assert [os.path.basename(d) for d in dirs] == [f"bucket={k}" for k in range(4)]
    for d in dirs:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d
    before = _tree(documents)
    rows = sorted(tuple(r) for r in spark.read.parquet(documents).collect())

    assert run_extraction(spark, docs, media, out, "run2", n_buckets=4, only_buckets=[2]) == 1

    def others(tree):
        return {p: b for p, b in tree.items() if p.startswith("bucket=") and not p.startswith("bucket=2/")}

    assert others(_tree(documents)) == others(before)
    assert len(glob.glob(os.path.join(documents, "bucket=2", "*.parquet"))) == 1
    assert sorted(tuple(r) for r in spark.read.parquet(documents).collect()) == rows


def _manifest_files(out: str) -> set[str]:
    return set(glob.glob(os.path.join(out, "_manifest", "*.parquet")))


def _read_back_stats(spark, out: str) -> dict:
    """The oracle: per-bucket stats aggregated from the written output."""
    stats = (
        spark.read.parquet(os.path.join(out, "documents"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_pages").alias("n_pages"),
            F.avg("mean_confidence").alias("mean_confidence"),
        )
    )
    return {r["bucket"]: r for r in stats.collect()}


def _hex(x):
    return None if x is None else float.hex(x)


@pytest.mark.parametrize(
    "config, only_buckets",
    [(None, None), (ExtractionConfig(reassembly_salt=4), None), (None, [1, 3])],
    ids=["plain", "salted", "only_buckets"],
)
def test_manifest_stats_equal_read_back_output(spark, corpus, tmp_path, config, only_buckets):
    docs, media = corpus
    out = str(tmp_path / "stats")
    appended = []
    runs = [only_buckets, None] if only_buckets else [None]
    for only in runs:
        before = _manifest_files(out)
        run_extraction(spark, docs, media, out, "run1", config=config, n_buckets=4, only_buckets=only)
        appended.append(len(_manifest_files(out) - before))
    assert appended == [1] * len(runs)

    want = _read_back_stats(spark, out)
    manifest = read_manifest(spark, out).collect()
    assert sorted(r["partition_id"] for r in manifest) == sorted(want) == [0, 1, 2, 3]
    for r in manifest:
        w = want[r["partition_id"]]
        assert (r["n_docs"], r["n_pages"]) == (w["n_docs"], w["n_pages"])
        assert _hex(r["mean_confidence"]) == _hex(w["mean_confidence"])


def test_fresh_run_makes_three_jobs(spark, corpus, tmp_path):
    """Extraction makes three jobs and the driver-side manifest commit
    none; a Spark-written append made four, and a read-back of the
    output six."""
    docs, media = corpus
    docs.count(), media.count()  # fill the cached corpus outside the count
    sc = spark.sparkContext
    sc.setJobGroup("fresh-run", "fresh run_extraction")
    try:
        assert run_extraction(spark, docs, media, str(tmp_path / "jobs"), "run1", n_buckets=4) == 4
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup("fresh-run")) == 3


def _final_plan(spark, path: str) -> tuple[str, str]:
    """(tree, node details) of the last final AQE plan that wrote ``path``."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = [executions.apply(i).physicalPlanDescription() for i in range(executions.length())]
    plan = [p for p in plans if f"Arguments: file:{path}, " in p][-1]
    tree = plan.split("+- == Final Plan ==")[1].split("+- == Initial Plan ==")[0]
    return tree, plan.split("\n\n", 1)[1]


def test_write_plan_sorts_once_behind_the_bucket_exchange(spark, corpus, tmp_path):
    docs, media = corpus
    out = str(tmp_path / "plan")
    assert run_extraction(spark, docs, media, out, "run1", n_buckets=4) == 4
    tree, details = _final_plan(spark, os.path.join(out, "documents"))
    exchanges = re.findall(r"(?<!Broadcast)Exchange \((\d+)\)", tree)
    assert len(exchanges) == 1, tree
    args = re.search(rf"\({exchanges[0]}\) Exchange\n.*\nArguments: (.*)", details).group(1)
    assert "shufflepartitionidpassthrough" in args and "REPARTITION_BY_NUM" in args
    assert len(re.findall(r"\bSort \(\d+\)", tree)) == 1, tree
    assert "CollectMetrics" in tree and "Window" in tree


def _spark_append(spark, out: str, rows) -> None:
    """A manifest append as a Spark write job, as earlier versions
    committed it."""
    (
        local_frame(spark, rows, MANIFEST_SCHEMA)
        .withColumn("ts", F.current_timestamp())
        .coalesce(1)
        .write.mode("append")
        .parquet(os.path.join(out, "_manifest"))
    )


def _values(row) -> tuple:
    """A manifest row without its run_id, elapsed_s and ts."""
    return tuple(row)[1:7]


def test_spark_and_driver_written_manifest_files_read_together(spark, corpus, tmp_path):
    docs, media = corpus
    out = str(tmp_path / "mixed")
    start = time.time()
    assert run_extraction(spark, docs, media, out, "new", n_buckets=4) == 4
    end = time.time()
    (driver_file,) = _manifest_files(out)
    assert spark.read.parquet(driver_file).schema["ts"].dataType == TimestampType()
    new = read_manifest(spark, out).collect()
    _spark_append(spark, out, [("old", *_values(r), 0.5, None) for r in new])
    assert len(_manifest_files(out)) == 2

    manifest = read_manifest(spark, out)
    types = [(f.name, f.dataType) for f in manifest.schema]
    assert types == [(f.name, f.dataType) for f in MANIFEST_SCHEMA]
    rows = manifest.collect()
    by_run = {run: sorted(_values(r) for r in rows if r["run_id"] == run) for run in ("new", "old")}
    assert len(by_run["new"]) == 4 and by_run["new"] == by_run["old"]
    for r in rows:
        assert start - 2 <= r["ts"].timestamp() <= time.time() + 2
        if r["run_id"] == "new":
            assert r["ts"].timestamp() <= end + 2 and 0 < r["elapsed_s"] <= end - start


def test_interrupted_manifest_commit_is_ignored(spark, corpus, tmp_path):
    """A commit cut before its rename leaves a hidden ``_`` file, here
    claiming every bucket: readers skip it, and a resume redoes them."""
    docs, media = corpus
    out = str(tmp_path / "cut")
    manifest = os.path.join(out, "_manifest")
    os.makedirs(manifest)
    claimed = [("run1", b, None, "completed", 1, 1, 1.0, 0.1, None) for b in range(4)]
    table = pa.Table.from_pylist(
        [dict(zip(MANIFEST_SCHEMA.names, r)) for r in claimed],
        schema=to_arrow_schema(MANIFEST_SCHEMA),
    )
    pq.write_table(table, os.path.join(manifest, "_committing-cut.snappy.parquet"))

    assert read_manifest(spark, out).collect() == []
    assert completed_buckets(spark, out, "run1").collect() == []
    assert run_extraction(spark, docs, media, out, "run1", n_buckets=4) == 4
    assert sorted(r["partition_id"] for r in read_manifest(spark, out).collect()) == [0, 1, 2, 3]
    assert run_extraction(spark, docs, media, out, "run1", n_buckets=4) == 0
