#!/usr/bin/env python
"""Skewed-corpus reassembly benchmark: plain groupBy vs salted vs
auto-salted on a page-count-skewed span table.

The 100 TB story cites salting for pathological multi-page documents
(BASELINE north rule: "partitions by doc_id hash with explicit salting
for skewed multi-page documents"). This script produces the measured
row: a corpus where a few hot documents carry ~500k spans each — the
plain ``groupBy(doc_id).collect_list`` funnels each hot document
through ONE reducer; the salted forms split it into partial lists that
land on many reducers and re-merge.

Prints one JSON line:
    {"metric": "skew_reassembly", "hot_docs": H, "spans_hot": S, ...,
     "plain_sec": p, "salted_sec": s, "auto_salted_sec": a}

Usage: python scripts/skew_bench.py [--cpus 32] [--hot 4]
       [--hot-spans 500000] [--cold-docs 50000] [--cold-spans 20]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def build_pages(spark: SparkSession, hot: int, hot_spans: int, cold_docs: int, cold_spans: int):
    """Exploded span table with a skewed per-document span histogram,
    written to parquet so every timed variant scans identical input
    (no generation cost inside the timed region)."""
    out = os.path.join(
        os.environ.get("SPARK_GRAFT_TMP", "/tmp"),
        f"pdf_ocr_skew_{hot}_{hot_spans}_{cold_docs}_{cold_spans}",
    )
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        def spans_for(n):
            return F.transform(
                F.sequence(F.lit(0), F.lit(n - 1)),
                lambda i: F.struct(
                    F.lit("text").alias("kind"),
                    F.concat(F.lit("span "), i.cast("string")).alias("text"),
                    F.lit("").alias("media_ref"),
                    i.cast("int").alias("offset"),
                ),
            )

        cold = spark.range(cold_docs).select(
            F.concat(F.lit("cold_"), F.col("id").cast("string")).alias("doc_id"),
            spans_for(cold_spans).alias("spans"),
        )
        hot_df = spark.range(hot).select(
            F.concat(F.lit("hot_"), F.col("id").cast("string")).alias("doc_id"),
            spans_for(hot_spans).alias("spans"),
        )
        from pdf_ocr_spark.operators.spans import explode_spans

        explode_spans(cold.unionByName(hot_df)).repartition(128).write.mode(
            "overwrite"
        ).parquet(out)
    return spark.read.parquet(out)


def checksum(docs) -> tuple[int, int]:
    """Order-sensitive content checksum over the reassembled arrays —
    proves the three variants produce identical output, not just equal
    timings."""
    row = docs.agg(
        F.count("*").alias("n"),
        F.sum(F.crc32(F.concat_ws("\x00", F.col("doc_id"), F.to_json("spans")))).alias("ck"),
    ).first()
    return int(row["n"]), int(row["ck"])


def join_bench(spark: SparkSession, args) -> None:
    """Skewed-join mode: one hot doc_id carries most of the fact rows,
    the dim side is too large to broadcast, and AQE's skew-join split is
    DISABLED — the fixed-plan regime (storage-partitioned / bucketed
    joins, or any plan AQE cannot re-split) that explicit salting
    exists for. Compares plain sort-merge join vs salted_join."""
    import time

    from pdf_ocr_spark.plans.salting import salted_join

    spark.conf.set(
        "spark.sql.adaptive.skewJoin.enabled", "true" if args.aqe_skew else "false"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    n_fact, n_dim = args.fact_rows, args.dim_rows
    hot_frac = 0.5
    fact = spark.range(n_fact).select(
        F.when(
            F.col("id") % F.lit(int(1 / hot_frac)) == 0, F.lit("hot_doc")
        )
        .otherwise(F.concat(F.lit("doc_"), (F.col("id") % n_dim).cast("string")))
        .alias("doc_id"),
        F.col("id").alias("offset"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    ).localCheckpoint()
    dim = spark.range(n_dim).select(
        F.concat(F.lit("doc_"), F.col("id").cast("string")).alias("doc_id"),
        F.sha2(F.col("id").cast("string"), 512).alias("meta"),
    ).unionByName(
        spark.range(1).select(
            F.lit("hot_doc").alias("doc_id"), F.lit("hotmeta").alias("meta")
        )
    ).localCheckpoint()

    def agg(df):
        return df.agg(
            F.count("*").alias("n"), F.sum(F.crc32(F.concat_ws("|", "doc_id", "meta"))).alias("ck")
        ).first()

    results = {}
    for name, make in {
        "plain_smj": lambda: fact.join(dim, "doc_id"),
        "salted": lambda: salted_join(fact, dim, key="doc_id", salt_from="offset", n_salt=16),
    }.items():
        reps = []
        check = None
        for _ in range(args.reps + 1):
            t0 = time.time()
            check = agg(make())
            reps.append(time.time() - t0)
        results[name] = (round(min(reps[1:]), 3), (int(check["n"]), int(check["ck"])))
    assert results["plain_smj"][1] == results["salted"][1], results
    print(
        json.dumps(
            {
                "metric": "skew_join",
                "cpus": args.cpus,
                "fact_rows": n_fact,
                "dim_rows": n_dim,
                "hot_key_fraction": hot_frac,
                "aqe_skew_join": "enabled" if args.aqe_skew else "disabled (fixed-plan regime)",
                "plain_smj_sec": results["plain_smj"][0],
                "salted_sec": results["salted"][0],
            }
        )
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--hot", type=int, default=4)
    ap.add_argument("--hot-spans", type=int, default=500_000)
    ap.add_argument("--cold-docs", type=int, default=50_000)
    ap.add_argument("--cold-spans", type=int, default=20)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--join", action="store_true", help="run the skewed-join mode instead")
    ap.add_argument("--aqe-skew", action="store_true", help="leave AQE skew-join ON in join mode")
    ap.add_argument("--fact-rows", type=int, default=20_000_000)
    ap.add_argument("--dim-rows", type=int, default=2_000_000)
    args = ap.parse_args()

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("pdf-ocr-spark-skew-bench")
        .config("spark.sql.shuffle.partitions", str(2 * args.cpus))
        # AQE's skewedJoin/coalesce does not split a skewed AGGREGATE key
        # (only sort-merge-join partitions), so salting remains necessary
        # even with AQE on — keep it on to mirror the suite bench config.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    if args.join:
        join_bench(spark, args)
        spark.stop()
        return

    from pdf_ocr_spark.operators.spans import reassemble_spans
    from pdf_ocr_spark.plans.salting import reassemble_spans_auto_salted

    pages = build_pages(spark, args.hot, args.hot_spans, args.cold_docs, args.cold_spans)

    variants = {
        "plain": lambda: reassemble_spans(pages),
        "salted": lambda: reassemble_spans(pages, n_salt=64),
        "auto_salted": lambda: reassemble_spans_auto_salted(
            pages, hot_threshold=10_000, target_per_group=5_000
        ),
    }
    checks: dict[str, tuple[int, int]] = {}
    times: dict[str, float] = {}
    for name, make in variants.items():
        reps = []
        for _ in range(args.reps + 1):  # first rep is warmup
            t0 = time.time()
            checks[name] = checksum(make())
            reps.append(time.time() - t0)
        times[name] = round(min(reps[1:]), 3)
    assert len(set(checks.values())) == 1, f"variant outputs diverge: {checks}"

    print(
        json.dumps(
            {
                "metric": "skew_reassembly",
                "cpus": args.cpus,
                "hot_docs": args.hot,
                "hot_spans_each": args.hot_spans,
                "cold_docs": args.cold_docs,
                "cold_spans_each": args.cold_spans,
                "rows": args.hot * args.hot_spans + args.cold_docs * args.cold_spans,
                "plain_sec": times["plain"],
                "salted_sec": times["salted"],
                "auto_salted_sec": times["auto_salted"],
                "checksum": checks["plain"],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
