"""Corpus curation: the composed keep/drop admission filter.

The per-document verdict combines, in priority order:

1. **exact-dup demotion** — only the min-id keeper of each
   normalized-text hash group survives (one window over the hash);
2. **quality floor** — the cheap pretraining quality blend
   (:func:`pdf_ocr_spark.operators.analysis.quality_score_col`);
3. **repetition cap** — duplicate-line fraction.

Quality and repetition are pure JVM expressions, so the whole verdict
is scan -> window -> project: one shuffle at any corpus size.
Thresholds compare the ``round(6)`` values the cross-engine oracle
hash-matches on, so verdict boundaries cannot drift between Spark and
the SQL twin (entrypoints.py ``corpus_filter_verdict``).
"""

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pdf_ocr_spark.operators.analysis import dup_fraction_col, quality_score_col
from pdf_ocr_spark.operators.dedup import norm_text_col

#: Verdict thresholds (compared on round(6) values).
QUALITY_FLOOR = 0.5
DUP_LINE_CAP = 0.3


def admission_scored(documents: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """The shared admission projection: (doc_id, *carry, quality,
    dup_line_frac, keeper_id) — one window over the normalized-text
    hash, everything else JVM expressions in the scan stage. ``carry``
    lists extra source columns to keep (curate_to_packed carries text
    and lang through so the composed plan never joins back)."""
    d = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("text").cast("string").alias("text"),
        *[F.col(c) for c in carry if c != "text"],
    )
    lines = F.filter(
        F.split(F.replace(F.col("text"), F.lit(" merge "), F.lit("\n")), r"\n"),
        lambda x: x != "",
    )
    return d.select(
        "doc_id",
        *carry,
        quality_score_col(F.col("text")).alias("quality"),
        dup_fraction_col(lines).alias("dup_line_frac"),
        F.min("doc_id")
        .over(Window.partitionBy(F.md5(norm_text_col(F.col("text")))))
        .alias("keeper_id"),
    )


def admitted_documents(documents: DataFrame, carry: tuple[str, ...] = ("text",)) -> DataFrame:
    """Documents that pass the full admission filter (exact-dup keeper
    AND quality floor AND repetition cap), with ``carry`` columns —
    the keep-branch of :func:`filter_verdicts` without materializing
    the verdict labels."""
    s = admission_scored(documents, carry)
    return s.where(
        (F.col("doc_id") == F.col("keeper_id"))
        & (F.col("quality") >= QUALITY_FLOOR)
        & (F.col("dup_line_frac") <= DUP_LINE_CAP)
    ).select("doc_id", *carry)


def pack_sequences(
    docs: DataFrame, bucket_mod: int = 8, seq_tokens: int = 512
) -> DataFrame:
    """Hash-bucketed concat-then-chunk sequence packing:
    (doc_id, text) → (bucket, seq_id, n_docs, n_tokens, first_doc).
    One bucket-partitioned running-sum window + one (bucket, seq_id)
    aggregation — every stage keyed, nothing global, bucket_mod ×
    sequence parallelism at any corpus size (the sequence_packing
    registry entry's kernel, factored out so curate_to_packed composes
    the identical stage)."""
    toks = docs.where(F.trim(F.col("text")) != "").select(
        "doc_id",
        (F.col("doc_id") % bucket_mod).alias("bucket"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn("cum", F.sum("n_tokens").over(w))
    return (
        packed.withColumn(
            "seq_id", ((F.col("cum") - F.col("n_tokens")) / seq_tokens).cast("long")
        )
        .groupBy("bucket", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
    )


def filter_verdicts(documents: DataFrame) -> DataFrame:
    """(doc_id, text, ...) -> (doc_id, quality, dup_line_frac,
    keeper_id, verdict) — verdict in
    {'keep', 'exact_dup', 'low_quality', 'repetitive'}."""
    scored = admission_scored(documents)
    return scored.select(
        "doc_id",
        "quality",
        "dup_line_frac",
        "keeper_id",
        F.when(F.col("doc_id") != F.col("keeper_id"), F.lit("exact_dup"))
        .when(F.col("quality") < QUALITY_FLOOR, F.lit("low_quality"))
        .when(F.col("dup_line_frac") > DUP_LINE_CAP, F.lit("repetitive"))
        .otherwise(F.lit("keep"))
        .alias("verdict"),
    )
