"""Skew-aware plans: the salted equi-join and the histogram-salted
reassembly (SURVEY §4 custom job logic #1).

A document with millions of pages would make the plain
``groupBy(doc_id)`` put its whole span list through one reducer. The
salted two-stage merge that splits it lives in one place,
:func:`pdf_ocr_spark.operators.spans.ordered`, and
``reassemble_spans(pages, n_salt=k)`` salts every document by ``k``.
:func:`reassemble_spans_auto_salted` only decides the salt per
document, from the measured span histogram.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_ocr_spark.operators.spans import reassemble_spans


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_from: str,
    n_salt: int = 16,
) -> DataFrame:
    """Skew-robust equi-join: the dim side is replicated ``n_salt``
    times with a salt column, each fact row picks a deterministic salt
    from ``salt_from`` (any high-cardinality fact column), and the join
    key becomes (key, salt) — a hot key's rows now land on ``n_salt``
    reducers instead of one. Result identical to ``fact.join(dim, key)``
    (equivalence-tested). AQE's skew-join split covers sort-merge joins
    adaptively; this explicit form also works for storage-partitioned
    joins and fixed plans."""
    dim_salted = dim.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
    fact_salted = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(salt_from)), F.lit(n_salt)).cast("int")
    )
    return fact_salted.join(dim_salted, [key, "_salt"]).drop("_salt")


def reassemble_spans_auto_salted(
    pages: DataFrame, hot_threshold: int = 10_000, target_per_group: int = 5_000
) -> DataFrame:
    """Skew-adaptive reassembly: salt counts derive from the measured
    per-document span histogram (SURVEY §4 — 'salt count derives from
    size(spans) histogram').

    1. one cheap count-agg finds hot documents (> hot_threshold spans)
       and assigns each ``salt_n = ceil(count / target_per_group)``;
    2. the (tiny) hot map is **broadcast**-joined onto pages; cold docs
       get one salt, so each is a single partial list, and hot docs
       are split into salt_n partial lists and re-merged.

    Cost: one extra scan for the histogram + a broadcast join.
    Output identical to the plain ``reassemble_spans``
    (equivalence-tested).
    """
    hot = (
        pages.groupBy("doc_id")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") > hot_threshold)
        .select(
            "doc_id",
            F.ceil(F.col("_n") / F.lit(target_per_group)).cast("int").alias("_salt_n"),
        )
    )
    salted = pages.join(F.broadcast(hot), "doc_id", "left")
    return reassemble_spans(salted, n_salt=F.coalesce("_salt_n", F.lit(1)))
