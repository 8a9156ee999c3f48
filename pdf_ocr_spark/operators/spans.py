"""Span-level structural operators: explode and ordered reassembly.

Two execution shapes (SURVEY §3.1):

* **array-native** — documents stay one-row-per-doc and span transforms
  run inside ``transform(spans, ...)``. Zero shuffle; the right shape
  whenever per-span work is a scalar expression. This is the default.
* **exploded** — ``explode_spans`` fans out to one row per span so that
  pathological many-page documents can spread across executors, and
  ``reassemble_spans`` restores the per-document ordered array (the
  reference's sorted-dict reassembly, reference ``app.py:548``).

Every ordered reassembly in the package is :func:`ordered`, and every
per-document page metric is :func:`page_metrics` over its array. With
``n_salt == 0`` it is one hash-shuffle on doc_id. Otherwise it is the
two-stage salted merge for skewed many-page documents (FP-Hadoop's
intermediate reduce for hot keys, PAPERS.md):

  stage 1: group on (doc_id, salt) where salt = pmod(xxhash64(offset), n_salt)
           -> n_salt sorted partial lists per hot doc, on n_salt reducers
  stage 2: group on doc_id, flatten + re-sort the partials

Both stages get map-side partial aggregation. ``flatten + array_sort``
in stage 2 is cheap because the partials are presorted and small
relative to executor memory. Both forms yield the same array, so the
metrics read from it agree exactly.

With ``buckets > 0`` the final grouping is on (bucket, doc_id), where
bucket is :func:`doc_bucket`, behind one ``repartitionById(t, bucket)``
with ``t = min(buckets, defaultParallelism)``: bucket ``k`` goes to
task ``k mod t``, so the tasks' counts of whole buckets differ by at
most one. (A hash of 32 buckets into 4 partitions split them
5/10/7/10, and the fullest task set the stage's time.) That exchange
already satisfies the aggregate's distribution, so it replaces the
doc_id shuffle instead of adding one. The final stage's partial
aggregation then runs after the exchange, not map-side. The salted
stage 1 keeps its (doc_id, salt) spread; only stage 2 is
bucket-clustered. When this pays, and its limits:
:mod:`pdf_ocr_spark.plans.pipeline`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdf_ocr_spark.functions.jvmcache import per_jvm


def explode_spans(documents: DataFrame) -> DataFrame:
    """One row per span: (doc_id, offset, kind, text, media_ref).

    Equivalent of the reference's page fan-out (one OCR task per page,
    /root/reference/app.py:503-516). Uses the stored ``offset`` as the
    ordering key rather than array position so reassembly is stable even
    if upstream storage reordered the array. A document whose ``spans``
    is empty or NULL keeps one row with every span field NULL;
    :func:`ordered` turns it into an empty array.
    """
    exploded, projected = _exploded()
    return documents.select(*exploded).select(*projected)


@per_jvm
def _exploded() -> tuple[tuple[Column, ...], tuple[Column, ...]]:
    """:func:`explode_spans`' two projections."""
    return (
        (F.col("doc_id"), F.explode_outer("spans").alias("span")),
        (
            F.col("doc_id"),
            *(F.col(f"span.{f}").alias(f) for f in ("offset", *SPAN_FIELDS)),
        ),
    )


#: The span fields of the canonical ``spans`` array, after ``offset``.
SPAN_FIELDS = ("kind", "text", "media_ref")


@per_jvm
def doc_bucket(n_buckets: int) -> Column:
    """A document's output bucket, ``pmod(xxhash64(doc_id), n_buckets)``:
    the unit a checkpointed run writes, resumes and clusters its
    reassembly by."""
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


def ordered(
    pages: DataFrame,
    fields: tuple[str, ...],
    n_salt: int | Column = 0,
    buckets: int = 0,
) -> DataFrame:
    """(doc_id, _ordered): each document's ``struct(offset, *fields)``
    rows, sorted by offset.

    ``collect_list`` gathers in arbitrary (completion) order — exactly
    like the reference's ``as_completed`` loop filling ``results[i]``
    (reference ``app.py:513-516``) — then ``array_sort`` on a struct
    whose *leading* field is ``offset`` restores order. ``n_salt == 0``
    is one ``groupBy(doc_id)``; any other ``n_salt`` (an int, or a
    per-row column) runs the salted two-stage merge (module
    docstring). ``buckets > 0`` groups the final stage on
    (bucket, doc_id) behind one exchange that sends bucket ``k`` to
    task ``k mod min(buckets, defaultParallelism)``, and adds a
    ``bucket`` column; a salted stage 1 still groups on
    (doc_id, salt). A row with a NULL ``offset`` (a span's offset is
    never NULL) gives its document a row and adds no element."""
    if isinstance(n_salt, int) and n_salt == 0:
        merged = _plain_merge(tuple(fields))
    else:
        salt = n_salt if isinstance(n_salt, Column) else F.lit(n_salt)
        pages = (
            pages.withColumn("_salt", F.pmod(F.xxhash64("offset"), salt))
            .groupBy("doc_id", "_salt")
            .agg(F.array_sort(F.collect_list(_item(tuple(fields)))).alias("_partial"))
        )
        merged = F.array_sort(F.flatten(F.collect_list("_partial"))).alias("_ordered")
    keys = ["doc_id"]
    if buckets:
        tasks = min(buckets, pages.sparkSession.sparkContext.defaultParallelism)
        pages = pages.withColumn("bucket", doc_bucket(buckets)).repartitionById(tasks, "bucket")
        keys = ["bucket", "doc_id"]
    return pages.groupBy(*keys).agg(merged)


@per_jvm
def _item(fields: tuple[str, ...]) -> Column:
    """A page's ``struct(offset, *fields)``, NULL for a spanless
    document's row."""
    return F.when(F.col("offset").isNotNull(), F.struct("offset", *fields))


@per_jvm
def _plain_merge(fields: tuple[str, ...]) -> Column:
    return F.array_sort(F.collect_list(_item(fields))).alias("_ordered")


def page_metrics() -> list[Column]:
    """``n_pages``, ``mean_confidence`` and ``n_errors`` of an
    :func:`ordered` array whose fields include ``confidence`` and
    ``error``. The confidence sum runs in offset order, so it does not
    depend on the order partitions arrive in. An empty array has
    ``mean_confidence`` NULL."""
    return list(_page_metrics())


@per_jvm
def _page_metrics() -> tuple[Column, ...]:
    n = F.size("_ordered")
    conf = F.aggregate("_ordered", F.lit(0.0), lambda acc, s: acc + s["confidence"])
    return (
        n.cast("bigint").alias("n_pages"),
        F.try_divide(conf, n).alias("mean_confidence"),
        F.size(F.filter("_ordered", lambda s: s["error"])).cast("bigint").alias("n_errors"),
    )


@per_jvm
def canonical_spans() -> Column:
    """An :func:`ordered` array re-projected into the canonical
    (kind, text, media_ref, offset) ``spans`` field order."""
    return F.transform(
        "_ordered",
        lambda s: F.struct(*(s[f].alias(f) for f in (*SPAN_FIELDS, "offset"))),
    ).alias("spans")


def reassemble_spans(pages: DataFrame, n_salt: int | Column = 0) -> DataFrame:
    """Inverse of :func:`explode_spans`: (doc_id, spans) with each
    document's spans in offset order; ``n_salt`` as in :func:`ordered`."""
    return ordered(pages, SPAN_FIELDS, n_salt).select("doc_id", canonical_spans())
