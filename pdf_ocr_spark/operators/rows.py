"""The one executor-side row boundary: :func:`map_rows`.

Every per-row Python kernel of the package (per-page OCR and hOCR, the
media decoders, the HTML, robots and sitemap parsers, and through
:func:`pdf_ocr_spark.sources.pdfsource.map_files` every file harvest)
is a ``per_row`` function handed to :func:`map_rows`. The boundary
owns what those kernels would otherwise each copy: the Arrow batch
loop, the per-row exception containment and the typed output.

The engine's plumbing is kept apart from the UDF body, as in "Accelerating
Python UDFs in Vectorized Query Execution" (CIDR 2022): a kernel says
what one row becomes, and nothing about batches, dtypes or retries.

:func:`arrow_batch` is the one Python-rows -> Arrow conversion, and
:func:`local_frame`, every driver-built frame of the package, builds
its tables with it too.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def arrow_batch(rows: Sequence[Sequence], schema: pa.Schema) -> pa.RecordBatch:
    """``rows`` (tuples in ``schema`` field order) as one record batch,
    each column converted straight to its Arrow type: NULLs stay NULL
    in every type, int64 values past 2^53 stay exact, and an empty
    ``rows`` is an empty batch. No pandas dtype is involved."""
    cols = zip(*rows, strict=True) if rows else [()] * len(schema)
    arrays = [pa.array(c, type=f.type) for c, f in zip(cols, schema, strict=True)]
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: StructType | str
) -> DataFrame:
    """A driver-built frame that plans as a ``LocalRelation``.

    ``spark.createDataFrame(<python list>)`` plans a Python-backed RDD,
    so every action over it runs ``defaultParallelism`` Python tasks
    (each ~150-230 ms of worker start-up on a 4-core host). Going
    through an Arrow table keeps the rows in the plan: actions run no
    Python task, and an empty frame lets the optimizer prune the
    operators above it. ``rows`` are tuples in ``schema`` field order
    (``schema`` a ``StructType`` or DDL); naive datetimes are read in
    the session time zone, as ``createDataFrame`` reads them."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    batch = arrow_batch(list(rows), to_arrow_schema(schema, timestamp_utc=False))
    return spark.createDataFrame(pa.Table.from_batches([batch]), schema)


def map_rows(
    df: DataFrame,
    per_row: Callable[..., Iterable[tuple]],
    schema: StructType | str,
    on_error: Callable[..., Iterable[tuple]] | None = None,
) -> DataFrame:
    """Map each row of ``df`` to zero or more ``schema`` rows.

    ``per_row(*values)`` gets the row's column values in ``df``'s order,
    as Python objects (``None`` for NULL, ``bytes`` for binary), and
    returns its output rows as tuples in ``schema`` field order. A row
    whose ``per_row`` raises becomes ``on_error(*values, exc)`` instead:
    its output is kept only when the whole ``per_row`` call returns, so
    a fan-out that fails part-way leaves no partial rows. The
    containment is per row because an exception escaping the task
    makes Spark retry the partition and then fail the job: one damaged
    input in a large scan must cost its own rows, not the job (the
    reference's error-as-row discipline, app.py:335-337). With
    ``on_error=None`` the exception propagates.

    One ``mapInArrow`` stage; ``schema`` may be a ``StructType`` or
    DDL."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            out: list[tuple] = []
            for values in zip(*(c.to_pylist() for c in batch.columns)):
                try:
                    got = list(per_row(*values))
                except Exception as e:
                    if on_error is None:
                        raise
                    got = on_error(*values, e)
                out += got
            yield arrow_batch(out, arrow_schema)

    return df.mapInArrow(kernel, schema)
