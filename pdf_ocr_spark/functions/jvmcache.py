"""Fixed Column expressions, built once per JVM.

A PySpark Column is a handle on a JVM object, and building one costs
py4j round trips for every function call, literal and lambda in its
tree: the call itself, and the call-site bookkeeping PySpark wraps
around each Column function (active session, a conf read, setting and
clearing the origin). The pipeline's fixed expressions cost over a
thousand of them, the same on every call. A Column built from
``F.col``/``F.lit`` is immutable and names no session or plan, so one
built tree serves every plan on the same JVM.

The cache belongs to the py4j gateway's JVM view
(``SparkContext._jvm``). When a relaunched gateway replaces it, every
entry built on the old one is dropped and rebuilt on first use.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from typing import TypeVar

from pyspark import SparkContext

T = TypeVar("T")

#: (the JVM view the entries were built on, {(build, args): value})
_built: tuple[object, dict] = (None, {})


def per_jvm(build: Callable[..., T]) -> Callable[..., T]:
    """Memoize ``build(*args)`` per JVM; ``args`` must be hashable. The
    value is shared, so a caller must not mutate it."""

    @functools.wraps(build)
    def cached(*args):
        global _built
        jvm, values = _built
        if jvm is not SparkContext._jvm:
            jvm, values = _built = (SparkContext._jvm, {})
        key = (build, args)
        if key not in values:
            values[key] = build(*args)
        return values[key]

    return cached
