"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline; the LSH-bucketed
variant (random-hyperplane signs derived from portable MD5 hashing) is
the scale path — candidates meet in a bucket equi-join instead of a
cross join.

Floating point discipline for the DuckDB oracle: elements are cast to
double *before* multiplication and summed left-to-right by
``F.aggregate`` (sequential fold), mirroring DuckDB's list evaluation;
scores are rounded to 6 decimals and ranking orders by the rounded
score with id tie-break, so engine-level ULP noise cannot flip ranks.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pdf_ocr_spark.operators.rows import local_frame


def dot_col(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm_col(a: Column) -> Column:
    return F.sqrt(dot_col(a, a))


def cosine_col(a: Column, b: Column) -> Column:
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k: broadcast the (small) query side against the
    corpus, rank per query by rounded cosine desc, neighbor id asc.
    Excludes self-matches. Output: (query_id, rank, neighbor_id, score).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_col(F.col("qvec"), F.col("cvec")), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )


def quantize_int8_col(vec: Column) -> Column:
    """Symmetric per-vector int8 quantization:
    ``q_i = floor(127 * v_i / max|v| + 0.5)`` (range [-127, 127]).

    ``floor(x + 0.5)`` instead of ``round``: round-half modes differ
    between engines (Spark HALF_UP vs DuckDB/numpy variants) while
    floor is defined identically everywhere — the quantized vector,
    and therefore the oracle compare, is bit-portable. Cosine is
    scale-invariant, so the per-vector scale needs no storage: int8
    ranking works on the codes alone (4x smaller vectors, exact
    integer dot products — at 100 TB the win is scan bandwidth and
    SIMD-width, not arithmetic)."""
    mx = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    q = F.transform(
        vec, lambda x: F.floor(x.cast("double") * 127.0 / mx + 0.5).cast("int")
    )
    return F.when(mx > 0, q).otherwise(
        F.transform(vec, lambda x: F.lit(0))  # all-zero vector -> zero codes
    )


def _dot_int_col(a: Column, b: Column) -> Column:
    """Exact integer dot product (|q| <= 127 -> no overflow below
    ~2^17 dims in long arithmetic)."""
    prods = F.zip_with(a, b, lambda x, y: (x * y).cast("long"))
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, v: acc + v)


def int8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k over int8-quantized embeddings: quantize at write (here:
    plan time), rank entirely in integer space — dots are exact longs,
    only the final cosine normalization touches doubles, so scores are
    engine-portable bit-for-bit (unlike the float path, whose
    summation order matters). Same broadcast-queries shape as
    :func:`cosine_topk`; recall vs the float path is pinned by
    tests/test_ann.py."""
    q = queries.select(
        F.col(id_col).alias("query_id"), quantize_int8_col(F.col(vec_col)).alias("qvec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), quantize_int8_col(F.col(vec_col)).alias("cvec")
    )
    qa, qb = F.col("qvec"), F.col("cvec")
    cos = _dot_int_col(qa, qb).cast("double") / (
        F.sqrt(_dot_int_col(qa, qa).cast("double"))
        * F.sqrt(_dot_int_col(qb, qb).cast("double"))
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(cos, 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "id",
    vec_col: str = "v",
    n_blocks: int = 8,
) -> DataFrame:
    """Blocked all-pairs cosine near-dup join: the scale path for
    pairwise similarity, fully distributed — **nothing is collected to
    the driver**.

    Every row is hashed into one of ``n_blocks`` blocks; each unordered
    block pair (i <= j) becomes one ``applyInPandas`` group whose kernel
    does a single BLAS matmul between the two blocks' row-normalized
    matrices and emits (id_a < id_b) pairs above the threshold. All
    N^2 pairs are covered exactly once: diagonal groups (i == j)
    self-multiply, off-diagonal groups multiply side 0 x side 1.

    Cost model at scale: one shuffle keyed by (block_i, block_j), data
    replicated ``n_blocks`` times (each row joins n_blocks block-pairs),
    per-task memory = 2 blocks — size n_blocks so a block
    (~rows/n_blocks x dim x 8 B) fits an executor; replication grows
    O(sqrt(pairs per task)), the standard all-pairs blocking tradeoff.
    The matmul-per-group replaces a cross-join carrying two float
    arrays per row — measured 99 s -> <1 s on 2.2k x 64 at sf0.1."""
    import numpy as np
    import pandas as pd

    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    # sequence(a, b) with a > b is DESCENDING in Spark, not empty — guard
    empty = F.array().cast("array<int>")
    up = F.when(
        F.col("blk") + 1 <= n_blocks - 1,
        F.sequence(F.col("blk") + 1, F.lit(n_blocks - 1)),
    ).otherwise(empty)
    down = F.when(F.col("blk") >= 1, F.sequence(F.lit(0), F.col("blk") - 1)).otherwise(empty)
    diag = base.select(
        F.col("blk").alias("bi"), F.col("blk").alias("bj"), "id", "v", F.lit(0).alias("side")
    )
    as_left = base.withColumn("bj", F.explode(up)).select(
        F.col("blk").alias("bi"), "bj", "id", "v", F.lit(0).alias("side")
    )
    as_right = base.withColumn("bi", F.explode(down)).select(
        "bi", F.col("blk").alias("bj"), "id", "v", F.lit(1).alias("side")
    )
    tagged = diag.unionByName(as_left).unionByName(as_right)

    def kernel(key, pdf):
        bi, bj = int(key[0]), int(key[1])
        nothing = pd.DataFrame(
            {"id_a": np.array([], dtype="int64"), "id_b": np.array([], dtype="int64")}
        )
        if len(pdf) == 0:
            return nothing

        def matrix(part):
            ids = part["id"].to_numpy(dtype="int64")
            mat = np.array(list(part["v"]), dtype="float64")
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            return ids, mat

        if bi == bj:
            # symmetric self-matmul: keep the upper triangle only
            # (min/max folding would emit both orientations of a pair)
            ids, mat = matrix(pdf)
            ii, jj = np.nonzero(mat @ mat.T >= threshold)
            a, b = ids[ii], ids[jj]
            keep = a < b
            return pd.DataFrame({"id_a": a[keep], "id_b": b[keep]})
        left, right = pdf[pdf["side"] == 0], pdf[pdf["side"] == 1]
        if len(left) == 0 or len(right) == 0:
            return nothing
        lids, lmat = matrix(left)
        rids, rmat = matrix(right)
        ii, jj = np.nonzero(lmat @ rmat.T >= threshold)
        a, b = lids[ii], rids[jj]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        keep = lo < hi
        return pd.DataFrame({"id_a": lo[keep], "id_b": hi[keep]})

    return tagged.groupBy("bi", "bj").applyInPandas(kernel, schema="id_a long, id_b long")


def embedding_near_dup_lsh(
    df: DataFrame,
    threshold: float,
    id_col: str = "id",
    vec_col: str = "v",
    n_planes: int = 6,
    n_tables: int = 8,
    dim: int = 0,
) -> DataFrame:
    """LSH-prefiltered embedding near-dup — the high-threshold scale
    path composing the hyperplane buckets as a candidate filter before
    exact cosine verification (the blocked all-pairs matmul
    :func:`embedding_near_dup_pairs` stays the exact fallback).

    Candidates: ``n_tables`` independent bucket tables of ``n_planes``
    sign bits each; a pair is a candidate if it collides in ANY table
    (band-OR, the standard LSH amplification). Verification: exact
    cosine on candidate pairs only, via two id equi-joins back to the
    vectors. Output (id_a, id_b) with cosine >= threshold — a SUBSET of
    the exact operator by construction.

    Recall model: a pair at angle t collides per-table with prob
    (1 - t/pi)^n_planes; miss prob over tables is (1 - p)^n_tables.
    At the defaults and threshold 0.9 (t <= 25.8 deg) the miss rate is
    ~2%; byte-identical duplicates (the dedup target) hash to identical
    buckets and are found with probability 1. Size ``n_planes`` to the
    threshold: higher thresholds afford more planes (exponentially
    sparser buckets, so far fewer in-bucket candidate pairs) at the
    same miss rate — at 0.99 (t <= 8.1 deg), n_planes=12/n_tables=8
    misses ~0.1% while cutting candidates ~64x vs n_planes=6.
    ``dim``: pass the embedding width when known — the plane literals
    are emitted at exactly that width instead of _PLANE_MAX_DIM wide +
    a per-row slice (measured ~2-4x off the signature projection). Scale shape: shuffle on
    (table, bucket) replaces the O(N^2/b) block matmul — at 100 TB only
    bucket-colliding rows ever pair, so cost tracks the true duplicate
    density instead of the corpus square."""
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    # One signature array per row (materialized via withColumn so the
    # 8 per-table slices below reference it instead of re-deriving all
    # 48 fold expressions each — Catalyst does not CSE inside a select).
    sig = signature_bits_col(F.col("v"), n_tables * n_planes, dim)
    buckets = (
        base.withColumn("sig", sig)
        .select(
            "id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("tbl"),
                            F.array_join(
                                F.slice(F.col("sig"), t * n_planes + 1, n_planes), ""
                            ).alias("bucket"),
                        )
                        for t in range(n_tables)
                    ]
                )
            ).alias("b"),
        )
        .select("id", "b.tbl", "b.bucket")
    )
    # Materialize the (tiny: N x n_tables rows of ~20 B) bucket table so
    # the self-join does not run the signature projection on both sides
    # — same eager-localCheckpoint rationale as dedup._materialize.
    buckets = buckets.localCheckpoint(eager=True)
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # per-ROW norms hoisted into the projections: the verify predicate
    # otherwise re-runs cosine_col's three interpreted array-folds per
    # candidate pair; dot/(na*nb) is bit-identical (same expressions,
    # same multiply order) at a third of the per-pair work
    va = base.select(
        F.col("id").alias("id_a"),
        F.col("v").alias("va"),
        norm_col(F.col("v")).alias("na"),
    )
    vb = base.select(
        F.col("id").alias("id_b"),
        F.col("v").alias("vb"),
        norm_col(F.col("v")).alias("nb"),
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .where(
            (dot_col(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
            >= threshold
        )
        .select("id_a", "id_b")
    )


_PLANE_MAX_DIM = 512


def _width_guarded(vec: Column) -> Column:
    """The vector, or a runtime error if it is wider than the plane
    literals (``dim=0`` slices a ``_PLANE_MAX_DIM``-wide plane to
    ``size(vec)``; a wider vector would zip against nulls and
    null-poison every sign bit identically — silent misbucketing).
    ``assert_true`` returns null on success, so the WHEN picks the
    vector; on failure the job dies with the message instead."""
    ok = F.assert_true(
        F.size(vec) <= _PLANE_MAX_DIM,
        F.concat(
            F.lit(f"embedding wider than _PLANE_MAX_DIM={_PLANE_MAX_DIM}: "),
            F.size(vec).cast("string"),
            F.lit(" — pass the real dim explicitly"),
        ),
    )
    return F.when(ok.isNull(), vec)


@lru_cache(maxsize=None)
def _plane_signs(plane: int, dim: int) -> tuple:
    """+1/-1 per coordinate from the top bit of md5('{plane}:{i}') —
    a deterministic, engine-portable random hyperplane. Computed once
    at plan-build time on the driver (cached), NOT per row: the sign of
    coordinate i is a constant, but an md5 call written inside a
    higher-order-function lambda depends on the lambda variable, so
    Catalyst cannot constant-fold it and re-hashes per row x element
    x plane (measured 20 s for 2k rows x 48 planes x 64 dims; literal
    signs bring the same query to well under a second)."""
    return tuple(
        1.0 if hashlib.md5(f"{plane}:{i}".encode()).hexdigest()[0] in "89abcdef" else -1.0
        for i in range(dim)
    )


def signature_bits_col(vec: Column, n_planes_total: int, dim: int) -> Column:
    """All hyperplane sign bits at once: ``array<string>`` of '1'/'0',
    one element per plane. The planes live in ONE constant
    ``array<array<double>>`` literal and the bits come out of ONE
    ``transform`` with a nested zip/fold — a tree of 48 separate
    per-plane aggregate expressions took seconds of Catalyst analysis +
    janino codegen per stage (and self-joins compile it on both sides).
    The literal is one ``F.expr`` string parsed JVM-side:
    ``F.lit(<list>)`` costs a py4j round-trip per element (15 s of plan
    construction at 48 planes x 512 dims). ``dim=0``: planes are
    ``_PLANE_MAX_DIM`` wide, sliced to ``size(vec)`` per row."""
    if n_planes_total == 0:
        # degenerate single-bucket case (everything collides)
        return F.expr("cast(array() as array<string>)")
    rows = []
    for p in range(n_planes_total):
        arr = ",".join("1.0D" if s > 0 else "-1.0D" for s in _plane_signs(p, dim or _PLANE_MAX_DIM))
        rows.append(f"array({arr})")
    mat = F.expr("array(" + ",".join(rows) + ")")

    guarded = vec if dim else _width_guarded(vec)

    def bit(h: Column) -> Column:
        hh = h if dim else F.slice(h, 1, F.size(guarded))
        dot = F.aggregate(
            F.zip_with(guarded, hh, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0"))

    return F.transform(mat, bit)


def lsh_bucket_col(vec: Column, n_planes: int = 8, dim: int = 64) -> Column:
    """Random-hyperplane LSH bucket id (n_planes sign bits)."""
    return F.array_join(signature_bits_col(vec, n_planes, dim), "")


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact ranking *within* the query's LSH bucket.
    At scale the bucket equi-join replaces the cross join; recall is
    traded via n_planes."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        lsh_bucket_col(F.col(vec_col), n_planes).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        lsh_bucket_col(F.col(vec_col), n_planes).alias("bucket"),
    )
    scored = (
        q.join(c, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_col(F.col("qvec"), F.col("cvec")), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )


def ivf_centroids(dim: int, n_lists: int, seed: int = 7):
    """Deterministic coarse-quantizer centroids: unit vectors whose
    coordinates derive from md5(f"{seed}:{list}:{i}") — run- and
    engine-stable without a training pass (the sandbox stand-in for a
    k-means codebook; swap in trained centroids at deployment, the
    query plan is identical)."""
    import hashlib

    import numpy as np

    rows = []
    for lst in range(n_lists):
        vals = []
        for i in range(dim):
            h = hashlib.md5(f"{seed}:{lst}:{i}".encode()).hexdigest()
            vals.append(int(h[:8], 16) / float(0x7FFFFFFF) - 1.0)
        rows.append(vals)
    m = np.array(rows, dtype="float64")
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
) -> DataFrame:
    """IVF-style approximate top-k — the third ANN variant (exact
    brute-force and hyperplane-LSH being the others).

    Corpus vectors are assigned to their nearest coarse centroid (one
    BLAS matmul per Arrow batch against the broadcast codebook — the
    inverted file); each query probes its ``n_probe`` nearest lists and
    ranks exactly within them. The (list_id) equi-join replaces the
    cross join: at 100 TB the corpus shuffles once by list_id (or is
    written bucketed by it) and each query touches n_probe/n_lists of
    the data. ``n_probe = n_lists`` degenerates to exact search.

    ``centroids``: a row-normalized (n_lists, dim) float64 codebook to
    use instead of the hash-derived stand-in — pass
    :func:`clustering.trained_centroids_f64` output for the
    trained-IVF variant (data-adapted lists balance the inverted file,
    so equal ``n_probe`` buys equal-or-better recall; pinned in
    tests/test_ann.py)."""
    import numpy as np
    import pandas as pd  # noqa: F401
    from pyspark.sql.types import IntegerType, StructField, StructType

    n_probe = min(n_probe, n_lists)
    first = queries.select(vec_col).first()
    if first is None:  # no queries: empty result, not a crash
        return local_frame(
            queries.sparkSession, [], "query_id long, rank int, neighbor_id long, score double"
        )
    dim = len(first[0])
    if centroids is None:
        cents = ivf_centroids(dim, n_lists)
    else:
        cents = np.asarray(centroids, dtype="float64")
        assert cents.shape == (n_lists, dim), (cents.shape, n_lists, dim)
    bc = queries.sparkSession.sparkContext.broadcast(cents)

    def tagger(colname: str, n_top: int):
        def kernel(batches):
            C = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                M = np.array(list(pdf[colname]), dtype="float64")
                M /= np.linalg.norm(M, axis=1, keepdims=True)
                scores = M @ C.T
                if n_top == 1:
                    lists = scores.argmax(axis=1)[:, None]
                else:
                    lists = np.argsort(-scores, axis=1)[:, :n_top]
                out = pdf.loc[pdf.index.repeat(n_top)].reset_index(drop=True)
                out["list_id"] = lists.reshape(-1).astype("int32")
                yield out

        return kernel

    def with_list(schema) -> StructType:
        return StructType(list(schema.fields) + [StructField("list_id", IntegerType())])

    cbase = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    probed_c = cbase.mapInPandas(tagger("cvec", 1), schema=with_list(cbase.schema))
    qbase = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    probed_q = qbase.mapInPandas(tagger("qvec", n_probe), schema=with_list(qbase.schema))
    scored = (
        probed_q.join(probed_c, "list_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_col(F.col("qvec"), F.col("cvec")), 6).alias("score"),
        )
        .distinct()  # a pair can meet in several probed lists
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )


# ---------------------------------------------------------------------------
# HNSW (hierarchical navigable small world) — the graph-ANN variant
# ---------------------------------------------------------------------------


class HnswIndex:
    """A compact, deterministic HNSW graph (Malkov & Yashunin 2016)
    over L2-normalized vectors, similarity = dot product (= cosine).

    Determinism: the level of node ``i`` derives from md5(seed:i)
    (geometric with ratio 1/ln(m), the paper's mL), so builds are
    run- and partition-stable — no RNG state, which matters for
    Spark-task retries producing identical shard graphs. Neighbor
    selection is plain top-M by similarity (the paper's simple
    variant; the heuristic variant trades build cost for recall on
    clustered data — the test embeddings are near-uniform).

    ``search(q, k, ef)`` with ``ef >= len(index)`` is EXHAUSTIVE by
    definition (the beam's candidate pool admits the entire corpus),
    which is what makes the degenerate-exact oracle registration
    (knn_hnsw_exact) possible; implementationally that case takes the
    straight matmul shortcut — same contract, no graph walk."""

    def __init__(self, X, m: int = 8, ef_construction: int = 64, seed: int = 7):
        import math

        import numpy as np

        self.X = np.asarray(X, dtype="float64")
        n = len(self.X)
        self.m = m
        self.efc = ef_construction
        self.m0 = 2 * m  # layer-0 degree bound (the paper's Mmax0)
        self.ml = 1.0 / math.log(m) if m > 1 else 1.0
        self.levels = []
        for i in range(n):
            h = int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:8], 16)
            u = (h + 1) / 4294967297.0  # (0, 1)
            self.levels.append(int(-math.log(u) * self.ml))
        # links[node] = list of neighbor-lists, one per level 0..levels[node]
        self.links: list[list[list[int]]] = []
        self.entry = -1
        self.max_level = -1
        for i in range(n):
            self._insert(i)

    def __len__(self) -> int:
        return len(self.links)

    def _sim(self, q, idx_list):
        return self.X[idx_list] @ q

    def _search_layer(self, q, eps: list[int], ef: int, level: int) -> list[tuple[float, int]]:
        """Beam search on one layer: returns up to ``ef`` (sim, node)
        pairs, best-first. Candidates expand best-first (max-heap by
        similarity); the result set keeps the ef best seen."""
        import heapq

        visited = set(eps)
        sims = {e: float(self.X[e] @ q) for e in eps}
        cand = [(-sims[e], e) for e in eps]  # max-heap by sim
        heapq.heapify(cand)
        best = [(sims[e], e) for e in eps]  # min-heap of the ef best
        heapq.heapify(best)
        while cand:
            negs, c = heapq.heappop(cand)
            if -negs < best[0][0] and len(best) >= ef:
                break
            for nb in self.links[c][level]:
                if nb in visited:
                    continue
                visited.add(nb)
                s = float(self.X[nb] @ q)
                if len(best) < ef or s > best[0][0]:
                    heapq.heappush(cand, (-s, nb))
                    heapq.heappush(best, (s, nb))
                    if len(best) > ef:
                        heapq.heappop(best)
        return sorted(best, reverse=True)

    def _insert(self, i: int) -> None:
        level = self.levels[i]
        self.links.append([[] for _ in range(level + 1)])
        if self.entry < 0:
            self.entry = i
            self.max_level = level
            return
        q = self.X[i]
        eps = [self.entry]
        # greedy descent through layers above the node's level
        for lv in range(self.max_level, level, -1):
            eps = [self._search_layer(q, eps, 1, lv)[0][1]]
        # beam + connect on each layer from min(level, max_level) down
        for lv in range(min(level, self.max_level), -1, -1):
            found = self._search_layer(q, eps, self.efc, lv)
            deg = self.m0 if lv == 0 else self.m
            nbrs = [node for _s, node in found[:deg]]
            self.links[i][lv] = list(nbrs)
            for nb in nbrs:
                lk = self.links[nb][lv]
                lk.append(i)
                if len(lk) > deg:
                    # prune to the deg most-similar (simple selection)
                    sims = self._sim(self.X[nb], lk)
                    order = sorted(range(len(lk)), key=lambda j: -sims[j])
                    self.links[nb][lv] = [lk[j] for j in order[:deg]]
            eps = [node for _s, node in found]
        if level > self.max_level:
            self.entry = i
            self.max_level = level

    def search(self, q, k: int, ef: int) -> list[tuple[float, int]]:
        import numpy as np

        q = np.asarray(q, dtype="float64")
        nq = np.linalg.norm(q)
        if nq > 0:
            q = q / nq
        n = len(self.links)
        if n == 0:
            return []
        if ef >= n:
            # degenerate-exact: the beam admits the whole corpus, so
            # search IS an exhaustive scan — take the matmul shortcut
            sims = self.X @ q
            order = np.argsort(-sims)[: min(k, n)]
            return [(float(sims[j]), int(j)) for j in order]
        eps = [self.entry]
        for lv in range(self.max_level, 0, -1):
            eps = [self._search_layer(q, eps, 1, lv)[0][1]]
        found = self._search_layer(q, eps, max(ef, k), 0)
        return [(s, node) for s, node in found[:k]]


def hnsw_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    m: int = 8,
    ef_construction: int = 64,
    ef_search: int = 32,
    n_shards: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed HNSW top-k — the fourth ANN variant (brute force,
    LSH, IVF being the others): the corpus is hash-sharded, each shard
    builds a partition-LOCAL graph (build is embarrassingly parallel —
    the only full-corpus shuffle is the sharding repartition, and a
    bucketed/pre-partitioned corpus skips even that), the small query
    batch broadcasts into every shard, each shard answers its local
    top-(k+1) via the layered beam search, and a JVM window merges
    k·n_shards candidate rows per query — a shuffle bounded by the
    QUERY count, not the corpus. At 10^12 vectors each shard's graph
    is memory-local to its executor and queries fan out exactly once.

    Scores on the emitted candidates are recomputed JVM-side with the
    module's summation-order-disciplined :func:`cosine_col`, so the
    exact-oracle contract is identical to the LSH/IVF forms.
    ``ef_search >= shard size`` makes every local search exhaustive
    and therefore the merged result exactly the brute-force top-k
    (knn_hnsw_exact pins that under the driver's value-hash oracle);
    tests/test_ann.py pins recall at working settings."""
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    qrows = queries.select(id_col, vec_col).collect()  # query batch is small
    if not qrows:
        return local_frame(
            queries.sparkSession, [], "query_id long, rank int, neighbor_id long, score double"
        )
    qids = [int(r[0]) for r in qrows]
    qmat = np.array([list(r[1]) for r in qrows], dtype="float64")
    qmat /= np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-300)
    bc = queries.sparkSession.sparkContext.broadcast((qids, qmat))

    cbase = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    sharded = cbase.repartition(n_shards, "neighbor_id")
    out_schema = StructType(
        [StructField("query_id", LongType())] + list(cbase.schema.fields)
    )

    def kernel(batches):
        import pandas as pd

        ids: list = []
        vecs: list = []
        for pdf in batches:
            ids.extend(int(v) for v in pdf["neighbor_id"])
            vecs.extend(list(v) for v in pdf["cvec"])
        if not ids:
            return
        X = np.array(vecs, dtype="float64")
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
        q_ids, q_mat = bc.value
        rows_q, rows_n, rows_v = [], [], []
        if ef_search >= len(ids):
            # degenerate-exact: the beam would admit the whole shard,
            # so skip the graph build and cut the shard-local list BY
            # ROUNDED SCORE, tie-inclusive — emit every candidate whose
            # round-6 score ties or beats the local (k+1)-th largest
            # (+1 absorbs the self-match dropped downstream). A row cut
            # here has k+1 shard-local candidates STRICTLY above it in
            # rounded score, of which at most one is the self-match, so
            # it cannot be in the global top-k under the JVM's
            # (round-6 score desc, id) order — byte-exactness no
            # longer rests on the old fixed "+8 inside one 1e-6
            # window" slack (round-6 ADVICE item)
            sims = np.round(X @ q_mat.T, 6)  # (n, q)
            kk = min(k + 1, len(ids))
            thr = np.partition(sims, len(ids) - kk, axis=0)[len(ids) - kk]
            for col, qi in enumerate(q_ids):
                for j in np.nonzero(sims[:, col] >= thr[col])[0]:
                    rows_q.append(qi)
                    rows_n.append(ids[j])
                    rows_v.append(vecs[j])
        else:
            index = HnswIndex(X, m=m, ef_construction=ef_construction)
            for qi, qv in zip(q_ids, q_mat):
                # k+8 local: +1 survives dropping the query's own row
                # (self-match excluded downstream); the rest is slack
                # so the JVM's round-to-6 rank (with id tie-break)
                # rarely disagrees with the kernel's full-precision
                # local cut — approximate-path recall is engine-defined
                # and pinned by tests/test_ann.py, not the oracle
                for _s, j in index.search(qv, k + 8, ef_search):
                    rows_q.append(qi)
                    rows_n.append(ids[j])
                    rows_v.append(vecs[j])
        yield pd.DataFrame({"query_id": rows_q, "neighbor_id": rows_n, "cvec": rows_v})

    cand = sharded.mapInPandas(kernel, schema=out_schema)
    qbase = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    scored = (
        cand.join(F.broadcast(qbase), "query_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_col(F.col("qvec"), F.col("cvec")), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )
