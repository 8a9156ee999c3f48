"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Engine-portable hashing: everything derives from MD5 hex strings
(identical in Spark and DuckDB), so every operator here has an exact
SQL oracle. MinHash uses the lexicographic minimum of salted MD5
strings — a valid min-wise permutation family without any bigint
conversion games.

Scale notes: exact dedup is one hash-groupBy. MinHash/LSH is the scale
path for near-dup (candidates via band-bucket equi-join — shuffle on
band hash, no O(n^2)); the plain n-gram Jaccard join is the small-scale
verifier. SimHash gives 32-bit signatures whose byte-blocks can be
equi-joined for Hamming<=k candidate generation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdf_ocr_spark.operators.analysis import tokens_col

#: MinHash configuration shared with the SQL oracle.
MINHASH_PERMS = 12
LSH_BANDS = 4
LSH_ROWS = 3  # MINHASH_PERMS / LSH_BANDS

SIMHASH_BITS = 32


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Expensive narrow projections (per-shingle MD5, the 32 SimHash
    vote folds) inherit the source's split count — a small parquet file
    plans as 1-3 partitions and serializes the whole compute onto as
    many cores. Repartition up to ``defaultParallelism`` ONLY when the
    input has fewer partitions (measured: simhash_hamming_pairs 19.6 s
    -> 5.3 s at sf0.1 on local[32]). At 100 TB inputs carry thousands
    of splits, so this is a no-op — no extra shuffle at scale."""
    sc = df.sparkSession.sparkContext
    try:
        n_in = df.rdd.getNumPartitions()
    except Exception:
        return df
    if n_in < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def _materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize a shared intermediate (``localCheckpoint``).

    The composed dedup operators fan several plan branches out of one
    intermediate (shingles feed both LSH candidate generation and
    Jaccard verification). A lazy ``.cache()`` had two measured
    problems: (1) the first action plans every branch over the not-yet-
    materialized cache — 30+ Exchange nodes and double-computed shingles
    in the round-2 bench (the dedup_minhash_lsh 8 s -> 12 s regression);
    (2) ``DataFrame.cache()`` registers in the session CacheManager and
    pins the blocks until an explicit unpersist, accumulating storage
    across calls in a long-lived session. ``localCheckpoint(eager=True)``
    computes the table exactly once, truncates lineage, and its blocks
    are released by the ContextCleaner when the DataFrame is
    garbage-collected — no caller-side cleanup contract.

    Scale note: localCheckpoint stores partitions un-replicated on
    executors, so a lost executor fails the job rather than recomputing;
    on a real cluster where executor loss must be survivable, swap for
    reliable checkpointing (``setCheckpointDir`` on the DFS)."""
    return df.localCheckpoint(eager=True)


def norm_text_col(text: Column) -> Column:
    """Dedup normalization: lowercase, trim, collapse whitespace runs."""
    return F.regexp_replace(F.lower(F.regexp_replace(text, r"^\s+|\s+$", "")), r"\s+", " ")


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup over normalized text. Returns one row
    per duplicate group: (text_hash, n_copies, keeper_id)."""
    return (
        df.select(F.md5(norm_text_col(F.col(text_col))).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_copies"), F.min(id_col).alias("keeper_id"))
        .where(F.col("n_copies") > 1)
    )


def incremental_dedup_verdicts(
    existing: DataFrame,
    incoming: DataFrame,
    text_col: str = "text",
    id_col: str = "id",
) -> DataFrame:
    """Cross-snapshot incremental dedup — the production shape for a
    continuously-crawled corpus: an incoming batch dedups against the
    ALREADY-ACCEPTED corpus without ever re-shuffling the old corpus's
    text. Returns one verdict row per incoming document:
    ``dup_of_existing`` (normalized hash already accepted),
    ``dup_in_batch`` (a smaller-id twin arrived in the same batch), or
    ``new``. Plan: the existing side is projected to its 16-byte hash
    at the scan (column pruning keeps text out of the exchange), the
    batch self-dedup is one keyed agg over the (small) batch, and the
    existing-vs-batch probe is a hash-keyed left join that Spark's
    runtime bloom filter / DPP can prefilter; nothing is ever
    corpus × batch."""
    ex = (
        existing.select(F.md5(norm_text_col(F.col(text_col))).alias("_h"))
        .distinct()
        .withColumn("_seen", F.lit(True))
    )
    inc = incoming.select(
        F.col(id_col), F.md5(norm_text_col(F.col(text_col))).alias("_h")
    )
    keep = inc.groupBy("_h").agg(F.min(id_col).alias("_keeper"))
    return (
        inc.join(keep, "_h")
        .join(ex, "_h", "left")
        .select(
            F.col(id_col),
            F.when(F.col("_seen").isNotNull(), F.lit("dup_of_existing"))
            .when(F.col(id_col) != F.col("_keeper"), F.lit("dup_in_batch"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
        )
    )


def shingle_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """One row per (id, distinct word-n-gram). The shared input of the
    MinHash, LSH, Jaccard, and contamination operators — compute (and
    cache) it once instead of re-deriving shingles inside every
    downstream plan.

    Tokens are materialized as a column before the shingle transform so
    tokenization runs once per row (see word_ngrams_from_tokens)."""
    from pdf_ocr_spark.operators.analysis import tokens_col, word_ngrams_from_tokens

    base = _ensure_parallelism(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")))
    return (
        base.select("id", tokens_col(F.lower(F.col("text"))).alias("_toks"))
        .select("id", F.explode(F.array_distinct(word_ngrams_from_tokens(F.col("_toks"), n))).alias("gram"))
    )


def minhash_signatures_from_shingles(shingles: DataFrame, perms: int = MINHASH_PERMS) -> DataFrame:
    """Aggregate-formulated MinHash over an exploded shingle table:
    one hash-shuffle, `perms` min() aggregates — the scale path (each
    shingle is hashed `perms` times exactly once)."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{p}:"), F.col("gram")))).alias(f"h{p}")
        for p in range(perms)
    ]
    return shingles.groupBy("id").agg(*aggs)


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs (id_a < id_b). Bands hash `LSH_ROWS`
    consecutive signature values; docs sharing any band bucket pair up.
    The equi-join on (band_idx, band_hash) is the only shuffle."""
    if shingles is None:
        shingles = shingle_table(df, text_col, id_col)
    sigs = minhash_signatures_from_shingles(shingles)
    sig = sigs.select(
        "id", F.array(*[F.col(f"h{p}") for p in range(MINHASH_PERMS)]).alias("sig")
    )
    bands = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[F.element_at("sig", b * LSH_ROWS + r + 1) for r in range(LSH_ROWS)],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("id", "band.band_idx", "band.band_hash")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """All pairs with word-3-gram Jaccard >= threshold, via a shared-
    shingle equi-join (no cross join): |A∩B| from the join, |A|,|B|
    from per-doc distinct counts. Returns (id_a, id_b, jaccard).

    Pass a cached ``shingles`` table when composing with the LSH
    operators so the shingle derivation runs once.

    ``max_df`` is the 100-TB guard: high-document-frequency shingles
    ("of the …") pair documents quadratically in the self-join, so at
    scale pass a cap and grams appearing in more than ``max_df``
    documents are dropped *before* the join; Jaccard is then computed
    over the capped shingle space (both intersection and sizes — a
    standard scale heuristic, deterministic and oracle-mirrorable).
    ``None`` (default) keeps exact semantics."""
    if shingles is None:
        shingles = shingle_table(df, text_col, id_col)
    if max_df is not None:
        rare = (
            shingles.groupBy("gram")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") <= max_df)
            .select("gram")
        )
        shingles = shingles.join(rare, "gram", "left_semi")
    sizes = shingles.groupBy("id").agg(F.count("*").alias("n"))
    a, b = shingles.alias("a"), shingles.alias("b")
    inter = (
        a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def jaccard_for_pairs(pairs: DataFrame, shingles: DataFrame) -> DataFrame:
    """Exact word-3-gram Jaccard computed ONLY for the given candidate
    pairs — no shingle self-join anywhere in the plan. ``pairs`` has
    (id_a, id_b); ``shingles`` has (id, gram). |A∩B| comes from joining
    the pair table to side A's shingles (fan-out bounded by shingles per
    doc), then equi-joining side B on (id_b, gram); |A|,|B| from per-doc
    counts. Cost is O(|candidates| x shingles/doc) — the property that
    keeps verification linear at 100 TB regardless of hot shingles.
    Candidate pairs sharing zero grams drop out (jaccard would be 0)."""
    sizes = shingles.groupBy("id").agg(F.count("*").alias("n"))
    a = shingles.select(F.col("id").alias("id_a"), "gram")
    b = shingles.select(F.col("id").alias("id_b"), "gram")
    inter = (
        pairs.join(a, "id_a")
        .join(b, ["id_b", "gram"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def minhash_near_dup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """The composed scale-path near-dup operator: shingles materialized
    once (:func:`_materialize`), LSH candidates, exact-Jaccard
    verification restricted to the candidate set via
    :func:`jaccard_for_pairs` — the executed plan contains NO full
    shingle self-join, and both branches scan the one checkpointed
    shingle table instead of re-deriving it.

    ``threshold`` must be > 0: candidate pairs sharing zero shingles
    never survive the intersection join, so a jaccard-0 row is not
    representable (and is never a near-duplicate)."""
    if threshold <= 0.0:
        raise ValueError(
            "minhash_near_dup needs threshold > 0 (zero-overlap candidate "
            "pairs are dropped by the verification join)"
        )
    shingles = _materialize(shingle_table(df, text_col, id_col))
    cand = lsh_candidate_pairs(df, text_col, id_col, shingles=shingles)
    verified = jaccard_for_pairs(cand, shingles)
    return verified.where(F.col("jaccard") >= threshold).select("id_a", "id_b")


def dedup_decisions(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """The composed per-document dedup verdict — what a pipeline
    actually writes back: (id, keeper_id, reason) for EVERY document.

    * ``exact``  — the doc's normalized text hash has a lower-id twin;
      keeper is the group minimum.
    * ``near``   — the doc is an exact-group representative but a
      MinHash+LSH near-dup pair (verified Jaccard >= threshold) links
      it to a lower-id representative; keeper is the lowest such.
    * ``unique`` — everything else keeps itself.

    One-hop semantics (lowest id wins, no transitive closure) — fully
    deterministic and SQL-mirrorable; the iterative connected-components
    closure is :func:`dedup_components`. Scale shape: one hash-groupBy
    for the exact pass, then the (already bucketed) MinHash path over
    the exact-group representatives only — the corpus never self-joins."""
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
        F.md5(norm_text_col(F.col(text_col))).alias("_h"),
    )
    # the group table feeds three branches (exact verdicts, the rep set
    # for the near pass, the unique anti-join) — materialize it once
    # instead of recomputing the hash-groupBy per branch
    groups = _materialize(
        hashed.groupBy("_h")
        .agg(F.min(F.struct("id", "text")).alias("_rep"))
        .select("_h", F.col("_rep.id").alias("keeper_id"), F.col("_rep.text").alias("text"))
    )
    exact = (
        hashed.join(groups.select("_h", "keeper_id"), "_h")
        .where(F.col("id") != F.col("keeper_id"))
        .select("id", "keeper_id", F.lit("exact").alias("reason"))
    )
    reps = groups.select(F.col("keeper_id").alias("id"), "text")
    near_pairs = minhash_near_dup(reps, text_col="text", id_col="id", threshold=threshold)
    near = _materialize(
        near_pairs.groupBy(F.col("id_b").alias("id"))
        .agg(F.min("id_a").alias("keeper_id"))
        .select("id", "keeper_id", F.lit("near").alias("reason"))
    )
    unique = (
        reps.join(near.select("id"), "id", "left_anti")
        .select("id", F.col("id").alias("keeper_id"), F.lit("unique").alias("reason"))
    )
    return exact.unionByName(near).unionByName(unique)


def dedup_edges(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Undirected duplicate-graph edge list (src, dst): exact edges
    (doc -> its exact-group keeper) plus MinHash near-dup edges between
    exact-group representatives — the shared input of the one-hop
    verdict (:func:`dedup_decisions`) and the transitive closure
    (:func:`dedup_components`)."""
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
        F.md5(norm_text_col(F.col(text_col))).alias("_h"),
    )
    groups = hashed.groupBy("_h").agg(F.min(F.struct("id", "text")).alias("_rep"))
    keepers = groups.select(
        "_h", F.col("_rep.id").alias("keeper_id"), F.col("_rep.text").alias("text")
    )
    exact_edges = (
        hashed.join(keepers.select("_h", "keeper_id"), "_h")
        .where(F.col("id") != F.col("keeper_id"))
        .select(F.col("keeper_id").alias("src"), F.col("id").alias("dst"))
    )
    reps = keepers.select(F.col("keeper_id").alias("id"), "text")
    near_edges = minhash_near_dup(
        reps, text_col="text", id_col="id", threshold=threshold
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    return exact_edges.unionByName(near_edges)


def dedup_components(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_iter: int = 50,
) -> DataFrame:
    """Transitive dedup closure: connected components of the duplicate
    graph via **iterative min-label propagation** — the canonical
    iterative algorithm on Spark (a chain A~B~C collapses to one
    component even when A and C share nothing directly).

    Each round every vertex adopts the minimum label among itself and
    its neighbors; fixpoint is detected by a changed-count and each
    round's result is ``localCheckpoint``-ed so the lineage does not
    grow with iterations (the classic iterative-job OOM). Rounds needed
    = graph diameter (duplicate clusters are shallow in practice).
    Returns (id, component_id)."""
    edges = dedup_edges(df, text_col, id_col, threshold)
    undirected = _materialize(
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    )
    labels = df.select(F.col(id_col).alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    ).localCheckpoint()
    changed = -1
    for _ in range(max_iter):
        msgs = undirected.join(
            labels.withColumnRenamed("id", "src"), "src"
        ).select(F.col("dst").alias("id"), "label")
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()  # truncate lineage every round
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("label", "_old"), "id")
            .where(F.col("label") != F.col("_old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # silent non-convergence would split a component and diverge
        # from the documented transitive-closure contract
        raise RuntimeError(
            f"dedup_components did not converge within {max_iter} rounds "
            "(duplicate-graph diameter too large); raise max_iter"
        )
    return labels.select("id", F.col("label").alias("component_id"))


def contamination_check(
    candidates: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 6,
) -> DataFrame:
    """Benchmark-contamination scan — the eval-set hygiene operator a
    training-data pipeline runs before every release: flag candidate
    documents sharing at least one word-n-gram with the benchmark
    corpus, with the hit count. Returns (id, n_gram_hits).

    Production uses n≈13 (the standard contamination window); the knob
    is free. Scale shape: the benchmark's distinct gram set is tiny
    relative to the corpus — **broadcast** it and the candidate side
    streams once with a map-side hash probe; one aggregation shuffle on
    the (rare) hits. No benchmark-side shuffle of the candidates."""
    bench_grams = (
        shingle_table(benchmark, text_col, id_col, n=n).select("gram").distinct()
    )
    cand_grams = shingle_table(candidates, text_col, id_col, n=n)
    return (
        cand_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("id")
        .agg(F.count("*").alias("n_gram_hits"))
    )


def hamming_col(a: Column, b: Column, bits: int = SIMHASH_BITS) -> Column:
    """Hamming distance between two ``bits``-char bit strings as a sum
    of per-position inequality terms — pure JVM column arithmetic,
    identical in DuckDB (the oracle generates the same sum)."""
    total: Column = F.lit(0)
    for j in range(bits):
        total = total + F.when(
            F.substring(a, j + 1, 1) != F.substring(b, j + 1, 1), 1
        ).otherwise(0)
    return total


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_blocks: int = 4,
) -> DataFrame:
    """Hamming <= k near-dup pairs over SimHash signatures — the
    operator a 100 TB SimHash pass actually runs.

    Signatures are computed over **word-3-gram shingles**, not unigram
    token sets: token-set SimHash collapses on narrow-vocabulary
    corpora (every doc sees most of the vocabulary, so signatures
    cluster and the Hamming<=k answer itself goes quadratic — measured:
    27% of ALL pairs matched on the test corpus). Order-sensitive
    shingles keep signatures discriminative, so the result is the
    near-dup set, not the cross product.

    Candidate generation is byte-block LSH (pigeonhole): the ``bits``
    signature splits into ``n_blocks`` contiguous blocks; any pair at
    Hamming <= n_blocks - 1 must agree exactly on at least one block,
    so the (block_idx, block_bits) equi-join finds every such pair with
    zero false negatives and no all-pairs comparison. Exact Hamming is
    then verified per candidate. Requires ``max_hamming < n_blocks``.
    Returns (id_a, id_b, hamming)."""
    from pdf_ocr_spark.operators.analysis import word_ngrams_from_tokens

    if max_hamming >= n_blocks:
        raise ValueError("pigeonhole guarantee needs max_hamming < n_blocks")
    if SIMHASH_BITS % n_blocks:
        raise ValueError("n_blocks must divide the signature width")
    width = SIMHASH_BITS // n_blocks
    # two-step materialization: the distinct-shingle array must be a
    # bound column before the 32 vote-aggregates read it (Catalyst
    # re-evaluates inline expressions per lambda — the measured 10x
    # simhash pitfall), and the signature table is checkpointed so the
    # self-join below doesn't recompute the votes for each side.
    toked = _ensure_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    ).select(
        "id",
        tokens_col(F.lower(F.col("text"))).alias("_toks"),
    ).select(
        "id",
        F.array_distinct(word_ngrams_from_tokens(F.col("_toks"), 3)).alias("_grams"),
    ).select(
        # hash once per gram into a bound column: the 32 vote folds
        # below each re-evaluate their input expression, so an inline
        # md5 would be hashed 32x per gram (measured 13.5 -> 5.4 s)
        "id",
        F.transform(F.col("_grams"), F.md5).alias("_hashes"),
    )
    sigs = _materialize(
        toked.select("id", simhash_from_hashes(F.col("_hashes")).alias("sig"))
    )
    blocks = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block_idx"),
                        F.substring("sig", b * width + 1, width).alias("block"),
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("blk"),
    ).select("id", "sig", "blk.block_idx", "blk.block")
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block") == F.col("b.block"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            hamming_col(F.col("sig_a"), F.col("sig_b")).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_from_hashes(hashes: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash from a **materialized array of MD5 hex digests** (one
    per distinct token): bit j is the majority vote of the top bit of
    hex digit j. The caller must bind ``transform(toks, md5)`` to a
    real column first — the 32 vote-aggregates each walk the array, so
    an inline md5 would be re-hashed 32x per token (measured 2.5x
    whole-query cost on simhash_hamming_pairs)."""

    def vote(j: int):
        return lambda acc, t: acc + F.when(
            F.substring(t, j + 1, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"), 1
        ).otherwise(-1)

    votes = [F.aggregate(hashes, F.lit(0), vote(j)) for j in range(bits)]
    return F.concat(*[F.when(v > 0, F.lit("1")).otherwise(F.lit("0")) for v in votes])


def simhash_from_tokens(toks: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash as a `bits`-char bit string over a token array column.
    Portable: pure MD5-hex-digit arithmetic. Prefer hashing into a
    bound column + :func:`simhash_from_hashes` in hot paths; this
    convenience form hashes inline (each aggregate re-evaluates md5)."""
    return simhash_from_hashes(F.transform(toks, F.md5), bits)


def substring_dup_windows(
    df: DataFrame,
    window: int = 15,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring deduplication at token-window granularity — the
    training-corpus form (identical ``window``-token runs recurring
    across documents, the signal behind "exact substring dedup" in LLM
    data pipelines): tokenize, slide a stride-1 window, and aggregate
    each distinct window text over the corpus, reporting those present
    in >= 2 distinct documents with document frequency and occurrence
    count.

    Plan shape: one narrow tokenize+explode stage, then a single
    window-keyed aggregation (countDistinct expands to Spark's
    two-phase distinct plan). Stride-1 windows amplify bytes ~W-fold;
    at 100 TB the window column would be hashed (xxhash64) before the
    shuffle with only candidate groups rehydrating text — here text is
    carried directly so the DuckDB oracle can compare exact content.
    The ``size < window`` guard matters: Spark's ``sequence(0, n)``
    with n < 0 is DESCENDING, not empty."""
    toks = df.select(
        F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("toks")
    )
    starts = F.when(
        F.size("toks") >= window,
        F.sequence(F.lit(0), F.size("toks") - F.lit(window)),
    ).otherwise(F.array().cast("array<int>"))
    wins = toks.select(
        "id",
        F.explode(
            F.transform(
                starts,
                lambda i: F.array_join(F.slice("toks", i + 1, window), " "),
            )
        ).alias("window_text"),
    )
    return (
        wins.groupBy("window_text")
        .agg(
            F.countDistinct("id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= 2)
    )


def substring_dedup_rewrite(
    df: DataFrame,
    window: int = 15,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The REWRITE step of exact-substring dedup (Lee et al. remove
    the duplicated runs, they don't just report them): every token
    position covered by a corpus-duplicated ``window``-token run is
    excised, except inside each run's single KEEPER occurrence — the
    globally smallest (doc_id, start), so exactly one copy of every
    duplicated passage survives. Returns (doc_id, n_tokens,
    n_removed, clean_text). Deterministic by construction (keeper
    election is a struct-min; position sets are exact), hence
    SQL-oracle certifiable.

    Plan shape: the tokenized base is checkpointed once (windows and
    the final rewrite both read it); the dup-window election is the
    same window-keyed agg as :func:`substring_dup_windows`; non-keeper
    occurrences explode to ≤ window positions each (duplicated-mass
    bound, not corpus bound); the removal sets come back as one
    doc-keyed agg and the rewrite is a JVM indexed array filter. At
    100 TB the window key would be xxhash64-narrowed exactly as in
    :func:`substring_dup_windows_hashed`."""
    toks = df.select(
        F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("toks")
    ).localCheckpoint(eager=True)
    starts = F.when(
        F.size("toks") >= window,
        F.sequence(F.lit(0), F.size("toks") - F.lit(window)),
    ).otherwise(F.array().cast("array<int>"))
    wins = toks.select(
        "id",
        F.explode(
            F.transform(
                starts,
                lambda i: F.struct(
                    i.alias("start"),
                    F.array_join(F.slice("toks", i + 1, window), " ").alias("wt"),
                ),
            )
        ).alias("w"),
    ).select("id", F.col("w.start").alias("start"), F.col("w.wt").alias("wt"))
    dup = (
        wins.groupBy("wt")
        .agg(
            F.countDistinct("id").alias("n_docs"),
            F.min(F.struct(F.col("id").alias("i"), F.col("start").alias("s"))).alias(
                "k"
            ),
        )
        .where(F.col("n_docs") >= 2)
        .select("wt", "k")
    )
    nonkeep = wins.join(dup, "wt").where(
        ~((F.col("id") == F.col("k.i")) & (F.col("start") == F.col("k.s")))
    )
    pos = nonkeep.select(
        "id", F.explode(F.sequence(F.col("start"), F.col("start") + window - 1)).alias("p")
    ).distinct()
    rem = pos.groupBy("id").agg(F.sort_array(F.collect_set("p")).alias("plist"))
    out = toks.join(rem, "id", "left").withColumn(
        "plist", F.coalesce(F.col("plist"), F.array().cast("array<int>"))
    )
    return out.select(
        F.col("id").alias(id_col),
        F.size("toks").cast("long").alias("n_tokens"),
        F.size("plist").cast("long").alias("n_removed"),
        F.array_join(
            F.filter("toks", lambda _t, i: ~F.array_contains("plist", i)), " "
        ).alias("clean_text"),
    )


def substring_dup_windows_hashed(
    df: DataFrame,
    window: int = 15,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The 100 TB shape of :func:`substring_dup_windows`: xxhash64 each
    ``window``-token window at the map side so the big exchange carries
    8-byte keys instead of ~100-byte window strings, then rehydrate
    text for candidate (duplicated-hash) groups only.

    Three-stage plan:

    1. tokenize + slide + ``xxhash64(window_text)`` — the corpus-wide
       aggregation shuffles (hash, id) pairs only; window text never
       crosses the wire in the heavy stage.
    2. hash-keyed countDistinct — the duplicated-hash set is tiny
       (duplicate windows are rare by construction at corpus scale),
       so it broadcasts.
    3. a second tokenize pass semi-joined (broadcast) against the dup
       hashes rehydrates candidate window text, and a final regroup BY
       TEXT recomputes exact counts. The regroup makes the output
       collision-proof: a 64-bit collision only drags an extra window
       into the candidate set, where its true (by-text) n_docs < 2
       filters it back out — output is byte-identical to the exact
       form, which is why both registrations share one oracle SQL.

    Trade: one extra scan+tokenize of the corpus (cheap, narrow,
    whole-stage-codegen) buys ~10x fewer shuffle bytes in the stage
    that dominates at scale — see scripts/shuffle_bytes_bench.py and
    the BENCH.md round-6 row for the measured reduction."""
    toks = df.select(
        F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("toks")
    )
    starts = F.when(
        F.size("toks") >= window,
        F.sequence(F.lit(0), F.size("toks") - F.lit(window)),
    ).otherwise(F.array().cast("array<int>"))
    wins_text = toks.select(
        "id",
        F.explode(
            F.transform(
                starts,
                lambda i: F.array_join(F.slice("toks", i + 1, window), " "),
            )
        ).alias("window_text"),
    )
    wins_hashed = wins_text.select("id", F.xxhash64("window_text").alias("h"))
    dup_hashes = (
        wins_hashed.groupBy("h")
        .agg(F.countDistinct("id").alias("n_docs_h"))
        .where(F.col("n_docs_h") >= 2)
        .select("h")
    )
    candidates = wins_text.join(
        F.broadcast(dup_hashes),
        F.xxhash64(wins_text["window_text"]) == dup_hashes["h"],
        "leftsemi",
    )
    return (
        candidates.groupBy("window_text")
        .agg(
            F.countDistinct("id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= 2)
    )
