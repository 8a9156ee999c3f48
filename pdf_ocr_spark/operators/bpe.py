"""Distributed BPE vocabulary training — the tokenizer-TRAINING step
of an LLM data pipeline (``bpe_token_count`` counts with a fixed
vocabulary; this learns the merge table itself).

Algorithm (Sennrich et al. 2016, the standard word-frequency form):
words are symbol sequences (initially characters); each round counts
adjacent-symbol pairs weighted by word frequency, elects the most
frequent pair (ties: lexicographically smallest (left, right)), and
merges every occurrence greedily left-to-right; repeat for a fixed
number of rounds.

Representation: a word's symbol sequence is ONE string with
double-sentinel separators — ``[a, b]`` is ``"##a##b##"`` — so the
merge step is a plain literal ``replace("#l##r#", "#lr#")``. The
shared boundary hash survives each replacement (pattern consumes one
of the two separator chars on each side), which makes non-overlapping
left-to-right replace EXACTLY the greedy BPE merge: verified
character-identical across Spark's ``replace``, DuckDB's ``replace``,
and Python ``str.replace`` on overlap/chaining adversarial cases
(``"##a##a##a##a##"`` → ``"##aa##aa##"``, etc.). Symbols never
contain ``#`` (words are ``^[a-z0-9]+$``), so a match always aligns
on whole symbols. This is what makes the fixed-round SQL oracle exact.

Distribution shape (the 100 TB story): the word-frequency table is
VOCAB-BOUNDED — one map-side-combined groupBy over the corpus builds
it, and every training round thereafter touches only unique words
(a few million rows at web scale, independent of corpus size). Per
round: one narrow pair-explode + one keyed agg (partial combine), a
1-row driver election (ORDER BY count DESC, l, r LIMIT 1 — the same
control-plane budget as Lloyd's centroid refresh), and one narrow
literal-replace map. The vocab table is localCheckpoint-ed per round
so lineage stays linear in rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_ocr_spark.operators.rows import local_frame

#: Fixed training rounds shared by the operator and the SQL-oracle
#: generator in entrypoints.py (single-source-of-truth discipline).
BPE_MERGE_ROUNDS = 8

#: Only these words train (bounds the symbol alphabet and guarantees
#: the ``#`` sentinel never occurs inside a symbol).
BPE_WORD_RE = "^[a-z0-9]+$"


def word_freq(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt): lowercased whitespace tokens matching
    :data:`BPE_WORD_RE`, counted corpus-wide. The vocab-bounded table
    every training round runs over."""
    from pdf_ocr_spark.operators.analysis import tokens_col

    return (
        df.select(F.explode(tokens_col(F.lower(F.col(text_col)))).alias("word"))
        .where(F.col("word").rlike(BPE_WORD_RE))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def _sym_string(word_col):
    """``"abc"`` → ``"##a##b##c##"``: one char per symbol, double-
    sentinel separators."""
    return F.concat(F.lit("##"), F.regexp_replace(word_col, "(.)", "$1##"))


def _adjacent_pairs(s_col):
    """All adjacent (l, r) symbol pairs of a sentinel string, as an
    array of structs. ``sequence(1, 0)`` is DESCENDING in Spark, so
    the size-1 case is guarded to an empty array."""
    syms = F.split(s_col.substr(F.lit(3), F.length(s_col) - 4), "##")
    n = F.size(syms)
    idx = F.when(n > 1, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(syms, i).alias("l"), F.element_at(syms, i + 1).alias("r")
        ),
    )


def _train(
    df: DataFrame, text_col: str, n_merges: int
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Run the fixed-round training loop; returns the merge list AND
    the final vocab DataFrame (word, s, cnt) with every merge applied
    — the word→subwords map application joins against."""
    words = word_freq(df, text_col).select(
        "word", _sym_string(F.col("word")).alias("s"), "cnt"
    )
    words = words.localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, int]] = []
    for rnd in range(1, n_merges + 1):
        top = (
            words.select(F.explode(_adjacent_pairs(F.col("s"))).alias("p"), "cnt")
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.col("c").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, c = top[0]["l"], top[0]["r"], int(top[0]["c"])
        merges.append((rnd, l, r, c))
        words = words.withColumn(
            "s",
            F.replace(
                F.col("s"), F.lit(f"#{l}##{r}#"), F.lit(f"#{l}{r}#")
            ),
        ).localCheckpoint(eager=True)
    return merges, words


def bpe_train_merges(
    df: DataFrame, text_col: str = "text", n_merges: int = BPE_MERGE_ROUNDS
) -> DataFrame:
    """Learn ``n_merges`` BPE merges over ``df[text_col]``; returns
    (merge_round, left_sym, right_sym, pair_count) — the merge table,
    one row per round in election order. Stops early if no adjacent
    pair remains (every word fused to one symbol)."""
    merges, _ = _train(df, text_col, n_merges)
    return local_frame(
        df.sparkSession,
        merges,
        "merge_round int, left_sym string, right_sym string, pair_count long",
    )


def bpe_subword_vocab(
    df: DataFrame, text_col: str = "text", n_merges: int = BPE_MERGE_ROUNDS
) -> DataFrame:
    """Train, then return the APPLIED vocabulary — (word, n_subwords):
    every trainable word with its subword count under the learned
    merges. This is the tokenizer-application artifact: because BPE
    merges are a pure function of the word, corpus-scale tokenization
    is a broadcast join of this vocab-bounded table against the
    corpus's exploded words — the corpus is never re-segmented
    per-occurrence. n_subwords = symbol count of the final sentinel
    string (``"##ab##c##"`` → 2)."""
    _, words = _train(df, text_col, n_merges)
    syms = F.split(
        F.col("s").substr(F.lit(3), F.length("s") - 4), "##"
    )
    return words.select("word", F.size(syms).cast("long").alias("n_subwords"))


def apply_merges(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Re-tokenize one word with a learned merge list (driver-side
    helper for tests and downstream tokenizers): replays each merge in
    training order on the same sentinel representation."""
    s = "##" + "".join(ch + "##" for ch in word)
    for l, r in merges:
        s = s.replace(f"#{l}##{r}#", f"#{l}{r}#")
    inner = s[2:-2]
    return inner.split("##") if inner else []
