"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language ID, word n-gram shingles.

All pure column expressions (JVM-side). Each has an ANSI-SQL twin in
:mod:`pdf_ocr_spark.entrypoints` for the DuckDB oracle; the two are
kept in sync by sharing the constant lists below.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny stopword inventories for the n-gram/stopword language heuristic.
#: Deliberately small and fixed — the heuristic's value is determinism.
STOPWORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "del"),
    "de": ("der", "die", "und", "das", "von", "zu", "mit", "den"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une"),
}

#: Tie-break priority when stopword scores are equal.
LANG_PRIORITY = ("en", "es", "de", "fr")

def tokens_col(text: Column) -> Column:
    """Whitespace tokenization; empty/blank text -> empty array."""
    trimmed = F.regexp_replace(text, r"^\s+|\s+$", "")
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count_col(text: Column) -> Column:
    return F.size(tokens_col(text))


def punct_ratio_col(text: Column) -> Column:
    n = F.length(text)
    punct = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct.cast("double") / n.cast("double"))


def digit_ratio_col(text: Column) -> Column:
    n = F.length(text)
    digits = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(digits.cast("double") / n.cast("double"))


def stopword_ratio_col(text: Column, lang: str = "en") -> Column:
    toks = tokens_col(F.lower(text))
    hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS[lang])))
    n = F.size(toks)
    return F.when(n == 0, F.lit(0.0)).otherwise(hits.cast("double") / n.cast("double"))


def stopword_hits_col(text: Column, lang: str) -> Column:
    toks = tokens_col(F.lower(text))
    return F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS[lang])))


def lang_id_col(text: Column) -> Column:
    """Stopword-vote language ID with fixed priority tie-break."""
    scores = {lang: stopword_hits_col(text, lang) for lang in LANG_PRIORITY}
    expr = F.lit(LANG_PRIORITY[-1])
    # build the when-chain in reverse so earlier languages win ties
    for lang in reversed(LANG_PRIORITY[:-1]):
        later = [scores[lo] for lo in LANG_PRIORITY[LANG_PRIORITY.index(lang) + 1 :]]
        cond = None
        for o in later:
            c = scores[lang] >= o
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def avg_token_len_col(text: Column) -> Column:
    toks = tokens_col(text)
    n = F.size(toks)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(n == 0, F.lit(0.0)).otherwise(total.cast("double") / n.cast("double"))


def quality_score_col(text: Column) -> Column:
    """Deterministic [0,1]-ish quality blend: length saturation, low
    punctuation, presence of stopwords — the usual cheap pretraining
    quality gates."""
    len_sat = F.least(F.length(text).cast("double") / F.lit(200.0), F.lit(1.0))
    return F.round(
        0.4 * len_sat + 0.3 * (1.0 - punct_ratio_col(text)) + 0.3 * stopword_ratio_col(text),
        6,
    )


def word_ngrams_from_tokens(toks: Column, n: int = 3) -> Column:
    """Array of word n-gram shingles from an (already materialized)
    token-array column. Fewer than n tokens -> the whole text as a
    single shingle.

    IMPORTANT: pass a *column reference* (e.g. materialized via
    ``withColumn``), not a token expression — Catalyst does not
    common-subexpression-eliminate across lambda bodies, so an inline
    expression would be re-evaluated for every element access
    (measured 10-30x slowdown)."""
    k = F.size(toks)
    idx = F.sequence(F.lit(1), k - F.lit(n - 1))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + j).cast("int")) for j in range(n)]),
    )
    return F.when(k < n, F.array(F.concat_ws(" ", toks))).otherwise(grams)


# ---------------------------------------------------------------------------
# Repetition filters (Gopher-style)
# ---------------------------------------------------------------------------


def dup_fraction_col(arr: Column) -> Column:
    """Fraction of array elements that are duplicates of an earlier
    element: (n - n_distinct) / n, 0.0 for empty arrays."""
    n = F.size(arr)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.round((n - F.size(F.array_distinct(arr))) / n, 6)
    )


def dup_char_fraction_col(arr: Column) -> Column:
    """Character-weighted duplicate fraction: share of characters that
    sit in repeated (non-first) occurrences — the Gopher formulation,
    which penalizes a long duplicated paragraph more than a short one."""
    chars = F.aggregate(arr, F.lit(0), lambda a, x: a + F.length(x))
    dchars = F.aggregate(F.array_distinct(arr), F.lit(0), lambda a, x: a + F.length(x))
    return F.when(chars == 0, F.lit(0.0)).otherwise(
        F.round(F.lit(1.0) - dchars / chars, 6)
    )


def word_bigrams_strict(toks: Column) -> Column:
    """Word 2-grams, STRICTLY empty below 2 tokens (unlike the shingle
    helper, which degrades to whole-text — repetition stats must not
    count a lone token as a bigram). The when() guard also avoids the
    Spark pitfall that ``sequence(0, -1)`` is descending, not empty."""
    k = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), k - F.lit(1)),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i.cast("int")), F.element_at(toks, (i + 1).cast("int"))
        ),
    )
    return F.when(k < 2, F.array().cast("array<string>")).otherwise(grams)


#: PII redaction rules, applied IN ORDER (email first so its local
#: part can't be half-eaten by the number rules; both regex dialects
#: — Java for Spark, RE2 for the DuckDB oracle — support this subset:
#: no lookaround, \b and bounded repetition only). The standard
#: training-corpus scrub pass (emails, IPv4s, SSN-shaped ids, NANP
#: phone-shaped numbers) before text ships to a tokenizer.
PII_RULES = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<ID>"),
    ("phone", r"\+?\d{1,2}-\d{3}-\d{4}\b", "<PHONE>"),
)


def pii_scrub_col(text: Column) -> Column:
    """Redact PII spans in rule order -> the scrubbed text."""
    out = text
    for _, pat, repl in PII_RULES:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts_cols(text: Column) -> list[Column]:
    """Per-rule match counts (counted on the PRE-scrub text, each rule
    after the earlier rules' redactions — identical to what the scrub
    itself replaces)."""
    cols = []
    cur = text
    for name, pat, repl in PII_RULES:
        cols.append(F.regexp_count(cur, F.lit(pat)).cast("long").alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, repl)
    return cols
