"""Driver-contract queries: every implemented operator as a
(spark_fn, oracle_sql) pair over the /root/testdata tables.

The DuckDB SQL strings are *generated from the same constants* as the
Spark column expressions (replacement chain, stopword lists, MinHash
parameters), so the two sides cannot drift.

Column-name discipline: every computed column is aliased identically in
the Spark plan and the SQL (the driver hashes values after sorting
columns by name).

Float discipline: aggregates over doubles go through exact
``decimal(18,2)`` sums (then to double), divisions happen after, and
similarity scores are rounded to 6 digits *before* ranking — so
cross-engine ULP noise cannot flip a value or a rank.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pdf_ocr_spark.functions.serialize import html_doc_col, markdown_doc_col, txt_doc_col
from pdf_ocr_spark.functions.text import (
    allowed_file_col,
    lang_map_col,
    normalize_text_col,
    secure_clean_filename_col,
    select_dpi_col,
)
from pdf_ocr_spark.operators.analysis import (
    LANG_PRIORITY,
    STOPWORDS,
    avg_token_len_col,
    digit_ratio_col,
    lang_id_col,
    punct_ratio_col,
    quality_score_col,
    stopword_ratio_col,
    token_count_col,
)
from pdf_ocr_spark.operators.dedup import (
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_PERMS,
    exact_dedup_groups,
    incremental_dedup_verdicts,
    minhash_near_dup,
    ngram_jaccard_pairs,
)
from pdf_ocr_spark.operators.rows import local_frame
from pdf_ocr_spark.operators.similarity import cosine_topk, lsh_topk
from pdf_ocr_spark.oracle.serializers import HTML_STYLE, TXT_PAGE_SEPARATOR
from pdf_ocr_spark.oracle.textfuncs import LANGUAGE_CODE_MAP, OCR_REPLACEMENTS
from pdf_ocr_spark.sources.testdata import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

# ---------------------------------------------------------------------------
# SQL builders shared with the Spark side via common constants
# ---------------------------------------------------------------------------


def sql_sanitize(e: str) -> str:
    return f"regexp_replace(coalesce({e}, ''), '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', '', 'g')"


def sql_fix(e: str) -> str:
    """The M5 chain in DuckDB SQL. The lookaround-free newline folding is
    equivalent to the reference's two regexes: runs>=2 -> sentinel,
    singles -> space, sentinel -> double newline (runs of exactly 2 and
    >=3 both end as two newlines either way)."""
    for wrong, right in OCR_REPLACEMENTS:
        e = f"replace({e}, '{wrong}', '{right}')"
    e = f"regexp_replace({e}, '\\n\\n+', chr(1), 'g')"
    e = f"replace({e}, chr(10), ' ')"
    e = f"replace({e}, chr(1), chr(10) || chr(10))"
    return e


def sql_normalize(e: str) -> str:
    return sql_fix(sql_sanitize(e))


_NL2 = "chr(10) || chr(10)"


def sql_strip(e: str) -> str:
    return f"regexp_replace({e}, '^\\s+|\\s+$', '', 'g')"


def sql_tokens(e: str) -> str:
    return f"(CASE WHEN {sql_strip(e)} = '' THEN [] ELSE string_split_regex({sql_strip(e)}, '\\s+') END)"


def sql_grams(e: str, n: int = 3) -> str:
    """Word-n-gram shingles of lowercased text (matches
    ``word_ngrams_from_tokens`` over ``tokens_col(lower(text))``)."""
    t = sql_tokens(f"lower({e})")
    joined = " || ' ' || ".join(f"{t}[i+{j}]" if j else f"{t}[i]" for j in range(n))
    return (
        f"(CASE WHEN len({t}) < {n} THEN [array_to_string({t}, ' ')] "
        f"ELSE list_transform(generate_series(1, len({t}) - {n - 1}), "
        f"i -> {joined}) END)"
    )


def sql_stop_hits(e: str, lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter({sql_tokens(f'lower({e})')}, t -> list_contains([{words}], t)))"


def _sql_quality(e: str) -> str:
    """quality_score_col's blend in DuckDB SQL (shared by the
    quality_score and ordered_quality_export oracles)."""
    return (
        f"round(0.4 * least(len({e})::DOUBLE / 200.0, 1.0)"
        f" + 0.3 * (1.0 - coalesce(len(regexp_replace({e}, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / nullif(len({e}), 0), 0.0))"
        f" + 0.3 * (CASE WHEN len({sql_tokens(e)}) = 0 THEN 0.0"
        f" ELSE {sql_stop_hits(e, 'en')}::DOUBLE / len({sql_tokens(f'lower({e})')}) END), 6)"
    )


#: Shared corpus CTE injecting exact and near duplicates into the flat
#: documents table (dedup operators need dups to find).
CORPUS_CTE = """
corpus AS (
    SELECT doc_id AS id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS id, replace(text, ' window ', ' pane ') AS text
    FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT doc_id + 200000 AS id, text FROM documents WHERE doc_id % 7 = 0
)
"""


def _corpus_df(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    near = d.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("id"),
        F.replace(F.col("text"), F.lit(" window "), F.lit(" pane ")).alias("text"),
    )
    exact = d.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("id"), "text"
    )
    return d.select(F.col("doc_id").alias("id"), "text").unionByName(near).unionByName(exact)


_SHINGLES_CTE = (
    "shingles AS (SELECT id, unnest(list_distinct(" + sql_grams("text") + ")) AS gram FROM corpus)"
)

#: sizes/inter/jacc over whatever `shingles` CTE precedes them —
#: composed with corpus shingles (_JACCARD_CTES) or rep shingles
#: (dedup_decisions).
_JACCARD_TAIL = """
sizes AS (SELECT id, count(*) AS n FROM shingles GROUP BY id),
inter AS (
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
    FROM shingles a JOIN shingles b ON a.gram = b.gram AND a.id < b.id
    GROUP BY a.id, b.id
),
jacc AS (
    SELECT id_a, id_b,
           round(n_shared::DOUBLE / (sa.n + sb.n - n_shared), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = inter.id_a
    JOIN sizes sb ON sb.id = inter.id_b
)
"""

_JACCARD_CTES = f"""
{_SHINGLES_CTE},
{_JACCARD_TAIL.strip()}
"""


def _sql_minhash_ctes() -> str:
    sig_cols = ", ".join(
        f"min(md5('{p}:' || gram)) AS h{p}" for p in range(MINHASH_PERMS)
    )
    band_selects = " UNION ALL ".join(
        "SELECT id, {b} AS band_idx, md5({h}) AS band_hash FROM sigs".format(
            b=b,
            h=" || '|' || ".join(f"h{b * LSH_ROWS + r}" for r in range(LSH_ROWS)),
        )
        for b in range(LSH_BANDS)
    )
    return f"""
sigs AS (SELECT id, {sig_cols} FROM shingles GROUP BY id),
bands AS ({band_selects}),
cand AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.id < b.id
)
"""


def _sql_lang_case(e: str) -> str:
    conds = []
    for i, lang in enumerate(LANG_PRIORITY[:-1]):
        later = LANG_PRIORITY[i + 1 :]
        cond = " AND ".join(f"s_{lang} >= s_{lo}" for lo in later)
        conds.append(f"WHEN {cond} THEN '{lang}'")
    return "CASE " + " ".join(conds) + f" ELSE '{LANG_PRIORITY[-1]}' END"


def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_sum([{a}[i]::DOUBLE * {b}[i]::DOUBLE "
        f"for i in generate_series(1, len({a}))])"
    )


def _sql_cosine(a: str, b: str) -> str:
    return (
        f"({_sql_dot(a, b)} / (sqrt({_sql_dot(a, a)}) * sqrt({_sql_dot(b, b)})))"
    )


# ---------------------------------------------------------------------------
# Query registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def _register(name: str, sql: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


def _drain_stream_result(spark: SparkSession, df: DataFrame, workdir: str) -> DataFrame:
    """Materialize a streaming sink read-back and remove its scratch
    dir. The streaming driver queries stage input + checkpoint + sink
    under a fresh tempdir per invocation; returning a lazy reader over
    that dir would leak it forever (bench's min-of-2 and repeated
    oracle runs invoke each query several times per session). The
    results are small by construction (dup groups / per-file profiles
    / per-book text), so an eager local copy costs less than the
    leak. The copy is a ``LocalRelation``, so actions over it run no
    Python task."""
    import shutil

    rows = df.collect()
    out = local_frame(spark, rows, df.schema)
    shutil.rmtree(workdir, ignore_errors=True)
    return out


def _books(spark: SparkSession, sf: str) -> DataFrame:
    """Derive a multi-page 'book' table from the flat documents table:
    book_id = doc_id // 5, page = doc_id % 5 — the per-document page
    model of SURVEY §1.1 over driver-provided data."""
    d = load_table(spark, sf, "documents")
    return d.select(
        (F.col("doc_id") / 5).cast("long").alias("book_id"),
        (F.col("doc_id") % 5).cast("int").alias("page"),
        "text",
    )


_BOOKS_CTE = (
    "books AS (SELECT doc_id // 5 AS book_id, (doc_id % 5)::INT AS page, text FROM documents)"
)

# --- extraction kernels ----------------------------------------------------


@_register(
    "normalize_chain",
    f"SELECT doc_id, {sql_normalize('text')} AS norm_text FROM documents",
)
def q_normalize_chain(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return d.select("doc_id", normalize_text_col(F.col("text")).alias("norm_text"))


@_register(
    "paragraph_explode",
    f"""
WITH paged AS (
    SELECT doc_id, replace(text, ' batch ', {_NL2}) AS ptext FROM documents
)
SELECT doc_id, generate_subscripts(parts, 1) - 1 AS para_no, unnest(parts) AS para
FROM (SELECT doc_id, string_split(ptext, {_NL2}) AS parts FROM paged)
""",
)
def q_paragraph_explode(spark: SparkSession, sf: str) -> DataFrame:
    """M10 paragraph split + explode with position. The blank-line
    boundaries are synthesized (testdata text has no newlines)."""
    d = load_table(spark, sf, "documents")
    paged = d.select(
        "doc_id", F.replace(F.col("text"), F.lit(" batch "), F.lit("\n\n")).alias("ptext")
    )
    return paged.select(
        "doc_id", F.posexplode(F.split(F.col("ptext"), r"\n\n")).alias("para_no", "para")
    )


@_register(
    "reassemble_txt",
    f"""
WITH {_BOOKS_CTE}
SELECT book_id, string_agg(text, '{TXT_PAGE_SEPARATOR}' ORDER BY page) AS txt
FROM books GROUP BY book_id
""",
)
def q_reassemble_txt(spark: SparkSession, sf: str) -> DataFrame:
    """S5+A2: ordered reassembly + txt serialization (sorted collect)."""
    b = _books(spark, sf)
    pages = F.collect_list(F.struct(F.col("page").alias("offset"), F.col("text").alias("text")))
    return b.groupBy("book_id").agg(txt_doc_col(pages).alias("txt"))


@_register(
    "stream_reassemble_txt",
    f"""
WITH {_BOOKS_CTE}
SELECT book_id, string_agg(text, '{TXT_PAGE_SEPARATOR}' ORDER BY page) AS txt
FROM books GROUP BY book_id
""",
)
def q_stream_reassemble_txt(spark: SparkSession, sf: str) -> DataFrame:
    """§2.5 streaming, driver-visible: the same reassembly as
    ``reassemble_txt`` computed THROUGH the streaming engine — file
    source, one-file micro-batches, foreachBatch with idempotent
    dynamic-partition-overwrite writes, availableNow drain — then the
    sink read back as the result. The oracle is the batch SQL: books
    are hash-bucketed so no book straddles a micro-batch, making the
    union of per-batch groupBys equal the global groupBy (see
    :func:`stream_reassemble_books`). Gives the streaming tier an
    exact driver-green row instead of pytest-only evidence."""
    import tempfile

    from pdf_ocr_spark.streaming.stream import stream_reassemble_books

    workdir = tempfile.mkdtemp(prefix="stream_reassemble_")
    return _drain_stream_result(
        spark, stream_reassemble_books(spark, _books(spark, sf), workdir), workdir
    )


@_register(
    "serialize_md",
    f"""
WITH {_BOOKS_CTE},
paged AS (SELECT book_id, page, replace(text, ' batch ', {_NL2}) AS ptext FROM books),
bodies AS (
    SELECT book_id, page,
           array_to_string(list_transform(string_split(ptext, {_NL2}),
                                          p -> {sql_strip('p')} || {_NL2}), '') AS body
    FROM paged
)
SELECT book_id, string_agg(body, '---' || {_NL2} ORDER BY page) AS md
FROM bodies GROUP BY book_id
""",
)
def q_serialize_md(spark: SparkSession, sf: str) -> DataFrame:
    b = _books(spark, sf).select(
        "book_id", "page", F.replace(F.col("text"), F.lit(" batch "), F.lit("\n\n")).alias("text")
    )
    pages = F.collect_list(F.struct(F.col("page").alias("offset"), F.col("text").alias("text")))
    return b.groupBy("book_id").agg(markdown_doc_col(pages).alias("md"))


_HTML_HEAD_SQL = (
    "'<!DOCTYPE html>' || chr(10) || '<html lang=\"en\">' || chr(10) || '<head>' || chr(10) || "
    "'    <meta charset=\"UTF-8\">' || chr(10) || '    <title>' || title || '</title>' || chr(10) || "
    f"{HTML_STYLE[:-1]!r} || chr(10) || "
    "'</head>' || chr(10) || '<body>' || chr(10) || '<h1>' || title || '</h1>' || chr(10)"
)


@_register(
    "serialize_html",
    f"""
WITH {_BOOKS_CTE},
paged AS (SELECT book_id, page, replace(text, ' batch ', {_NL2}) AS ptext FROM books),
bodies AS (
    SELECT book_id, page,
           array_to_string(list_transform(string_split(ptext, {_NL2}),
               p -> '<p>' || {sql_strip("replace(replace(replace(p, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')")} || '</p>' || chr(10)), '') AS body
    FROM paged
),
titled AS (SELECT book_id, 'book_' || book_id AS title,
                  string_agg(body, '<hr class="page-break">' || chr(10) ORDER BY page) AS inner_html
           FROM bodies GROUP BY book_id)
SELECT book_id,
       {_HTML_HEAD_SQL} || inner_html || '</body>' || chr(10) || '</html>' || chr(10) AS html
FROM titled
""",
)
def q_serialize_html(spark: SparkSession, sf: str) -> DataFrame:
    b = _books(spark, sf).select(
        "book_id", "page", F.replace(F.col("text"), F.lit(" batch "), F.lit("\n\n")).alias("text")
    )
    pages = F.collect_list(F.struct(F.col("page").alias("offset"), F.col("text").alias("text")))
    return b.groupBy("book_id").agg(
        html_doc_col(pages, F.concat(F.lit("book_"), F.col("book_id"))).alias("html")
    )


@_register(
    "page_count",
    f"WITH {_BOOKS_CTE} "
    "SELECT book_id, count(*) AS n_pages, max(page) AS max_page FROM books GROUP BY book_id",
)
def q_page_count(spark: SparkSession, sf: str) -> DataFrame:
    return (
        _books(spark, sf)
        .groupBy("book_id")
        .agg(F.count("*").alias("n_pages"), F.max("page").alias("max_page"))
    )


_FNAME = "'../up loads/' || source || '_' || doc_id || '.pdf'"
_FNAME_CLEAN_SQL = (
    "trim(regexp_replace(array_to_string(string_split_regex(trim("
    f"replace(replace({_FNAME}, '/', ' '), '\\', ' ')"
    "), '\\s+'), '_'), '[^A-Za-z0-9_.-]', '', 'g'), '._')"
)


@_register(
    "secure_filename",
    f"SELECT doc_id, {_FNAME_CLEAN_SQL} AS clean_name FROM documents",
)
def q_secure_filename(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    fname = F.concat(F.lit("../up loads/"), F.col("source"), F.lit("_"), F.col("doc_id"), F.lit(".pdf"))
    return d.select("doc_id", secure_clean_filename_col(fname).alias("clean_name"))


@_register(
    "allowed_file",
    """
WITH named AS (
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN source || '.pdf'
                           WHEN 1 THEN source || '.PDF'
                           ELSE source END AS fname
    FROM documents
)
SELECT doc_id, fname FROM named
WHERE strpos(fname, '.') > 0 AND lower(regexp_extract(fname, '\\.([^.]*)$', 1)) = 'pdf'
""",
)
def q_allowed_file(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    fname = (
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.col("source"), F.lit(".pdf")))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.col("source"), F.lit(".PDF")))
        .otherwise(F.col("source"))
    )
    return d.select("doc_id", fname.alias("fname")).where(allowed_file_col(F.col("fname")))


_LANG_CASE = (
    "CASE x "
    + " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in LANGUAGE_CODE_MAP.items())
    + " ELSE x END"
)


@_register(
    "lang_map",
    "SELECT doc_id, array_to_string(list_transform(string_split(lang || '+eng', '+'), "
    f"x -> {_LANG_CASE}), '+') AS mapped FROM documents",
)
def q_lang_map(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.array_join(lang_map_col(F.concat(F.col("lang"), F.lit("+eng"))), "+").alias("mapped"),
    )


@_register(
    "dpi_select",
    "SELECT doc_id, CASE WHEN doc_id % 2 = 1 THEN 'high' ELSE 'standard' END AS quality, "
    "CASE WHEN (CASE WHEN doc_id % 2 = 1 THEN 'high' ELSE 'standard' END) = 'high' "
    "THEN 600 ELSE 300 END AS dpi FROM documents",
)
def q_dpi_select(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    quality = F.when(F.col("doc_id") % 2 == 1, F.lit("high")).otherwise(F.lit("standard"))
    return d.select(
        "doc_id", quality.alias("quality"), select_dpi_col(quality).cast("int").alias("dpi")
    )


# --- relational operators (SURVEY §2.4) ------------------------------------


@_register(
    "anti_join_unprocessed",
    "SELECT o_orderkey, o_totalprice FROM orders o "
    "WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)",
)
def q_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    """The checkpoint-resume join shape: rows with no match (left anti)."""
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem").select("l_orderkey")
    return orders.join(li, orders.o_orderkey == li.l_orderkey, "left_anti").select(
        "o_orderkey", "o_totalprice"
    )


@_register(
    "window_offsets",
    """
SELECT user_id, event_id, seq FROM (
    SELECT user_id, event_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
    FROM events
) WHERE seq <= 3
""",
)
def q_window_offsets(spark: SparkSession, sf: str) -> DataFrame:
    """The span-offset-assignment window (row_number per key)."""
    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select("user_id", "event_id", F.row_number().over(w).alias("seq"))
        .where(F.col("seq") <= 3)
    )


@_register(
    "topk_per_group",
    """
SELECT c_nationkey, rk, c_custkey, c_acctbal FROM (
    SELECT c_nationkey, c_custkey, c_acctbal,
           row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rk
    FROM customer
) WHERE rk <= 5
""",
)
def q_topk(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        c.select("c_nationkey", "c_custkey", "c_acctbal", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= 5)
        .select("c_nationkey", "rk", "c_custkey", "c_acctbal")
    )


@_register(
    "pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       (sum(l_quantity::DECIMAL(18,2)))::DOUBLE AS sum_qty,
       (sum(l_extendedprice::DECIMAL(18,2)))::DOUBLE AS sum_base,
       (sum(l_discount::DECIMAL(18,2)))::DOUBLE / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
""",
)
def q_pricing(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape with exact decimal sums (deterministic across
    engines/partitionings), divisions after."""
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base"),
        (
            F.sum(F.col("l_discount").cast("decimal(18,2)")).cast("double") / F.count("*")
        ).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@_register(
    "profit_by_nation",
    """
SELECT n_name AS nation, extract(year FROM l_shipdate)::BIGINT AS yr,
       (sum(round(l_extendedprice * (1 - l_discount), 4)::DECIMAL(18,4)))::DOUBLE AS profit,
       count(*) AS n_lines
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN part ON l_partkey = p_partkey
WHERE p_size <= 20
GROUP BY n_name, yr
""",
)
def q_profit_by_nation(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape: fact ⋈ three broadcast dims (supplier, nation,
    part) with the part-size filter pushed to the dim scan; profit as a
    round-then-exact-decimal sum (deterministic across engines and
    partitionings — IEEE double products are bitwise identical, the
    round fixes the grid, the decimal sum is associative)."""
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    p = load_table(spark, sf, "part").where(F.col("p_size") <= 20)
    term = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).cast(
        "decimal(18,4)"
    )
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("l_shipdate").cast("long").alias("yr"))
        .agg(
            F.sum(term).cast("double").alias("profit"),
            F.count("*").alias("n_lines"),
        )
    )


@_register(
    "region_rollup",
    """
SELECT coalesce(r_name, 'ALL') AS region, coalesce(c_mktsegment, 'ALL') AS segment,
       count(*) AS n_customers,
       (sum(c_acctbal::DECIMAL(18,2)))::DOUBLE AS sum_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, c_mktsegment)
""",
)
def q_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Broadcast dim joins + ROLLUP aggregation."""
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        joined.rollup("r_name", "c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("sum_bal"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region"),
            F.coalesce(F.col("c_mktsegment"), F.lit("ALL")).alias("segment"),
            "n_customers",
            "sum_bal",
        )
    )


@_register(
    "set_except",
    """
SELECT event_type, CAST(floor(value / 20) AS INT) AS band FROM events WHERE value > 150
EXCEPT
SELECT event_type, CAST(floor(value / 20) AS INT) FROM events WHERE value < 180
""",
)
def q_set_except(spark: SparkSession, sf: str) -> DataFrame:
    """EXCEPT on a value-derived composite whose high tail exists only
    above the overlap cutoff — every event_type has both low and high
    values, so a plain event_type EXCEPT is empty (0=0, verifies
    nothing); the (event_type, band) form leaves a non-empty,
    data-dependent difference at every scale factor (15/42/67 rows at
    sf0.001/0.01/0.1). Band uses explicit floor on both sides: DuckDB's
    double->int CAST rounds to nearest while Spark's truncates."""
    e = load_table(spark, sf, "events")
    band = F.floor(F.col("value") / 20).cast("int").alias("band")
    hi = e.where(F.col("value") > 150).select("event_type", band)
    lo = e.where(F.col("value") < 180).select("event_type", band)
    return hi.distinct().exceptAll(lo.distinct())


@_register(
    "asof_prev_error",
    """
SELECT event_id, user_id, prev_error_value FROM (
    SELECT event_id, user_id, event_type,
           last_value(CASE WHEN event_type = 'error' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_error_value
    FROM events
) WHERE event_type = 'click'
""",
)
def q_asof(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join shape: each click matched to the latest prior error of
    the same user, via an ignore-nulls window (no join at all)."""
    e = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.last(
        F.when(F.col("event_type") == "error", F.col("value")), ignorenulls=True
    ).over(w)
    return (
        e.select("event_id", "user_id", "event_type", prev.alias("prev_error_value"))
        .where(F.col("event_type") == "click")
        .select("event_id", "user_id", "prev_error_value")
    )


@_register(
    "sessionize_events",
    """
SELECT user_id, event_id, session_id FROM (
    SELECT user_id, event_id,
           CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS session_id
    FROM (
        SELECT user_id, event_id, ts,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                            > INTERVAL 600 SECOND
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    )
)
""",
)
def q_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization — the classic training-data/log-pipeline operator:
    a new session starts after a >10-minute gap; session_id is the
    running count of session starts per user. Gap compare is interval
    arithmetic (timestamp-kind agnostic, microsecond exact in both
    engines)."""
    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.col("ts")).over(w)
    new_session = F.when(
        prev.isNull() | ((F.col("ts") - prev) > F.expr("INTERVAL '600' SECOND")), 1
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return e.select(
        "user_id", "event_id", F.sum(new_session).over(run).alias("session_id")
    )


@_register(
    "lag_lead_values",
    """
SELECT user_id, event_id,
       lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
       lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value
FROM events
""",
)
def q_lag_lead(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )


@_register(
    "json_extract_props",
    "SELECT event_id, json_extract_string(props, '$.k')::BIGINT AS k FROM events",
)
def q_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured access: JSON-path extraction from a string column
    (the reference's task-status payloads are JSON dicts, SURVEY §1.2)."""
    e = load_table(spark, sf, "events")
    return e.select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )


@_register(
    "grouping_sets_customers",
    "SELECT coalesce(c_mktsegment, 'ALL') AS seg, "
    "coalesce(c_nationkey::VARCHAR, 'ALL') AS nat, count(*) AS n, "
    "grouping(c_mktsegment) AS g1 "
    "FROM customer GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))",
)
def q_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind rollup/cube),
    exercised through the SQL surface."""
    load_table(spark, sf, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        "SELECT coalesce(c_mktsegment, 'ALL') AS seg, "
        "coalesce(cast(c_nationkey as string), 'ALL') AS nat, count(*) AS n, "
        "grouping(c_mktsegment) AS g1 "
        "FROM customer GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))"
    )


@_register(
    "pivot_event_counts",
    "PIVOT (SELECT user_id % 10 AS bucket, event_type FROM events) "
    "ON event_type USING count(*) GROUP BY bucket",
)
def q_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot (wide aggregation): counts per (user bucket) x event_type.
    Output column names are the pivoted values in both engines.
    Absent (bucket, event_type) cells are coalesced to 0 to match
    DuckDB PIVOT's zero-fill (Spark's pivot+count leaves NULLs)."""
    e = load_table(spark, sf, "events")
    wide = (
        e.withColumn("bucket", (F.col("user_id") % 10).cast("long"))
        .groupBy("bucket")
        .pivot("event_type")
        .agg(F.count(F.lit(1)))
    )
    filled = [
        F.coalesce(F.col(f"`{c}`"), F.lit(0)).alias(c)
        for c in wide.columns
        if c != "bucket"
    ]
    return wide.select("bucket", *filled)


@_register(
    "percentiles_exact",
    "SELECT event_type, quantile_cont(value, 0.5) AS p50, quantile_cont(value, 0.9) AS p90 "
    "FROM events GROUP BY event_type",
)
def q_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` and DuckDB
    `quantile_cont` share linear-interpolation semantics — verified
    value-equal; the approximate variant lives in approx_distinct_users)."""
    e = load_table(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90"),
    )


@_register(
    "argmax_per_user",
    """
SELECT user_id, m.value AS max_value, m.event_id AS argmax_event
FROM (SELECT user_id, max(struct_pack(value := value, event_id := event_id)) AS m
      FROM events GROUP BY user_id)
""",
)
def q_argmax(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic arg-max via struct max (lexicographic on (value,
    event_id)) — the tie-safe alternative to max_by."""
    e = load_table(spark, sf, "events")
    return (
        e.groupBy("user_id")
        .agg(F.max(F.struct("value", "event_id")).alias("m"))
        .select(
            "user_id",
            F.col("m.value").alias("max_value"),
            F.col("m.event_id").alias("argmax_event"),
        )
    )


@_register(
    "cube_events",
    """
SELECT coalesce(event_type, 'ALL') AS etype,
       coalesce(d, -1) AS day_of_month,
       count(*) AS n
FROM (SELECT event_type, extract(day FROM ts)::INT AS d FROM events)
GROUP BY CUBE (event_type, d)
""",
)
def q_cube(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "events").select(
        "event_type", F.dayofmonth("ts").cast("int").alias("d")
    )
    return (
        e.cube("event_type", "d")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("etype"),
            F.coalesce(F.col("d"), F.lit(-1)).alias("day_of_month"),
            "n",
        )
    )


@_register(
    "set_intersect",
    """
SELECT event_type FROM events WHERE value > 190
INTERSECT
SELECT event_type FROM events WHERE value < 20
""",
)
def q_set_intersect(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "events")
    hi = e.where(F.col("value") > 190).select("event_type").distinct()
    lo = e.where(F.col("value") < 20).select("event_type").distinct()
    return hi.intersectAll(lo)


@_register(
    "semi_join_active_customers",
    "SELECT c_custkey, c_name FROM customer c "
    "WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
)
def q_semi_join(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").select("o_custkey")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@_register(
    "distinct_pairs",
    "SELECT DISTINCT lang, source FROM documents",
)
def q_distinct(spark: SparkSession, sf: str) -> DataFrame:
    return load_table(spark, sf, "documents").select("lang", "source").distinct()


@_register(
    "deterministic_sample",
    "SELECT doc_id, n_chars FROM documents "
    "WHERE substr(md5(doc_id::VARCHAR), 1, 1) IN ('0', '1')",
)
def q_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Hash-based deterministic sampling (portable, reproducible —
    unlike rand(), identical across engines and reruns)."""
    d = load_table(spark, sf, "documents")
    return d.where(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin("0", "1")
    ).select("doc_id", "n_chars")


@_register(
    "lm_bigram_familiarity",
    """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents WHERE trim(text) != ''
),
bigrams AS (
  -- 4100-start cap: generate_series needs a constant bound; the
  -- corpus guard (dedup_substring's assert) holds docs <= 4015
  -- tokens, so starts <= 4014 and the cap never truncates
  SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
  FROM toks, generate_series(1, 4100) AS g(i)
  WHERE i + 1 <= len(t)
),
model AS (
  SELECT bg, count(*) AS c FROM bigrams WHERE doc_id % 2 = 0 GROUP BY bg
)
SELECT b.doc_id,
       count(*)::BIGINT AS n_bigrams,
       sum(CASE WHEN m.c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
       round(sum(coalesce(m.c, 0))::DOUBLE / count(*), 6) AS familiarity
FROM bigrams b LEFT JOIN model m ON b.bg = m.bg
GROUP BY b.doc_id
""",
)
def q_lm_bigram_familiarity(spark: SparkSession, sf: str) -> DataFrame:
    """Count-based language-model quality proxy — the CCNet-style
    "does this text look like the reference corpus" filter, in the
    float-portable form: a bigram count model is trained on the
    reference slice (even doc_ids), every document is scored by its
    average reference-bigram count (integer sum / integer count — ONE
    division, so the value-hash is engine-portable; a log-prob sum
    would accumulate in engine-specific order) plus its
    out-of-vocabulary bigram count. Gibberish scores near 0 with high
    OOV; fluent in-domain text scores high. Plan: one aggregation
    builds the model, one broadcast join + doc-keyed aggregation
    scores; at 100 TB the model is vocab-bounded (cap hot bigrams or
    hash-partition the join when it outgrows broadcast)."""
    d = load_table(spark, sf, "documents")
    toks = d.where(F.trim(F.col("text")) != "").select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t")
    )
    starts = F.when(
        F.size("t") >= 2, F.sequence(F.lit(1), F.size("t") - 1)
    ).otherwise(F.array().cast("array<int>"))
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                starts,
                lambda i: F.concat(
                    F.element_at("t", i), F.lit(" "), F.element_at("t", i + 1)
                ),
            )
        ).alias("bg"),
    )
    model = (
        bigrams.where(F.col("doc_id") % 2 == 0).groupBy("bg").agg(F.count("*").alias("c"))
    )
    return (
        bigrams.join(F.broadcast(model), "bg", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.col("c").isNull().cast("long")).alias("n_oov"),
            F.round(
                F.sum(F.coalesce(F.col("c"), F.lit(0))).cast("double") / F.count("*"),
                6,
            ).alias("familiarity"),
        )
    )


@_register(
    "stratified_sample",
    """
SELECT event_type, count(*) AS n_sampled,
       sum(CASE WHEN value > 50 THEN 1 ELSE 0 END)::BIGINT AS n_high
FROM events
WHERE substr(md5(event_type || ':' || event_id::VARCHAR), 1, 1)
      IN ('0', '1', '2', '3')
GROUP BY event_type
""",
)
def q_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Stratified deterministic sampling — the corpus-mixture primitive
    a training pipeline uses to hit per-source quotas: a ~25% hash
    threshold evaluated per (stratum, id) so every stratum is sampled
    independently, reproducibly, and engine-portably (no rand()). Pure
    map-side filter + one stratum-keyed agg; at 100 TB the filter
    prunes in the scan stage and only survivors shuffle."""
    e = load_table(spark, sf, "events")
    key = F.md5(F.concat(F.col("event_type"), F.lit(":"), F.col("event_id").cast("string")))
    return (
        e.where(F.substring(key, 1, 1).isin("0", "1", "2", "3"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum((F.col("value") > 50).cast("long")).alias("n_high"),
        )
    )


@_register(
    "sequence_packing",
    """
WITH toks AS (
  SELECT doc_id, doc_id % 8 AS bucket,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens
  FROM documents WHERE trim(text) != ''
),
packed AS (
  SELECT doc_id, bucket, n_tokens,
         sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM toks
)
SELECT bucket, ((cum - n_tokens) // 512)::BIGINT AS seq_id,
       count(*) AS n_docs, sum(n_tokens)::BIGINT AS n_tokens,
       min(doc_id) AS first_doc
FROM packed GROUP BY bucket, seq_id
""",
)
def q_sequence_packing(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence packing — the concatenate-then-chunk batching step of
    LLM training-data pipelines (documents concatenated in a stable
    order, split into fixed-token-budget sequences; a document starts
    in the sequence where its first token lands). The global sort a
    naive packer needs is replaced by HASH-BUCKETED packing — the form
    real pipelines use: pack within each of B buckets independently,
    so the plan is one bucket-partitioned window (running token sum)
    plus one (bucket, seq_id) aggregation — every stage keyed, nothing
    global, B × sequence parallelism at any corpus size."""
    from pdf_ocr_spark.operators.curation import pack_sequences

    return pack_sequences(load_table(spark, sf, "documents"))


def _curate_to_packed_sql() -> str:
    """ONE oracle for the composed curation DAG: admission filter →
    exact-dup keeper → stratified mixture → sequence packing. Built
    from the same fragments as the per-stage oracles (quality blend,
    norm-text hash, md5 stratum threshold, bucket-window packing), so
    a hash-green row certifies the stage COMPOSITION — any drift in an
    upstream stage changes the packed output."""
    from pdf_ocr_spark.operators.curation import DUP_LINE_CAP, QUALITY_FLOOR

    dup_frac = (
        "(SELECT CASE WHEN len(ls) = 0 THEN 0.0 "
        "ELSE round((len(ls) - len(list_distinct(ls)) * 1.0) / len(ls), 6) END "
        "FROM (SELECT list_filter(string_split(replace(text, ' merge ', chr(10)), "
        "chr(10)), x -> x != '') AS ls))"
    )
    return f"""
WITH scored AS (
  SELECT doc_id, text, lang,
       {_sql_quality('text')} AS quality,
       {dup_frac} AS dup_line_frac,
       min(doc_id) OVER (PARTITION BY md5(regexp_replace(lower({sql_strip('text')}), '\\s+', ' ', 'g'))) AS keeper_id
  FROM documents),
admitted AS (
  SELECT doc_id, text, lang FROM scored
  WHERE doc_id = keeper_id AND quality >= {QUALITY_FLOOR} AND dup_line_frac <= {DUP_LINE_CAP}),
sampled AS (
  SELECT doc_id, text FROM admitted
  WHERE substr(md5(lang || ':' || doc_id::VARCHAR), 1, 1)
        IN ('0', '1', '2', '3', '4', '5', '6', '7')),
ctoks AS (
  SELECT doc_id, doc_id % 8 AS bucket,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens
  FROM sampled WHERE trim(text) != ''),
cpacked AS (
  SELECT doc_id, bucket, n_tokens,
         sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM ctoks)
SELECT bucket, ((cum - n_tokens) // 512)::BIGINT AS seq_id,
       count(*) AS n_docs, sum(n_tokens)::BIGINT AS n_tokens,
       min(doc_id) AS first_doc
FROM cpacked GROUP BY 1, 2
"""


@_register("curate_to_packed", _curate_to_packed_sql())
def q_curate_to_packed(spark: SparkSession, sf: str) -> DataFrame:
    """The end-to-end curation COMPOSITION in one plan: admission
    filter (quality floor + repetition cap) → exact-dup keeper (min-id
    window over the normalized-text hash) → stratified mixture (50%
    md5 threshold per (lang, doc_id) — deterministic, no rand()) →
    hash-bucketed sequence packing. Certifies what the per-stage
    oracles cannot: that the stages compose. Plan audit: text and lang
    are CARRIED through the admission projection (no join back to the
    source), so the whole DAG is scan → keeper window → filters →
    bucket window → one agg — the same exchange count as
    corpus_filter_verdict plus sequence_packing, with zero extra
    shuffles for the composition itself."""
    from pdf_ocr_spark.operators.curation import admitted_documents, pack_sequences

    d = load_table(spark, sf, "documents")
    admitted = admitted_documents(d, carry=("text", "lang"))
    key = F.md5(F.concat(F.col("lang"), F.lit(":"), F.col("doc_id").cast("string")))
    sampled = admitted.where(
        F.substring(key, 1, 1).isin(*"01234567")
    ).select("doc_id", "text")
    return pack_sequences(sampled)


_BM25_TERMS = ("window", "government", "music")
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_sql() -> str:
    per_term = []
    for t in _BM25_TERMS:
        per_term.append(
            f"""
stat_{t} AS (
  SELECT count(*) AS df FROM toks
  WHERE list_contains(tok_list, '{t}')
),
tf_{t} AS (
  SELECT doc_id,
         len(list_filter(tok_list, x -> x = '{t}'))::DOUBLE AS tf
  FROM toks
)"""
        )
    score_terms = " + ".join(
        f"""(CASE WHEN tf_{t}.tf > 0 THEN
  ln(1 + (n.n_docs - stat_{t}.df + 0.5) / (stat_{t}.df + 0.5))
  * tf_{t}.tf * ({_BM25_K1} + 1)
  / (tf_{t}.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * toks.dl / n.avgdl))
ELSE 0 END)"""
        for t in _BM25_TERMS
    )
    joins = " ".join(
        f"JOIN tf_{t} ON tf_{t}.doc_id = toks.doc_id CROSS JOIN stat_{t}"
        for t in _BM25_TERMS
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tok_list,
         len(string_split_regex(trim(lower(text)), '\\s+'))::DOUBLE AS dl
  FROM documents WHERE trim(text) != ''
),
n AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM toks),
{",".join(per_term)},
scored AS (
  SELECT toks.doc_id, round({score_terms}, 6) AS score
  FROM toks CROSS JOIN n {joins}
)
SELECT doc_id, score,
       row_number() OVER (ORDER BY score DESC, doc_id) AS rank
FROM scored WHERE score > 0
QUALIFY rank <= 20
"""


@_register("bm25_topk", _bm25_sql())
def q_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 ranking for a fixed query over the corpus — the classic
    distributed-IR scoring pass (Robertson/Spärck Jones; k1=1.2,
    b=0.75). Plan shape: ONE scan computes per-doc token arrays; the
    per-term document frequencies and the corpus (N, avgdl) are tiny
    aggregates broadcast back; scoring is a pure JVM projection; the
    only corpus-scale movement is the final top-k (rank <= 20) — at
    100 TB this is a map-side-scored scan plus a k-row-per-partition
    TakeOrdered, never a corpus shuffle. Exact oracle: identical BM25
    arithmetic in SQL, rounded at 6."""
    d = load_table(spark, sf, "documents")
    toks = d.where(F.trim(F.col("text")) != "").select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("tok_list")
    )
    toks = toks.withColumn("dl", F.size("tok_list").cast("double"))
    # bind once: the three tf columns (closure factory, NOT a default
    # arg — `lambda x, t=t:` silently becomes Spark's 2-arg
    # (element, index) lambda form)
    def _tf_matcher(term: str):
        return lambda x: x == F.lit(term)

    for t in _BM25_TERMS:
        toks = toks.withColumn(
            f"tf_{t}", F.size(F.filter("tok_list", _tf_matcher(t))).cast("double")
        )
    stats = toks.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("double")).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    joined = toks.crossJoin(F.broadcast(stats))
    score = None
    for t in _BM25_TERMS:
        idf = F.log(
            1 + (F.col("n_docs") - F.col(f"df_{t}") + 0.5) / (F.col(f"df_{t}") + 0.5)
        )
        tf = F.col(f"tf_{t}")
        part = F.when(
            tf > 0,
            idf
            * tf
            * (_BM25_K1 + 1)
            / (tf + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))),
        ).otherwise(F.lit(0.0))
        score = part if score is None else score + part
    scored = joined.select("doc_id", F.round(score, 6).alias("score")).where(
        F.col("score") > 0
    )
    # distributed top-k: orderBy+limit plans TakeOrderedAndProject
    # (k rows per partition, merged on the driver) — a global
    # row_number window here would sort every match in ONE task
    top = scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(20)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "score", "rank"
    )


@_register(
    "range_join_quantity_buckets",
    """
WITH ranges AS (SELECT i AS bucket, i * 5.0 AS lo, (i + 1) * 5.0 AS hi
                FROM (SELECT unnest(generate_series(0, 9)) AS i))
SELECT bucket, count(*) AS n,
       (sum(l_quantity::DECIMAL(18,2)))::DOUBLE AS sum_qty
FROM lineitem JOIN ranges ON l_quantity >= lo AND l_quantity < hi
GROUP BY bucket
""",
)
def q_range_join(spark: SparkSession, sf: str) -> DataFrame:
    """Non-equi (range) join: broadcast the tiny ranges side so the plan
    is BroadcastNestedLoopJoin over the fact table, no shuffle."""
    li = load_table(spark, sf, "lineitem")
    ranges = spark.range(10).select(
        F.col("id").alias("bucket"),
        (F.col("id") * 5.0).alias("lo"),
        ((F.col("id") + 1) * 5.0).alias("hi"),
    )
    return (
        li.join(
            F.broadcast(ranges),
            (li.l_quantity >= ranges.lo) & (li.l_quantity < ranges.hi),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        )
    )


# --- dedup -----------------------------------------------------------------


_NORM_SQL = "regexp_replace(lower(" + sql_strip("text") + "), '\\s+', ' ', 'g')"


@_register(
    "dedup_exact",
    f"""
WITH {CORPUS_CTE.strip()}
SELECT md5({_NORM_SQL}) AS text_hash,
       count(*) AS n_copies, min(id) AS keeper_id
FROM corpus GROUP BY 1 HAVING count(*) > 1
""",
)
def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    return exact_dedup_groups(_corpus_df(spark, sf), text_col="text", id_col="id")


@_register(
    "dedup_cross_snapshot",
    f"""
WITH {CORPUS_CTE.strip()},
existing AS (SELECT DISTINCT md5({_NORM_SQL}) AS h FROM corpus WHERE id < 100000),
incoming AS (SELECT id, md5({_NORM_SQL}) AS h FROM corpus WHERE id >= 100000),
keep AS (SELECT h, min(id) AS keeper FROM incoming GROUP BY h)
SELECT i.id,
       CASE WHEN e.h IS NOT NULL THEN 'dup_of_existing'
            WHEN i.id != k.keeper THEN 'dup_in_batch'
            ELSE 'new' END AS verdict
FROM incoming i JOIN keep k ON i.h = k.h LEFT JOIN existing e ON i.h = e.h
""",
)
def q_dedup_cross_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental dedup of a NEW crawl batch against the accepted
    corpus (operators/dedup.py incremental_dedup_verdicts): the
    injected rows (id >= 100000) play the incoming snapshot — the
    exact-dup injections (id >= 200000) must come back
    ``dup_of_existing``, the near-dup injections survive as ``new``
    (their text genuinely differs; catching them is the minhash/
    semantic tier's job, by design). The existing corpus crosses the
    wire as 16-byte hashes only."""
    c = _corpus_df(spark, sf)
    return incremental_dedup_verdicts(
        c.where(F.col("id") < 100000),
        c.where(F.col("id") >= 100000),
        text_col="text",
        id_col="id",
    )


@_register(
    "stream_dedup_exact",
    f"""
WITH {CORPUS_CTE.strip()}
SELECT md5({_NORM_SQL}) AS text_hash,
       count(*) AS n_copies, min(id) AS keeper_id
FROM corpus GROUP BY 1 HAVING count(*) > 1
""",
)
def q_stream_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """§2.5 streaming, third driver-visible row: exact dedup computed
    THROUGH the streaming engine — the corpus staged hash-bucketed by
    normalized-text hash (no duplicate group straddles a micro-batch),
    one file per trigger, foreachBatch running the SAME
    exact_dedup_groups operator, idempotent partition-overwrite,
    availableNow drain, sink read-back. The oracle is dedup_exact's
    batch SQL: the union of per-batch groupBys equals the global
    groupBy by the bucketing invariant (streaming/stream.py
    stream_dedup_exact)."""
    import tempfile

    from pdf_ocr_spark.streaming.stream import stream_dedup_exact

    workdir = tempfile.mkdtemp(prefix="stream_dedup_")
    return _drain_stream_result(
        spark,
        stream_dedup_exact(
            spark, _corpus_df(spark, sf), workdir, text_col="text", id_col="id"
        ),
        workdir,
    )


@_register(
    "dedup_ngram_jaccard",
    f"""
WITH {CORPUS_CTE.strip()},
{_JACCARD_CTES.strip()}
SELECT id_a, id_b, jaccard FROM jacc WHERE jaccard >= 0.5
""",
)
def q_dedup_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    return ngram_jaccard_pairs(_corpus_df(spark, sf), text_col="text", id_col="id", threshold=0.5)


@_register(
    "dedup_decisions",
    f"""
WITH {CORPUS_CTE.strip()},
hashed AS (SELECT id, text, md5({_NORM_SQL}) AS h FROM corpus),
krep AS (SELECT h, min(struct_pack(id := id, text := text)) AS rep FROM hashed GROUP BY h),
keepers AS (SELECT h, rep.id AS keeper_id, rep.text AS rtext FROM krep),
reps AS (SELECT keeper_id AS id, rtext AS text FROM keepers),
shingles AS (SELECT id, unnest(list_distinct({sql_grams('text')})) AS gram FROM reps),
{_JACCARD_TAIL.strip()},
{_sql_minhash_ctes().strip()},
nearp AS (
    SELECT c.id_a, c.id_b FROM cand c
    JOIN jacc j ON j.id_a = c.id_a AND j.id_b = c.id_b
    WHERE j.jaccard >= 0.5
),
near AS (SELECT id_b AS id, min(id_a) AS keeper_id FROM nearp GROUP BY id_b)
SELECT hashed.id, keepers.keeper_id, 'exact' AS reason
FROM hashed JOIN keepers USING (h) WHERE hashed.id <> keepers.keeper_id
UNION ALL
SELECT id, keeper_id, 'near' AS reason FROM near
UNION ALL
SELECT id, id AS keeper_id, 'unique' AS reason
FROM reps WHERE id NOT IN (SELECT id FROM near)
""",
)
def q_dedup_decisions(spark: SparkSession, sf: str) -> DataFrame:
    """The composed per-document dedup verdict (id, keeper_id, reason):
    exact pass by normalized-text hash, MinHash near-dup pass over the
    exact-group representatives, lowest id wins. One row per corpus
    document — what a dedup pipeline writes back."""
    from pdf_ocr_spark.operators.dedup import dedup_decisions

    return dedup_decisions(_corpus_df(spark, sf), text_col="text", id_col="id", threshold=0.5)


@_register(
    "dedup_components",
    f"""
WITH RECURSIVE {CORPUS_CTE.strip()},
hashed AS (SELECT id, text, md5({_NORM_SQL}) AS h FROM corpus),
krep AS (SELECT h, min(struct_pack(id := id, text := text)) AS rep FROM hashed GROUP BY h),
keepers AS (SELECT h, rep.id AS keeper_id, rep.text AS rtext FROM krep),
reps AS (SELECT keeper_id AS id, rtext AS text FROM keepers),
shingles AS (SELECT id, unnest(list_distinct({sql_grams('text')})) AS gram FROM reps),
{_JACCARD_TAIL.strip()},
{_sql_minhash_ctes().strip()},
nearp AS (
    SELECT c.id_a, c.id_b FROM cand c
    JOIN jacc j ON j.id_a = c.id_a AND j.id_b = c.id_b
    WHERE j.jaccard >= 0.5
),
exact_edges AS (
    SELECT keepers.keeper_id AS src, hashed.id AS dst
    FROM hashed JOIN keepers USING (h) WHERE hashed.id <> keepers.keeper_id
),
edges AS (SELECT src, dst FROM exact_edges UNION ALL SELECT id_a, id_b FROM nearp),
undirected AS (SELECT src, dst FROM edges UNION SELECT dst AS src, src AS dst FROM edges),
reach AS (
    SELECT id, id AS r FROM corpus
    UNION
    SELECT reach.id, u.dst AS r FROM reach JOIN undirected u ON u.src = reach.r
)
SELECT id, min(r) AS component_id FROM reach GROUP BY id
""",
)
def q_dedup_components(spark: SparkSession, sf: str) -> DataFrame:
    """Transitive dedup closure (connected components) via iterative
    min-label propagation with per-round localCheckpoint. The oracle is
    a recursive reachability CTE — the iterative Spark algorithm is
    exactly checked, not rows-only."""
    from pdf_ocr_spark.operators.dedup import dedup_components

    return dedup_components(_corpus_df(spark, sf), text_col="text", id_col="id", threshold=0.5)


@_register(
    "dedup_ngram_jaccard_capped",
    f"""
WITH {CORPUS_CTE.strip()},
{_SHINGLES_CTE},
rare AS (SELECT gram FROM shingles GROUP BY gram HAVING count(*) <= 20),
capped AS (SELECT s.id, s.gram FROM shingles s JOIN rare USING (gram)),
sizes AS (SELECT id, count(*) AS n FROM capped GROUP BY id),
inter AS (
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
    FROM capped a JOIN capped b ON a.gram = b.gram AND a.id < b.id
    GROUP BY a.id, b.id
),
jacc AS (
    SELECT id_a, id_b,
           round(n_shared::DOUBLE / (sa.n + sb.n - n_shared), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = inter.id_a
    JOIN sizes sb ON sb.id = inter.id_b
)
SELECT id_a, id_b, jaccard FROM jacc WHERE jaccard >= 0.5
""",
)
def q_dedup_jaccard_capped(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB form of the Jaccard verifier: shingles appearing in
    more than 20 documents are dropped before the pairing join (hot
    shingles pair documents quadratically), Jaccard computed over the
    capped shingle space — deterministic and exactly mirrored by the
    oracle's rare/capped CTEs."""
    return ngram_jaccard_pairs(
        _corpus_df(spark, sf), text_col="text", id_col="id", threshold=0.5, max_df=20
    )


@_register(
    "dedup_minhash_lsh",
    f"""
WITH {CORPUS_CTE.strip()},
{_JACCARD_CTES.strip()},
{_sql_minhash_ctes().strip()}
SELECT c.id_a, c.id_b FROM cand c
JOIN jacc j ON j.id_a = c.id_a AND j.id_b = c.id_b
WHERE j.jaccard >= 0.5
""",
)
def q_dedup_minhash(spark: SparkSession, sf: str) -> DataFrame:
    return minhash_near_dup(_corpus_df(spark, sf), text_col="text", id_col="id", threshold=0.5)


def _sql_simhash(e: str, bits: int = 32) -> str:
    toks = f"list_distinct({sql_tokens(f'lower({e})')})"
    return _sql_simhash_votes(toks, bits)


def _sql_simhash_votes(toks: str, bits: int = 32) -> str:
    """The 32 majority-vote bits over a feature-list expression. Pass a
    bound column name when the feature list is expensive (DuckDB, like
    Catalyst, re-evaluates an inline list expression per vote — hoist
    grams into a subquery projection first)."""
    digits = "('8','9','a','b','c','d','e','f')"
    parts = [
        f"(CASE WHEN list_sum(list_transform({toks}, "
        f"t -> CASE WHEN substr(md5(t), {j + 1}, 1) IN {digits} THEN 1 ELSE -1 END)) > 0 "
        f"THEN '1' ELSE '0' END)"
        for j in range(bits)
    ]
    return " || ".join(parts)


@_register(
    "simhash_signatures",
    f"SELECT doc_id, {_sql_simhash('text')} AS simhash FROM documents",
)
def q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_ocr_spark.operators.analysis import tokens_col
    from pdf_ocr_spark.operators.dedup import _ensure_parallelism, simhash_from_hashes

    d = _ensure_parallelism(load_table(spark, sf, "documents").select("doc_id", "text"))
    # materialize distinct tokens, then their md5s, as bound columns:
    # the 32 vote-aggregates each re-evaluate their input expression,
    # so inline tokenize (10x) or inline md5 (2.5x) multiply the work
    toked = d.select(
        "doc_id", F.array_distinct(tokens_col(F.lower(F.col("text")))).alias("_toks")
    ).select("doc_id", F.transform(F.col("_toks"), F.md5).alias("_hashes"))
    return toked.select("doc_id", simhash_from_hashes(F.col("_hashes")).alias("simhash"))


@_register(
    "contamination_check",
    f"""
WITH {CORPUS_CTE.strip()},
bench AS (SELECT DISTINCT unnest(list_distinct({sql_grams('text', 6)})) AS gram
          FROM corpus WHERE id < 100000),
cand AS (SELECT id, unnest(list_distinct({sql_grams('text', 6)})) AS gram
         FROM corpus WHERE id >= 100000)
SELECT id, count(*) AS n_gram_hits
FROM cand JOIN bench USING (gram)
GROUP BY id
""",
)
def q_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark-contamination scan: the injected near/exact duplicates
    (id >= 100000 in the dedup corpus) are the 'incoming' candidates,
    the base documents the benchmark set; every candidate sharing a
    word-6-gram with the benchmark is flagged with its hit count. The
    benchmark gram set is broadcast; candidates stream once."""
    from pdf_ocr_spark.operators.dedup import contamination_check

    corpus = _corpus_df(spark, sf)
    benchmark = corpus.where(F.col("id") < 100000)
    candidates = corpus.where(F.col("id") >= 100000)
    return contamination_check(candidates, benchmark, text_col="text", id_col="id", n=6)


def _sql_hamming(a: str, b: str, bits: int = 32) -> str:
    terms = " + ".join(
        f"(CASE WHEN substr({a}, {j + 1}, 1) <> substr({b}, {j + 1}, 1) THEN 1 ELSE 0 END)"
        for j in range(bits)
    )
    return f"({terms})"


def _sql_simhash_blocks(n_blocks: int = 4, bits: int = 32) -> str:
    width = bits // n_blocks
    selects = " UNION ALL ".join(
        f"SELECT id, sig, {b} AS block_idx, substr(sig, {b * width + 1}, {width}) AS block FROM sigs"
        for b in range(n_blocks)
    )
    return f"blocks AS ({selects})"


@_register(
    "simhash_hamming_pairs",
    f"""
WITH {CORPUS_CTE.strip()},
gramsrc AS (SELECT id, list_distinct({sql_grams('text')}) AS g FROM corpus),
sigs AS (SELECT id, {_sql_simhash_votes('g')} AS sig FROM gramsrc),
{_sql_simhash_blocks()},
cand AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
    FROM blocks a JOIN blocks b
      ON a.block_idx = b.block_idx AND a.block = b.block AND a.id < b.id
)
SELECT id_a, id_b, {_sql_hamming('sig_a', 'sig_b')}::BIGINT AS hamming
FROM cand WHERE {_sql_hamming('sig_a', 'sig_b')} <= 3
""",
)
def q_simhash_hamming(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash Hamming<=3 pair join via byte-block LSH (pigeonhole over
    4 blocks of 8 bits — zero false negatives for Hamming<=3, no
    all-pairs scan). Signatures are over word-3-gram shingles so they
    stay discriminative on narrow-vocabulary corpora (token-set
    signatures cluster and the true answer goes quadratic). Completes
    the dedup family's scale story: the signature table is 0-exchange,
    candidates meet in one equi-join."""
    from pdf_ocr_spark.operators.dedup import simhash_hamming_pairs

    return simhash_hamming_pairs(
        _corpus_df(spark, sf), text_col="text", id_col="id", max_hamming=3
    ).select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


# --- similarity search -----------------------------------------------------


@_register(
    "knn_cosine_topk",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
    SELECT query_id, neighbor_id, round({_sql_cosine('qv', 'cv')}, 6) AS score
    FROM q CROSS JOIN c WHERE query_id != neighbor_id
)
SELECT query_id, rank, neighbor_id, score FROM (
    SELECT query_id, neighbor_id, score,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
    FROM scored
) WHERE rank <= 3
""",
)
def q_knn(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    return cosine_topk(emb.where(F.col("vec_id") < 5), emb, k=3)


#: Shared oracle for every exact-cosine top-k form (brute force and the
#: degenerate-parameter LSH/IVF variants below — all three compute the
#: identical result by construction, so they share one SQL text).
_KNN_EXACT_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
    SELECT query_id, neighbor_id, round({{cos}}, 6) AS score
    FROM q CROSS JOIN c WHERE query_id != neighbor_id
)
SELECT query_id, rank, neighbor_id, score FROM (
    SELECT query_id, neighbor_id, score,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
    FROM scored
) WHERE rank <= 3
"""


@_register("knn_lsh_exact", _KNN_EXACT_SQL.format(cos=_sql_cosine("qv", "cv")))
def q_knn_lsh_exact(spark: SparkSession, sf: str) -> DataFrame:
    """The LSH ANN operator at its degenerate-exact setting
    (``n_planes=0`` — every vector lands in the one bucket, so the
    bucket equi-join covers the whole corpus and ranking is exact).
    This pins the LSH plumbing itself (bucketing, join, rank) under
    the driver's exact value-hash check; the approximate form
    (``knn_lsh_topk``) stays rows-only because its recall is
    engine-defined. Same playbook as ``knn_int8_topk``."""
    from pdf_ocr_spark.operators.similarity import lsh_topk

    emb = load_table(spark, sf, "embeddings")
    return lsh_topk(emb.where(F.col("vec_id") < 5), emb, k=3, n_planes=0)


@_register("knn_ivf_exact", _KNN_EXACT_SQL.format(cos=_sql_cosine("qv", "cv")))
def q_knn_ivf_exact(spark: SparkSession, sf: str) -> DataFrame:
    """The IVF ANN operator at its degenerate-exact setting
    (``n_probe = n_lists`` — every query probes every inverted list,
    so candidate generation is exhaustive and ranking exact). Pins
    the IVF plumbing (codebook tagging, list equi-join, cross-list
    distinct, rank) under the exact oracle; ``knn_ivf_topk`` stays
    rows-only for its engine-defined recall."""
    from pdf_ocr_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf, "embeddings")
    return ivf_topk(
        emb.where(F.col("vec_id") < 5), emb, k=3, n_lists=16, n_probe=16
    )


@_register("knn_hnsw_exact", _KNN_EXACT_SQL.format(cos=_sql_cosine("qv", "cv")))
def q_knn_hnsw_exact(spark: SparkSession, sf: str) -> DataFrame:
    """The HNSW ANN operator at its degenerate-exact setting
    (``ef_search >= shard size`` — every shard's beam admits its whole
    shard, so each local search is exhaustive and the global merge is
    exactly brute-force top-k). Pins the distributed-HNSW plumbing
    (shard build, query broadcast fan-out, per-shard candidate emit,
    JVM rescoring + window merge) under the driver's exact value-hash
    check; the working-setting form (``knn_hnsw_topk``) stays
    rows-only because graph recall is engine-defined. Same playbook
    as ``knn_lsh_exact`` / ``knn_ivf_exact``."""
    from pdf_ocr_spark.operators.similarity import hnsw_topk

    emb = load_table(spark, sf, "embeddings")
    return hnsw_topk(
        emb.where(F.col("vec_id") < 5), emb, k=3, ef_search=10**9, n_shards=8
    )


@_register("knn_hnsw_topk")
def q_knn_hnsw(spark: SparkSession, sf: str) -> DataFrame:
    """Sharded-HNSW ANN at working settings (rows-only like the
    LSH/IVF variants: graph recall is engine-defined; the recall
    floor vs brute force is pinned in tests/test_ann.py)."""
    from pdf_ocr_spark.operators.similarity import hnsw_topk

    emb = load_table(spark, sf, "embeddings")
    return hnsw_topk(
        emb.where(F.col("vec_id") < 5), emb, k=3, ef_search=32, n_shards=4
    )


def _sql_dot_int(a: str, b: str) -> str:
    return f"list_sum([{a}[i] * {b}[i] for i in generate_series(1, len({a}))])"


@_register(
    "knn_int8_topk",
    f"""
WITH e8 AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(floor(
               x::DOUBLE * 127.0
               / list_max(list_transform(embedding, y -> abs(y::DOUBLE)))
               + 0.5) AS BIGINT)) AS v8
    FROM embeddings
),
q AS (SELECT vec_id AS query_id, v8 AS qv FROM e8 WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, v8 AS cv FROM e8),
scored AS (
    SELECT query_id, neighbor_id,
           round({_sql_dot_int('qv', 'cv')}::DOUBLE
                 / (sqrt({_sql_dot_int('qv', 'qv')}::DOUBLE)
                    * sqrt({_sql_dot_int('cv', 'cv')}::DOUBLE)), 6) AS score
    FROM q CROSS JOIN c WHERE query_id != neighbor_id
)
SELECT query_id, rank, neighbor_id, score FROM (
    SELECT query_id, neighbor_id, score,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
    FROM scored
) WHERE rank <= 3
""",
)
def q_knn_int8(spark: SparkSession, sf: str) -> DataFrame:
    """Int8-quantized top-k — and, unlike the float path, an EXACT
    oracle: floor(x+0.5) quantization is rounding-mode-free and the
    integer dot products are exact longs, so both engines compute
    bit-identical scores (the float baseline needs its summation-order
    discipline; the int8 variant needs none). Recall vs the float path
    is pinned in tests/test_ann.py."""
    from pdf_ocr_spark.operators.similarity import int8_topk

    emb = load_table(spark, sf, "embeddings")
    return int8_topk(emb.where(F.col("vec_id") < 5), emb, k=3)


@_register("knn_ivf_topk")
def q_knn_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-style ANN (rows-only like the LSH variant: recall is
    engine-defined): inverted-file assignment via one matmul per Arrow
    batch against a deterministic md5-seeded codebook, n_probe nearest
    lists probed per query, exact ranking within them."""
    from pdf_ocr_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf, "embeddings")
    return ivf_topk(emb.where(F.col("vec_id") < 5), emb, k=3, n_lists=16, n_probe=4)


# --- distributed k-means + the operators it feeds ---------------------------

#: k-means constants shared by the Spark operator and the SQL oracle
#: generator below (same single-source-of-truth discipline as the
#: MinHash/LSH parameters).
KMEANS_K = 8
KMEANS_ITERS = 4


def _sql_kmeans_ctes(src: str, k: int, n_iter: int, prefix: str = "km") -> str:
    """The fixed-iteration Lloyd's loop, unrolled as DuckDB CTEs over a
    source CTE ``src`` with (id, v) columns — generated from the SAME
    constants as operators/clustering.py so the two sides cannot drift.
    Every step is integer arithmetic: floor(x*10^6) quantization,
    exact squared-L2 argmin with smallest-index tie-break
    (row_number ORDER BY dist, j), and a sum // count centroid mean
    (DuckDB ``//`` truncates toward zero exactly like Spark ``div`` —
    verified incl. negative sums). Empty clusters keep their previous
    centroid via the LEFT JOIN coalesce. The final CTE
    ``{prefix}final`` has (id, cluster_id, sq_dist)."""
    from pdf_ocr_spark.operators.clustering import KMEANS_SCALE

    def dist(q: str, c: str) -> str:
        return (
            f"list_sum([({q}[i]-{c}[i])*({q}[i]-{c}[i]) "
            f"for i in generate_series(1, len({q}))])"
        )

    p = prefix
    parts = [
        f"{p}base AS (SELECT id, list_transform(v, x -> CAST(floor("
        f"x::DOUBLE * {KMEANS_SCALE}.0) AS BIGINT)) AS q FROM {src})",
        f"{p}c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS j, q AS c "
        f"FROM {p}base ORDER BY id LIMIT {k})",
    ]
    for t in range(1, n_iter + 1):
        d = dist("b.q", "c.c")
        parts.append(
            f"{p}a{t} AS (SELECT id, q, j AS cluster_id FROM ("
            f"SELECT b.id, b.q, c.j, "
            f"row_number() OVER (PARTITION BY b.id ORDER BY {d}, c.j) AS rn "
            f"FROM {p}base b CROSS JOIN {p}c{t - 1} c) WHERE rn = 1)"
        )
        parts.append(
            f"{p}s{t} AS (SELECT cluster_id AS j, dim, sum(val) // count(*) AS sv "
            f"FROM (SELECT cluster_id, generate_subscripts(q, 1) AS dim, "
            f"unnest(q) AS val FROM {p}a{t}) GROUP BY 1, 2)"
        )
        parts.append(
            f"{p}n{t} AS (SELECT j, list(sv ORDER BY dim) AS c FROM {p}s{t} GROUP BY j)"
        )
        parts.append(
            f"{p}c{t} AS (SELECT o.j, coalesce(n.c, o.c) AS c "
            f"FROM {p}c{t - 1} o LEFT JOIN {p}n{t} n USING (j))"
        )
    d = dist("b.q", "c.c")
    parts.append(
        f"{p}final AS (SELECT id, j AS cluster_id, d AS sq_dist FROM ("
        f"SELECT b.id, c.j, {d} AS d, "
        f"row_number() OVER (PARTITION BY b.id ORDER BY {d}, c.j) AS rn "
        f"FROM {p}base b CROSS JOIN {p}c{n_iter} c) WHERE rn = 1)"
    )
    return ",\n".join(parts)


@_register(
    "kmeans_assign",
    f"""
WITH emb AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
{_sql_kmeans_ctes('emb', KMEANS_K, KMEANS_ITERS)}
SELECT id AS vec_id, cluster_id::INT AS cluster_id, sq_dist FROM kmfinal
""",
)
def q_kmeans_assign(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed k-means training (fixed {KMEANS_ITERS}-iteration
    Lloyd's, deterministic smallest-id init) with an EXACT value-hash
    oracle: the whole loop is fixed-point integer arithmetic, so the
    unrolled SQL above reproduces assignment AND squared distance
    bit-for-bit (operators/clustering.py module docstring has the
    portability argument). Plan shape per iteration: one broadcast
    Arrow matmul stage + one keyed agg whose map-side combine reduces
    the exchange to k×(dim+1) longs per partition."""
    from pdf_ocr_spark.operators.clustering import kmeans_assign

    emb = load_table(spark, sf, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v")
    )
    return kmeans_assign(emb, k=KMEANS_K, n_iter=KMEANS_ITERS).select(
        F.col("id").alias("vec_id"), "cluster_id", "sq_dist"
    )


@_register(
    "dedup_semantic",
    f"""
WITH base AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
dup AS (SELECT vec_id + 10000 AS id, embedding AS v FROM embeddings WHERE vec_id % 10 = 0),
emb AS (SELECT * FROM base UNION ALL SELECT * FROM dup),
{_sql_kmeans_ctes('emb', KMEANS_K, KMEANS_ITERS)},
tagged AS (SELECT f.id, f.cluster_id, e.v FROM kmfinal f JOIN emb e USING (id)),
sempairs AS (
    SELECT a.id AS id_a, b.id AS id_b
    FROM tagged a JOIN tagged b
      ON a.cluster_id = b.cluster_id AND a.id < b.id
    WHERE round({_sql_cosine('a.v', 'b.v')}, 6) >= 0.99
)
SELECT id_b AS id, min(id_a) AS keeper_id FROM sempairs GROUP BY id_b
""",
)
def q_dedup_semantic(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style semantic dedup with an exact oracle: k-means the
    corpus (same injected exact-dup corpus as dedup_embedding_cosine),
    generate candidates by the cluster_id equi-join ONLY (Σ size² —
    never corpus²), verify with the summation-order-disciplined
    round-6 cosine, and emit min-keeper verdicts. Identical vectors
    quantize identically, so injected duplicates always share a
    cluster and are found with probability 1."""
    from pdf_ocr_spark.operators.clustering import semantic_dedup

    e = load_table(spark, sf, "embeddings")
    base = e.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    dup = e.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10000).alias("id"), F.col("embedding").alias("v")
    )
    corpus = base.unionByName(dup)
    return semantic_dedup(corpus, threshold=0.99, k=KMEANS_K, n_iter=KMEANS_ITERS)


@_register("knn_ivf_trained")
def q_knn_ivf_trained(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN over a TRAINED coarse quantizer: the k-means codebook
    replaces the hash-derived stand-in ivf_centroids (whose docstring
    promised exactly this swap), query plan unchanged. Rows-only like
    the other working-setting ANN forms — recall is engine-defined —
    but the training itself is certified exactly by kmeans_assign's
    value-hash row, and tests/test_ann.py pins trained recall >=
    hash-codebook recall at equal n_probe."""
    from pdf_ocr_spark.operators.clustering import trained_centroids_f64
    from pdf_ocr_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf, "embeddings")
    base = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    cents = trained_centroids_f64(base, k=16, n_iter=KMEANS_ITERS)
    return ivf_topk(
        emb.where(F.col("vec_id") < 5), emb, k=3, n_lists=16, n_probe=4,
        centroids=cents,
    )


# --- model-based quality filtering (integer logistic regression) ------------


def _sql_cls_ctes(n_iter: int | None = None, prefix: str = "cls") -> str:
    """The fixed-iteration integer gradient descent of
    operators/classifier.py, unrolled as DuckDB CTEs over the
    ``documents`` view — generated from the SAME constants and
    feature-arithmetic strings as the Spark side, so the two cannot
    drift. Final CTEs: ``{prefix}feat`` (id, y, x0..x5) and
    ``{prefix}w{n_iter}`` (w0..w5)."""
    from pdf_ocr_spark.operators.classifier import (
        CLS_ITERS,
        CLS_LR_INV,
        CLS_TEACHER_FLOOR,
        _error_expr,
        feature_arith_exprs,
    )

    n_iter = CLS_ITERS if n_iter is None else n_iter
    p = prefix
    d = 6
    feats = ", ".join(feature_arith_exprs("//"))
    margin = " + ".join(f"c.w{j} * f.x{j}" for j in range(d))
    parts = [
        f"{p}cnt AS (SELECT doc_id AS id, "
        f"(CASE WHEN {_sql_quality('text')} >= {CLS_TEACHER_FLOOR} "
        f"THEN 1 ELSE 0 END)::BIGINT AS y, "
        f"len(text)::BIGINT AS ln, "
        f"len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::BIGINT AS pn, "
        f"{sql_stop_hits('text', 'en')}::BIGINT AS sh, "
        f"len({sql_tokens('text')})::BIGINT AS tk, "
        f"len(regexp_replace(text, '[^0-9]', '', 'g'))::BIGINT AS dg "
        f"FROM documents)",
        # MATERIALIZED: 3 CTEs per unrolled iteration each reference
        # clsfeat; inlining would re-open the parquet scan per
        # reference (measured: fd exhaustion beside a live JVM) and
        # re-run the regex features n_iter times
        f"{p}feat AS MATERIALIZED (SELECT id, y, {feats} FROM {p}cnt)",
        f"{p}n AS (SELECT count(*)::BIGINT AS n FROM {p}feat)",
        f"{p}w0 AS (SELECT " + ", ".join(f"0::BIGINT AS w{j}" for j in range(d)) + ")",
    ]
    err = _error_expr().format(DIV="//")
    for t in range(1, n_iter + 1):
        # every per-iteration CTE is MATERIALIZED: w{t} is referenced
        # twice per level (directly and through g{t+1}), so inlining
        # would expand the chain 2^n_iter-fold
        parts.append(
            f"{p}e{t} AS MATERIALIZED (SELECT f.*, ({err}) AS e FROM ("
            f"SELECT f.*, ({margin}) AS m "
            f"FROM {p}feat f CROSS JOIN {p}w{t - 1} c) f)"
        )
        parts.append(
            f"{p}g{t} AS MATERIALIZED (SELECT "
            + ", ".join(f"CAST(sum(e * x{j}) AS BIGINT) AS g{j}" for j in range(d))
            + f" FROM {p}e{t})"
        )
        parts.append(
            f"{p}w{t} AS MATERIALIZED (SELECT "
            + ", ".join(
                f"w{j} - (g{j} // n) // {CLS_LR_INV} AS w{j}" for j in range(d)
            )
            + f" FROM {p}w{t - 1} CROSS JOIN {p}g{t} CROSS JOIN {p}n)"
        )
    return ",\n".join(parts)


def _cls_train_oracle() -> str:
    from pdf_ocr_spark.operators.classifier import CLS_FEATURES, CLS_ITERS

    unpivot = " UNION ALL ".join(
        f"SELECT '{name}' AS feature, w{j} AS weight FROM clsw{CLS_ITERS}"
        for j, name in enumerate(CLS_FEATURES)
    )
    return f"WITH {_sql_cls_ctes()}\n{unpivot}"


def _cls_score_oracle() -> str:
    from pdf_ocr_spark.operators.classifier import CLS_ITERS, CLS_SCALE

    s = CLS_SCALE
    margin = " + ".join(f"c.w{j} * f.x{j}" for j in range(6))
    return f"""
WITH {_sql_cls_ctes()}
SELECT id AS doc_id, m AS margin,
       CAST({s // 2} + (m * {s}) // (2 * ({s} + abs(m))) AS BIGINT) AS prob_q,
       m >= 0 AS admitted
FROM (SELECT f.id, ({margin}) AS m FROM clsfeat f CROSS JOIN clsw{CLS_ITERS} c)
"""


@_register("quality_classifier_train", _cls_train_oracle())
def q_quality_classifier_train(spark: SparkSession, sf: str) -> DataFrame:
    """fastText/CCNet-style model-based quality filtering, step 1:
    train a linear classifier on weak labels (the quality-blend
    teacher: ``quality_score_col(text) >= CLS_TEACHER_FLOOR``,
    classifier.py) from cheap integer text signals, with an EXACT
    value-hash oracle — the whole
    gradient-descent loop is fixed-point integer arithmetic (algebraic
    fast sigmoid, truncating-div updates; operators/classifier.py has
    the portability argument). Per iteration: one JVM expression
    projection + one agg collapsing to d+1 longs per partition via
    map-side combine; the driver applies an O(d) integer update."""
    from pdf_ocr_spark.operators.classifier import (
        CLS_FEATURES,
        train_quality_classifier,
    )

    docs = load_table(spark, sf, "documents").select(
        F.col("doc_id").alias("id"), "text"
    )
    w = train_quality_classifier(docs)
    return local_frame(spark, list(zip(CLS_FEATURES, w)), "feature string, weight long")


@_register("quality_classifier_score", _cls_score_oracle())
def q_quality_classifier_score(spark: SparkSession, sf: str) -> DataFrame:
    """Model-based quality filtering, step 2: score the WHOLE corpus
    with the trained weights broadcast as literals — one JVM map
    stage, zero shuffles, the embarrassingly parallel shape the
    100 TB admission pass needs. Margin, scale-S fast-sigmoid
    probability, and the >= 0 admission verdict are all bit-exact
    against the unrolled-SQL oracle."""
    from pdf_ocr_spark.operators.classifier import (
        score_documents,
        train_quality_classifier,
    )

    docs = load_table(spark, sf, "documents").select(
        F.col("doc_id").alias("id"), "text"
    )
    w = train_quality_classifier(docs)
    return score_documents(docs, w)


@_register(
    "dedup_embedding_cosine",
    f"""
WITH base AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
dup AS (SELECT vec_id + 10000 AS id, embedding AS v FROM embeddings WHERE vec_id % 10 = 0),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM dup),
pairs AS (
    SELECT a.id AS id_a, b.id AS id_b, {_sql_cosine('a.v', 'b.v')} AS cos
    FROM corpus a JOIN corpus b ON a.id < b.id
)
SELECT id_a, id_b FROM pairs WHERE cos >= 0.99
""",
)
def q_dedup_embedding(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup: exact duplicates injected (vec_id+10000
    for every 10th vector), pairs above 0.99 cosine reported by id only
    (score excluded from the contract — ULP-robust). Physical plan:
    broadcast-matrix block similarity (one BLAS matmul per Arrow batch),
    not a cross join."""
    from pdf_ocr_spark.operators.similarity import embedding_near_dup_pairs

    e = load_table(spark, sf, "embeddings")
    base = e.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    dup = e.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10000).alias("id"), F.col("embedding").alias("v")
    )
    corpus = base.unionByName(dup)
    return embedding_near_dup_pairs(corpus, threshold=0.99)


@_register(
    "dedup_embedding_lsh",
    f"""
WITH base AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
dup AS (SELECT vec_id + 10000 AS id, embedding AS v FROM embeddings WHERE vec_id % 10 = 0),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM dup),
pairs AS (
    SELECT a.id AS id_a, b.id AS id_b, {_sql_cosine('a.v', 'b.v')} AS cos
    FROM corpus a JOIN corpus b ON a.id < b.id
)
SELECT id_a, id_b FROM pairs WHERE cos >= 0.99
""",
)
def q_dedup_embedding_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """LSH-prefiltered embedding near-dup (the high-threshold scale
    path): hyperplane bucket collision in any of 8 tables generates
    candidates, exact cosine verifies. The oracle is the EXACT all-pairs
    SQL: on this corpus the only >=0.99 pairs are the planted identical
    duplicates, which hash to identical buckets in every table, so the
    prefilter provably loses nothing here (general recall model in the
    operator docstring; the blocked-matmul exact operator remains
    `dedup_embedding_cosine`). n_planes=12 is sized to the 0.99
    threshold (miss ~0.1% at the boundary, buckets ~64x sparser than
    the 0.9-threshold default of 6 — at 2.2k vectors that is 260k vs
    ~0 spurious candidate pairs); dim=64 matches the testdata embedding
    width so the plane literals skip the per-row slice."""
    from pdf_ocr_spark.operators.similarity import embedding_near_dup_lsh

    e = load_table(spark, sf, "embeddings")
    base = e.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    dup = e.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10000).alias("id"), F.col("embedding").alias("v")
    )
    corpus = base.unionByName(dup)
    return embedding_near_dup_lsh(corpus, threshold=0.99, n_planes=12, dim=64)


#: BPE-ish pre-tokenizer regex (GPT-2 style, lookaround-free so it runs
#: identically on Java regex and RE2): contractions, letter runs,
#: number runs, punctuation runs, whitespace runs.
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


@_register(
    "bpe_token_count",
    "SELECT doc_id, len(regexp_extract_all(text, '"
    + BPE_PATTERN.replace("'", "''")
    + "')) AS n_bpe_tokens FROM documents",
)
def q_bpe_token_count(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), F.lit(0))).alias(
            "n_bpe_tokens"
        ),
    )


def _sql_bpe_ctes(n_rounds: int) -> str:
    """The fixed-round BPE training loop, unrolled as DuckDB CTEs —
    generated from the same constants as operators/bpe.py. Words are
    double-sentinel symbol strings; the merge is a literal replace
    (verified character-identical across Spark/DuckDB/Python on
    overlap-adversarial cases, operators/bpe.py docstring); the
    election is ORDER BY count DESC, l, r LIMIT 1. DuckDB's
    generate_series(1, 0) is EMPTY (unlike Spark's descending
    sequence), so fused single-symbol words drop out naturally."""
    parts = [
        "bpew0 AS (SELECT '##' || regexp_replace(word, '(.)', '\\1##', 'g') AS s, cnt "
        f"FROM (SELECT word, count(*) AS cnt FROM (SELECT unnest({sql_tokens('lower(text)')}) "
        "AS word FROM documents) WHERE regexp_matches(word, '^[a-z0-9]+$') GROUP BY word))"
    ]
    for t in range(1, n_rounds + 1):
        parts.append(
            f"bpep{t} AS (SELECT pr.l AS l, pr.r AS r, sum(cnt) AS c FROM ("
            "SELECT unnest(list_transform(generate_series(1, len(syms)-1), "
            "i -> struct_pack(l := syms[i], r := syms[i+1]))) AS pr, cnt "
            f"FROM (SELECT string_split(substr(s, 3, len(s)-4), '##') AS syms, cnt "
            f"FROM bpew{t - 1})) GROUP BY 1, 2)"
        )
        parts.append(
            f"bpewin{t} AS (SELECT {t} AS merge_round, l, r, c "
            f"FROM bpep{t} ORDER BY c DESC, l, r LIMIT 1)"
        )
        parts.append(
            f"bpew{t} AS (SELECT replace(s, '#'||l||'##'||r||'#', '#'||l||r||'#') AS s, "
            f"cnt FROM bpew{t - 1} CROSS JOIN bpewin{t})"
        )
    return ",\n".join(parts)


def _bpe_merges_sql() -> str:
    from pdf_ocr_spark.operators.bpe import BPE_MERGE_ROUNDS

    union = "\nUNION ALL\n".join(
        f"SELECT merge_round::INT AS merge_round, l AS left_sym, r AS right_sym, "
        f"c::BIGINT AS pair_count FROM bpewin{t}"
        for t in range(1, BPE_MERGE_ROUNDS + 1)
    )
    return f"WITH {_sql_bpe_ctes(BPE_MERGE_ROUNDS)}\n{union}"


ORACLE_BPE_SQL = _bpe_merges_sql()


def _bpe_apply_sql() -> str:
    """Corpus-scale tokenizer application: the unrolled training CTEs
    yield the final merged vocab; the applied word→n_subwords map is
    recovered from the sentinel strings (word = replace(s,'#',''))."""
    from pdf_ocr_spark.operators.bpe import BPE_MERGE_ROUNDS

    n = BPE_MERGE_ROUNDS
    return f"""
WITH {_sql_bpe_ctes(n)},
bpevocab AS (SELECT replace(s, '#', '') AS word,
             len(string_split(substr(s, 3, len(s)-4), '##'))::BIGINT AS n_subwords
             FROM bpew{n}),
bpedw AS (SELECT doc_id, word
          FROM (SELECT doc_id, unnest({sql_tokens('lower(text)')}) AS word
                FROM documents)
          WHERE regexp_matches(word, '^[a-z0-9]+$'))
SELECT doc_id, count(*)::BIGINT AS n_words, sum(v.n_subwords)::BIGINT AS n_subwords
FROM bpedw JOIN bpevocab v USING (word) GROUP BY doc_id
"""


@_register("bpe_train_merges", ORACLE_BPE_SQL)
def q_bpe_train_merges(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed BPE vocabulary TRAINING (bpe_token_count tokenizes
    with a fixed vocab; this learns the merges): fixed-round top-pair
    election over the vocab-bounded word-frequency table, exact
    value-hash oracle via the unrolled SQL above. Per round: one
    pair-explode + keyed agg (map-side combined), a 1-row driver
    election, one literal-replace map — corpus size only enters
    through the one-off word count."""
    from pdf_ocr_spark.operators.bpe import bpe_train_merges

    d = load_table(spark, sf, "documents")
    return bpe_train_merges(d, text_col="text")


@_register("bpe_apply_tokens", _bpe_apply_sql())
def q_bpe_apply_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-scale APPLICATION of the learned BPE merges — the
    tokenize-everything step that follows training in every LLM data
    pipeline. BPE merging is a pure function of the word, so the
    applied tokenizer is materialized ONCE as the vocab-bounded
    (word, n_subwords) table and applied by a broadcast join against
    the corpus's exploded words; per doc one keyed agg emits
    (n_words, n_subwords). At 100 TB the corpus is touched exactly
    twice (the one-off word count inside training + this tokenize
    pass) and the join never shuffles the corpus — the vocab
    broadcasts. Exact oracle: the unrolled training CTEs
    (ORACLE_BPE_SQL) extended with the vocab join."""
    from pdf_ocr_spark.operators.analysis import tokens_col
    from pdf_ocr_spark.operators.bpe import BPE_WORD_RE, bpe_subword_vocab

    d = load_table(spark, sf, "documents")
    vocab = bpe_subword_vocab(d, text_col="text")
    dw = d.select(
        "doc_id", F.explode(tokens_col(F.lower(F.col("text")))).alias("word")
    ).where(F.col("word").rlike(BPE_WORD_RE))
    return dw.join(F.broadcast(vocab), "word").groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.sum("n_subwords").alias("n_subwords"),
    )


# --- multimodal (rows-only: no SQL oracle can parse PNG) --------------------


def _fixed_docs(spark: SparkSession) -> DataFrame:
    """The fixed 50-document corpus (seed 13) that the media, layout and
    hOCR queries and their expectation manifests are built from."""
    from pdf_ocr_spark.sources.corpus import generate_documents

    return generate_documents(spark, n_docs=50, seed=13)


def _fixed_media(spark: SparkSession):
    from pdf_ocr_spark.sources.corpus import generate_media

    return generate_media(spark, _fixed_docs(spark), seed=13, corrupt_rate=0.05)


#: Expected-output manifests for the fixed media corpus: rows computed
#: from the generator's deterministic geometry (renderer constants +
#: glyph ink masks), written once as parquet so DuckDB can oracle-check
#: the payload-parsing queries (no SQL engine parses PNGs, but SQL can
#: read the renderer's ground truth). Cache keying: directory name
#: carries a VERSION tag (bump on renderer/manifest-schema changes that
#: do not alter the documents table) and the marker carries a CONTENT
#: fingerprint of the fixture corpus, so a corpus-generator change
#: regenerates without a manual bump (/tmp persists across rounds).
_MEDIA_MANIFEST_DIR = "/tmp/pdf_ocr_spark_cache/media_manifest_v3"
_LAYOUT_MANIFEST_DIR = "/tmp/pdf_ocr_spark_cache/layout_manifest_v2"
_HOCR_MANIFEST_DIR = "/tmp/pdf_ocr_spark_cache/hocr_manifest_v1"

def _fixture_fingerprint(spark: SparkSession, out_dir: str) -> str:
    """Content fingerprint of an expectation manifest: its directory's
    version tag plus the fixed 50-doc fixture corpus (row count +
    order-independent checksum over doc_id and the full span JSON), so
    a manifest rebuilds whenever either changes instead of trusting a
    hardcoded version suffix alone."""
    import os

    agg = _fixed_docs(spark).agg(
        F.count("*").alias("n"),
        F.sum(
            F.crc32(F.concat_ws("\x00", F.col("doc_id"), F.to_json(F.col("spans"))))
        ).alias("ck"),
    ).first()
    return f"{os.path.basename(out_dir)}:{agg['n']}:{agg['ck']}"


#: Fixture dirs whose content fingerprint was verified by THIS process:
#: out_dir -> (source stamp, the verified marker content). The
#: fingerprint agg exists to catch corpus-generator changes and stale
#: /tmp caches from older rounds — both invariant within one process
#: over the read-only testdata, so the first call per process
#: validates in full and later calls skip only the re-validation job
#: (each timed query otherwise paid a ~0.3 s documents-table checksum
#: agg before touching a PDF). Keyed by the SOURCE file too: two sf
#: roots sharing a basename share the /tmp output path, and the second
#: one must re-run the full fingerprint check, not inherit the first's;
#: and an in-process rewrite of the source (new mtime or size) must
#: rebuild, not serve the stale fixture.
_FIXTURE_VALIDATED: dict[str, tuple] = {}


def cached_fixture(
    out_dir: str,
    fingerprint: Callable[[], str],
    build: Callable[[str], None],
    source: str | None = None,
) -> str:
    """Build-once fixture cache: ``out_dir`` holds what
    ``build(out_dir)`` wrote for the content fingerprint
    ``fingerprint()``, recorded in its ``_FINGERPRINT`` marker. The
    marker carries a CONTENT fingerprint, not a version suffix alone —
    /tmp persists across rounds, and a stale cache keyed on a name or a
    count would silently serve old fixture data if a generator
    changed. A mismatch wipes the directory before rebuilding, so
    orphan files from a larger previous build can't leak into a
    reader's glob; the marker is written atomically after the build.
    ``source`` is the file ``fingerprint()`` reads: while its path,
    mtime and size are unchanged, later calls in this process only
    re-read the marker (see ``_FIXTURE_VALIDATED``)."""
    import os
    import shutil

    marker = os.path.join(out_dir, "_FINGERPRINT")

    def marked() -> str | None:
        try:
            with open(marker) as f:
                return f.read().strip()
        except OSError:
            return None

    stamp = None
    if source is not None:
        st = os.stat(source)
        stamp = (os.path.abspath(source), st.st_mtime_ns, st.st_size)
    memo = _FIXTURE_VALIDATED.get(out_dir)
    if memo is not None and memo[0] == stamp and marked() == memo[1]:
        return out_dir
    fp = fingerprint()
    if marked() != fp:
        shutil.rmtree(out_dir, ignore_errors=True)
        build(out_dir)
        os.makedirs(out_dir, exist_ok=True)
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            f.write(fp)
        os.replace(tmp, marker)
    _FIXTURE_VALIDATED[out_dir] = (stamp, fp)
    return out_dir


def _expectation_manifest(spark: SparkSession, out_dir: str) -> None:
    """Build-once the expectation manifest cached in ``out_dir`` (one of
    the ``_*_MANIFEST_DIR`` above) from the fixed corpus, keyed by
    :func:`_fixture_fingerprint`."""
    from pdf_ocr_spark.sources import corpus

    manifest = {
        _MEDIA_MANIFEST_DIR: lambda docs: corpus.media_expectation_manifest(
            docs, seed=13, corrupt_rate=0.05
        ),
        _LAYOUT_MANIFEST_DIR: lambda docs: corpus.layout_expectation_manifest(docs, seed=13),
        _HOCR_MANIFEST_DIR: lambda docs: corpus.hocr_expectation_manifest(docs, seed=13),
    }[out_dir]

    def build(out: str) -> None:
        manifest(_fixed_docs(spark)).write.mode("overwrite").parquet(out)

    cached_fixture(out_dir, lambda: _fixture_fingerprint(spark, out_dir), build)


@_register(
    "hocr_pages",
    f'SELECT doc_id, "offset", media_ref, text, hocr, confidence, error '
    f"FROM read_parquet('{_HOCR_MANIFEST_DIR}/*.parquet')",
)
def q_hocr_pages(spark: SparkSession, sf: str) -> DataFrame:
    """Layout OCR -> hOCR markup per page over the fixed CLEAN media
    corpus, EXACT-oracled: the expected markup is rendered analytically
    from renderer constants + glyph ink masks (no segmentation in the
    oracle path) through the same pure formatter — a string compare
    value-checks segmentation, decode, geometry, and serialization at
    once. The corrupt/shear/deskew paths keep their pytest coverage
    (tests/test_hocr.py); no analytic markup exists for them."""
    from pdf_ocr_spark.operators.hocr import ocr_pages_hocr
    from pdf_ocr_spark.operators.spans import explode_spans
    from pdf_ocr_spark.sources.corpus import generate_media

    _expectation_manifest(spark, _HOCR_MANIFEST_DIR)
    docs = _fixed_docs(spark)
    media = generate_media(spark, docs, seed=13)  # clean: no corrupt/missing/shear
    pages = (
        explode_spans(docs)
        .where(F.col("kind") == "image")
        .select("doc_id", "offset", "media_ref")
        .join(media, "media_ref", "left")
    )
    return ocr_pages_hocr(pages).select(
        "doc_id", "offset", "media_ref", "text", "hocr",
        F.round("confidence", 4).alias("confidence"), "error",
    )


@_register(
    "media_metadata",
    f"SELECT media_ref, format, width, height, n_bytes, valid "
    f"FROM read_parquet('{_MEDIA_MANIFEST_DIR}/*.parquet')",
)
def q_media_metadata(spark: SparkSession, sf: str) -> DataFrame:
    """Typed metadata over opaque binary media (PNG header parse;
    malformed payloads as error rows). Oracle: the generator's geometry
    manifest — header parse must agree with what the renderer wrote."""
    from pdf_ocr_spark.operators.multimodal import media_metadata

    _expectation_manifest(spark, _MEDIA_MANIFEST_DIR)
    return media_metadata(_fixed_media(spark))


@_register(
    "image_features",
    f"SELECT media_ref, width, height, round(mean_intensity, 4) AS mean_intensity, "
    f"round(ink_ratio, 4) AS ink_ratio "
    f"FROM read_parquet('{_MEDIA_MANIFEST_DIR}/*.parquet')",
)
def q_image_features(spark: SparkSession, sf: str) -> DataFrame:
    """Decode + downsample-grid visual embedding over media payloads.
    Oracle: decode->stats must reproduce the renderer's ground-truth
    stats through the full PNG round-trip."""
    from pdf_ocr_spark.operators.multimodal import image_features

    _expectation_manifest(spark, _MEDIA_MANIFEST_DIR)
    return image_features(_fixed_media(spark)).select(
        "media_ref", "width", "height", F.round("mean_intensity", 4).alias("mean_intensity"),
        F.round("ink_ratio", 4).alias("ink_ratio"),
    )


@_register(
    "word_boxes",
    f"SELECT media_ref, line_idx, word_idx, word, x0, y0, x1, y1 "
    f"FROM read_parquet('{_LAYOUT_MANIFEST_DIR}/*.parquet')",
)
def q_word_boxes(spark: SparkSession, sf: str) -> DataFrame:
    """Layout-OCR word geometry, value-checked: the segmenter's word
    bounding boxes (render -> PNG -> binarize -> line bands -> grid
    decode) must equal the generator's ANALYTIC positions (renderer
    constants + glyph ink masks, no segmentation anywhere in the oracle
    path). Upgrades the hOCR family from rows-only to exact."""
    from pdf_ocr_spark.operators.hocr import word_boxes_table
    from pdf_ocr_spark.sources.corpus import generate_media

    _expectation_manifest(spark, _LAYOUT_MANIFEST_DIR)
    docs = _fixed_docs(spark)
    media = generate_media(spark, docs, seed=13)  # clean: no corrupt/missing/shear
    return word_boxes_table(media)


# --- text analysis ---------------------------------------------------------


@_register(
    "token_stats",
    f"""
SELECT doc_id,
       len({sql_tokens('text')}) AS n_tokens,
       round(CASE WHEN len({sql_tokens('text')}) = 0 THEN 0.0
             ELSE list_sum(list_transform({sql_tokens('text')}, t -> len(t)))::DOUBLE
                  / len({sql_tokens('text')}) END, 6) AS avg_token_len,
       round(coalesce(len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
             / nullif(len(text), 0), 0.0), 6) AS punct_ratio,
       round(coalesce(len(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE
             / nullif(len(text), 0), 0.0), 6) AS digit_ratio
FROM documents
""",
)
def q_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        token_count_col(t).alias("n_tokens"),
        F.round(avg_token_len_col(t), 6).alias("avg_token_len"),
        F.round(punct_ratio_col(t), 6).alias("punct_ratio"),
        F.round(digit_ratio_col(t), 6).alias("digit_ratio"),
    )


@_register(
    "quality_score",
    f"""
SELECT doc_id,
       {_sql_quality('text')} AS quality,
       round(CASE WHEN len({sql_tokens('text')}) = 0 THEN 0.0
             ELSE {sql_stop_hits('text', 'en')}::DOUBLE / len({sql_tokens('lower(text)')}) END, 6)
           AS stopword_ratio
FROM documents
""",
)
def q_quality(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        quality_score_col(t).alias("quality"),
        F.round(stopword_ratio_col(t), 6).alias("stopword_ratio"),
    )


@_register(
    "ordered_quality_export",
    f"""
WITH q AS (SELECT doc_id, {_sql_quality('text')} AS quality FROM documents)
SELECT row_number() OVER (ORDER BY quality NULLS FIRST, doc_id) AS position,
       doc_id, quality
FROM q
""",
)
def q_ordered_quality_export(spark: SparkSession, sf: str) -> DataFrame:
    """Global ordered export (curriculum sort) — the range-Exchange
    operator: total order by (quality, doc_id) with explicit 1-based
    global positions, computed as repartitionByRange →
    sortWithinPartitions → count-per-partition offsets → one narrow
    Arrow position stage. NO single-task global sort, NO
    monotonically_increasing_id (operators/ordering.py has the plan
    argument; PLANS.md shows the executed RangePartitioning). The
    oracle orders NULLS FIRST to match Spark's ASC default — quality
    is non-null on this corpus, but the contract shouldn't hinge on
    that."""
    from pdf_ocr_spark.operators.ordering import global_ordered_positions

    d = load_table(spark, sf, "documents")
    q = d.select("doc_id", quality_score_col(F.col("text")).alias("quality"))
    out = global_ordered_positions(q, ["quality", "doc_id"])
    return out.select("position", "doc_id", "quality")


#: token budget per output shard for the shard-manifest operator
SHARD_TOKEN_BUDGET = 2048


@_register(
    "shard_manifest",
    f"""
WITH toks AS (
  SELECT doc_id, len({sql_tokens('text')})::BIGINT AS n_tokens
  FROM documents WHERE trim(text) != ''
),
c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM toks
)
SELECT ((cum - n_tokens) // {SHARD_TOKEN_BUDGET})::BIGINT AS shard_id,
       count(*) AS n_docs, sum(n_tokens)::BIGINT AS n_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM c GROUP BY 1
""",
)
def q_shard_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """WebDataset-style output sharding: assign documents in corpus
    order to fixed token-budget shards and emit the shard manifest.
    Shard identity is the EXCLUSIVE global token prefix sum DIV the
    budget — computed with :func:`global_running_totals`, the
    range-Exchange prefix-sum operator (weights generalize
    ordered_quality_export's row positions), so there is no
    single-task sort and no full-width window Exchange; the only
    global coordination is P per-partition weight sums. The manifest
    agg is one keyed exchange of 5 longs per shard."""
    from pdf_ocr_spark.operators.analysis import token_count_col
    from pdf_ocr_spark.operators.ordering import global_running_totals

    d = load_table(spark, sf, "documents")
    toks = d.where(F.trim(F.col("text")) != "").select(
        "doc_id", token_count_col(F.col("text")).cast("long").alias("n_tokens")
    )
    cum = global_running_totals(toks, ["doc_id"], "n_tokens", total_col="cum")
    return (
        cum.select(
            "doc_id",
            "n_tokens",
            ((F.col("cum") - F.col("n_tokens")) / SHARD_TOKEN_BUDGET)
            .cast("long")
            .alias("shard_id"),
        )
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


#: target mixture shares (percent) for the data-mixing operator; the
#: synthetic corpus carries exactly these five language tags
MIXTURE_TARGET_PCT = {"en": 40, "fr": 15, "es": 15, "de": 15, "zh": 15}


def _mixture_values_sql() -> str:
    return ", ".join(
        f"('{lang}', {pct}.0)" for lang, pct in sorted(MIXTURE_TARGET_PCT.items())
    )


@_register(
    "mixture_weights",
    f"""
WITH toks AS (
  SELECT lang, count(*) AS n_docs,
         sum(len({sql_tokens('text')}))::BIGINT AS n_tokens
  FROM documents GROUP BY lang
),
tgt AS (SELECT * FROM (VALUES {_mixture_values_sql()}) AS t(lang, share)),
j AS (SELECT toks.lang, n_docs, n_tokens, share FROM toks JOIN tgt ON toks.lang = tgt.lang),
b AS (SELECT min(n_tokens::DOUBLE * 100.0 / share) AS budget FROM j)
SELECT lang, n_docs, n_tokens,
       round(least(1.0, (share * budget) / (100.0 * n_tokens::DOUBLE)), 6) AS sample_rate,
       CAST(floor((share * budget) / 100.0) AS BIGINT) AS token_budget
FROM j CROSS JOIN b
""",
)
def q_mixture_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Data-mixing (DoReMi/Pile-style static mixture balancing):
    given per-language token totals and a target share table, compute
    the per-language sampling rate that realizes the target mixture at
    the largest budget no language oversamples (rate <= 1). Exactness:
    token totals are integer sums; every float step is a FIXED
    op-order IEEE double chain (one cast, one multiply, one divide —
    bit-identical across engines regardless of magnitude), and the
    budget min is order-independent. Plan: one keyed agg (5 groups), a
    broadcast join against the literal target table, and a 1-row
    budget agg broadcast back — control-plane-bounded like bm25's
    stats row."""
    d = load_table(spark, sf, "documents")
    toks = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count_col(F.col("text")).cast("long")).alias("n_tokens"),
    )
    tgt = F.broadcast(
        local_frame(
            spark,
            sorted((k, float(v)) for k, v in MIXTURE_TARGET_PCT.items()),
            "lang string, share double",
        )
    )
    j = toks.join(tgt, "lang")
    budget = j.agg(
        F.min(F.col("n_tokens").cast("double") * 100.0 / F.col("share")).alias("budget")
    )
    return j.crossJoin(F.broadcast(budget)).select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(
            F.least(
                F.lit(1.0),
                (F.col("share") * F.col("budget"))
                / (F.lit(100.0) * F.col("n_tokens").cast("double")),
            ),
            6,
        ).alias("sample_rate"),
        F.floor((F.col("share") * F.col("budget")) / 100.0)
        .cast("long")
        .alias("token_budget"),
    )


def _pii_sql() -> str:
    """pii_scrub oracle, built from the SAME PII_RULES table the Spark
    kernel uses (plain concatenation — the patterns contain ``%`` and
    ``{}`` so neither %-format nor f-strings are safe)."""
    from pdf_ocr_spark.operators.analysis import PII_RULES

    (e_pat, i_pat, s_pat, p_pat) = (r[1] for r in PII_RULES)
    plant = (
        "text || ' contact user' || doc_id::VARCHAR || '@mail.example.com"
        " from 10.' || (doc_id % 256)::VARCHAR || '.0.' ||"
        " (doc_id % 100)::VARCHAR || ' ssn ' ||"
        " lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-' ||"
        " lpad((doc_id % 89)::VARCHAR, 2, '0') || '-' ||"
        " lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' call +1-555-' ||"
        " lpad((doc_id % 10000)::VARCHAR, 4, '0')"
    )
    return (
        "WITH e AS (SELECT doc_id, " + plant + " AS t FROM documents),\n"
        "s1 AS (SELECT doc_id, t, regexp_replace(t, '" + e_pat + "', '<EMAIL>', 'g') AS t1 FROM e),\n"
        "s2 AS (SELECT *, regexp_replace(t1, '" + i_pat + "', '<IP>', 'g') AS t2 FROM s1),\n"
        "s3 AS (SELECT *, regexp_replace(t2, '" + s_pat + "', '<ID>', 'g') AS t3 FROM s2),\n"
        "s4 AS (SELECT *, regexp_replace(t3, '" + p_pat + "', '<PHONE>', 'g') AS t4 FROM s3)\n"
        "SELECT doc_id, t4 AS scrubbed,\n"
        "  len(regexp_extract_all(t, '" + e_pat + "'))::BIGINT AS n_email,\n"
        "  len(regexp_extract_all(t1, '" + i_pat + "'))::BIGINT AS n_ip,\n"
        "  len(regexp_extract_all(t2, '" + s_pat + "'))::BIGINT AS n_ssn,\n"
        "  len(regexp_extract_all(t3, '" + p_pat + "'))::BIGINT AS n_phone\n"
        "FROM s4"
    )


@_register("pii_scrub", None)
def q_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """PII redaction — the standard curation pass before corpus text
    ships to a tokenizer: emails, IPv4s, SSN-shaped ids, and
    phone-shaped numbers replaced by typed tags, in rule order, plus
    per-rule match counts. The fixture text carries no PII, so the
    query PLANTS doc_id-derived PII spans identically on both sides
    (discriminating counts per doc, not 0=0). Pure JVM regexp chain —
    zero shuffles, map-only at any scale; rules live in ONE table
    (operators/analysis.py PII_RULES) shared by kernel and oracle."""
    from pdf_ocr_spark.operators.analysis import pii_counts_cols, pii_scrub_col

    d = load_table(spark, sf, "documents")
    did = F.col("doc_id").cast("long")
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"), did.cast("string"),
        F.lit("@mail.example.com from 10."), (did % 256).cast("string"),
        F.lit(".0."), (did % 100).cast("string"),
        F.lit(" ssn "), F.lpad((did % 1000).cast("string"), 3, "0"),
        F.lit("-"), F.lpad((did % 89).cast("string"), 2, "0"),
        F.lit("-"), F.lpad((did % 10000).cast("string"), 4, "0"),
        F.lit(" call +1-555-"), F.lpad((did % 10000).cast("string"), 4, "0"),
    )
    return d.select(
        did.alias("doc_id"),
        pii_scrub_col(t).alias("scrubbed"),
        *pii_counts_cols(t),
    )


ORACLES["pii_scrub"] = _pii_sql()


@_register(
    "lang_id",
    "WITH scored AS (SELECT doc_id, "
    + ", ".join(f"{sql_stop_hits('text', lang)} AS s_{lang}" for lang in LANG_PRIORITY)
    + " FROM documents) "
    + f"SELECT doc_id, {_sql_lang_case('text')} AS lang_pred FROM scored",
)
def q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return d.select("doc_id", lang_id_col(F.col("text")).alias("lang_pred"))


@_register(
    "doc_fingerprint",
    f"""
WITH grams AS (SELECT doc_id, unnest({sql_grams('text')}) AS gram FROM documents)
SELECT doc_id, min(md5(gram)) AS fingerprint FROM grams GROUP BY doc_id
""",
)
def q_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_ocr_spark.operators.analysis import tokens_col, word_ngrams_from_tokens

    d = load_table(spark, sf, "documents")
    toked = d.select("doc_id", tokens_col(F.lower(F.col("text"))).alias("_toks"))
    grams = toked.select("doc_id", word_ngrams_from_tokens(F.col("_toks"), 3).alias("_grams"))
    return grams.select(
        "doc_id", F.array_min(F.transform(F.col("_grams"), F.md5)).alias("fingerprint")
    )


# --- rows-only (no SQL oracle): approximate / LSH-ANN ----------------------


@_register("knn_lsh_topk")
def q_knn_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """LSH-bucketed ANN (approximate — bucket recall is engine-defined,
    so this gets the driver's rows-only check; the exact variant above
    is the oracle-checked baseline)."""
    emb = load_table(spark, sf, "embeddings")
    return lsh_topk(emb.where(F.col("vec_id") < 5), emb, k=3)


@_register("approx_distinct_users")
def q_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """HLL approx_count_distinct (estimator differs per engine — rows-only).

    The exact twin ``distinct_users_exact`` below runs the same grouping
    with exact COUNT(DISTINCT) under the full oracle check, so the
    aggregation plumbing is hash-certified; only the HLL estimate itself
    is engine-specific. test_approx_error pins the estimator's relative
    error against the exact counts at the default rsd (0.05)."""
    e = load_table(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.expr("percentile_approx(value, 0.5)").alias("p50_value"),
    )


@_register(
    "distinct_users_exact",
    "SELECT event_type, COUNT(DISTINCT user_id) AS n_users, "
    "quantile_cont(value, 0.5) AS p50_value "
    "FROM events GROUP BY event_type",
)
def q_distinct_users_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact twin of approx_distinct_users: identical grouping, exact
    COUNT(DISTINCT) + interpolated median instead of the HLL/KLL
    estimates. At 100 TB the approximate form is the production path
    (single-pass, fixed-size sketch state, no per-key distinct shuffle);
    this exact form is the certification path — same plan shape, exact
    aggregates."""
    e = load_table(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.expr("percentile(value, 0.5)").alias("p50_value"),
    )


# ---------------------------------------------------------------------------
# Flagship entry
# ---------------------------------------------------------------------------


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """Flagship end-to-end extraction, per the driver contract: load the
    sf0.001 documents parquet, lift it into the interleaved span model
    (text spans from paragraph-split pages + deterministic image spans
    whose media payloads are rendered by the corpus generator), run the
    full pipeline (OCR decode -> normalize -> ordered reassembly ->
    serialize) and return per-document results with metrics."""
    from pdf_ocr_spark.operators.spans import reassemble_spans
    from pdf_ocr_spark.plans.pipeline import extract_documents
    from pdf_ocr_spark.sources.corpus import generate_media

    d = load_table(spark, sf_dir, "documents")
    paged = d.select(
        F.concat(F.lit("tdoc_"), F.col("doc_id")).alias("doc_id"),
        F.posexplode(
            F.split(F.replace(F.col("text"), F.lit(" batch "), F.lit("\n\n")), r"\n\n")
        ).alias("offset", "text"),
    ).select(
        "doc_id",
        F.col("offset").cast("int").alias("offset"),
        F.lit("text").alias("kind"),
        "text",
        F.lit("").alias("media_ref"),
    )
    n_text = paged.groupBy("doc_id").agg(F.max("offset").alias("max_off"))
    # one image span appended per document, media_ref keyed off doc_id
    img = n_text.select(
        "doc_id",
        (F.col("max_off") + 1).cast("int").alias("offset"),
        F.lit("image").alias("kind"),
        F.lit("").alias("text"),
        F.concat(  # media_ref_for as a pure column expression (no python UDF)
            F.lit("mem://"), F.col("doc_id"), F.lit("/page_"),
            (F.col("max_off") + 1).cast("int"), F.lit(".png"),
        ).alias("media_ref"),
    )
    docs = reassemble_spans(paged.unionByName(img))
    media = generate_media(spark, docs, seed=42, missing_rate=0.02, corrupt_rate=0.02)
    out = extract_documents(docs, media)
    return out.select(
        "doc_id",
        "n_pages",
        "n_errors",
        F.round("mean_confidence", 6).alias("mean_confidence"),
        "txt",
    )


# --- real-PDF ingestion (binaryFile source) --------------------------------
#
# SURVEY S1/S3's promised fixture path: actual .pdf files read via
# spark.read.format("binaryFile"), parsed by the from-scratch subset
# parser, raster pages OCR'd by the standard kernel. The fixture corpus
# is generated deterministically (once per sf dir) from the documents
# table: page k of a doc holds words [20k, 20k+20) rendered in the 5x7
# font — so page counts and extracted text are pure SQL over `documents`
# and the oracle checks the ENTIRE binaryFile->parse->OCR->reassemble
# path, not a manifest the writer emitted.

_PDF_CACHE_ROOT = "/tmp/pdf_ocr_spark_cache"


def _doc_texts(docs: DataFrame) -> DataFrame:
    """(doc_id as a string, text): the rows the PDF fixture writers take."""
    return docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text")


def _documents_fixture(
    spark: SparkSession, sf: str, name: str, gen_tag: str, write, rows=_doc_texts
) -> str:
    """A :func:`cached_fixture` generated (once, executor-side) from an
    sf dir's ``documents`` table into ``_PDF_CACHE_ROOT/<name>`` (``{}``
    in ``name`` becomes the sf dir's basename). ``rows`` narrows the
    table, and ``write(rows, out)`` writes the fixture and returns how
    many rows it wrote. The fingerprint is the row count plus an
    order-independent checksum over (doc_id, text) plus ``gen_tag``,
    which is bumped whenever a writer's output changes."""
    import os

    tag = os.path.basename(os.path.normpath(sf)) or "sf"
    n_rows = None

    def docs() -> DataFrame:
        return rows(load_table(spark, sf, "documents"))

    def fingerprint() -> str:
        nonlocal n_rows
        agg = docs().agg(
            F.count("*").alias("n"),
            F.sum(
                F.crc32(F.concat_ws("\x00", F.col("doc_id").cast("string"), "text"))
            ).alias("ck"),
        ).first()
        n_rows = agg["n"]
        return f"{agg['n']}:{agg['ck']}:{gen_tag}"

    def build(out: str) -> None:
        n_written = write(docs(), out)
        assert n_written == n_rows, (n_written, n_rows)

    return cached_fixture(
        os.path.join(_PDF_CACHE_ROOT, name.format(tag)),
        fingerprint,
        build,
        source=os.path.join(sf, "documents.parquet"),
    )


def _pdf_fixture_dir(
    spark: SparkSession, sf: str, dct: bool = False, jpx: bool = False
) -> str:
    """The scanned PDF corpus for an sf dir: Flate/ObjStm by default,
    JPEG scans with ``dct``, JPEG 2000 scans with ``jpx``."""
    from pdf_ocr_spark.sources.pdfsource import write_pdf_corpus

    variant = "jpx" if jpx else ("dct" if dct else "objstm")

    def rows(docs: DataFrame) -> DataFrame:
        docs = _doc_texts(docs)
        if jpx:
            # EBCOT tier-1 is the priciest pure-python codec (~100-200 ms
            # per page); the JPX corpus certifies the decode surface over
            # every 4th document instead of all of them — the oracle SQL
            # carries the same doc_id % 4 = 1 predicate
            docs = docs.where(F.col("doc_id").cast("long") % 4 == 1)
        return docs

    def write(docs: DataFrame, out: str) -> int:
        # spread generation across the executor pool: each PDF writes to
        # its own file so partitioning never changes content (the small
        # source parquet otherwise yields 1-2 splits and serial rendering)
        return write_pdf_corpus(docs.repartition(32), out, dct=dct, jpx=jpx).count()

    # codec-shape tag — bumps the cache when the fixture writer's
    # encoding changes (r3: compressed, then PDF 1.5 object streams,
    # plus the /DCTDecode JPEG-scan variant corpus; r4: 1-in-5 docs
    # RC4-encrypted, 1-in-3 DCT docs progressive).
    # r5sym: non-DCT corpus rotates 16/4/1-bit /BitsPerComponent +
    # /Decode [1 0] rasters, and JBIG2 docs rotate symbol-coded
    # (text region) and /JBIG2Globals organizations.
    # r5inline (non-DCT only, so the pricey DCT/JPX caches survive):
    # 1-in-23 docs store the raster as a §8.9.7 INLINE image.
    # r5idx: 1-in-29 docs quantize through an /Indexed palette and
    # 1-in-31 wrap the device space as [/ICCBased N 0 R].
    # r5meta: every non-DCT doc carries a §14.3.3 /Info dictionary
    # (RC4-encrypted strings on the RC4 docs) and 1-in-3 an XMP
    # metadata stream. r5incr: 1-in-37 docs additionally carry an
    # §7.5.6 incremental update (re-saved raster + bumped /Producer).
    # r5links: page i carries a /Link /URI annotation iff (id+i)%2==0.
    # r5lossy (jpx variant): half the JPX docs use the 9/7 lossy path.
    # r5attach: 1-in-41 docs carry two §7.7.4 embedded files (names +
    # contents derived from (doc_id, text) for the SQL oracle).
    # r5rot: 1-in-43 docs carry §7.7.3.3 /Rotate 90/180/270 pages
    # (content-transparent — the reader re-orients before OCR).
    # r5form: 1-in-47 docs carry a §12.7.2 /AcroForm with three filled
    # text fields derived from (doc_id, text) for the SQL oracle.
    # r5toc2: 1-in-53 docs carry a §12.3.3 two-level outline (Chapter/
    # Section per page) derived from (doc_id, n_pages); every other
    # un-encrypted one uses the pdfTeX NAMED shape (indirect titles,
    # /A GoTo actions, /Kids-subdivided /Names /Dests tree).
    # r5rotinh: every other rotated doc places /Rotate on the
    # pages-tree node (§7.7.3.4 inheritance) instead of per page.
    # r6links: link annotations extend beyond /URI — (id+i)%3==0 pages
    # carry an intra-doc GoTo edge (alternating /A-action and /Dest-key
    # shapes), (id+i)%6==5 pages a /GoToR remote edge, and named-outline
    # docs a page-0 GoTo through the /Names /Dests tree.
    # r9rotupd: the incremental update of a /Rotate'd doc re-encodes the
    # ROTATED page-0 raster (it stored the unrotated one, so page 0 of
    # a doc with id % 43 == 15 and id % 37 == 13 read back garbled).
    gen_tag = {"objstm": "r9rotupd", "jpx": "r5lossy", "dct": "r5sym"}[variant]
    name = "pdfs_{}" if variant == "objstm" else "pdfs_{}_" + variant
    return _documents_fixture(spark, sf, name, f"{variant}:{gen_tag}", write, rows)


def _text_pdf_fixture_dir(spark: SparkSession, sf: str) -> str:
    """Born-digital (text-layer) PDF corpus for this scale factor."""
    from pdf_ocr_spark.sources.pdfsource import write_text_pdf_corpus

    # r5enc: 1-in-5 docs RC4-encrypted (protected born-digital shape)
    # r6t1: 1-in-11 docs use an embedded subset font with no
    # /ToUnicode and no /Encoding, alternating symbolic TrueType
    # (cmap+post) and Type1 (cleartext builtin encoding)
    # r7t1: the Type1 fixture's /Length3 is now computed from the
    # actual trailing segment (was a wrong hardcoded 532) — regenerate
    return _documents_fixture(
        spark,
        sf,
        "pdfs_{}_textlayer",
        "textlayer:r7t1",
        lambda docs, out: write_text_pdf_corpus(docs.repartition(32), out).count(),
    )


def _mixed_pdf_fixture_dir(spark: SparkSession, sf: str) -> str:
    """Hybrid (interleaved text+image page) PDF corpus for this scale
    factor."""
    from pdf_ocr_spark.sources.pdfsource import write_mixed_pdf_corpus

    return _documents_fixture(
        spark,
        sf,
        "pdfs_{}_mixed",
        "mixed:r5",
        lambda docs, out: write_mixed_pdf_corpus(docs, out).count(),
    )


@_register(
    "pdf_interleaved_spans",
    f"""
WITH t AS (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents),
pages AS (
    SELECT doc_id, i,
           array_to_string(toks[i*20+1 : i*20+10], ' ') AS text_part,
           array_to_string(toks[i*20+11 : i*20+20], ' ') AS img_part
    FROM t, generate_series(0, 400) AS g(i)
    WHERE i < greatest(1, ceil(len(toks)/20.0))
)
SELECT doc_id, i*2 AS offset, 'text' AS kind, text_part AS text,
       NULL AS media_ref FROM pages
UNION ALL
SELECT doc_id, i*2+1, 'image', upper(img_part),
       'doc_' || doc_id::VARCHAR || '.pdf#seg=' || (i*2+1)::VARCHAR
FROM pages WHERE img_part != ''
""",
)
def q_pdf_interleaved_spans(spark: SparkSession, sf: str) -> DataFrame:
    """The north star's core data model met at the PDF source: hybrid
    pages interleaving born-digital text spans with raster image
    spans, recovered in CONTENT-STREAM ORDER as (doc_id, offset,
    kind, text) rows — text spans font-decoded from BT..ET blocks
    (case preserved), image spans OCR-decoded from XObject Do
    operators (the glyph kernel upper-cases). The fixture gives every
    20-word page a 10-word text segment + a 10-word rendered-image
    segment, so the expected interleaving is pure arithmetic for the
    oracle — including the stable ``<file>#seg=<offset>`` media_ref
    on every image span, completing the north star's (kind, text,
    media_ref, order) invariant at this source. One binaryFile scan
    -> one Arrow stage, no shuffle."""
    from pdf_ocr_spark.sources.pdfsource import read_pdf_spans

    d = _mixed_pdf_fixture_dir(spark, sf)
    return read_pdf_spans(spark, d).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "offset",
        "kind",
        "text",
        "media_ref",
    )


@_register(
    "pdf_text_layer",
    f"""
SELECT doc_id,
       array_to_string(list_transform(range(greatest(1, ceil(len(toks)/20.0))::INT),
           i -> array_to_string(
                    list_transform(range(greatest(1, ceil(len(toks[i*20+1 : i*20+20])/8.0))::INT),
                        j -> array_to_string((toks[i*20+1 : i*20+20])[j*8+1 : j*8+8], ' ')),
                    chr(10))), {_NL2}) AS txt
FROM (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents)
""",
)
def q_pdf_text_layer(spark: SparkSession, sf: str) -> DataFrame:
    """Born-digital PDFs — the real-world majority the reference cannot
    serve natively (it rasterizes + OCRs everything): content-stream
    text extraction (BT/Tj/TJ/T* parse, escape handling, case and
    unicode preserved — note the oracle has NO upper(); the OCR path's
    does) over a text-layer fixture corpus, binaryFile scan -> one
    Arrow stage, no raster work at all. Pages are 20-word chunks split
    into 8-word lines so multi-line positioning is exercised; the
    oracle re-chunks arithmetically.

    Round 5: the corpus rotates font encodings per doc id (legacy
    UTF-8 / WinAnsiEncoding / Differences-remapped high codes /
    Type0+ToUnicode CID — sources/pdfsource.py TEXT_ENCODINGS), so a
    green row certifies the whole font-decode surface; interop with
    real third-party pdfTeX files is pinned in tests/test_pdffonts.py.
    """
    from pdf_ocr_spark.sources.pdfsource import read_pdf_text_layers

    d = _text_pdf_fixture_dir(spark, sf)
    return read_pdf_text_layers(spark, d).select(
        F.col("doc_id").cast("long").alias("doc_id"), "txt"
    )


@_register(
    "pdf_page_count",
    f"""
SELECT doc_id, greatest(1, ceil(len({sql_tokens('text')}) / 20.0))::BIGINT AS n_pages
FROM documents
""",
)
def q_pdf_page_count(spark: SparkSession, sf: str) -> DataFrame:
    """Metadata-only page counts over real PDF files (S4 over S1's
    binaryFile source): /Count from each pages tree, no raster work."""
    from pdf_ocr_spark.sources.pdfsource import pdf_page_counts

    d = _pdf_fixture_dir(spark, sf)
    return pdf_page_counts(spark, d).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_pages").cast("long").alias("n_pages"),
    )


@_register(
    "pdf_extract_text",
    f"""
SELECT doc_id,
       array_to_string(list_transform(range(greatest(1, ceil(len(toks)/20.0))::INT),
           i -> upper(array_to_string(toks[i*20+1 : i*20+20], ' '))), {_NL2}) AS txt
FROM (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents)
""",
)
def q_pdf_extract_text(spark: SparkSession, sf: str) -> DataFrame:
    """The full real-PDF pipeline, oracle-checked end to end: binaryFile
    scan -> subset parse -> per-page OCR (template-match kernel) ->
    ordered reassembly. The oracle recomputes the expected text purely
    in SQL (upper-cased 20-word chunks joined by blank lines), so any
    drift anywhere in the path — codec, explode, OCR, ordering — fails
    the hash."""
    from pdf_ocr_spark.sources.pdfsource import extract_pdf_documents

    d = _pdf_fixture_dir(spark, sf)
    return extract_pdf_documents(spark, d).select(
        F.col("doc_id").cast("long").alias("doc_id"), "txt"
    )


@_register(
    "pdf_metadata",
    """
SELECT doc_id,
       'Document ' || doc_id::VARCHAR AS title,
       'Author ' || (doc_id % 7)::VARCHAR AS author,
       CASE WHEN doc_id % 37 = 13 AND doc_id % 5 != 1 AND doc_id % 23 != 9
            THEN 'pdf-ocr-spark 1.1'   -- incrementally re-saved docs
            ELSE 'pdf-ocr-spark 1.0' END AS producer,
       printf('D:2026%02d%02d000000Z',
              ((doc_id % 12) + 1)::INT, ((doc_id % 28) + 1)::INT) AS created,
       CASE WHEN doc_id % 3 = 0
            THEN 'Document ' || doc_id::VARCHAR END AS xmp_title
FROM documents
""",
)
def q_pdf_metadata(spark: SparkSession, sf: str) -> DataFrame:
    """Document-metadata scan over the real-PDF corpus: the §14.3.3
    /Info dictionary (title/author/producer/creation date — with the
    RC4-handler docs the strings are per-object encrypted, §7.6.5)
    plus the §14.3.2 XMP dc:title (1-in-3 docs; a stream, so it is
    encrypted whenever the file is). The corpus derives every field
    purely from doc_id, so the oracle recomputes them in SQL — a hash
    match certifies trailer /Info resolution, string (de)cryption,
    UTF/literal/hex string parsing, XMP stream decode, AND §7.5.6
    incremental-update semantics (1-in-37 docs are re-saved with a
    bumped /Producer; the oracle's CASE demands the LATEST /Info). The
    reference surfaces file metadata via its converter stack; this is
    the curation-pipeline form (cheap pass before extraction)."""
    from pdf_ocr_spark.sources.pdfsource import read_pdf_info

    d = _pdf_fixture_dir(spark, sf)
    return read_pdf_info(spark, d).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "title", "author", "producer", "created", "xmp_title",
    )


@_register(
    "pdf_links",
    f"""
WITH pages AS (
  SELECT doc_id,
         greatest(1, ceil(len({sql_tokens('text')}) / 20.0))::INT AS n
  FROM documents
)
, exploded AS (SELECT doc_id, n, unnest(range(n)) AS i FROM pages)
SELECT doc_id, i::BIGINT AS page, 'uri' AS kind,
       'https://example.org/doc/' || doc_id::VARCHAR || '/p' || i::VARCHAR AS uri,
       NULL::BIGINT AS to_page
FROM exploded WHERE (doc_id + i) % 2 = 0
UNION ALL
SELECT doc_id, i::BIGINT, 'goto', NULL::VARCHAR, ((i + 1) % n)::BIGINT
FROM exploded WHERE (doc_id + i) % 3 = 0
UNION ALL
SELECT doc_id, i::BIGINT, 'gotor',
       'doc_' || ((doc_id * 3 + i) % 1000)::VARCHAR || '.pdf',
       ((doc_id + i) % 4)::BIGINT
FROM exploded WHERE (doc_id + i) % 6 = 5
UNION ALL
SELECT doc_id, 0::BIGINT, 'goto', NULL::VARCHAR, (n - 1)::BIGINT
FROM pages
WHERE doc_id % 53 = 17 AND (doc_id // 53) % 2 = 1 AND doc_id % 5 != 1
""",
)
def q_pdf_links(spark: SparkSession, sf: str) -> DataFrame:
    """Link-edge harvest over the real-PDF corpus: §12.5.6.5 /Link
    annotations as typed (doc_id, page, kind, uri, to_page) edges —
    'uri' outbound actions (the PDF twin of html_links feeding the
    crawl frontier; recrawl_frontier / crawl_schedule consume that
    shape), 'goto' intra-document edges with the destination resolved
    to a target page (direct /A arrays, the /Dest-key annotation
    shape, and NAMED destinations through the /Names /Dests tree on
    named-outline docs), and 'gotor' cross-document edges (remote
    file + remote page number). Every planting rule is residue-derived
    from (doc_id, page), so the oracle regenerates the exact edge set
    from the documents table — certifying /Annots parsing, all three
    action kinds, both GoTo destination shapes, name-tree resolution,
    and the §7.6.2 rule that ObjStm strings decrypt with the stream
    (1-in-5 docs are encrypted)."""
    from pdf_ocr_spark.sources.pdfsource import read_pdf_links

    d = _pdf_fixture_dir(spark, sf)
    return read_pdf_links(spark, d).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("page").cast("long").alias("page"),
        "kind",
        "uri",
        F.col("to_page").cast("long").alias("to_page"),
    )


@_register(
    "pdf_attachments",
    f"""
WITH t AS (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
           WHERE doc_id % 41 = 14)
SELECT doc_id, 'invoice_' || doc_id::VARCHAR || '.xml' AS name,
       '<invoice doc="' || doc_id::VARCHAR || '"><words>' ||
       len(toks)::VARCHAR || '</words></invoice>' AS content
FROM t
UNION ALL
SELECT doc_id, 'notes_' || doc_id::VARCHAR || '.txt' AS name,
       -- slicing an EMPTY list yields NULL in DuckDB; the engine
       -- writes (and reads back) an empty attachment for a 0-word doc
       coalesce(array_to_string(toks[1:5], ' '), '') AS content
FROM t
""",
)
def q_pdf_attachments(spark: SparkSession, sf: str) -> DataFrame:
    """Embedded-file harvest over the real-PDF corpus: §7.7.4
    /EmbeddedFiles name trees (the invoice-XML / portfolio shape)
    exploded to one (doc_id, name, content) row per attachment — the
    side-data pass an ingestion pipeline runs before extraction. The
    corpus plants two attachments on every doc_id % 41 == 14 file
    with names and contents derived purely from (doc_id, text), so
    the oracle regenerates the exact rows from the documents table —
    certifying name-tree parsing, /Filespec indirection, and
    embedded-stream decrypt+inflate (the rotation composes with the
    encryption residues: RC4 files carry ciphertext /Filespec
    strings and ObjStm-exempt name strings, §7.6.2)."""
    from pdf_ocr_spark.sources.pdfsource import read_pdf_attachments

    d = _pdf_fixture_dir(spark, sf)
    return read_pdf_attachments(spark, d).select(
        F.col("doc_id").cast("long").alias("doc_id"), "name", "content"
    )


@_register(
    "pdf_form_fields",
    f"""
WITH t AS (SELECT doc_id,
           greatest(1, ceil(len({sql_tokens('text')}) / 20.0))::BIGINT AS n
           FROM documents WHERE doc_id % 47 = 16)
SELECT doc_id, 'title' AS field, 'Document ' || doc_id::VARCHAR AS value FROM t
UNION ALL
SELECT doc_id, 'pages' AS field, n::VARCHAR AS value FROM t
UNION ALL
SELECT doc_id, 'lang' AS field, ['en','fr','de'][doc_id % 3 + 1] AS value FROM t
""",
)
def q_pdf_form_fields(spark: SparkSession, sf: str) -> DataFrame:
    """Filled-form harvest over the real-PDF corpus: §12.7.2 /AcroForm
    text fields (the application/invoice shape) exploded to one
    (doc_id, field, value) row each — the structured-data pass an
    ingestion pipeline runs alongside extraction. The corpus plants
    three filled fields on every doc_id % 47 == 16 file with values
    derived purely from (doc_id, text) — the 'pages' field equals the
    oracle's page-count formula, so a green row certifies /Fields
    array walking, merged field+widget parsing, and the §7.6.2 string
    rule (RC4 docs carry per-object-ciphertext /T //V)."""
    from pdf_ocr_spark.sources.pdfsource import read_pdf_form_fields

    d = _pdf_fixture_dir(spark, sf)
    return read_pdf_form_fields(spark, d).select(
        F.col("doc_id").cast("long").alias("doc_id"), "field", "value"
    )


@_register(
    "pdf_outline",
    f"""
WITH pages AS (
  SELECT doc_id,
         greatest(1, ceil(len({sql_tokens('text')}) / 20.0))::INT AS n
  FROM documents WHERE doc_id % 53 = 17
)
, exp AS (SELECT doc_id, unnest(range(n)) AS i FROM pages)
SELECT doc_id,
       (CASE WHEN i % 2 = 0 THEN 1 ELSE 2 END)::BIGINT AS level,
       (CASE WHEN i % 2 = 0 THEN 'Chapter ' ELSE 'Section ' END)
         || i::VARCHAR AS title,
       i::BIGINT AS page
FROM exp
""",
)
def q_pdf_outline(spark: SparkSession, sf: str) -> DataFrame:
    """Bookmark (table-of-contents) harvest over the real-PDF corpus:
    §12.3.3 /Outlines trees exploded to (doc_id, level, title, page)
    rows in pre-order — the section-segmentation pass a
    document-understanding pipeline runs before chunking. The corpus
    plants a two-level outline on every doc_id % 53 == 17 file
    (Chapter on even pages, nested Section on odd), so the oracle
    regenerates the exact rows from the documents table — certifying
    the /First → /Next graph walk, /Dest page resolution, /Count
    bookkeeping, and the §7.6.2 string rule (RC4 titles are
    per-object ciphertext)."""
    from pdf_ocr_spark.sources.pdfsource import read_pdf_outline

    d = _pdf_fixture_dir(spark, sf)
    return read_pdf_outline(spark, d).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("level").cast("long").alias("level"),
        "title",
        F.col("page").cast("long").alias("page"),
    )


@_register(
    "pdf_document_profile",
    f"""
WITH t AS (SELECT doc_id,
           greatest(1, ceil(len({sql_tokens('text')}) / 20.0))::BIGINT AS n
           FROM documents)
SELECT doc_id,
       n AS n_pages,
       'Document ' || doc_id::VARCHAR AS title,
       ((n + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) // 2)::BIGINT
         AS n_links,
       (CASE WHEN doc_id % 41 = 14 THEN 2 ELSE 0 END)::BIGINT
         AS n_attachments,
       (CASE WHEN doc_id % 47 = 16 THEN 3 ELSE 0 END)::BIGINT
         AS n_form_fields,
       (CASE WHEN doc_id % 53 = 17 THEN n ELSE 0 END)::BIGINT AS n_outline
FROM t
""",
)
def q_pdf_document_profile(spark: SparkSession, sf: str) -> DataFrame:
    """The FUSED curation-tier metadata pass: every structure signal
    (page count, /Info title, link / attachment / form-field /
    outline counts) for every document from ONE binaryFile scan and
    ONE narrow Arrow stage — zero joins, no raster decode. The oracle
    recomputes all six signals from the documents table via the
    corpus-rotation formulas, so a single green row cross-checks five
    harvest subsystems against each other AND certifies the fused
    plan shape (at 100 TB this replaces five separate scans; the
    single-signal queries remain for single-purpose jobs)."""
    from pdf_ocr_spark.sources.pdfsource import read_pdf_profiles

    d = _pdf_fixture_dir(spark, sf)
    p = read_pdf_profiles(spark, d)
    return p.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_pages").cast("long").alias("n_pages"),
        "title",
        F.col("n_links").cast("long").alias("n_links"),
        F.col("n_attachments").cast("long").alias("n_attachments"),
        F.col("n_form_fields").cast("long").alias("n_form_fields"),
        F.col("n_outline").cast("long").alias("n_outline"),
    )


@_register(
    "pdf_link_graph",
    f"""
WITH pages AS (
  SELECT doc_id,
         greatest(1, ceil(len({sql_tokens('text')}) / 20.0))::INT AS n
  FROM documents
)
, exploded AS (SELECT doc_id, n, unnest(range(n)) AS i FROM pages)
, edges AS (
  SELECT doc_id, 'uri' AS kind, NULL::BIGINT AS to_page FROM exploded
  WHERE (doc_id + i) % 2 = 0
  UNION ALL
  SELECT doc_id, 'goto', ((i + 1) % n)::BIGINT FROM exploded
  WHERE (doc_id + i) % 3 = 0
  UNION ALL
  SELECT doc_id, 'gotor', ((doc_id + i) % 4)::BIGINT FROM exploded
  WHERE (doc_id + i) % 6 = 5
  UNION ALL
  SELECT doc_id, 'goto', (n - 1)::BIGINT FROM pages
  WHERE doc_id % 53 = 17 AND (doc_id // 53) % 2 = 1 AND doc_id % 5 != 1
)
SELECT doc_id,
       sum(CASE WHEN kind = 'uri' THEN 1 ELSE 0 END)::BIGINT AS n_outbound,
       sum(CASE WHEN kind = 'goto' THEN 1 ELSE 0 END)::BIGINT AS n_internal,
       sum(CASE WHEN kind = 'gotor' THEN 1 ELSE 0 END)::BIGINT AS n_remote,
       count(DISTINCT CASE WHEN kind = 'goto' THEN to_page END)::BIGINT
         AS n_target_pages
FROM edges GROUP BY doc_id
""",
)
def q_pdf_link_graph(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document link-graph rollup over the typed edge harvest —
    the navigational-complexity signal a document-understanding
    pipeline computes from pdf_links' output (outbound / internal /
    remote edge counts + distinct internal targets). One narrow Arrow
    harvest + one doc-keyed aggregation with map-side partials; at
    100 TB the shuffle is doc-cardinality bound and the edges never
    leave their file's partition before the partial agg. Wild
    evidence for the edge kinds: 77 real GoTo edges in the two
    third-party pdfTeX files (COVERAGE.md interop sweep)."""
    from pdf_ocr_spark.sources.pdfsource import read_pdf_links

    e = read_pdf_links(spark, _pdf_fixture_dir(spark, sf))
    return e.groupBy(F.col("doc_id").cast("long").alias("doc_id")).agg(
        F.sum((F.col("kind") == "uri").cast("long")).alias("n_outbound"),
        F.sum((F.col("kind") == "goto").cast("long")).alias("n_internal"),
        F.sum((F.col("kind") == "gotor").cast("long")).alias("n_remote"),
        F.countDistinct(
            F.when(F.col("kind") == "goto", F.col("to_page")).cast("long")
        ).alias("n_target_pages"),
    )


@_register(
    "stream_pdf_profiles",
    None,  # oracle assigned below: identical to pdf_document_profile's
)
def q_stream_pdf_profiles(spark: SparkSession, sf: str) -> DataFrame:
    """§2.5 streaming over REAL binary inputs, driver-visible: the
    fused metadata-tier profile computed THROUGH the streaming engine
    — binaryFile readStream over the PDF corpus, n micro-batches via
    maxFilesPerTrigger, foreachBatch running the same Arrow kernel as
    the batch scan with idempotent dynamic-partition-overwrite writes,
    availableNow drain, sink read-back. The oracle is
    pdf_document_profile's batch SQL: the profile is per-file, so no
    document straddles a micro-batch and the union of batch outputs is
    the batch answer (streaming/stream.py stream_pdf_profiles)."""
    import tempfile

    from pdf_ocr_spark.streaming.stream import stream_pdf_profiles

    d = _pdf_fixture_dir(spark, sf)
    workdir = tempfile.mkdtemp(prefix="stream_pdf_profiles_")
    p = _drain_stream_result(spark, stream_pdf_profiles(spark, d, workdir), workdir)
    return p.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_pages").cast("long").alias("n_pages"),
        "title",
        F.col("n_links").cast("long").alias("n_links"),
        F.col("n_attachments").cast("long").alias("n_attachments"),
        F.col("n_form_fields").cast("long").alias("n_form_fields"),
        F.col("n_outline").cast("long").alias("n_outline"),
    )


ORACLES["stream_pdf_profiles"] = ORACLES["pdf_document_profile"]


_CURATION_TXT = f"""
SELECT doc_id,
       greatest(1, ceil(len(toks)/20.0))::BIGINT AS n_pages,
       array_to_string(list_transform(range(greatest(1, ceil(len(toks)/20.0))::INT),
           i -> upper(array_to_string(toks[i*20+1 : i*20+20], ' '))), {_NL2}) AS txt
FROM (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents)
"""


@_register(
    "document_curation_profile",
    f"""
WITH ext AS ({_CURATION_TXT}),
scored AS (SELECT doc_id, n_pages, txt, """
    + ", ".join(f"{sql_stop_hits('txt', lang)} AS s_{lang}" for lang in LANG_PRIORITY)
    + f""" FROM ext)
SELECT doc_id, n_pages, txt,
       len({sql_tokens('txt')}) AS n_tokens,
       round(CASE WHEN len({sql_tokens('txt')}) = 0 THEN 0.0
             ELSE list_sum(list_transform({sql_tokens('txt')}, t -> len(t)))::DOUBLE
                  / len({sql_tokens('txt')}) END, 6) AS avg_token_len,
       round(coalesce(len(regexp_replace(txt, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
             / nullif(len(txt), 0), 0.0), 6) AS punct_ratio,
       round(coalesce(len(regexp_replace(txt, '[^0-9]', '', 'g'))::DOUBLE
             / nullif(len(txt), 0), 0.0), 6) AS digit_ratio,
       len(regexp_extract_all(txt, '"""
    + BPE_PATTERN.replace("'", "''")
    + f"""')) AS n_bpe_tokens,
       round(0.4 * least(len(txt)::DOUBLE / 200.0, 1.0)
           + 0.3 * (1.0 - coalesce(len(regexp_replace(txt, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / nullif(len(txt), 0), 0.0))
           + 0.3 * (CASE WHEN len({sql_tokens('txt')}) = 0 THEN 0.0
                    ELSE s_en::DOUBLE / len({sql_tokens('lower(txt)')}) END),
           6) AS quality,
       {_sql_lang_case('txt')} AS lang_pred,
       list_min(list_transform({sql_grams('txt')}, g -> md5(g))) AS fingerprint
FROM scored
""",
)
def q_document_curation_profile(spark: SparkSession, sf: str) -> DataFrame:
    """The FUSED curation-tier CONTENT pass — the pdf_document_profile
    playbook applied to text signals: ONE binaryFile scan + ONE Arrow
    extraction stage (parse + OCR fused, sources/pdfsource.py:901),
    then every content signal a training-data pipeline gates on —
    token stats, BPE token count, punctuation/digit ratios, quality
    score, language id, document fingerprint — as JVM column
    expressions over the extracted text. Zero joins, zero extra
    scans: at 100 TB the curation pipeline is ONE pass over the raw
    bytes, not six (the single-signal queries remain for single-
    purpose jobs; BENCH.md round-6 records the measured fused-vs-
    separate cost). The oracle recomputes the extraction text purely
    in SQL (the pdf_extract_text reconstruction) and then every
    signal formula on top, so one hash match cross-checks the whole
    extraction+curation composition."""
    from pdf_ocr_spark.operators.analysis import (
        avg_token_len_col,
        digit_ratio_col,
        lang_id_col,
        punct_ratio_col,
        quality_score_col,
        token_count_col,
        tokens_col,
        word_ngrams_from_tokens,
    )
    from pdf_ocr_spark.sources.pdfsource import extract_pdf_documents

    d = _pdf_fixture_dir(spark, sf)
    ext = extract_pdf_documents(spark, d).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_pages").cast("long").alias("n_pages"),
        "txt",
    )
    t = F.col("txt")
    # bind the token and gram arrays once: inline tokens expressions
    # inside higher-order lambdas are re-evaluated per element
    # (Catalyst does not CSE lambda bodies — measured 10-30x)
    toked = ext.withColumn("_toks", tokens_col(F.lower(t)))
    grams = toked.withColumn("_grams", word_ngrams_from_tokens(F.col("_toks"), 3))
    return grams.select(
        "doc_id",
        "n_pages",
        "txt",
        token_count_col(t).alias("n_tokens"),
        F.round(avg_token_len_col(t), 6).alias("avg_token_len"),
        F.round(punct_ratio_col(t), 6).alias("punct_ratio"),
        F.round(digit_ratio_col(t), 6).alias("digit_ratio"),
        F.size(F.regexp_extract_all(t, F.lit(BPE_PATTERN), F.lit(0))).alias(
            "n_bpe_tokens"
        ),
        quality_score_col(t).alias("quality"),
        lang_id_col(t).alias("lang_pred"),
        F.array_min(F.transform(F.col("_grams"), F.md5)).alias("fingerprint"),
    )


@_register(
    "link_graph_all",
    f"""
WITH l AS (SELECT doc_id,
  list_transform(range(1, 2 + doc_id % 4),
      j -> 'https://site-' || (doc_id % 7) || '.example.' || (['com','org','net','io','co.uk'][doc_id % 5 + 1]) || '/doc/' || doc_id || '-' || j)
  || ['https://ads.example.com/click/' || (doc_id % 13)]
  || list_transform(range(3), i -> 'https://tags.example.com/tag/' || ((doc_id*7 + i) % 100))
  || ['https://site-' || (doc_id % 7) || '.example.' || (['com','org','net','io','co.uk'][doc_id % 5 + 1]) || '/about',
      'https://site-' || (doc_id % 7) || '.example.' || (['com','org','net','io','co.uk'][doc_id % 5 + 1]) || '/privacy']
  AS links FROM documents),
hrefs AS (SELECT unnest(links) AS uri FROM l),
pages AS (SELECT doc_id,
          greatest(1, ceil(len({sql_tokens('text')}) / 20.0))::INT AS n
          FROM documents),
pexp AS (SELECT doc_id, unnest(range(n)) AS i FROM pages),
purls AS (SELECT 'https://example.org/doc/' || doc_id || '/p' || i AS uri
          FROM pexp WHERE (doc_id + i) % 2 = 0),
allu AS (
  SELECT regexp_extract(uri, '^https?://([^/]+)', 1) AS host, 'html' AS src
  FROM hrefs
  UNION ALL
  SELECT regexp_extract(uri, '^https?://([^/]+)', 1) AS host, 'pdf' AS src
  FROM purls)
SELECT host, count(*)::BIGINT AS n_links,
       sum(CASE WHEN src = 'html' THEN 1 ELSE 0 END)::BIGINT AS n_html,
       sum(CASE WHEN src = 'pdf' THEN 1 ELSE 0 END)::BIGINT AS n_pdf
FROM allu GROUP BY host
""",
)
def q_link_graph_all(spark: SparkSession, sf: str) -> DataFrame:
    """The unified outlink graph a crawl pipeline maintains: HTML
    <a href> harvest and PDF /Link-annotation harvest union into ONE
    host-keyed rollup (link counts per source). Plan shape: two
    narrow Arrow extraction stages -> union -> a single host-keyed
    aggregation with map-side partials — at 100 TB the only shuffle
    is host-cardinality-bound. Certifies that the two extractors
    compose on the same key space (host parse via JVM parse_url vs
    the oracle's independent regex)."""
    from pdf_ocr_spark.operators.webextract import extract_links
    from pdf_ocr_spark.sources.pdfsource import read_pdf_links

    html = extract_links(_html_corpus(spark, sf)).select(
        F.col("href").alias("uri"), F.lit("html").alias("src")
    )
    pdf = (
        read_pdf_links(spark, _pdf_fixture_dir(spark, sf))
        # the host rollup consumes outbound URIs; goto/gotor edges
        # have no host (intra-document / relative-file targets)
        .where(F.col("kind") == "uri")
        .select("uri", F.lit("pdf").alias("src"))
    )
    u = html.unionByName(pdf).withColumn(
        "host", F.parse_url(F.col("uri"), F.lit("HOST"))
    )
    return u.groupBy("host").agg(
        F.count("*").cast("long").alias("n_links"),
        F.sum((F.col("src") == "html").cast("long")).alias("n_html"),
        F.sum((F.col("src") == "pdf").cast("long")).alias("n_pdf"),
    )


#: passage-chunking window (tokens) and stride — stride < window
#: gives the standard overlapped context windows
CHUNK_WINDOW = 128
CHUNK_STRIDE = 96


@_register(
    "passage_chunks",
    f"""
WITH t AS (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents),
s AS (SELECT doc_id, toks, unnest(range(0, len(toks), {CHUNK_STRIDE})) AS start
      FROM t WHERE len(toks) > 0)
SELECT doc_id, (start // {CHUNK_STRIDE})::BIGINT AS chunk_id,
       start::BIGINT AS start_tok,
       len(toks[start + 1 : start + {CHUNK_WINDOW}])::BIGINT AS n_tokens,
       array_to_string(toks[start + 1 : start + {CHUNK_WINDOW}], ' ') AS chunk_text
FROM s
""",
)
def q_passage_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapped passage chunking — the context-window fan-out every
    pretraining / RAG-indexing pipeline runs before packing or
    embedding: token windows of CHUNK_WINDOW with CHUNK_STRIDE step
    (trailing partial window kept). Pure JVM array expressions
    (sequence → transform → explode) in the scan stage — a narrow
    1→n fan-out with NO shuffle at any corpus size; the token array is
    bound once via withColumn (the lambda-CSE pitfall). Spark's
    sequence() is descending on empty ranges, so zero-token docs are
    filtered before it evaluates."""
    from pdf_ocr_spark.operators.analysis import tokens_col

    d = load_table(spark, sf, "documents")
    toked = d.withColumn("_toks", tokens_col(F.col("text"))).where(
        F.size("_toks") > 0
    )
    starts = F.sequence(
        F.lit(0), F.size("_toks") - 1, F.lit(CHUNK_STRIDE)
    )
    chunks = toked.select(
        "doc_id",
        F.explode(
            F.transform(
                starts,
                lambda s: F.struct(
                    (s / CHUNK_STRIDE).cast("long").alias("chunk_id"),
                    s.cast("long").alias("start_tok"),
                    F.slice(F.col("_toks"), s + 1, CHUNK_WINDOW).alias("_w"),
                ),
            )
        ).alias("c"),
    )
    return chunks.select(
        "doc_id",
        F.col("c.chunk_id"),
        F.col("c.start_tok"),
        F.size("c._w").cast("long").alias("n_tokens"),
        F.array_join("c._w", " ").alias("chunk_text"),
    )


#: max documents kept per registrable domain by the diversity cap
DOMAIN_QUOTA = 20

#: salt fan-out for the two-phase per-domain top-Q (bounds the skew a
#: mega-domain can put on a single reducer)
DOMAIN_QUOTA_SALTS = 16


@_register(
    "domain_quota_sample",
    f"""
WITH q AS (SELECT doc_id,
        'example.' || (['com','org','net','io','co.uk'][doc_id % 5 + 1]) AS domain,
        {_sql_quality('text')} AS quality
      FROM documents),
r AS (SELECT domain, doc_id, quality,
        row_number() OVER (PARTITION BY domain
                           ORDER BY quality DESC NULLS LAST, doc_id) AS pick_rank
      FROM q)
SELECT domain, pick_rank::BIGINT AS pick_rank, doc_id, quality
FROM r WHERE pick_rank <= {DOMAIN_QUOTA}
""",
)
def q_domain_quota_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Per-domain diversity cap (the C4/RefinedWeb anti-domination
    rule): keep at most DOMAIN_QUOTA documents per registrable domain,
    best-quality first with doc_id tie-break. The domain comes from
    the page's own og:url through the registrable-domain heuristic
    (operators/weburl.py), not from trusted input columns. Skew story:
    a naive window sorts every row of a mega-domain on one reducer;
    this runs the SALTED two-phase top-Q — phase 1 keeps each (domain,
    salt) bucket's top Q (a globally top-Q row is top-Q in its bucket,
    so no survivor is lost), phase 2 ranks only the <= salts*Q
    survivors per domain. The oracle is the plain window rule — the
    two plans are value-identical because (quality, doc_id) is a total
    order."""
    from pdf_ocr_spark.operators.webextract import extract_metadata
    from pdf_ocr_spark.operators.weburl import registrable_domain_col

    d = load_table(spark, sf, "documents").select(
        "doc_id", quality_score_col(F.col("text")).alias("quality")
    )
    hosts = extract_metadata(_html_corpus(spark, sf)).select(
        "doc_id",
        registrable_domain_col(F.parse_url(F.col("og_url"), F.lit("HOST"))).alias(
            "domain"
        ),
    )
    j = d.join(hosts, "doc_id")
    order = [F.col("quality").desc_nulls_last(), F.col("doc_id")]
    w1 = Window.partitionBy("domain", "salt").orderBy(*order)
    pre = (
        j.withColumn(
            "salt", F.pmod(F.xxhash64("doc_id"), F.lit(DOMAIN_QUOTA_SALTS))
        )
        .withColumn("rn", F.row_number().over(w1))
        .where(F.col("rn") <= DOMAIN_QUOTA)
        .drop("salt", "rn")
    )
    w2 = Window.partitionBy("domain").orderBy(*order)
    return (
        pre.withColumn("pick_rank", F.row_number().over(w2).cast("long"))
        .where(F.col("pick_rank") <= DOMAIN_QUOTA)
        .select("domain", "pick_rank", "doc_id", "quality")
    )


def _sql_pagerank() -> str:
    """Fixed-point PageRank, unrolled as DuckDB CTEs — generated from
    the same constants as operators/pagerank.py. The edge weights are
    the planted-link multiplicities of sources/webgen.py (per doc: the
    own site gets the 1+doc_id%4 related links plus /about and
    /privacy; ads.example.com one; tags.example.com three), identical
    to what extract_links harvests from the rendered pages."""
    from pdf_ocr_spark.operators.pagerank import PAGERANK_ITERS, PAGERANK_SCALE

    s = PAGERANK_SCALE
    parts = [
        "prel AS (SELECT 'site-' || (doc_id % 7) || '.example.' || "
        "(['com','org','net','io','co.uk'][doc_id % 5 + 1]) AS src, doc_id "
        "FROM documents)",
        "predges AS (SELECT src, dst, sum(w)::BIGINT AS w FROM ("
        "SELECT src, src AS dst, (3 + doc_id % 4)::BIGINT AS w FROM prel "
        "UNION ALL SELECT src, 'ads.example.com', 1::BIGINT FROM prel "
        "UNION ALL SELECT src, 'tags.example.com', 3::BIGINT FROM prel"
        ") GROUP BY 1, 2)",
        "prnodes AS (SELECT DISTINCT src AS host FROM predges "
        "UNION SELECT DISTINCT dst FROM predges)",
        "prnn AS (SELECT count(*) AS n FROM prnodes)",
        "prout AS (SELECT src, sum(w)::BIGINT AS outw FROM predges GROUP BY 1)",
        f"prr0 AS (SELECT host, ({s} // nn.n)::BIGINT AS rank "
        "FROM prnodes CROSS JOIN prnn nn)",
    ]
    for t in range(1, PAGERANK_ITERS + 1):
        parts.append(
            f"prc{t} AS (SELECT e.dst AS host, "
            "sum((r.rank * e.w) // o.outw)::BIGINT AS contrib "
            f"FROM predges e JOIN prout o ON e.src = o.src "
            f"JOIN prr{t - 1} r ON r.host = e.src GROUP BY 1)"
        )
        parts.append(
            f"prd{t} AS (SELECT coalesce(sum(r.rank), 0)::BIGINT AS dangle "
            f"FROM prr{t - 1} r LEFT JOIN prout o ON r.host = o.src "
            "WHERE o.src IS NULL)"
        )
        parts.append(
            f"prr{t} AS (SELECT n.host, "
            f"((15 * ({s} // nn.n)) // 100 "
            f"+ (85 * (coalesce(c.contrib, 0) + d.dangle // nn.n)) // 100)::BIGINT "
            "AS rank "
            f"FROM prnodes n LEFT JOIN prc{t} c ON n.host = c.host "
            f"CROSS JOIN prd{t} d CROSS JOIN prnn nn)"
        )
    body = ",\n".join(parts)
    return f"WITH {body}\nSELECT host, rank FROM prr{PAGERANK_ITERS}"


@_register("pagerank_hosts", _sql_pagerank())
def q_pagerank_hosts(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-point PageRank over the harvested host graph — the
    crawl-prioritization / per-source quality-prior artifact
    (CommonCrawl's domain ranking). Src host comes from the page's
    canonical og:url (extract_metadata), dst hosts from the body's
    <a href> harvest (extract_links); edges aggregate to one weighted
    row per (src, dst). The iteration is pure integer fixed-point
    (operators/pagerank.py — truncating div pinned in the spec), so
    four rounds are value-hash certified by the unrolled oracle. Plan:
    two narrow Arrow harvests + one doc-keyed join build the edge
    table ONCE; each round is a single host-keyed shuffle plus a 1-row
    dangling-mass broadcast — at 100 TB rank state is host-bounded,
    never corpus-bounded."""
    from pdf_ocr_spark.operators.pagerank import pagerank_fixed
    from pdf_ocr_spark.operators.webextract import extract_links, extract_metadata

    html = _html_corpus(spark, sf)
    links = extract_links(html).select("doc_id", "href")
    meta = extract_metadata(html).select("doc_id", "og_url")
    edges = (
        links.join(meta, "doc_id")
        .select(
            F.parse_url(F.col("og_url"), F.lit("HOST")).alias("src"),
            F.parse_url(F.col("href"), F.lit("HOST")).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("w"))
    )
    return pagerank_fixed(edges)


def extract_metadata_hosts(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, host) from each page's own og:url — the honest
    extraction path shared by pagerank_hosts and the prior query."""
    from pdf_ocr_spark.operators.webextract import extract_metadata

    return extract_metadata(_html_corpus(spark, sf)).select(
        "doc_id", F.parse_url(F.col("og_url"), F.lit("HOST")).alias("host")
    )


def _sql_source_prior() -> str:
    """pagerank_hosts' unrolled CTEs re-used as a prior joined back to
    every document: host from the doc_id site formula, quality from
    the shared _sql_quality blend, combined score in ONE fixed-order
    float chain (cast, divide, multiply, round) so the hash is
    engine-portable."""
    from pdf_ocr_spark.operators.pagerank import PAGERANK_ITERS, PAGERANK_SCALE

    pr = _sql_pagerank()
    body = pr[len("WITH ") : pr.rindex("\nSELECT")]
    return f"""
WITH {body},
prq AS (SELECT doc_id,
        'site-' || (doc_id % 7) || '.example.' || (['com','org','net','io','co.uk'][doc_id % 5 + 1]) AS host,
        {_sql_quality('text')} AS quality
        FROM documents)
SELECT q.doc_id, q.host, q.quality, r.rank AS host_rank,
       round(q.quality * (r.rank::DOUBLE / {PAGERANK_SCALE}.0), 9) AS source_weighted_score
FROM prq q JOIN prr{PAGERANK_ITERS} r ON q.host = r.host
"""


@_register("source_prior_quality", _sql_source_prior())
def q_source_prior_quality(spark: SparkSession, sf: str) -> DataFrame:
    """The ranking artifact actually FEEDING curation — per-document
    admission scoring weighted by the source's PageRank prior (how
    CommonCrawl's domain ranks are consumed): train the host ranks
    once (host-bounded), then BROADCAST the rank table back onto the
    corpus keyed by the document's own og:url host; the combined score
    is one fixed-op-order float chain. At 100 TB the corpus-side plan
    is scan → broadcast join → projection: zero corpus shuffles."""
    from pdf_ocr_spark.operators.pagerank import PAGERANK_SCALE

    ranks = q_pagerank_hosts(spark, sf).withColumnRenamed("rank", "host_rank")
    d = load_table(spark, sf, "documents").select(
        "doc_id", quality_score_col(F.col("text")).alias("quality")
    )
    docs = d.join(extract_metadata_hosts(spark, sf), "doc_id")
    return docs.join(F.broadcast(ranks), "host").select(
        "doc_id",
        "host",
        "quality",
        "host_rank",
        F.round(
            F.col("quality")
            * (F.col("host_rank").cast("double") / F.lit(float(PAGERANK_SCALE))),
            9,
        ).alias("source_weighted_score"),
    )


@_register("pdf_extract_text_dct")
def q_pdf_extract_text_dct(spark: SparkSession, sf: str) -> DataFrame:
    """The same end-to-end pipeline over a **JPEG-scan** corpus: every
    raster is a baseline /DCTDecode XObject, decoded by the
    from-scratch JPEG codec (sources/jpegcodec.py) before OCR. Same
    exact oracle as pdf_extract_text — JPEG is lossy, but at the
    fixture quality the OCR binarization threshold is never crossed
    (asserted in test_jpeg), so the extracted text must still match
    the pure-SQL reconstruction byte-for-byte."""
    from pdf_ocr_spark.sources.pdfsource import extract_pdf_documents

    d = _pdf_fixture_dir(spark, sf, dct=True)
    return extract_pdf_documents(spark, d).select(
        F.col("doc_id").cast("long").alias("doc_id"), "txt"
    )


ORACLES["pdf_extract_text_dct"] = ORACLES["pdf_extract_text"]


@_register("pdf_extract_text_jpx")
def q_pdf_extract_text_jpx(spark: SparkSession, sf: str) -> DataFrame:
    """The same end-to-end pipeline over a **JPEG 2000** corpus: every
    raster is a JP2-wrapped /JPXDecode codestream, decoded by the
    from-scratch T.800 codec (sources/jpxcodec.py — EBCOT
    tier-1/tier-2) before OCR. Half the docs take the lossless 5/3
    reversible path, half the LOSSY 9/7 irreversible path with
    deadzone quantization (the wild scanner shape) — extraction must
    still match the pure-SQL reconstruction byte-for-byte because the
    near-lossless delta never crosses the OCR binarization threshold
    (pinned in tests/test_jpx.py), over the same ``doc_id % 4 = 1``
    subset the corpus covers (EBCOT in pure python earns a capped
    corpus, not a capped contract — the codec itself is exhaustively
    round-trip tested)."""
    from pdf_ocr_spark.sources.pdfsource import extract_pdf_documents

    d = _pdf_fixture_dir(spark, sf, jpx=True)
    return extract_pdf_documents(spark, d).select(
        F.col("doc_id").cast("long").alias("doc_id"), "txt"
    )


ORACLES["pdf_extract_text_jpx"] = (
    ORACLES["pdf_extract_text"].rstrip()
    + "\nWHERE (doc_id % 4) = 1\n"
)


# --- HTML boilerplate strip (web main-content extraction) ------------------
#
# The north rule's web-facing clause: "HTML boilerplate strip, DOM
# heuristics". sources/webgen.py synthesizes, per documents row, a full
# page wrapping the row's text in chrome (header/nav, in-content ad
# unit, aside tag cloud, footer, script/style; three rotating content
# layouts); operators/webextract.py recovers the planted content with a
# generic Readability/Boilerpipe-style heuristic. Every derivation is
# plain arithmetic over (doc_id, text, lang), so the oracles below
# rebuild the expected extraction in pure SQL — the extractor passes
# only if tag pruning + link-density + container scoring genuinely
# isolate the main content. Both stages are Arrow-batched map work:
# the whole family adds zero shuffles at any corpus size.

_WEB_TOKS = sql_tokens("text")
_WEB_PARA = "array_to_string(toks[(i-1)*15+1 : (i-1)*15+15], ' ')"
_WEB_NULLS = "CAST(NULL AS VARCHAR)"


def _html_corpus(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_ocr_spark.operators.dedup import _ensure_parallelism
    from pdf_ocr_spark.sources.webgen import generate_html_corpus

    # synthesis + extraction are python map stages; a single-split
    # parquet source would serialize them onto one core (no-op at scale)
    return generate_html_corpus(_ensure_parallelism(load_table(spark, sf, "documents")))


@_register(
    "html_main_text",
    f"""
SELECT doc_id,
       array_to_string(['Document ' || doc_id] ||
           list_transform(range(ceil(len(toks)/15.0)::INT),
               i -> array_to_string(toks[i*15+1 : i*15+15], ' ')),
           {_NL2}) AS main_text
FROM (SELECT doc_id, {_WEB_TOKS} AS toks FROM documents)
""",
)
def q_html_main_text(spark: SparkSession, sf: str) -> DataFrame:
    """Boilerplate-stripped page text (heading + paragraphs, blank-line
    joined), per-doc local — no reassembly shuffle."""
    from pdf_ocr_spark.operators.webextract import extract_main_text

    return extract_main_text(_html_corpus(spark, sf)).select(
        F.col("doc_id").cast("long").alias("doc_id"), "main_text"
    )


@_register(
    "html_main_spans",
    f"""
WITH t AS (SELECT doc_id, {_WEB_TOKS} AS toks FROM documents),
s AS (SELECT doc_id,
  [struct_pack(kind := 'heading', text := 'Document ' || doc_id, media_ref := {_WEB_NULLS})]
  || flatten(list_transform(range(1, ceil(len(toks)/15.0)::INT + 1),
       i -> CASE WHEN i % 3 = 0
            THEN [struct_pack(kind := 'text', text := {_WEB_PARA}, media_ref := {_WEB_NULLS}),
                  struct_pack(kind := 'image', text := {_WEB_NULLS}, media_ref := 'img://' || doc_id || '/' || i)]
            ELSE [struct_pack(kind := 'text', text := {_WEB_PARA}, media_ref := {_WEB_NULLS})]
            END)) AS spans FROM t)
SELECT doc_id, generate_subscripts(spans, 1) - 1 AS offset,
       unnest(spans, recursive := true)
FROM s
""",
)
def q_html_main_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Interleaved main-content span sequence (kind, text, media_ref,
    offset) — the input_hint span shape, recovered from raw HTML; the
    oracle checks span-sequence equality including in-flow images."""
    from pdf_ocr_spark.operators.webextract import extract_main_spans

    return extract_main_spans(_html_corpus(spark, sf)).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("offset").cast("long").alias("offset"),
        "kind",
        "text",
        "media_ref",
    )


@_register(
    "html_links",
    """
WITH l AS (SELECT doc_id,
  list_transform(range(1, 2 + doc_id % 4),
      j -> struct_pack(href := 'https://site-' || (doc_id % 7) || '.example.' || (['com','org','net','io','co.uk'][doc_id % 5 + 1]) || '/doc/' || doc_id || '-' || j,
                       anchor := 'Related ' || j, region := 'nav'))
  || [struct_pack(href := 'https://ads.example.com/click/' || (doc_id % 13), anchor := 'Buy now', region := 'content')]
  || list_transform(range(3),
      i -> struct_pack(href := 'https://tags.example.com/tag/' || ((doc_id*7 + i) % 100),
                       anchor := 'Tag ' || ((doc_id*7 + i) % 100), region := 'aside'))
  || [struct_pack(href := 'https://site-' || (doc_id % 7) || '.example.' || (['com','org','net','io','co.uk'][doc_id % 5 + 1]) || '/about', anchor := 'About', region := 'footer'),
      struct_pack(href := 'https://site-' || (doc_id % 7) || '.example.' || (['com','org','net','io','co.uk'][doc_id % 5 + 1]) || '/privacy', anchor := 'Privacy', region := 'footer')]
  AS links FROM documents)
SELECT doc_id, generate_subscripts(links, 1) - 1 AS offset,
       unnest(links, recursive := true)
FROM l
""",
)
def q_html_links(spark: SparkSession, sf: str) -> DataFrame:
    """Every <a href> in document order with anchor text and DOM region
    (nav/aside/footer/content) — the crawl-frontier / link-graph feed."""
    from pdf_ocr_spark.operators.webextract import extract_links

    return extract_links(_html_corpus(spark, sf)).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("offset").cast("long").alias("offset"),
        "href",
        "anchor",
        "region",
    )


@_register(
    "html_metadata",
    f"""
SELECT doc_id,
       'Document ' || doc_id AS title,
       lang AS html_lang,
       'Synthetic fixture page for document ' || doc_id || ' (' || len(toks) || ' tokens).' AS description,
       (7 + doc_id % 4)::BIGINT AS n_links,
       ceil(len(toks)/15.0)::BIGINT AS n_paragraphs,
       (ceil(len(toks)/15.0)::BIGINT // 3) AS n_images,
       'Document ' || doc_id AS og_title,
       CASE WHEN doc_id % 2 = 1 THEN 'article' ELSE 'website' END AS og_type,
       'https://site-' || (doc_id % 7) || '.example.' ||
           (['com','org','net','io','co.uk'][doc_id % 5 + 1]) ||
           '/doc/' || doc_id AS og_url,
       CASE WHEN doc_id % 3 != 2 THEN 'img://' || doc_id || '/og' END AS og_image,
       CASE WHEN doc_id % 2 = 1 THEN
           strftime(DATE '2020-01-01' + INTERVAL ((doc_id * 37) % 1500) DAY, '%Y-%m-%d')
           || 'T' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || ':00:00Z'
       END AS published_time
FROM (SELECT doc_id, lang, {_WEB_TOKS} AS toks FROM documents)
""",
)
def q_html_metadata(spark: SparkSession, sf: str) -> DataFrame:
    """<title>/lang/meta-description, content-shape counters (links,
    main paragraphs, in-flow images), and the OpenGraph/meta-property
    fields real crawls key on (og:title/type/url/image +
    article:published_time; absent tags -> null)."""
    from pdf_ocr_spark.operators.webextract import extract_metadata

    return extract_metadata(_html_corpus(spark, sf)).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "title",
        "html_lang",
        "description",
        F.col("n_links").cast("long").alias("n_links"),
        F.col("n_paragraphs").cast("long").alias("n_paragraphs"),
        F.col("n_images").cast("long").alias("n_images"),
        "og_title",
        "og_type",
        "og_url",
        "og_image",
        "published_time",
    )


# --- repetition filters + URL/link-graph ops -------------------------------

#: Shared CTE: the planted link list per document (mirrors
#: sources/webgen.py planted_links), used by the URL-family oracles.
_LINKS_CTE = """l AS (SELECT doc_id,
  list_transform(range(1, 2 + doc_id % 4),
      j -> 'https://site-' || (doc_id % 7) || '.example.' || (['com','org','net','io','co.uk'][doc_id % 5 + 1]) || '/doc/' || doc_id || '-' || j)
  || ['https://ads.example.com/click/' || (doc_id % 13)]
  || list_transform(range(3), i -> 'https://tags.example.com/tag/' || ((doc_id*7 + i) % 100))
  || ['https://site-' || (doc_id % 7) || '.example.' || (['com','org','net','io','co.uk'][doc_id % 5 + 1]) || '/about',
      'https://site-' || (doc_id % 7) || '.example.' || (['com','org','net','io','co.uk'][doc_id % 5 + 1]) || '/privacy'] AS links FROM documents),
exploded AS (SELECT doc_id, generate_subscripts(links, 1) - 1 AS "offset", unnest(links) AS href FROM l),
parsed AS (SELECT doc_id, "offset", href,
  regexp_extract(href, '^([a-z][a-z0-9+.-]*)://', 1) AS scheme,
  regexp_extract(href, '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1) AS host,
  regexp_extract(href, '^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1) AS path
  FROM exploded),
domained AS (SELECT *, string_split(host, '.') AS labels,
  CASE WHEN len(string_split(host, '.')) >= 3
            AND string_split(host, '.')[len(string_split(host, '.')) - 1]
                IN ('co','com','ac','gov','org','net','edu')
       THEN array_to_string(string_split(host, '.')[-3:], '.')
       WHEN len(string_split(host, '.')) >= 2
       THEN array_to_string(string_split(host, '.')[-2:], '.')
       ELSE host END AS domain
  FROM parsed)"""


@_register(
    "repetition_stats",
    f"""
WITH t AS (SELECT doc_id, text, {sql_tokens('text')} AS toks,
       list_filter(string_split(replace(text, ' merge ', chr(10)), chr(10)), x -> x != '') AS lines,
       list_filter(string_split(replace(text, ' batch ', {_NL2}), {_NL2}), x -> x != '') AS paras
  FROM documents),
base AS (SELECT doc_id, toks,
       CASE WHEN len(lines) = 0 THEN 0.0
            ELSE round((len(lines) - len(list_distinct(lines)) * 1.0) / len(lines), 6) END AS dup_line_frac,
       CASE WHEN list_sum(list_transform(paras, x -> len(x))) IS NULL
              OR list_sum(list_transform(paras, x -> len(x))) = 0 THEN 0.0
            ELSE round(1.0 - list_sum(list_transform(list_distinct(paras), x -> len(x))) * 1.0
                       / list_sum(list_transform(paras, x -> len(x))), 6) END AS dup_para_char_frac,
       len(array_to_string(toks, ' ')) AS total_chars
  FROM t),
grams AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS gram
  FROM t WHERE len(toks) >= 2),
counts AS (SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY doc_id, gram),
top AS (SELECT doc_id, gram, cnt FROM (
    SELECT doc_id, gram, cnt, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn
    FROM counts) WHERE rn = 1)
SELECT b.doc_id, b.dup_line_frac, b.dup_para_char_frac,
       t2.gram AS top_2gram,
       CASE WHEN t2.gram IS NULL OR b.total_chars = 0 THEN 0.0
            ELSE round(t2.cnt * len(t2.gram) * 1.0 / b.total_chars, 6) END AS top_2gram_char_frac
FROM base b LEFT JOIN top t2 USING (doc_id)
""",
)
def q_repetition_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, public paper):
    duplicate-line fraction, character-weighted duplicate-paragraph
    fraction, and the most-frequent word-2-gram's character share.
    Line/paragraph boundaries are synthesized from the flat testdata
    text the same way paragraph_explode does. The per-row fractions are
    pure JVM array expressions (zero shuffles); the top-2-gram is a
    distributed explode -> partial-agg count -> struct-min argmax (two
    doc_id-keyed shuffles, no driver work, no skew beyond doc length)."""
    from pdf_ocr_spark.operators.analysis import (
        dup_char_fraction_col,
        dup_fraction_col,
        tokens_col,
        word_bigrams_strict,
    )

    d = load_table(spark, sf, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("text").cast("string").alias("text"),
    )
    nl, nl2 = F.lit("\n"), F.lit("\n\n")
    base = d.select(
        "doc_id",
        F.filter(
            F.split(F.replace(F.col("text"), F.lit(" merge "), nl), r"\n"),
            lambda x: x != "",
        ).alias("lines"),
        F.filter(
            F.split(F.replace(F.col("text"), F.lit(" batch "), nl2), r"\n\n"),
            lambda x: x != "",
        ).alias("paras"),
        tokens_col(F.col("text")).alias("toks"),
    ).select(
        "doc_id",
        "toks",
        dup_fraction_col(F.col("lines")).alias("dup_line_frac"),
        dup_char_fraction_col(F.col("paras")).alias("dup_para_char_frac"),
        F.length(F.array_join(F.col("toks"), " ")).alias("total_chars"),
    )
    grams = base.select(
        "doc_id", F.explode(word_bigrams_strict(F.col("toks"))).alias("gram")
    )
    counts = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("cnt"))
    # argmax with deterministic tie-break (max count, then smallest
    # gram) as ONE aggregation: min over struct(-cnt, gram)
    top = counts.groupBy("doc_id").agg(
        F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("gram"))).alias("m")
    ).select("doc_id", F.col("m.gram").alias("top_2gram"), (-F.col("m.neg")).alias("cnt"))
    return base.join(top, "doc_id", "left").select(
        "doc_id",
        "dup_line_frac",
        "dup_para_char_frac",
        "top_2gram",
        F.when(
            F.col("top_2gram").isNull() | (F.col("total_chars") == 0), F.lit(0.0)
        )
        .otherwise(
            F.round(F.col("cnt") * F.length(F.col("top_2gram")) / F.col("total_chars"), 6)
        )
        .alias("top_2gram_char_frac"),
    )


@_register(
    "url_parse",
    f"""
WITH {_LINKS_CTE}
SELECT doc_id, "offset", href, scheme, host, domain, path FROM domained
""",
)
def q_url_parse(spark: SparkSession, sf: str) -> DataFrame:
    """Structural URL parse of every extracted link (scheme, host,
    registrable domain via the embedded second-level-registry
    heuristic, path) — JVM parse_url, zero Python. The oracle re-parses
    the same URLs with independent SQL regexes, so the two
    implementations check each other."""
    from pdf_ocr_spark.operators.webextract import extract_links
    from pdf_ocr_spark.operators.weburl import parse_links

    return parse_links(extract_links(_html_corpus(spark, sf))).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("offset").cast("long").alias("offset"),
        "href",
        "scheme",
        "host",
        "domain",
        "path",
    )


@_register(
    "domain_inlinks",
    f"""
WITH {_LINKS_CTE}
SELECT domain, count(*) AS n_links,
       count(DISTINCT doc_id) AS n_docs,
       count(DISTINCT host) AS n_hosts
FROM domained GROUP BY domain
""",
)
def q_domain_inlinks(spark: SparkSession, sf: str) -> DataFrame:
    """Link-graph rollup per registrable domain (in-link count,
    distinct linking docs, distinct hosts) — the crawl-prioritization /
    domain-reputation aggregation, one domain-keyed shuffle."""
    from pdf_ocr_spark.operators.webextract import extract_links
    from pdf_ocr_spark.operators.weburl import domain_inlinks, parse_links

    return domain_inlinks(parse_links(extract_links(_html_corpus(spark, sf)))).select(
        "domain",
        F.col("n_links").cast("long").alias("n_links"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_hosts").cast("long").alias("n_hosts"),
    )


def _warc_fixture_dir(spark: SparkSession, sf: str) -> str:
    """The WARC crawl-archive fixture for an sf dir: the synthetic HTML
    corpus sharded into per-record-gzip .warc.gz files."""
    from pdf_ocr_spark.sources.warcsource import write_warc_corpus
    from pdf_ocr_spark.sources.webgen import generate_html_corpus

    def write(docs: DataFrame, out: str) -> int:
        html = generate_html_corpus(docs)
        return write_warc_corpus(html, out).agg(F.sum("n_records")).first()[0]

    return _documents_fixture(spark, sf, "warc_{}", "warcgz", write, rows=lambda d: d)


@_register("warc_extract_text")
def q_warc_extract_text(spark: SparkSession, sf: str) -> DataFrame:
    """The crawl-archive pipeline end to end: binaryFile scan of
    per-record-gzip .warc.gz shards -> from-scratch WARC parse (record
    fan-out by Content-Length cut) -> boilerplate strip -> main text.
    Shares html_main_text's exact oracle: the WARC layer must be
    lossless for the planted content to survive byte-exactly."""
    from pdf_ocr_spark.operators.webextract import extract_main_text
    from pdf_ocr_spark.sources.warcsource import read_warc_records

    d = _warc_fixture_dir(spark, sf)
    recs = read_warc_records(spark, d).where(F.col("parse_error").isNull()).select(
        F.regexp_extract("record_id", r"^doc-(\d+)$", 1).cast("long").alias("doc_id"),
        F.col("payload").alias("html"),
    )
    return extract_main_text(recs).select("doc_id", "main_text")


# the WARC path plants the same content as the HTML corpus, so the
# boilerplate-strip oracle carries over verbatim
ORACLES["warc_extract_text"] = ORACLES["html_main_text"]


@_register(
    "robots_decisions",
    """
WITH l AS (SELECT doc_id, doc_id % 7 AS k,
  list_transform(range(1, 2 + doc_id % 4),
      j -> struct_pack(href := 'https://site-' || (doc_id % 7) || '.example.' || (['com','org','net','io','co.uk'][doc_id % 5 + 1]) || '/doc/' || doc_id || '-' || j,
                       kind := 'nav'))
  || [struct_pack(href := 'https://ads.example.com/click/' || (doc_id % 13), kind := 'other')]
  || list_transform(range(3), i -> struct_pack(href := 'https://tags.example.com/tag/' || ((doc_id*7 + i) % 100), kind := 'other'))
  || [struct_pack(href := 'https://site-' || (doc_id % 7) || '.example.' || (['com','org','net','io','co.uk'][doc_id % 5 + 1]) || '/about', kind := 'about'),
      struct_pack(href := 'https://site-' || (doc_id % 7) || '.example.' || (['com','org','net','io','co.uk'][doc_id % 5 + 1]) || '/privacy', kind := 'privacy')]
  AS links FROM documents),
e AS (SELECT doc_id, k, generate_subscripts(links, 1) - 1 AS "offset",
             unnest(links, recursive := true) FROM l)
SELECT doc_id, "offset", href,
  CASE WHEN kind = 'nav' AND k % 3 = 0 THEN starts_with(doc_id::VARCHAR, k::VARCHAR)
       WHEN kind = 'privacy' AND k % 3 = 1 THEN false
       ELSE true END AS allowed,
  CASE WHEN kind = 'nav' AND k % 3 = 0 THEN
            CASE WHEN starts_with(doc_id::VARCHAR, k::VARCHAR)
                 THEN 'allow /doc/' || k ELSE 'disallow /doc/' END
       WHEN kind = 'privacy' AND k % 3 = 1 THEN 'disallow /privacy'
       ELSE NULL END AS matched_rule
FROM e
""",
)
def q_robots_decisions(spark: SparkSession, sf: str) -> DataFrame:
    """RFC 9309 crawl-permission verdict for every extracted link: the
    from-scratch robots.txt evaluator (group selection past a decoy
    agent, longest-match precedence with allow-wins ties, wildcard
    translation) over per-site planted robots files. The oracle
    re-derives every decision arithmetically — e.g. the Allow
    ``/doc/{k}`` vs Disallow ``/doc/`` precedence reduces to a
    starts_with on the doc id — so one wrong precedence or group pick
    fails the hash."""
    from pdf_ocr_spark.operators.robots import robots_decisions
    from pdf_ocr_spark.operators.webextract import extract_links
    from pdf_ocr_spark.operators.weburl import parse_links

    rules = _robots_rules_df(spark, sf)
    links = parse_links(extract_links(_html_corpus(spark, sf)))
    return robots_decisions(links, rules).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("offset").cast("long").alias("offset"),
        "href",
        "allowed",
        "matched_rule",
    )


def _robots_rules_df(spark: SparkSession, sf: str) -> DataFrame:
    """Parsed robots rules for every fixture site host — one
    robots.txt per distinct (doc_id % 7, doc_id % 5) residue pair.
    Shared by robots_decisions and recrawl_frontier."""
    from pyspark.sql.types import StringType, StructField, StructType

    from pdf_ocr_spark.operators.robots import robots_rules_table

    hosts = load_table(spark, sf, "documents").select(
        (F.col("doc_id") % 7).cast("int").alias("k"),
        (F.col("doc_id") % 5).cast("int").alias("t"),
    ).distinct()

    def gen_robots(batches):
        import pandas as pd

        from pdf_ocr_spark.sources.webgen import SITE_TLDS, robots_for_site

        for pdf in batches:
            rows = []
            for k, t in zip(pdf["k"], pdf["t"]):
                host = f"site-{int(k)}.example.{SITE_TLDS[int(t)]}"
                # host passed so Sitemap: discovery lines are present —
                # the rule evaluator must ignore them (oracle unchanged)
                rows.append((host, robots_for_site(int(k), host)))
            yield pd.DataFrame(rows, columns=["host", "robots_txt"])

    robots = hosts.mapInPandas(
        gen_robots,
        StructType(
            [
                StructField("host", StringType(), False),
                StructField("robots_txt", StringType(), False),
            ]
        ),
    )
    return robots_rules_table(robots)


@_register(
    "sitemap_entries",
    """
SELECT 'site-' || (doc_id % 7) || '.example.' || (['com','org','net','io','co.uk'][doc_id % 5 + 1]) AS host,
       'https://site-' || (doc_id % 7) || '.example.' || (['com','org','net','io','co.uk'][doc_id % 5 + 1]) || '/doc/' || doc_id AS loc,
       '2026-' || lpad((1 + doc_id % 12)::VARCHAR, 2, '0') || '-' || lpad((1 + doc_id % 28)::VARCHAR, 2, '0') AS lastmod,
       (doc_id % 10 + 1) / 10.0 AS priority
FROM documents
""",
)
def q_sitemap_entries(spark: SparkSession, sf: str) -> DataFrame:
    """The crawl-discovery companion to robots_decisions: per-site
    sitemaps.org XML is synthesized from each host's document list
    (grouped-map), then parsed back by the from-scratch namespace-aware
    parser into the crawl frontier (loc, lastmod, priority). The oracle
    re-derives every entry arithmetically, so the XML round trip must
    be lossless."""
    return _sitemap_frontier(spark, sf)


def _sitemap_frontier(spark: SparkSession, sf: str) -> DataFrame:
    """Parsed sitemap entries (host, loc, lastmod, priority) for every
    fixture site — shared by sitemap_entries and recrawl_frontier."""
    import pandas as pd

    from pdf_ocr_spark.operators.sitemap import sitemap_entries
    from pdf_ocr_spark.sources.webgen import SITE_TLDS, sitemap_for_site

    docs = load_table(spark, sf, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(
            F.lit("site-"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example."),
            F.element_at(
                F.array(*[F.lit(t) for t in SITE_TLDS]),
                ((F.col("doc_id") % 5) + 1).cast("int"),
            ),
        ).alias("host"),
    )

    def build(key, pdf):  # no hints: lets applyInPandas infer the grouped-map eval type
        host = str(key[0])
        xml = sitemap_for_site(host, [int(d) for d in pdf["doc_id"]])
        return pd.DataFrame({"host": [host], "sitemap_xml": [xml]})

    sitemaps = docs.groupBy("host").applyInPandas(
        build, "host STRING, sitemap_xml STRING"
    )
    return sitemap_entries(sitemaps).where(F.col("parse_error").isNull()).select(
        "host", "loc", "lastmod", "priority"
    )


@_register(
    "sitemap_discovery",
    """
WITH hosts AS (
    SELECT DISTINCT doc_id % 7 AS k,
           'site-' || (doc_id % 7) || '.example.' || (['com','org','net','io','co.uk'][doc_id % 5 + 1]) AS host
    FROM documents
)
SELECT host, CAST(0 AS INT) AS sm_pos,
       'https://' || host || '/sitemap.xml' AS sitemap_url
FROM hosts
UNION ALL
SELECT host, CAST(1 AS INT), 'https://' || host || '/sitemap-news.xml'
FROM hosts WHERE k % 2 = 0
""",
)
def q_sitemap_discovery(spark: SparkSession, sf: str) -> DataFrame:
    """How a crawler finds sitemaps in the first place: the global
    ``Sitemap:`` lines of each site's robots.txt (sitemaps.org robots
    extension), parsed by the real discovery scanner — order-preserving
    and independent of User-agent groups. Host-cardinality work only."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    hosts = load_table(spark, sf, "documents").select(
        (F.col("doc_id") % 7).cast("int").alias("k"),
        (F.col("doc_id") % 5).cast("int").alias("t"),
    ).distinct()

    def gen(batches):
        import pandas as pd

        from pdf_ocr_spark.operators.robots import sitemap_urls
        from pdf_ocr_spark.sources.webgen import SITE_TLDS, robots_for_site

        for pdf in batches:
            rows = []
            for k, t in zip(pdf["k"], pdf["t"]):
                host = f"site-{int(k)}.example.{SITE_TLDS[int(t)]}"
                for pos, url in enumerate(sitemap_urls(robots_for_site(int(k), host))):
                    rows.append((host, pos, url))
            yield pd.DataFrame(rows, columns=["host", "sm_pos", "sitemap_url"])

    return hosts.mapInPandas(
        gen,
        StructType(
            [
                StructField("host", StringType(), False),
                StructField("sm_pos", IntegerType(), False),
                StructField("sitemap_url", StringType(), False),
            ]
        ),
    )


@_register(
    "crawl_schedule",
    """
WITH sm AS (
    SELECT doc_id,
           'site-' || (doc_id % 7) || '.example.' || (['com','org','net','io','co.uk'][doc_id % 5 + 1]) AS host,
           'https://site-' || (doc_id % 7) || '.example.' || (['com','org','net','io','co.uk'][doc_id % 5 + 1]) || '/doc/' || doc_id AS loc,
           '2026-' || lpad((1 + doc_id % 12)::VARCHAR, 2, '0') || '-' || lpad((1 + doc_id % 28)::VARCHAR, 2, '0') AS lastmod,
           (doc_id % 10 + 1) / 10.0 AS priority
    FROM documents
),
fl AS (
    SELECT doc_id,
           list_max(list_transform(range(0, 1 + doc_id % 3), j ->
               '2026-' || lpad((1 + (doc_id + 2*j) % 12)::VARCHAR, 2, '0')
                       || '-' || lpad((1 + (3*doc_id + 7*j) % 28)::VARCHAR, 2, '0')))
           AS last_fetch
    FROM documents WHERE doc_id % 4 != 3
),
frontier AS (
    SELECT doc_id, host, loc, priority
    FROM sm LEFT JOIN fl USING (doc_id)
    WHERE (CASE WHEN (doc_id % 7) % 3 = 0
                THEN starts_with(doc_id::VARCHAR, (doc_id % 7)::VARCHAR)
                ELSE true END)
      AND (fl.last_fetch IS NULL OR lastmod > fl.last_fetch)
)
SELECT host, loc, fetch_rank,
       CAST((doc_id % 7) + 1 AS DOUBLE) AS delay_s,
       CAST((fetch_rank - 1) * ((doc_id % 7) + 1) AS DOUBLE) AS fetch_at_s
FROM (
    SELECT doc_id, host, loc,
           CAST(row_number() OVER (PARTITION BY host ORDER BY priority DESC, loc) AS INT) AS fetch_rank
    FROM frontier
)
""",
)
def q_crawl_schedule(spark: SparkSession, sf: str) -> DataFrame:
    """Politeness scheduling — the step after the frontier: per host,
    due URLs are ranked (priority desc, loc tie-break) and assigned a
    fetch offset of ``(rank-1) * Crawl-delay``, with the delay parsed
    from each site's robots.txt by the REAL extension parser
    (operators.robots.crawl_delay, same group selection as the RFC
    evaluator). One host-keyed window shuffle over the frontier; the
    per-host delay table is broadcast. The oracle re-derives the
    schedule arithmetically (planted delay = site index + 1)."""
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    frontier = q_recrawl_frontier(spark, sf)

    hosts = load_table(spark, sf, "documents").select(
        (F.col("doc_id") % 7).cast("int").alias("k"),
        (F.col("doc_id") % 5).cast("int").alias("t"),
    ).distinct()

    def gen_delays(batches):
        import pandas as pd

        from pdf_ocr_spark.operators.robots import crawl_delay
        from pdf_ocr_spark.sources.webgen import SITE_TLDS, robots_for_site

        for pdf in batches:
            yield pd.DataFrame(
                [
                    (
                        f"site-{int(k)}.example.{SITE_TLDS[int(t)]}",
                        crawl_delay(robots_for_site(int(k))) or 1.0,
                    )
                    for k, t in zip(pdf["k"], pdf["t"])
                ],
                columns=["host", "delay_s"],
            )

    delays = hosts.mapInPandas(
        gen_delays,
        StructType(
            [
                StructField("host", StringType(), False),
                StructField("delay_s", DoubleType(), False),
            ]
        ),
    )
    w = Window.partitionBy("host").orderBy(F.col("priority").desc(), "loc")
    return (
        frontier.join(F.broadcast(delays), "host")
        .withColumn("fetch_rank", F.row_number().over(w).cast("int"))
        .select(
            "host",
            "loc",
            "fetch_rank",
            "delay_s",
            ((F.col("fetch_rank") - 1) * F.col("delay_s")).cast("double").alias("fetch_at_s"),
        )
    )


@_register(
    "recrawl_frontier",
    """
WITH sm AS (
    SELECT doc_id,
           'site-' || (doc_id % 7) || '.example.' || (['com','org','net','io','co.uk'][doc_id % 5 + 1]) AS host,
           'https://site-' || (doc_id % 7) || '.example.' || (['com','org','net','io','co.uk'][doc_id % 5 + 1]) || '/doc/' || doc_id AS loc,
           '2026-' || lpad((1 + doc_id % 12)::VARCHAR, 2, '0') || '-' || lpad((1 + doc_id % 28)::VARCHAR, 2, '0') AS lastmod,
           (doc_id % 10 + 1) / 10.0 AS priority
    FROM documents
),
fl AS (
    SELECT doc_id,
           list_max(list_transform(range(0, 1 + doc_id % 3), j ->
               '2026-' || lpad((1 + (doc_id + 2*j) % 12)::VARCHAR, 2, '0')
                       || '-' || lpad((1 + (3*doc_id + 7*j) % 28)::VARCHAR, 2, '0')))
           AS last_fetch
    FROM documents WHERE doc_id % 4 != 3
)
SELECT host, loc, lastmod, fl.last_fetch, priority
FROM sm LEFT JOIN fl USING (doc_id)
WHERE (CASE WHEN (doc_id % 7) % 3 = 0
            THEN starts_with(doc_id::VARCHAR, (doc_id % 7)::VARCHAR)
            ELSE true END)
  AND (fl.last_fetch IS NULL OR lastmod > fl.last_fetch)
""",
)
def q_recrawl_frontier(spark: SparkSession, sf: str) -> DataFrame:
    """The fetch-next frontier a crawler actually schedules — three
    round-3 operators composed into one pipeline:

    1. discovery: sitemaps.org XML parsed into (loc, lastmod, priority)
       (:func:`_sitemap_frontier` — grouped-map synthesis + the
       namespace-aware parser);
    2. permissions: the RFC 9309 evaluator's verdict on every frontier
       URL (rules broadcast, struct-max longest-match);
    3. freshness: as-of semantics against a fetch log — the latest
       fetch per URL (loc-keyed max), refetch due iff never fetched or
       ``lastmod`` is newer (ISO date strings compare correctly).

    Scale shape: rules are broadcast (~1 row/host); the fetch-log max
    and the frontier joins are all loc-keyed, so AQE co-partitions
    them; nothing touches the driver. The oracle re-derives discovery,
    permission, and freshness arithmetically in one SQL statement."""
    from pdf_ocr_spark.operators.robots import robots_decisions
    from pdf_ocr_spark.operators.weburl import parse_links

    sm = _sitemap_frontier(spark, sf)

    # fetch log: 1 + doc_id % 3 attempts for 3 of every 4 docs, dates
    # arithmetic over (doc_id, attempt) — pure JVM expressions
    d = F.col("doc_id")
    site = F.concat(
        F.lit("https://site-"),
        (d % 7).cast("string"),
        F.lit(".example."),
        F.element_at(
            F.array(*[F.lit(t) for t in ("com", "org", "net", "io", "co.uk")]),
            ((d % 5) + 1).cast("int"),
        ),
    )
    j = F.col("j")
    fetched_at = F.concat(
        F.lit("2026-"),
        F.lpad(((d + 2 * j) % 12 + 1).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad(((d * 3 + 7 * j) % 28 + 1).cast("string"), 2, "0"),
    )
    fetch_log = (
        load_table(spark, sf, "documents")
        .where(d % 4 != 3)
        .select(
            F.concat(site, F.lit("/doc/"), d.cast("string")).alias("loc"),
            F.explode(F.sequence(F.lit(0).cast("long"), d % 3)).alias("j"),
            d.alias("doc_id"),
        )
        .select("loc", fetched_at.alias("fetched_at"))
        .groupBy("loc")
        .agg(F.max("fetched_at").alias("last_fetch"))
    )

    # robots verdict on the frontier URLs themselves (loc is unique, so
    # (doc_id=0, offset=0) grouping keys are inert)
    links = sm.select(
        F.lit(0).alias("doc_id"),
        F.lit(0).alias("offset"),
        F.col("loc").alias("href"),
        F.lit("").alias("anchor"),
        F.lit("sitemap").alias("region"),
    )
    verdicts = robots_decisions(parse_links(links), _robots_rules_df(spark, sf)).select(
        F.col("href").alias("loc"), "allowed"
    )

    return (
        sm.join(verdicts, "loc")
        .join(fetch_log, "loc", "left")
        .where(
            F.col("allowed")
            & (F.col("last_fetch").isNull() | (F.col("lastmod") > F.col("last_fetch")))
        )
        .select("host", "loc", "lastmod", "last_fetch", "priority")
    )


@_register(
    "corpus_filter_verdict",
    f"""
WITH scored AS (
  SELECT doc_id,
       round(0.4 * least(len(text)::DOUBLE / 200.0, 1.0)
           + 0.3 * (1.0 - coalesce(len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / nullif(len(text), 0), 0.0))
           + 0.3 * (CASE WHEN len({sql_tokens('text')}) = 0 THEN 0.0
                    ELSE {sql_stop_hits('text', 'en')}::DOUBLE / len({sql_tokens('lower(text)')}) END),
           6) AS quality,
       (SELECT CASE WHEN len(ls) = 0 THEN 0.0
               ELSE round((len(ls) - len(list_distinct(ls)) * 1.0) / len(ls), 6) END
        FROM (SELECT list_filter(string_split(replace(text, ' merge ', chr(10)), chr(10)), x -> x != '') AS ls)
       ) AS dup_line_frac,
       min(doc_id) OVER (PARTITION BY md5(regexp_replace(lower({sql_strip('text')}), '\\s+', ' ', 'g'))) AS keeper_id
  FROM documents)
SELECT doc_id, quality, dup_line_frac, keeper_id,
       CASE WHEN doc_id != keeper_id THEN 'exact_dup'
            WHEN quality < 0.5 THEN 'low_quality'
            WHEN dup_line_frac > 0.3 THEN 'repetitive'
            ELSE 'keep' END AS verdict
FROM scored
""",
)
def q_corpus_filter_verdict(spark: SparkSession, sf: str) -> DataFrame:
    """The composed training-data admission filter: one verdict row per
    document — exact-dup demotion (only the min-id keeper of each
    normalized-text hash group survives), then a quality floor, then a
    repetition cap, in that priority order. One shuffle total (the
    window over the text-hash partition); quality and repetition are
    pure JVM expressions, so at 100 TB this is scan -> window -> scan.
    Thresholds compare the round(6) values both engines hash-match on,
    so the verdict boundaries cannot drift between Spark and the
    oracle."""
    from pdf_ocr_spark.operators.curation import filter_verdicts

    return filter_verdicts(load_table(spark, sf, "documents"))


def _audio_oracle_sql() -> str:
    """The audio_features oracle: regenerate the modular-sawtooth sample
    sequence with generate_series and aggregate it — pure arithmetic,
    never touching WAV bytes, so a match certifies writer + chunk
    walker + feature kernel together. Constants come from audiogen (the
    derivation contract) so the two sides cannot drift."""
    from pdf_ocr_spark.sources.audiogen import CORRUPT_RESIDUE

    return f"""
WITH params AS (
    SELECT doc_id,
           doc_id % 50 = {CORRUPT_RESIDUE} AS corrupt,
           CASE WHEN doc_id % 3 = 0 THEN 129 + (doc_id % 7) * 18
                ELSE 2001 + (doc_id % 7) * 500 END AS m,
           8000 + (doc_id % 4) * 2000 AS rate,
           1600 + (doc_id % 5) * 400 AS n,
           7 + doc_id % 11 AS a,
           doc_id % 97 AS b
    FROM documents
),
samp AS (
    -- DuckDB generate_series takes no lateral column args: cross-join a
    -- fixed 0..max(n)-1 series and keep i < n (max n = 1600 + 4*400)
    SELECT p.doc_id, g.i,
           ((g.i * p.a + p.b) % p.m) - (p.m - 1) // 2 AS s
    FROM params p, generate_series(0, 3199) AS g(i)
    WHERE NOT p.corrupt AND g.i < p.n
),
lagged AS (
    SELECT doc_id, i, s,
           lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
    FROM samp
),
feats AS (
    SELECT doc_id,
           CAST(max(abs(s)) AS INT) AS peak,
           round(sqrt(avg(CAST(s * s AS DOUBLE))), 6) AS rms,
           sum(s) AS sum_amp,
           CAST(sum(CASE WHEN prev IS NOT NULL AND ((prev < 0) != (s < 0))
                    THEN 1 ELSE 0 END) AS INT) AS zero_crossings
    FROM lagged GROUP BY doc_id
)
SELECT 'wav://' || CAST(p.doc_id AS VARCHAR) AS media_ref,
       CASE WHEN p.corrupt THEN 'error: not a RIFF/WAVE payload'
            ELSE 'ok' END AS valid,
       CAST(CASE WHEN p.corrupt THEN NULL ELSE p.rate END AS INT) AS sample_rate,
       CAST(CASE WHEN p.corrupt THEN NULL ELSE p.n END AS INT) AS n_samples,
       CASE WHEN p.corrupt THEN NULL
            ELSE round(CAST(p.n AS DOUBLE) / p.rate, 6) END AS duration_s,
       f.peak, f.rms, f.sum_amp, f.zero_crossings
FROM params p LEFT JOIN feats f USING (doc_id)
"""


def _video_oracle_sql() -> str:
    """The video_frame_sample oracle: regenerate the sampled frame set
    and half-plane lumas arithmetically — flat 8x8-aligned blocks
    survive q=100 baseline JPEG bit-exactly (pinned by
    tests/test_video.py), so the SQL never touches container or JPEG
    bytes yet the compare is exact."""
    from pdf_ocr_spark.sources.videogen import CORRUPT_RESIDUE

    return f"""
WITH params AS (
    SELECT doc_id,
           doc_id % 47 = {CORRUPT_RESIDUE} AS corrupt,
           5 + doc_id % 6 AS n_frames,
           48 + (doc_id % 5) * 16 AS w,
           32 + (doc_id % 4) * 8 AS h
    FROM documents
),
frames AS (
    SELECT p.doc_id, p.w, p.h, g.f,
           (p.doc_id * 7 + g.f * 31) % 256 AS left_luma,
           (p.doc_id * 11 + g.f * 13) % 256 AS right_luma
    FROM params p, generate_series(0, 9) AS g(f)
    WHERE NOT p.corrupt AND g.f < p.n_frames AND g.f % 2 = 0
)
SELECT 'avi://' || CAST(doc_id AS VARCHAR) AS media_ref,
       CAST(f AS INT) AS frame_no,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(left_luma AS INT) AS left_luma,
       CAST(right_luma AS INT) AS right_luma,
       CAST(h * (w // 2) * (left_luma + right_luma) AS BIGINT) AS sum_luma
FROM frames
UNION ALL
SELECT 'avi://' || CAST(doc_id AS VARCHAR), -1, NULL, NULL, NULL, NULL, NULL
FROM params WHERE corrupt
"""


@_register("video_frame_sample", _video_oracle_sql())
def q_video_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """From-scratch MJPEG/AVI video over the documents table: one AVI
    per row (5-10 flat-half-plane JPEG frames, planted corrupt
    payloads), container-walked + JPEG-decoded + every-2nd-frame
    sampled by the default :func:`video_frame_sample` path, then
    per-frame pixel stats — a narrow Arrow chain, 0 shuffles. Oracle:
    :func:`_video_oracle_sql`."""
    from pdf_ocr_spark.operators.multimodal import frame_features, video_frame_sample
    from pdf_ocr_spark.sources.videogen import avi_corpus

    frames = video_frame_sample(
        avi_corpus(load_table(spark, sf, "documents")), every_n=2
    )
    return frame_features(frames)


_DEDUP_SUBSTRING_SQL = f"""
WITH corpus AS (
    SELECT doc_id AS id, {sql_tokens('text')} AS toks FROM documents
    UNION ALL
    SELECT doc_id + 100000, {sql_tokens('text')} FROM documents WHERE doc_id % 10 = 0
),
w AS (
    -- 4000-start cap: generate_series needs a constant bound (no
    -- lateral/subquery args in DuckDB), so window starts are capped at
    -- 4000. The Spark side asserts every document tokenizes to <= 4015
    -- tokens (assert_true in q_dedup_substring), so a longer fixture
    -- document fails loudly instead of silently diverging from this
    -- oracle.
    SELECT id, array_to_string(toks[i+1:i+15], ' ') AS window_text
    FROM corpus, generate_series(0, 4000) AS g(i)
    WHERE i + 15 <= len(toks)
)
SELECT window_text, count(DISTINCT id) AS n_docs, count(*) AS n_occurrences
FROM w GROUP BY window_text HAVING count(DISTINCT id) >= 2
"""


def _dedup_substring_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """Shared fixture corpus for the dedup_substring pair: documents
    plus planted full copies of every 10th document, guarded against
    outgrowing the oracle's 4000-start cap (assert_true returns NULL on
    success, so the filter keeps every row while forcing evaluation —
    a dropped column would be pruned)."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    dup = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(dup)
    return corpus.where(
        F.assert_true(
            F.size(F.split(F.col("text"), r"\s+")) <= F.lit(4015),
            F.lit("document exceeds dedup_substring oracle's 4000-start cap"),
        ).isNull()
    )


@_register("dedup_substring", _DEDUP_SUBSTRING_SQL)
def q_dedup_substring(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-substring dedup (Lee et al.'s training-corpus form):
    identical 15-token runs recurring across documents, over the
    corpus plus planted full copies of every 10th document (the
    established dedup fixture pattern — guarantees a discriminating,
    non-empty result at every scale factor; ~2.5k duplicated windows
    at sf0.001). One tokenize+slide stage and one window-keyed
    aggregation; see :func:`substring_dup_windows` for the 100 TB
    hashing note."""
    from pdf_ocr_spark.operators.dedup import substring_dup_windows

    out = substring_dup_windows(_dedup_substring_corpus(spark, sf), window=15)
    return out.select(
        "window_text",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_occurrences").cast("long").alias("n_occurrences"),
    )


@_register("dedup_substring_hashed", _DEDUP_SUBSTRING_SQL)
def q_dedup_substring_hashed(spark: SparkSession, sf: str) -> DataFrame:
    """The scale form of dedup_substring: xxhash64 the 15-token windows
    at the map side so the heavy exchange carries 8-byte keys, then
    rehydrate text for duplicated-hash groups only and recount exactly
    (collision-proof — see substring_dup_windows_hashed). Shares the
    exact oracle with dedup_substring: same corpus, byte-identical
    output. scripts/shuffle_bytes_bench.py measures the shuffle-byte
    reduction recorded in BENCH.md."""
    from pdf_ocr_spark.operators.dedup import substring_dup_windows_hashed

    out = substring_dup_windows_hashed(_dedup_substring_corpus(spark, sf), window=15)
    return out.select(
        "window_text",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_occurrences").cast("long").alias("n_occurrences"),
    )


_DEDUP_SUBSTRING_REWRITE_SQL = f"""
WITH corpus AS (
    SELECT doc_id AS id, {sql_tokens('text')} AS toks FROM documents
    UNION ALL
    SELECT doc_id + 100000, {sql_tokens('text')} FROM documents WHERE doc_id % 10 = 0
),
w AS (
    SELECT id, i AS start, array_to_string(toks[i+1:i+15], ' ') AS wt
    FROM corpus, generate_series(0, 4000) AS g(i)
    WHERE i + 15 <= len(toks)
),
dup AS (
    SELECT wt, min(struct_pack(i := id, s := start)) AS k
    FROM w GROUP BY wt HAVING count(DISTINCT id) >= 2
),
nk AS (
    SELECT o.id, o.start FROM w o JOIN dup d ON o.wt = d.wt
    WHERE NOT (o.id = d.k.i AND o.start = d.k.s)
),
pos AS (SELECT DISTINCT id, start + u AS p
        FROM nk, generate_series(0, 14) AS gg(u)),
rem AS (SELECT id, list(p) AS plist FROM pos GROUP BY id)
SELECT c.id AS doc_id, len(c.toks)::BIGINT AS n_tokens,
       coalesce(len(r.plist), 0)::BIGINT AS n_removed,
       -- DuckDB's array_to_string([]) is NULL where Spark's
       -- array_join([]) is '' — coalesce to match
       coalesce(array_to_string(
         list_transform(
           list_filter(range(len(c.toks)),
                       i -> NOT list_contains(coalesce(r.plist, []), i)),
           i -> c.toks[i + 1]),
         ' '), '') AS clean_text
FROM corpus c LEFT JOIN rem r ON c.id = r.id
"""


@_register("dedup_substring_rewrite", _DEDUP_SUBSTRING_REWRITE_SQL)
def q_dedup_substring_rewrite(spark: SparkSession, sf: str) -> DataFrame:
    """The rewrite step Lee et al.'s substring dedup actually ships:
    excise every token position covered by a corpus-duplicated 15-token
    run except in the run's single keeper occurrence (global
    (doc_id, start) struct-min), so exactly one copy of each duplicated
    passage survives the corpus. Same fixture corpus (and 4000-start
    oracle cap guard) as the dedup_substring pair; the removal-set
    explode is bounded by duplicated mass, never corpus size
    (operators/dedup.py substring_dedup_rewrite)."""
    from pdf_ocr_spark.operators.dedup import substring_dedup_rewrite

    return substring_dedup_rewrite(
        _dedup_substring_corpus(spark, sf), window=15, id_col="doc_id",
        text_col="text",
    )


@_register(
    "multimodal_extract",
    """
WITH spans AS (
    SELECT doc_id, g.j,
           (['text','image','audio','video'])[((doc_id + g.j) % 4) + 1] AS kind
    FROM documents, generate_series(0, 5) AS g(j)
    WHERE g.j < 4 + doc_id % 3
)
SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(j AS INT) AS "offset", kind,
       CASE kind
         WHEN 'text' THEN 'text span ' || doc_id || '-' || j
         WHEN 'image' THEN 'DOC ' || doc_id || ' SPAN ' || j
         WHEN 'audio' THEN
             CASE WHEN (doc_id*31 + j) % 50 = 3 THEN 'error: not a RIFF/WAVE payload'
                  ELSE 'audio ' || (1600 + ((doc_id*31 + j) % 5) * 400)
                       || '@' || (8000 + ((doc_id*31 + j) % 4) * 2000) END
         WHEN 'video' THEN
             CASE WHEN (doc_id*37 + j) % 47 = 5 THEN 'error: not a RIFF/AVI payload'
                  ELSE 'video ' || (5 + (doc_id*37 + j) % 6) || 'f '
                       || (48 + ((doc_id*37 + j) % 5) * 16)
                       || 'x' || (32 + ((doc_id*37 + j) % 4) * 8) END
       END AS content
FROM spans
""",
)
def q_multimodal_extract(spark: SparkSession, sf: str) -> DataFrame:
    """The input_hint's interleaved span model with EVERY media kind at
    once: per document, 4-6 spans rotating text / image / audio /
    video; payloads synthesized from (doc_id, offset) arithmetic and
    extracted back by the kind-dispatched operator (OCR for images, WAV
    stream parse for audio, AVI container walk for video, with planted
    corrupt payloads contained as error rows) — one narrow Arrow chain,
    0 shuffles, exact oracle across all four modalities."""
    from pdf_ocr_spark.operators.dedup import _ensure_parallelism
    from pdf_ocr_spark.operators.multimodal import extract_media_spans

    docs = _ensure_parallelism(
        load_table(spark, sf, "documents").select("doc_id")
    )

    def synth(batches):
        import pandas as pd

        from pdf_ocr_spark.sources.audiogen import audio_payload_for
        from pdf_ocr_spark.sources.glyphs import render_text_image
        from pdf_ocr_spark.sources.pngcodec import encode_png
        from pdf_ocr_spark.sources.videogen import avi_payload_for

        kinds = ("text", "image", "audio", "video")
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "offset", "kind", "text", "payload")}
            for d in pdf["doc_id"]:
                d = int(d)
                for j in range(4 + d % 3):
                    kind = kinds[(d + j) % 4]
                    text = payload = None
                    if kind == "text":
                        text = f"text span {d}-{j}"
                    elif kind == "image":
                        payload = encode_png(render_text_image(f"DOC {d} SPAN {j}"))
                    elif kind == "audio":
                        payload = audio_payload_for(d * 31 + j)
                    else:
                        payload = avi_payload_for(d * 37 + j)
                    rows["doc_id"].append(str(d))
                    rows["offset"].append(j)
                    rows["kind"].append(kind)
                    rows["text"].append(text)
                    rows["payload"].append(payload)
            yield pd.DataFrame(rows)

    spans = docs.mapInPandas(
        synth,
        schema="doc_id string, offset int, kind string, text string, payload binary",
    )
    return extract_media_spans(spans)


@_register("audio_features", _audio_oracle_sql())
def q_audio_features(spark: SparkSession, sf: str) -> DataFrame:
    """From-scratch WAV audio over the documents table: synthesize one
    RIFF/PCM payload per row (8/16-bit rotating, junk LIST chunks,
    planted corrupt payloads), parse it back with the independent chunk
    walker, and extract features — 0 shuffles, one narrow Arrow chain.
    The oracle regenerates the waveform arithmetically in SQL (see
    :func:`_audio_oracle_sql`)."""
    from pdf_ocr_spark.operators.multimodal import audio_features
    from pdf_ocr_spark.sources.audiogen import wav_corpus

    feats = audio_features(wav_corpus(load_table(spark, sf, "documents")))
    return feats.select(
        "media_ref",
        "valid",
        "sample_rate",
        "n_samples",
        F.round("duration_s", 6).alias("duration_s"),
        "peak",
        F.round("rms", 6).alias("rms"),
        "sum_amp",
        "zero_crossings",
    )


# ---------------------------------------------------------------------------
# Registry ordering for the driver's correctness window
# ---------------------------------------------------------------------------

#: The round driver's correctness artifact compares only the FIRST
#: 50 registered queries against their oracles; later entries
#: get no rows. With more exact-oracle queries than window slots, static
#: demotion starves the demoted set of driver-green rows forever — so
#: window membership ROTATES, driven by the prior rounds' own
#: CORRECTNESS artifacts: queries that have never produced a green
#: driver row come first, then previously-green queries stalest-first
#: (ascending last-green round). Every exact-oracle query therefore
#: regains a green row at least every ceil(n_exact/50)
#: rounds (~every other round at current counts), with no hand-kept
#: demote list to maintain.

#: Queries whose semantics/oracle changed in a given round: prior
#: green rows no longer certify the current form, so they re-enter the
#: window as if never green — but only until that round's own
#: CORRECTNESS artifact lands (self-expiring: the value is the round
#: whose artifact re-certifies the query, so no manual cleanup).
_FORCE_WINDOW_UNTIL = {
    # r5: the non-DCT fixture corpus now additionally plants PNG
    # predictor-12 Flate rasters (1 in 4) and /LZWDecode rasters
    # (1 in 7) — a green row re-certifies the predictor/LZW decode
    # branches end to end
    "pdf_page_count": 5,
    "pdf_extract_text": 5,
    # r5: DCT corpus gained AES-256 and ASCII85-chain variants too
    "pdf_extract_text_dct": 5,
    # r6: pdf_links extends to typed (kind, uri, to_page) edges — GoTo
    # (both destination shapes + named-dest resolution) and GoToR rows
    # join the /URI harvest; prior green rows certify the old schema
    "pdf_links": 6,
    # r7: the Type1 fixture's /Length3 is now computed from the actual
    # trailing segment (was a wrong constant) and the text-layer gen
    # tag moved to r7t1 — a green r7 row re-certifies the new corpus
    "pdf_text_layer": 7,
    # r7: knn_hnsw_topk is the one registry entry that has never had a
    # driver row (added round 6 after the rotation snapshot); force it
    # into the window for a rows-only row. knn_ivf_trained is new this
    # round — force it too so no rows-only entry starts life unseen.
    "knn_hnsw_topk": 7,
    "knn_ivf_trained": 7,
}


def _driver_history() -> tuple[dict[str, int], dict[str, int]]:
    """(green, seen): query name -> latest round number with a
    fully-green driver row (rows+schema+hash all matching) / with ANY
    driver row at all (rows-only entries never go green — the driver
    records them with err="no_oracle" — so their window bookkeeping
    keys off "seen"). Read from CORRECTNESS_r*.json in the repo root;
    missing/unreadable artifacts are simply skipped, so a fresh
    checkout degrades to registration order."""
    import json
    import re
    from pathlib import Path

    green: dict[str, int] = {}
    seen: dict[str, int] = {}
    root = Path(__file__).resolve().parents[1]
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.loads(p.read_text())
        except Exception:
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            seen[name] = max(seen.get(name, 0), rnd)
            if (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match") is True
            ):
                green[name] = max(green.get(name, 0), rnd)
    return green, seen


def _reorder_registry() -> None:
    """Rebuild QUERIES in window-priority order: never-driver-green
    exact-oracle queries first, then green ones stalest-first (ties
    broken by registration order for determinism), then rows-only
    queries (no SQL oracle — the driver only row-counts them) at the
    very tail so they never consume an exact-comparison slot. A
    rows-only query with an ACTIVE force entry (no driver row since
    its force round) jumps to the very head instead: a rows-only row
    is weaker than an exact one, but zero driver history is weaker
    still (knn_hnsw_topk was the one entry of 103 never to appear)."""
    green, seen = _driver_history()
    exact = [q for q in QUERIES if q in ORACLES]
    reg_pos = {q: i for i, q in enumerate(exact)}

    def effective_green(q: str) -> int:
        # a force entry discounts green rows from rounds BEFORE the
        # change; rows from the change round onward count normally
        g = green.get(q, 0)
        return 0 if g < _FORCE_WINDOW_UNTIL.get(q, 0) else g

    exact.sort(key=lambda q: (effective_green(q), reg_pos[q]))
    rows_only = [q for q in QUERIES if q not in ORACLES]
    forced_head = [
        q
        for q in rows_only
        if q in _FORCE_WINDOW_UNTIL and seen.get(q, 0) < _FORCE_WINDOW_UNTIL[q]
    ]
    tail = [q for q in rows_only if q not in forced_head]
    ordered = forced_head + exact + tail
    assert len(ordered) == len(QUERIES), (len(ordered), len(QUERIES))
    reordered = {name: QUERIES[name] for name in ordered}
    QUERIES.clear()
    QUERIES.update(reordered)


_reorder_registry()
