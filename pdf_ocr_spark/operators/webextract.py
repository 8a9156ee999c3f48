"""HTML main-content extraction (boilerplate strip) — the web half of
the north-star extraction tier.

A from-scratch, *generic* DOM-heuristic extractor in the lineage of
arc90 Readability and Boilerpipe (Kohlschuetter et al., "Boilerplate
Detection using Shallow Text Features", WSDM 2010 — public work;
algorithmic inspiration only, no code reuse). Nothing in here knows the
fixture template; the synthetic-corpus oracle (sources/webgen.py) is
recoverable only because the heuristics genuinely work:

1. **Structural pruning** — subtrees under chrome tags
   (``script/style/nav/header/footer/aside/...``) contribute no
   content blocks.
2. **Leaf-block segmentation** — text accumulates into blocks bounded
   by block-level tags; each block records its character count, the
   characters inside ``<a>`` (for link density), its heading flag, and
   the stack of container elements (``article/main/section/div/body``)
   it sits in. ``<img>`` flushes as an image block.
3. **Link-density filter** — blocks with > ``MAX_LINK_DENSITY`` of
   their characters inside anchors are boilerplate (kills in-content
   ad units that structural pruning cannot see).
4. **Container scoring** — every container accumulates the kept text
   chars of its subtree; the *deepest* container scoring at least
   ``CONTAINER_SHARE`` of the best score is the main-content root
   (deepest-dominant rule: body always ties the true container from
   above, so depth breaks the tie toward the tightest wrapper).
5. The chosen container's blocks — headings, link-sparse text, images
   — are emitted in document order as interleaved spans
   ``(kind: heading|text|image, text, media_ref, offset)``, matching
   the engine's span model (schema.py SPAN_STRUCT; input_hint shape).

Reference parity: the reference converter has no web path (its chrome
is Flask templates, /root/reference/templates/index.html) — this tier
comes from the north rule's "HTML boilerplate strip, DOM heuristics"
clause. Parsing is stdlib ``html.parser`` (tolerant of malformed
markup, entities decoded via ``convert_charrefs``); all Spark-side
work is per-document Python over the package's row boundary
(:func:`pdf_ocr_spark.operators.rows.map_rows`), never
per-row-per-node, and a pure map stage: extraction adds **zero
shuffles** at any corpus size.
"""

from html.parser import HTMLParser

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pdf_ocr_spark.operators.rows import map_rows

#: Subtrees under these tags are chrome, never content.
DROP_TAGS = frozenset(
    "script style nav header footer aside noscript template svg iframe "
    "form button select option".split()
)
#: Tags that bound a leaf text block.
BLOCK_TAGS = frozenset(
    "p h1 h2 h3 h4 h5 h6 li pre blockquote td th dt dd figcaption "
    "div section article main body ul ol table tr figure".split()
)
#: Candidate main-content containers, scored by kept subtree text.
CONTAINER_TAGS = frozenset("article main section div body td li".split())
HEADING_TAGS = frozenset("h1 h2 h3 h4 h5 h6".split())
#: Tags that never close (HTML void elements).
VOID_TAGS = frozenset(
    "img br hr meta link input area base col embed source track wbr".split()
)
#: A block whose anchor-char share exceeds this is boilerplate.
MAX_LINK_DENSITY = 0.5
#: Deepest container with >= this share of the best score wins.
CONTAINER_SHARE = 0.8

MAIN_SPANS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("offset", IntegerType(), False),
        StructField("kind", StringType(), False),
        StructField("text", StringType(), True),
        StructField("media_ref", StringType(), True),
    ]
)
MAIN_TEXT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("main_text", StringType(), False),
    ]
)
LINKS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("offset", IntegerType(), False),
        StructField("href", StringType(), False),
        StructField("anchor", StringType(), False),
        StructField("region", StringType(), False),
    ]
)
METADATA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("title", StringType(), False),
        StructField("html_lang", StringType(), False),
        StructField("description", StringType(), False),
        StructField("n_links", LongType(), False),
        StructField("n_paragraphs", LongType(), False),
        StructField("n_images", LongType(), False),
        # OpenGraph / meta-property fields — null when the page does
        # not declare them (real crawls key on these as often as title)
        StructField("og_title", StringType(), True),
        StructField("og_type", StringType(), True),
        StructField("og_url", StringType(), True),
        StructField("og_image", StringType(), True),
        StructField("published_time", StringType(), True),
    ]
)

#: Region-defining ancestors for link extraction, innermost wins.
_LINK_REGIONS = frozenset("nav header aside footer".split())


class _Block:
    __slots__ = ("kind", "parts", "link_chars", "containers", "src", "order", "_text")

    def __init__(self, kind, containers, order, src=None):
        self.kind = kind  # 'text' | 'heading' | 'image'
        self.parts: list[str] = []
        self.link_chars = 0
        self.containers = containers  # tuple of container element ids
        self.src = src
        self.order = order
        self._text: str | None = None

    def text(self) -> str:
        # cached: the density filter, container scoring, and span
        # emission all read it — recomputing the join+split tripled
        # the per-document normalization work
        if self._text is None:
            self._text = " ".join("".join(self.parts).split())
        return self._text


class _Extractor(HTMLParser):
    """One pass builds blocks, links, and metadata together."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.stack: list[str] = []  # open tag names
        # id 0 = the implicit document root, so markup-free input (or
        # fragments with no <body>) still has a scorable container
        self.container_stack: list[int] = [0]
        self.container_tag: dict[int, str] = {0: "#root"}
        self.container_depth: dict[int, int] = {0: 0}
        self._next_id = 1
        self.drop_depth = 0
        self.link_depth = 0
        self.blocks: list[_Block] = []
        self._cur: _Block | None = None
        self._order = 0
        # links / metadata
        self.links: list[tuple[str, str, str]] = []
        self._cur_href: str | None = None
        self._cur_anchor: list[str] = []
        self.title_parts: list[str] = []
        self._in_title = False
        self.html_lang = ""
        self.description = ""
        #: <meta property="..." content="..."> pairs (OpenGraph et al),
        #: first occurrence wins (the OG spec's array rule — the first
        #: tag is the canonical value)
        self.meta_props: dict[str, str] = {}

    # -- block plumbing ----------------------------------------------
    def _flush(self):
        if self._cur is not None and self._cur.text():
            self.blocks.append(self._cur)
        self._cur = None

    def _open_block(self, kind):
        self._flush()
        self._cur = _Block(kind, tuple(self.container_stack), self._order)
        self._order += 1

    # -- parser callbacks --------------------------------------------
    def handle_starttag(self, tag, attrs):
        if tag in VOID_TAGS:
            self.handle_startendtag(tag, attrs)
            return
        ad = dict(attrs)
        if tag == "html":
            self.html_lang = ad.get("lang") or ""
        if tag == "title":
            self._in_title = True
        if tag in DROP_TAGS:
            self.drop_depth += 1
        self.stack.append(tag)
        if tag in CONTAINER_TAGS:
            cid = self._next_id
            self._next_id += 1
            self.container_stack.append(cid)
            self.container_tag[cid] = tag
            self.container_depth[cid] = len(self.container_stack)
        if tag in BLOCK_TAGS and not self.drop_depth:
            kind = "heading" if tag in HEADING_TAGS else "text"
            self._open_block(kind)
        if tag == "a":
            href = ad.get("href")
            if href is not None:
                self._end_anchor()
                self._cur_href = href
                self._cur_anchor = []
            self.link_depth += 1

    def handle_startendtag(self, tag, attrs):
        ad = dict(attrs)
        if tag == "meta" and (ad.get("name") or "").lower() == "description":
            self.description = ad.get("content") or ""
        if tag == "meta":
            prop = (ad.get("property") or "").lower()
            if prop:
                self.meta_props.setdefault(prop, ad.get("content") or "")
        if tag == "img" and not self.drop_depth:
            src = ad.get("src")
            if src:
                self._flush()
                blk = _Block("image", tuple(self.container_stack), self._order)
                blk.src = src
                blk.parts = [src]  # non-empty so _flush keeps it
                self._order += 1
                self.blocks.append(blk)
        if tag == "br" and self._cur is not None:
            self._cur.parts.append(" ")

    def handle_endtag(self, tag):
        if tag in VOID_TAGS:
            return
        if tag == "title":
            self._in_title = False
        if tag == "a":
            if self.link_depth:
                self.link_depth -= 1
            if not self.link_depth:
                self._end_anchor()
        if tag not in self.stack:
            return  # stray close tag — tolerate
        # pop (tolerating unclosed intermediates)
        while self.stack:
            top = self.stack.pop()
            if top in DROP_TAGS:
                self.drop_depth = max(0, self.drop_depth - 1)
            if top in BLOCK_TAGS and not self.drop_depth:
                self._flush()
            if top in CONTAINER_TAGS and len(self.container_stack) > 1:
                self.container_stack.pop()
            if top == tag:
                break

    def handle_data(self, data):
        if self._in_title:
            self.title_parts.append(data)
            return
        if self._cur_href is not None:
            self._cur_anchor.append(data)
        if self.drop_depth:
            return
        if self._cur is None:
            self._open_block("text")
        self._cur.parts.append(data)
        if self.link_depth:
            self._cur.link_chars += len(data)

    def _end_anchor(self):
        if self._cur_href is None:
            return
        region = "content"
        for t in reversed(self.stack):
            if t in _LINK_REGIONS:
                region = t
                break
        anchor = " ".join("".join(self._cur_anchor).split())
        self.links.append((self._cur_href, anchor, region))
        self._cur_href = None
        self._cur_anchor = []

    def close(self):
        super().close()
        self._end_anchor()
        self._flush()


def _parse(html: str) -> _Extractor:
    p = _Extractor()
    try:
        p.feed(html or "")
        p.close()
    except Exception:
        pass  # tolerate pathological markup; keep whatever parsed
    return p


def _main_blocks(p: _Extractor) -> list[_Block]:
    """Steps 3-5: link-density filter, container scoring, deepest-
    dominant selection; returns the winning container's spans in
    document order."""
    kept: list[_Block] = []
    for b in p.blocks:
        if b.kind == "image":
            kept.append(b)
            continue
        chars = len(b.text())
        if chars == 0:
            continue
        if b.link_chars / chars > MAX_LINK_DENSITY:
            continue
        kept.append(b)
    score: dict[int, int] = {}
    for b in kept:
        if b.kind == "image":
            continue
        n = len(b.text())
        for cid in b.containers:
            score[cid] = score.get(cid, 0) + n
    if not score:
        return []
    best = max(score.values())
    chosen = max(
        (cid for cid, s in score.items() if s >= CONTAINER_SHARE * best),
        key=lambda cid: p.container_depth[cid],
    )
    out = [b for b in kept if chosen in b.containers]
    out.sort(key=lambda b: b.order)
    return out


def _spans_from(p: _Extractor) -> list[tuple[str, str | None, str | None]]:
    spans = []
    for b in _main_blocks(p):
        if b.kind == "image":
            spans.append(("image", None, b.src))
        else:
            spans.append((b.kind, b.text(), None))
    return spans


def main_spans_of(html: str) -> list[tuple[str, str | None, str | None]]:
    """(kind, text, media_ref) span sequence of the main content."""
    return _spans_from(_parse(html))


def main_text_of(html: str) -> str:
    return "\n\n".join(
        t for k, t, _ in main_spans_of(html) if k in ("heading", "text")
    )


def links_of(html: str) -> list[tuple[str, str, str]]:
    return _parse(html).links


def metadata_of(html: str) -> tuple:
    p = _parse(html)
    spans = _spans_from(p)  # reuse the parse — parsing dominates cost
    title = " ".join("".join(p.title_parts).split())
    n_par = sum(1 for k, _, _ in spans if k == "text")
    n_img = sum(1 for k, _, _ in spans if k == "image")
    og = p.meta_props
    return (
        title, p.html_lang, p.description, len(p.links), n_par, n_img,
        og.get("og:title"), og.get("og:type"), og.get("og:url"),
        og.get("og:image"), og.get("article:published_time"),
    )


# ---------------------------------------------------------------------------
# Spark operators — all pure map stages over (doc_id, html)
# ---------------------------------------------------------------------------


def _html_cols(df: DataFrame) -> DataFrame:
    return df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("html").cast("string").alias("html"),
    )


def extract_main_spans(df: DataFrame) -> DataFrame:
    """(doc_id, html) -> interleaved main-content spans
    (doc_id, offset, kind, text, media_ref)."""

    def per_row(d, h):
        return [(d, off, *span) for off, span in enumerate(main_spans_of(h))]

    return map_rows(_html_cols(df), per_row, MAIN_SPANS_SCHEMA)


def extract_main_text(df: DataFrame) -> DataFrame:
    """(doc_id, html) -> (doc_id, main_text); heading + paragraphs
    joined by blank lines. Per-doc local — no reassembly shuffle."""

    return map_rows(_html_cols(df), lambda d, h: [(d, main_text_of(h))], MAIN_TEXT_SCHEMA)


def extract_links(df: DataFrame) -> DataFrame:
    """(doc_id, html) -> one row per ``<a href>`` in document order:
    (doc_id, offset, href, anchor, region) — the crawl-frontier /
    link-graph feed."""

    def per_row(d, h):
        return [(d, off, *link) for off, link in enumerate(links_of(h))]

    return map_rows(_html_cols(df), per_row, LINKS_SCHEMA)


def extract_metadata(df: DataFrame) -> DataFrame:
    """(doc_id, html) -> page metadata + content-shape counters."""

    return map_rows(_html_cols(df), lambda d, h: [(d, *metadata_of(h))], METADATA_SCHEMA)
