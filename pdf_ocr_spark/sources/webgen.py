"""Deterministic synthetic HTML corpus for the boilerplate-strip path.

The north-star pipeline is *main-content extraction* over interleaved
documents; the web-facing half of that tier is HTML boilerplate
stripping (reference scope: the engine-side analogue of what the
reference's converter does for PDFs — recover the author content,
discard the chrome). This module synthesizes, per ``documents`` row, a
full HTML page that wraps the row's ``text`` (the *planted* main
content) in realistic boilerplate:

* ``<header>`` with a site ``<h1>`` and a ``<nav>`` of related links,
* an advertisement ``<div>`` *inside* the content container (pure-link
  block — only a link-density heuristic can reject it; structural tag
  pruning cannot),
* an ``<aside>`` tag cloud, a ``<footer>`` with legalese + links,
* ``<style>`` and ``<script>`` noise,
* three rotating content-container layouts (``article`` / nested
  ``div.post-body`` / ``main>section``) so the extractor cannot key on
  one wrapper.

Everything derives from the row's columns with plain arithmetic —
**no RNG** — so the expected extraction (main text, span sequence,
links, metadata) is reconstructible in pure DuckDB SQL over the same
``documents`` table.  That makes the boilerplate-strip oracle exact:
the extractor must recover byte-identical planted content through a
*generic* DOM heuristic (tag pruning + link density + container
scoring), not by knowing the template.

Derivation contract (mirrored by the oracle SQL in entrypoints.py):

* ``tokens``  = ``\\s+``-split of stripped ``text`` ([] when blank)
* paragraphs  = 15-token chunks, space-joined  (``PARA_TOKENS``)
* heading     = ``Document {doc_id}`` (first main span, kind
  ``heading``)
* after every 3rd paragraph: ``<img src="img://{doc_id}/{i}">`` span
  (``IMG_EVERY``)
* nav links   = ``1 + doc_id % 4`` of
  ``https://site-{doc_id%7}.example.com/doc/{doc_id}-{j}``
* ad link     = ``https://ads.example.com/click/{doc_id%13}``
* aside links = 3 of ``https://tags.example.com/tag/{(doc_id*7+i)%100}``
* footer      = ``.../about`` and ``.../privacy`` on the site host
"""

import re
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

#: Tokens per planted paragraph (oracle mirrors as ceil(len/15)).
PARA_TOKENS = 15
#: An image span follows every IMG_EVERY-th paragraph.
IMG_EVERY = 3

_WS = re.compile(r"\s+")

HTML_CORPUS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("html", StringType(), False),
    ]
)


def escape_html(s: str) -> str:
    """Minimal entity escaping, same order as the reference's HTML sink
    (/root/reference/app.py:404): ``&`` first, then ``<`` and ``>``."""
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def tokens_of(text: str) -> list[str]:
    """Whitespace tokenization mirroring ``sql_tokens`` (strip via the
    same ``^\\s+|\\s+$`` regex, split on ``\\s+``)."""
    stripped = re.sub(r"^\s+|\s+$", "", text or "")
    return _WS.split(stripped) if stripped else []


def planted_paragraphs(text: str) -> list[str]:
    toks = tokens_of(text)
    return [
        " ".join(toks[i : i + PARA_TOKENS]) for i in range(0, len(toks), PARA_TOKENS)
    ]


#: Site TLD rotates per doc so the domain rollup has real grouping
#: structure (including a second-level-registry case, co.uk).
SITE_TLDS = ("com", "org", "net", "io", "co.uk")


def planted_links(doc_id: int) -> list[tuple[str, str, str]]:
    """(href, anchor, region) in document order."""
    site = f"https://site-{doc_id % 7}.example.{SITE_TLDS[doc_id % 5]}"
    links = [
        (f"{site}/doc/{doc_id}-{j}", f"Related {j}", "nav")
        for j in range(1, 2 + doc_id % 4)
    ]
    links.append((f"https://ads.example.com/click/{doc_id % 13}", "Buy now", "content"))
    links += [
        (
            f"https://tags.example.com/tag/{(doc_id * 7 + i) % 100}",
            f"Tag {(doc_id * 7 + i) % 100}",
            "aside",
        )
        for i in range(3)
    ]
    links.append((f"{site}/about", "About", "footer"))
    links.append((f"{site}/privacy", "Privacy", "footer"))
    return links


def planted_og(doc_id: int) -> dict:
    """The OpenGraph/meta-property values planted in the page head —
    all arithmetic over doc_id (oracle-reconstructible):

    * og:title = the <title> text
    * og:type  = 'article' for odd doc_ids, 'website' for even
    * og:url   = the site's canonical /doc/{id} URL
    * og:image = ``img://{id}/og`` except when ``doc_id % 3 == 2``
      (absent -> null, so extractors must handle missing tags)
    * article:published_time = ISO-8601 at
      2020-01-01 + (doc_id*37) % 1500 days, hour = doc_id % 24 —
      only on articles
    """
    import datetime

    site = f"https://site-{doc_id % 7}.example.{SITE_TLDS[doc_id % 5]}"
    og_type = "article" if doc_id % 2 else "website"
    og = {
        "og:title": f"Document {doc_id}",
        "og:type": og_type,
        "og:url": f"{site}/doc/{doc_id}",
    }
    if doc_id % 3 != 2:
        og["og:image"] = f"img://{doc_id}/og"
    if og_type == "article":
        day = datetime.date(2020, 1, 1) + datetime.timedelta(days=(doc_id * 37) % 1500)
        og["article:published_time"] = f"{day.isoformat()}T{doc_id % 24:02d}:00:00Z"
    return og


def html_for_doc(doc_id: int, text: str, lang: str) -> str:
    """Render one synthetic page. Layout rotates by ``doc_id % 3``; the
    planted content is identical across layouts."""
    paras = planted_paragraphs(text)
    toks = tokens_of(text)
    title = f"Document {doc_id}"
    description = f"Synthetic fixture page for document {doc_id} ({len(toks)} tokens)."
    links = planted_links(doc_id)
    og_tags = "\n".join(
        f'<meta property="{k}" content="{escape_html(v)}">'
        for k, v in planted_og(doc_id).items()
    )
    nav_items = "".join(
        f'<li><a href="{h}">{a}</a></li>' for h, a, r in links if r == "nav"
    )
    aside_items = "".join(
        f'<li><a href="{h}">{a}</a></li>' for h, a, r in links if r == "aside"
    )
    ad_href = next(h for h, _, r in links if r == "content")
    about, privacy = [(h, a) for h, a, r in links if r == "footer"]

    body: list[str] = []
    body.append(f'<div class="ad"><a href="{ad_href}">Buy now</a></div>')
    body.append(f"<h2>{escape_html(title)}</h2>")
    for i, p in enumerate(paras, start=1):
        body.append(f"<p>{escape_html(p)}</p>")
        if i % IMG_EVERY == 0:
            body.append(f'<img src="img://{doc_id}/{i}" alt="figure {i}">')
    content = "\n".join(body)

    layout = doc_id % 3
    if layout == 0:
        wrapped = f'<article id="main">\n{content}\n</article>'
    elif layout == 1:
        wrapped = (
            f'<div class="content">\n<div class="post-body">\n{content}\n</div>\n</div>'
        )
    else:
        wrapped = f"<main>\n<section>\n{content}\n</section>\n</main>"

    return f"""<!DOCTYPE html>
<html lang="{escape_html(lang or '')}">
<head>
<meta charset="utf-8">
<title>{escape_html(title)}</title>
<meta name="description" content="{escape_html(description)}">
{og_tags}
<style>body {{ margin: 0; font: 16px serif; }} .ad {{ color: red; }}</style>
</head>
<body>
<header>
<h1>Site {doc_id % 7}</h1>
<nav><ul>{nav_items}</ul></nav>
</header>
{wrapped}
<aside>
<h3>Tags</h3>
<ul>{aside_items}</ul>
</aside>
<footer>
<p>&copy; Site {doc_id % 7}. All rights reserved.</p>
<p><a href="{about[0]}">{about[1]}</a> <a href="{privacy[0]}">{privacy[1]}</a></p>
</footer>
<script>var tracked = {doc_id % 2}; console.log("boilerplate", tracked);</script>
</body>
</html>"""


def generate_html_corpus(documents: DataFrame) -> DataFrame:
    """``documents(doc_id, text, lang, ...)`` -> ``(doc_id, html)``.

    One Arrow-batched pass, no shuffle: page synthesis is pure per-row
    work, so the output inherits the input partitioning — at 10^12 docs
    this is a map stage, never a bottleneck."""
    cols = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("text").cast("string").alias("text"),
        F.col("lang").cast("string").alias("lang"),
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "html": [
                        html_for_doc(int(d), t or "", g or "")
                        for d, t, g in zip(pdf["doc_id"], pdf["text"], pdf["lang"])
                    ],
                }
            )

    return cols.mapInPandas(gen, HTML_CORPUS_SCHEMA)


def robots_for_site(k: int, host: str | None = None) -> str:
    """robots.txt for site index ``k`` (RFC 9309 format). Planted rule
    shapes exercise real evaluator behavior: a decoy non-* group (must
    be ignored for the default agent), longest-match precedence
    (``Disallow: /doc/`` vs the longer ``Allow: /doc/{k}``), comments,
    and a Crawl-delay extension line. With ``host``, global
    ``Sitemap:`` discovery lines are planted before any group (one
    sitemap always, a second news sitemap on even ``k``) — the rule
    evaluator must ignore them, the discovery parser must return them
    in order. Derivable from ``(k, host)`` alone, so the oracle can
    reconstruct every decision arithmetically."""
    lines = ["# synthetic fixture robots"]
    if host is not None:
        lines.append(f"Sitemap: https://{host}/sitemap.xml")
        if k % 2 == 0:
            lines.append(f"Sitemap: https://{host}/sitemap-news.xml")
    lines += [
        "User-agent: badbot",
        "Disallow: /",
        "",
        "User-agent: *",
    ]
    if k % 3 == 0:
        lines += [f"Allow: /doc/{k}", "Disallow: /doc/"]
    elif k % 3 == 1:
        lines += ["Disallow: /privacy"]
    # k % 3 == 2: no path rules — everything allowed
    lines += [f"Crawl-delay: {k + 1}", ""]
    return "\n".join(lines)


def sitemap_for_site(host: str, doc_ids: list[int]) -> str:
    """sitemaps.org XML for one site: one <url> per document hosted
    there, with lastmod/priority derived arithmetically from the doc id
    (mirrored by the sitemap_entries oracle)."""
    entries = []
    for d in sorted(doc_ids):
        lastmod = f"2026-{1 + d % 12:02d}-{1 + d % 28:02d}"
        priority = (d % 10 + 1) / 10.0
        entries.append(
            "  <url>\n"
            f"    <loc>https://{host}/doc/{d}</loc>\n"
            f"    <lastmod>{lastmod}</lastmod>\n"
            f"    <priority>{priority:.1f}</priority>\n"
            "  </url>"
        )
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
        + "\n".join(entries)
        + "\n</urlset>\n"
    )
