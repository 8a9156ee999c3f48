"""Sitemap parsing (sitemaps.org XML protocol — the crawl-discovery
companion to robots.txt).

From-scratch namespace-aware parse via stdlib ElementTree: ``urlset``
-> ``url`` entries with ``loc`` (required), ``lastmod`` and
``priority`` (optional, null when absent). Malformed XML becomes a
per-sitemap typed error row, never a task failure — one damaged
sitemap in a 10^9-host crawl costs one diagnosable row.

Scale shape: one fan-out (sitemap -> entries) over the package's row
boundary (:func:`pdf_ocr_spark.operators.rows.map_rows`), map-only;
entries inherit the sitemap table's partitioning.
"""

from xml.etree import ElementTree

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from pdf_ocr_spark.operators.rows import map_rows

_NS = "{http://www.sitemaps.org/schemas/sitemap/0.9}"

SITEMAP_ENTRIES_SCHEMA = StructType(
    [
        StructField("host", StringType(), False),
        StructField("loc", StringType(), True),
        StructField("lastmod", StringType(), True),
        StructField("priority", DoubleType(), True),
        StructField("parse_error", StringType(), True),
    ]
)


def parse_sitemap(xml: str) -> list[dict]:
    """One dict per <url> entry; raises ValueError (typed) on
    structural damage."""
    try:
        root = ElementTree.fromstring(xml or "")
    except ElementTree.ParseError as e:
        raise ValueError("malformed sitemap XML: %s" % e) from None
    tag = root.tag.removeprefix(_NS)
    if tag != "urlset":
        raise ValueError("not a sitemap urlset (root <%s>)" % tag)
    out = []
    for url in root.findall(f"{_NS}url") + root.findall("url"):
        def text(name):
            el = url.find(f"{_NS}{name}")
            if el is None:
                el = url.find(name)
            return el.text.strip() if el is not None and el.text else None

        loc = text("loc")
        if not loc:
            raise ValueError("sitemap <url> entry without <loc>")
        prio = text("priority")
        out.append(
            {
                "loc": loc,
                "lastmod": text("lastmod"),
                "priority": float(prio) if prio is not None else None,
            }
        )
    return out


def sitemap_entries(sitemaps: DataFrame) -> DataFrame:
    """(host, sitemap_xml) -> one row per listed URL (error-as-row for
    damaged sitemaps)."""

    def per_row(host, xml):
        return [
            (host, e["loc"], e["lastmod"], e["priority"], None) for e in parse_sitemap(xml)
        ]

    cols = sitemaps.select(
        F.col("host").cast("string").alias("host"),
        F.col("sitemap_xml").cast("string").alias("sitemap_xml"),
    )
    return map_rows(
        cols, per_row, SITEMAP_ENTRIES_SCHEMA, lambda host, xml, e: [(host, None, None, None, str(e))]
    )


def parse_sitemap_index(xml: str) -> list[str]:
    """<sitemapindex> support (the spec's sharding mechanism for sites
    past 50k URLs): returns the child sitemap locations for the crawler
    to recurse into. Typed errors on structural damage."""
    try:
        root = ElementTree.fromstring(xml or "")
    except ElementTree.ParseError as e:
        raise ValueError("malformed sitemap XML: %s" % e) from None
    tag = root.tag.removeprefix(_NS)
    if tag != "sitemapindex":
        raise ValueError("not a sitemap index (root <%s>)" % tag)
    locs = []
    for sm in root.findall(f"{_NS}sitemap") + root.findall("sitemap"):
        el = sm.find(f"{_NS}loc")
        if el is None:
            el = sm.find("loc")
        if el is None or not el.text:
            raise ValueError("sitemapindex <sitemap> entry without <loc>")
        locs.append(el.text.strip())
    return locs
