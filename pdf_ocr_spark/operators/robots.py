"""robots.txt parsing and crawl-permission decisions (RFC 9309 — the
Robots Exclusion Protocol, a public standard).

From-scratch evaluator with the protocol's real semantics:

* **group selection** — rules bind to the preceding ``User-agent``
  line(s); only the group matching the requesting agent applies (the
  fixture plants a decoy ``badbot`` group that must be ignored);
* **longest-match precedence** — the applicable rule is the matching
  ``Allow``/``Disallow`` with the longest path; on a length tie,
  ``Allow`` wins;
* **wildcards** — ``*`` matches any run of characters and ``$``
  anchors the end of the path (translated to a JVM regex at parse
  time, so matching stays in whole-stage codegen);
* no matching rule, or no robots.txt for the host → allowed.

Scale shape: robots tables are one row per *host* — tiny next to the
link table — so the decision join broadcasts the parsed-rule side and
the link side streams map-only: explode-match-argmax per link with one
(doc_id, offset)-keyed aggregation.
"""

import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from pdf_ocr_spark.operators.rows import map_rows

ROBOTS_RULES_SCHEMA = StructType(
    [
        StructField("host", StringType(), False),
        StructField("directive", StringType(), False),  # 'allow' | 'disallow'
        StructField("path_rule", StringType(), False),
        StructField("rule_regex", StringType(), False),
        StructField("specificity", IntegerType(), False),
    ]
)


def _rule_regex(path_rule: str) -> str:
    """RFC 9309 path rule -> anchored JVM regex: ``*`` = any run,
    ``$`` (final only) = end anchor; everything else literal."""
    anchored = path_rule.endswith("$")
    core = path_rule[:-1] if anchored else path_rule
    pattern = "".join(".*" if ch == "*" else re.escape(ch) for ch in core)
    return "^" + pattern + ("$" if anchored else "")


def parse_robots(text: str, agent: str = "*") -> list[tuple[str, str]]:
    """Extract the (directive, path_rule) list that applies to
    ``agent``: comments stripped, directives case-insensitive, rules
    bound to the most recent ``User-agent`` group. Returns [] when no
    group matches (→ everything allowed)."""
    groups: list[tuple[list[str], list[tuple[str, str]]]] = []
    current_agents: list[str] = []
    current_rules: list[tuple[str, str]] = []
    in_rules = False  # a rule line ends the current group's agent list

    def close_group():
        if current_agents:
            groups.append((current_agents.copy(), current_rules.copy()))

    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        key, _, value = line.partition(":")
        key, value = key.strip().lower(), value.strip()
        if key == "user-agent":
            if in_rules:
                close_group()
                current_agents, current_rules, in_rules = [], [], False
            current_agents.append(value.lower())
            continue
        if key in ("allow", "disallow", "crawl-delay"):
            # only rule lines (incl. the crawl-delay group extension)
            # close the group's agent list (RFC 9309 §2.2.1): a
            # Sitemap:/unknown line between two User-agent lines must
            # NOT split the group
            in_rules = True
            if key != "crawl-delay" and value:  # empty rule = no-op
                current_rules.append((key, value))
    close_group()

    # RFC 9309 group selection: a specifically-matching group EXCLUDES
    # the * group; multiple groups for the same agent merge.
    a = agent.lower()
    specific = [r for agents, rules_ in groups for r in rules_ if a in agents]
    if any(a in agents for agents, _ in groups):
        return specific
    return [r for agents, rules_ in groups for r in rules_ if "*" in agents]


def sitemap_urls(text: str) -> list[str]:
    """``Sitemap:`` discovery lines (sitemaps.org robots extension) in
    file order. Per the protocol they are global — independent of any
    User-agent group — so this is a plain line scan, case-insensitive
    key, comments stripped."""
    out: list[str] = []
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        key, _, value = line.partition(":")
        if key.strip().lower() == "sitemap" and value.strip():
            out.append(value.strip())
    return out


def robots_rules_table(robots: DataFrame) -> DataFrame:
    """(host, robots_txt) -> exploded rule rows for the default agent.
    One Arrow pass; at web scale this table is ~1 row per host-rule —
    always the broadcast side of the decision join."""

    def per_row(host, txt):
        return [
            (host, directive, path_rule, _rule_regex(path_rule), len(path_rule))
            for directive, path_rule in parse_robots(txt or "")
        ]

    cols = robots.select(
        F.col("host").cast("string").alias("host"),
        F.col("robots_txt").cast("string").alias("robots_txt"),
    )
    return map_rows(cols, per_row, ROBOTS_RULES_SCHEMA)


def robots_decisions(parsed_links: DataFrame, rules: DataFrame) -> DataFrame:
    """Per link (needs host + path columns, e.g. from
    :func:`pdf_ocr_spark.operators.weburl.parse_links`): the RFC 9309
    verdict — (.., allowed, matched_rule). Rules side is broadcast;
    longest-match + allow-wins tie-break is one struct-max aggregate."""
    joined = parsed_links.join(F.broadcast(rules), "host", "left")
    matched = joined.withColumn(
        "is_match",
        F.col("rule_regex").isNotNull()
        & F.regexp_like(F.coalesce(F.col("path"), F.lit("/")), F.col("rule_regex")),
    )
    best = (
        matched.groupBy("doc_id", "offset", "href")
        .agg(
            F.max(
                F.when(
                    F.col("is_match"),
                    F.struct(
                        F.col("specificity").alias("s"),
                        (F.col("directive") == "allow").cast("int").alias("a"),
                        F.col("directive").alias("directive"),
                        F.col("path_rule").alias("path_rule"),
                    ),
                )
            ).alias("m")
        )
    )
    return best.select(
        "doc_id",
        "offset",
        "href",
        F.coalesce(F.col("m.directive") == "allow", F.lit(True)).alias("allowed"),
        F.when(
            F.col("m").isNotNull(),
            F.concat_ws(" ", F.col("m.directive"), F.col("m.path_rule")),
        ).alias("matched_rule"),
    )


def crawl_delay(text: str, agent: str = "*") -> float | None:
    """The Crawl-delay extension value for ``agent`` (same group
    selection as :func:`parse_robots`); None when absent/invalid —
    the politeness knob a crawl scheduler rates hosts by."""
    groups: list[tuple[list[str], float]] = []
    current_agents: list[str] = []
    current_delay: float | None = None
    in_rules = False

    def close():
        if current_agents and current_delay is not None:
            groups.append((current_agents.copy(), current_delay))

    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        key, _, value = line.partition(":")
        key, value = key.strip().lower(), value.strip()
        if key == "user-agent":
            if in_rules:
                close()
                current_agents, current_delay, in_rules = [], None, False
            current_agents.append(value.lower())
            continue
        if key in ("allow", "disallow", "crawl-delay"):
            # same RFC 9309 group parsing as parse_robots: only rule
            # lines close the agent list; Sitemap/unknown lines don't
            in_rules = True
        if key == "crawl-delay":
            try:
                current_delay = float(value)
            except ValueError:
                pass
    close()
    a = agent.lower()
    for agents, delay in groups:
        if a in agents:
            return delay
    for agents, delay in groups:
        if "*" in agents:
            return delay
    return None
