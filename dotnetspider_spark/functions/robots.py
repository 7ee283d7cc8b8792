"""robots.txt parsing — text -> broadcastable rules table.

The reference has NO robots handling anywhere (grep over src/**/*.cs = 0
hits, SURVEY §2.2); the north rule adds it. This module parses raw
robots.txt documents (one row per host) into the engine's rules schema
``(host, path_prefix, allow, crawl_delay_ms)`` which
``crawler.loop._robots_flag`` broadcast-joins against each batch.

Parsing follows the de-facto standard (REP, RFC 9309):
- ``User-agent`` groups; a group applies if it names our agent or ``*``
  (most-specific agent match wins: exact name > ``*``),
- ``Allow`` / ``Disallow`` path rules (empty Disallow = allow all),
- ``Crawl-delay`` seconds -> ``crawl_delay_ms``,
- wildcard rules (``*`` = any char run, trailing ``$`` = end anchor —
  RFC 9309 §2.2.3 "special characters") are carried intact:
  ``path_prefix`` keeps the ORIGINAL pattern (its length is the rule's
  specificity, same as Google's matcher) and ``path_re`` carries the
  equivalent anchored regex the gate evaluates; plain rules have
  ``path_re`` NULL and match by prefix,
- most-specific (longest-pattern) rule wins, allow on ties —
  precedence is applied at MATCH time by the gate (loop.py), so the
  table just carries every rule of the winning group.

Parsing runs in ``mapInPandas`` over ``(host, robots_txt)`` rows — one
Python pass per Arrow batch, one output row per rule.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RULES_SCHEMA = (
    "host string, path_prefix string, allow boolean, crawl_delay_ms int, "
    "path_re string"
)


_MAX_DELAY_S = (2**31 - 1) / 1000


def pattern_to_regex(path: str) -> str:
    """RFC 9309 path pattern -> anchored Java-compatible regex: ``*`` ->
    ``.*``, a TRAILING ``$`` -> end anchor (embedded ``$`` is literal),
    everything else escaped. ``re.escape`` (3.7+) escapes only
    regex-special punctuation, all of which Java regex accepts escaped."""
    import re as _re

    anchored = path.endswith("$")
    body = path[:-1] if anchored else path
    out = "".join(".*" if ch == "*" else _re.escape(ch) for ch in body)
    return "^" + out + ("$" if anchored else "")


def parse_robots_txt(text: str, agent: str = "dotnetspider") -> list[dict]:
    """Parse one robots.txt into rule dicts for our agent (pure function)."""
    agent = agent.lower()
    groups: list[tuple[list[str], list[tuple[str, str]], float | None]] = []
    cur_agents: list[str] = []
    cur_rules: list[tuple[str, str]] = []
    cur_delay: float | None = None
    in_group_body = False

    def flush():
        nonlocal cur_agents, cur_rules, cur_delay
        if cur_agents:
            groups.append((cur_agents, cur_rules, cur_delay))
        cur_agents, cur_rules, cur_delay = [], [], None

    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if in_group_body:
                flush()
                in_group_body = False
            cur_agents.append(val.lower())
        elif key in ("allow", "disallow"):
            in_group_body = True
            cur_rules.append((key, val))
        elif key == "crawl-delay":
            in_group_body = True
            try:
                delay = float(val)
            except ValueError:
                continue
            if not math.isnan(delay):
                # clamp into what an int crawl_delay_ms holds; a delay
                # <= 0 already means "uncapped" to politeness_budget
                cur_delay = min(max(delay, 0.0), _MAX_DELAY_S)
    flush()

    # most-specific agent match: exact name beats '*'
    chosen = None
    for agents, rules, delay in groups:
        if agent in agents:
            chosen = (rules, delay)
            break
    if chosen is None:
        for agents, rules, delay in groups:
            if "*" in agents:
                chosen = (rules, delay)
                break
    if chosen is None:
        return []
    rules, delay = chosen
    delay_ms = int(delay * 1000) if delay is not None else None

    out: list[dict] = []
    for kind, path in rules:
        allow = kind == "allow"
        if path == "":
            if allow:
                continue  # empty Allow is a no-op
            # empty Disallow = everything allowed; emit an allow-all marker
            out.append(
                {"host": None, "path_prefix": "/", "allow": True,
                 "crawl_delay_ms": delay_ms, "path_re": None}
            )
            continue
        path_re = (
            pattern_to_regex(path)
            if ("*" in path or path.endswith("$"))
            else None
        )
        out.append(
            {"host": None, "path_prefix": path, "allow": allow,
             "crawl_delay_ms": delay_ms, "path_re": path_re}
        )
    if not out and delay_ms is not None:
        out.append(
            {"host": None, "path_prefix": "/", "allow": True,
             "crawl_delay_ms": delay_ms, "path_re": None}
        )
    return out


def robots_sitemaps(robots_docs: DataFrame) -> DataFrame:
    """``Sitemap:`` directives from robots.txt -> (host, sitemap_url).

    Per the sitemaps.org protocol (and RFC 9309 §2.2.4 "other records"),
    ``Sitemap:`` lines are independent of user-agent groups and may appear
    anywhere in the file, so extraction needs no group state machine —
    a single JVM-side ``regexp_extract_all`` does it (no Python crossing;
    at 10^8 hosts this is a narrow map stage). The result feeds
    ``sources.sitemap.parse_sitemaps`` as seed discovery. Values are taken
    through end-of-line and trimmed; comment tails (``#``) are dropped,
    matching the line handling of :func:`parse_robots_txt`; only
    http(s) URLs qualify (relative sitemap values are invalid per spec).
    """
    # the capture ends at the last non-space char before a comment/EOL
    # ([^#\s] backstop) — Spark's trim() strips only ' ' so a trailing
    # tab would otherwise survive into the value and fail the URL gate
    return robots_docs.select(
        "host",
        F.explode(
            F.regexp_extract_all(
                F.col("robots_txt"),
                F.lit(r"(?im)^[ \t]*sitemap[ \t]*:[ \t]*([^#\r\n]*[^#\s])"),
                1,
            )
        ).alias("sitemap_url"),
    ).filter(F.col("sitemap_url").rlike(r"(?i)^https?://\S+$"))


def robots_rules_table(
    robots_docs: DataFrame, agent: str = "dotnetspider"
) -> DataFrame:
    """(host, robots_txt) rows -> rules table (mapInPandas)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                for rule in parse_robots_txt(r["robots_txt"], agent):
                    rule = dict(rule)
                    rule["host"] = r["host"]
                    rows.append(rule)
            yield pd.DataFrame(
                rows,
                columns=["host", "path_prefix", "allow", "crawl_delay_ms",
                         "path_re"],
            )

    return robots_docs.select("host", "robots_txt").mapInPandas(run, RULES_SCHEMA)
