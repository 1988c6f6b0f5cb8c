"""robots.txt parsing → the engine's robots rules (north-rule feature; the
reference runs with ROBOTSTXT_OBEY=False, settings.py:19, so the
equivalence oracle keeps robots off).

Two consumption paths share this parser:

- static: ``robots_map``/``robots_table`` turn host→body maps into the
  ``CrawlConfig(robots=...)`` dict / the joinable rules DataFrame;
- live: ``CrawlConfig(fetch_robots=True)`` fetches ``/robots.txt`` per
  newly-seen host through the mapInPandas fetcher and parses inside the
  task (plans/crawl.CrawlEngine._apply_robots).

Parser semantics (RFC 9309): user-agent GROUPS — consecutive
``User-agent:`` lines open one group, the most specific match wins
(longest group token contained in our agent string), ``*`` is the
fallback; ``Allow:``/``Disallow:`` lines become ORDERED rules with ``*``
wildcards and a trailing ``$`` end-anchor; evaluation is
longest-pattern-wins with Allow winning length ties (so the common
``Disallow: /`` + ``Allow: /public/`` override works), no match ⇒
allowed (operators/politeness.robots_disallowed_expr natively, with
robots_blocked_py as the pure-Python simulator twin); ``Crawl-delay:`` is
captured (seconds — feed politeness.budgets_from_crawl_delays); empty
``Allow:``/``Disallow:`` values contribute nothing; a missing/unfetchable
robots.txt means allow-all (standard crawler behavior).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from louis_crawler_legacy_spark.operators.politeness import normalize_rules
from louis_crawler_legacy_spark.sources.tables import local_df


def parse_robots_txt(text: str | None, agent: str = "*") -> dict:
    """→ {'rules': [rule dicts, in file order], 'crawl_delay': float|None,
    'disallow_prefixes': [...]} for the best-matching user-agent group
    (longest token contained in ``agent``; ``*`` as fallback;
    ``agent="*"`` selects the fallback group). ``disallow_prefixes`` keeps
    the disallow patterns as written — the legacy prefix view consumed by
    budget helpers and older tests; the ordered ``rules`` list (with
    Allow entries) is what the filters evaluate."""
    if not text:
        return {"rules": [], "crawl_delay": None, "disallow_prefixes": [],
                "sitemaps": []}
    ua = agent.lower()
    groups: list[dict] = []
    sitemaps: list[str] = []
    cur: dict | None = None
    last_was_agent = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if cur is None or not last_was_agent:
                cur = {"agents": [], "rules": [], "delay": None}
                groups.append(cur)
            cur["agents"].append(value.lower())
            last_was_agent = True
            continue
        last_was_agent = False
        if key == "sitemap" and value:
            # RFC 9309 §2.2.4: not group-scoped — valid anywhere, collected
            # for every agent (crawl seeding hook; stored in the warehouse
            # robots table)
            sitemaps.append(value)
            continue
        if cur is None:
            continue  # rules before any User-agent line: ignored (RFC)
        if key in ("disallow", "allow") and value:
            cur["rules"].append((key == "allow", value))
        elif key == "crawl-delay":
            try:
                cur["delay"] = float(value)
            except ValueError:
                pass

    best: dict | None = None
    best_len = -1
    for g in groups:
        for group_agent in g["agents"]:
            if group_agent == "*":
                if best_len < 0:
                    best, best_len = g, 0
            elif (
                ua != "*" and group_agent and group_agent in ua
                and len(group_agent) > best_len
            ):
                best, best_len = g, len(group_agent)
    if best is None:
        return {"rules": [], "crawl_delay": None, "disallow_prefixes": [],
                "sitemaps": sitemaps}
    rules = normalize_rules(best["rules"])
    return {
        "rules": rules,
        "crawl_delay": best["delay"],
        "disallow_prefixes": [r["pattern"] for r in rules if not r["allow"]],
        "sitemaps": sitemaps,
    }


def robots_table(spark: SparkSession, robots_bodies: dict[str, str]) -> DataFrame:
    """host → robots.txt body ⇒ robots(host, rules) DataFrame joinable by
    operators/politeness.robots_filter."""
    from louis_crawler_legacy_spark.plans.crawl import ROBOTS_SCHEMA

    rows = []
    for host, body in sorted(robots_bodies.items()):
        parsed = parse_robots_txt(body)
        rows.append((host, parsed["rules"]))
    return local_df(spark, rows, ROBOTS_SCHEMA)


def robots_map(robots_bodies: dict[str, str]) -> dict[str, list]:
    """Same, as the plain dict CrawlConfig.robots / robots_blocked_py
    consume (full rule dicts, order preserved)."""
    return {
        host: parse_robots_txt(body)["rules"]
        for host, body in robots_bodies.items()
    }


def rules_df(spark: SparkSession, robots: dict[str, list]) -> DataFrame:
    """CrawlConfig.robots dict (host → patterns / (allow, pattern) tuples /
    rule dicts) ⇒ the joinable robots(host, rules) DataFrame."""
    from louis_crawler_legacy_spark.plans.crawl import ROBOTS_SCHEMA

    return local_df(
        spark,
        [(h, normalize_rules(rs)) for h, rs in sorted(robots.items())],
        ROBOTS_SCHEMA,
    )
