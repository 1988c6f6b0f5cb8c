"""Per-host politeness budget and robots.txt filtering (SURVEY §2.6 O5).

The reference's politeness is AutoThrottle (per-host target concurrency
1.0, settings.py:71-78) with robots DISABLED (settings.py:19). The engine
reproduces the reference under `host_budget=None, robots off`, and adds the
north-rule features:

- per-round per-host budget: rank URLs within host by the deterministic
  frontier order and keep rank ≤ budget,
- hot-host skew mitigation (axis B): for skewed hosts a single-window rank
  serializes the whole host into one task; with salt_buckets > 1 we
  pre-rank within (host, salt) buckets — any row ranked > budget in its
  bucket can't be ≤ budget globally — then exact-rank only the ≤budget×S
  survivors per host,
- robots.txt compliance: a robots(host, disallow_prefixes) table joined as
  a filter; reference has none (new functionality per north rule), so the
  equivalence oracle runs with robots=None.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from louis_crawler_legacy_spark.functions.urls import salted_host
from louis_crawler_legacy_spark.sources.tables import local_df


def politeness_cap(
    df: DataFrame,
    budget: int | None,
    host_col: str = "host",
    order_cols: tuple[str, ...] = ("depth", "discovery_round", "discovery_seq", "url"),
    salt_buckets: int = 0,
    url_col: str = "url",
    host_budgets: dict[str, int] | None = None,
) -> DataFrame:
    """Keep at most ``budget`` URLs per host per round, by frontier order.

    ``host_budgets`` overrides the budget per host (e.g. derived from a
    robots.txt Crawl-delay via ``budgets_from_crawl_delays``); hosts not in
    the map use ``budget``. With both None this is the identity (reference
    semantics — politeness off)."""
    if budget is None and not host_budgets:
        return df
    order = [F.col(c) for c in order_cols]
    default_budget = budget if budget is not None else 2**31 - 1
    if host_budgets:
        budget_df = F.broadcast(local_df(
            df.sparkSession, sorted(host_budgets.items()),
            T.StructType([T.StructField(host_col, T.StringType()),
                          T.StructField("_host_budget", T.LongType())]),
        ))
        df = df.join(budget_df, host_col, "left")
    else:
        df = df.withColumn("_host_budget", F.lit(None).cast("int"))
    eff = F.coalesce(F.col("_host_budget"), F.lit(default_budget))
    if salt_buckets and salt_buckets > 1:
        salted = salted_host(F.col(host_col), F.col(url_col), salt_buckets)
        pre = Window.partitionBy(salted).orderBy(*order)
        df = (
            df.withColumn("_pre_rank", F.row_number().over(pre))
            .filter(F.col("_pre_rank") <= eff)
            .drop("_pre_rank")
        )
    w = Window.partitionBy(host_col).orderBy(*order)
    return (
        df.withColumn("_host_rank", F.row_number().over(w))
        .filter(F.col("_host_rank") <= eff)
        .drop("_host_rank", "_host_budget")
    )


def budgets_from_crawl_delays(
    crawl_delays: dict[str, float], round_period_sec: float
) -> dict[str, int]:
    """AutoThrottle analog (reference settings.py:71-78 targets 1 req/host
    concurrency with adaptive delay): a host with Crawl-delay d gets at most
    floor(round_period / d) fetches per round, min 1."""
    return {
        host: max(1, int(round_period_sec / delay))
        for host, delay in crawl_delays.items()
        if delay and delay > 0
    }


def url_path(url: Column) -> Column:
    return F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit("/"))


def url_match_target(url: Column) -> Column:
    """RFC 9309 match target: path plus '?query' when present (robots
    patterns match against both, §2.2.2)."""
    q = F.parse_url(url, F.lit("QUERY"))
    return F.concat(
        url_path(url),
        F.when(q.isNotNull(), F.concat(F.lit("?"), q)).otherwise(F.lit("")),
    )


# -- RFC 9309 rule representation --------------------------------------------
# A robots group is an ORDERED list of rules; each rule is
# {allow: bool, pattern: str (as written), rx: str (Java/PCRE-safe regex,
# prefix-anchored, '*'→'.*', trailing '$'→anchor), plen: int (octets of
# the pattern — the RFC's specificity measure)}. Evaluation: among rules
# whose rx matches the url's path?query, the LONGEST pattern wins; on a
# length tie allow wins; no match ⇒ allowed (RFC 9309 §2.2.2).


def pattern_regex(pattern: str) -> str:
    """Translate a robots.txt path pattern to an anchored regex: '*' is a
    wildcard, a trailing '$' anchors the end, everything else is literal
    (escaped — `re.escape` only escapes regex metacharacters, all of which
    Java regex also treats as literal when backslash-escaped)."""
    import re as _re

    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    rx = "^" + ".*".join(_re.escape(seg) for seg in body.split("*"))
    return rx + "$" if anchored else rx


def normalize_rules(rules) -> list[dict]:
    """Accept rules as plain strings (a disallow pattern — the legacy
    prefix form), (allow, pattern) tuples, or ready dicts; emit the full
    rule dicts in input order."""
    out = []
    for r in rules or ():
        if isinstance(r, str):
            allow, pattern = False, r
        elif isinstance(r, dict):
            allow, pattern = bool(r["allow"]), r["pattern"]
        else:
            allow, pattern = bool(r[0]), r[1]
        out.append(
            {
                "allow": allow,
                "pattern": pattern,
                "rx": pattern_regex(pattern),
                "plen": len(pattern.encode("utf-8")),
            }
        )
    return out


def robots_disallowed_expr(target: Column, rules: Column) -> Column:
    """True when the best-matching rule disallows ``target`` — the native
    (no-Python) evaluator over a rules array column: filter to matching
    rules (regexp_like against the pre-translated rx), then a left fold
    keeping the longest pattern, allow winning ties. NULL/empty rules ⇒
    allowed. Arrays are per-host and tiny, so the HOFs stay narrow."""
    matched = F.filter(
        F.coalesce(rules, F.array().cast(rules_type())),
        lambda r: F.regexp_like(target, r["rx"]),
    )
    best = F.aggregate(
        matched,
        F.struct(
            F.lit(-1).alias("plen"), F.lit(True).alias("allow")
        ),
        lambda acc, r: F.when(
            (r["plen"] > acc["plen"])
            | ((r["plen"] == acc["plen"]) & r["allow"]),
            F.struct(r["plen"].alias("plen"), r["allow"].alias("allow")),
        ).otherwise(acc),
    )
    return ~best["allow"]


def rules_type():
    return T.ArrayType(
        T.StructType(
            [
                T.StructField("allow", T.BooleanType()),
                T.StructField("pattern", T.StringType()),
                T.StructField("rx", T.StringType()),
                T.StructField("plen", T.IntegerType()),
            ]
        )
    )


def robots_filter(
    candidates: DataFrame,
    robots: DataFrame | None,
    url_col: str = "url",
    host_col: str = "host",
) -> DataFrame:
    """Drop candidate URLs whose best-matching robots rule for their host
    disallows them (RFC 9309 longest-match, Allow overrides, '*'/'$'
    supported). robots(host, rules: array<struct>) is tiny (one row per
    host) → broadcast join; evaluation is native expressions, no Python."""
    if robots is None:
        return candidates
    target = url_match_target(F.col(url_col))
    joined = candidates.join(
        F.broadcast(robots.withColumnRenamed("host", host_col)),
        on=host_col,
        how="left",
    )
    return joined.filter(
        ~robots_disallowed_expr(target, F.col("rules"))
    ).drop("rules")


def robots_blocked_py(url: str, robots_map: dict[str, list] | None) -> bool:
    """Pure-Python twin for the simulator — same longest-match fold, same
    iteration order, over the same rule inputs (strings, tuples, or rule
    dicts — see normalize_rules)."""
    if not robots_map:
        return False
    import re as _re
    from urllib.parse import urlparse

    parsed = urlparse(url)
    rules = normalize_rules(robots_map.get(parsed.netloc, []))
    target = (parsed.path or "/") + (
        "?" + parsed.query if parsed.query else ""
    )
    best_plen, best_allow = -1, True
    for r in rules:
        if _re.match(r["rx"], target) and (
            r["plen"] > best_plen or (r["plen"] == best_plen and r["allow"])
        ):
            best_plen, best_allow = r["plen"], r["allow"]
    return not best_allow
