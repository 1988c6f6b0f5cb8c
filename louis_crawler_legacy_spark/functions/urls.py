"""URL canonicalization, host extraction, and hashing.

Reference semantics (see SURVEY.md §2.2):
- P7 fix_vhost        — /root/reference/louis/crawler/requests.py:22-25
- P8 frontier normalize — requests.py:4-20 (skip *.pdf; strip #fragment and
  ?query; relative "/" → absolute via base scheme+netloc; drop other hrefs)
- P9 host extraction  — goldie_playwright_parallel.py:192-197 / requests.py:15
- P10 deterministic id — reference uses uuid4 (db.py:142); we use xxhash64(url)
  so ids are reproducible and double as Bloom keys.

Everything here is a NATIVE column expression (no Python UDF): these run in
whole-stage codegen and are the hot path of every frontier round at
10^10-URL scale. A pandas (pure-Python, vectorized) twin of the normalize
logic lives in `normalize_frontier_pd` for the simulator/tests.
"""

from __future__ import annotations

from urllib.parse import urlparse

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# fix_vhost rewrite table (requests.py:22-25). Order matters: the reference
# applies the bare-host replace first, which also rewrites the www. form's
# suffix — replicate by applying the longer pattern first, then the shorter.
_VHOST_REWRITES = (
    ("https://www.inspection.gc.ca", "http://inspection.canada.ca"),
    ("https://inspection.gc.ca", "http://inspection.canada.ca"),
)


def fix_vhost(url: Column) -> Column:
    """P7: virtual-host rewrite, same substring-replace semantics as the
    reference (str.replace — anywhere in the string)."""
    out = url
    # Reference order: bare form first. str.replace('https://inspection.gc.ca')
    # also matches inside 'https://www.inspection.gc.ca'? No — 'www.' breaks
    # the prefix, so the two patterns are disjoint; order is irrelevant.
    for search, repl in _VHOST_REWRITES:
        out = F.replace(out, F.lit(search), F.lit(repl))
    return out


def fix_vhost_py(url: str) -> str:
    for search, repl in _VHOST_REWRITES:
        url = url.replace(search, repl)
    return url


def strip_fragment_and_query(href: Column) -> Column:
    """requests.py:9-10 — split('#')[0] then split('?')[0]."""
    return F.split(F.split(href, "#", 2).getItem(0), "\\?", 2).getItem(0)


def normalize_frontier_url(href: Column, base_url: Column) -> Column:
    """P8: the frontier's URL normalization (requests.py:4-20).

    Returns NULL for hrefs the reference skips:
      - raw href ends with 'pdf' (checked BEFORE stripping, requests.py:6),
      - href (after strip) neither starts with 'http' nor '/'.
    Relative '/'-hrefs are resolved against base scheme://netloc.
    fix_vhost is applied last, as in the reference (requests.py:19).
    """
    stripped = strip_fragment_and_query(href)
    scheme = F.parse_url(base_url, F.lit("PROTOCOL"))
    netloc = F.parse_url(base_url, F.lit("AUTHORITY"))
    resolved = (
        F.when(href.endswith("pdf"), F.lit(None).cast("string"))
        .when(stripped.startswith("http"), stripped)
        .when(
            stripped.startswith("/"),
            F.concat(scheme, F.lit("://"), netloc, stripped),
        )
        .otherwise(F.lit(None).cast("string"))
    )
    return fix_vhost(resolved)


def normalize_frontier_py(href: str, base_url: str) -> str | None:
    """Pure-Python twin of normalize_frontier_url (oracle/simulator use)."""
    if href.endswith("pdf"):
        return None
    href = href.split("#")[0].split("?")[0]
    if href.startswith("http"):
        pass
    elif href.startswith("/"):
        parsed = urlparse(base_url)
        href = parsed.scheme + "://" + parsed.netloc + href
    else:
        return None
    return fix_vhost_py(href)


def normalize_frontier_pd(href: pd.Series, base_url: pd.Series) -> pd.Series:
    """Vectorized pandas twin (for pandas-UDF pipelines/tests)."""
    out = href.str.split("#").str[0].str.split("?").str[0]
    is_pdf = href.str.endswith("pdf")
    is_http = out.str.startswith("http")
    is_rel = out.str.startswith("/")
    parsed = base_url.map(urlparse)
    prefix = parsed.map(lambda p: f"{p.scheme}://{p.netloc}")
    out = out.where(is_http, prefix.str.cat(out))
    out = out.where(~is_pdf & (is_http | is_rel), None)
    for search, repl in _VHOST_REWRITES:
        out = out.str.replace(search, repl, regex=False)
    return out


def url_host(url: Column) -> Column:
    """P9: canonical host — the frontier/seen/politeness PARTITION KEY."""
    return F.parse_url(url, F.lit("HOST"))


def url_id(url: Column) -> Column:
    """P10: deterministic 64-bit id (replaces the reference's uuid4 —
    documented divergence, SURVEY.md §7)."""
    return F.xxhash64(url)


def host_partition(url_or_host: Column, num_partitions: int, is_host: bool = False) -> Column:
    """Partition id = pmod(xxhash64(canonical host), P) — the north rule's
    explicit hash-partitioning on canonicalized host (axes A)."""
    host = url_or_host if is_host else url_host(url_or_host)
    return F.pmod(F.xxhash64(host), F.lit(num_partitions)).cast("int")


def salted_host(host: Column, url: Column, salt_buckets: int) -> Column:
    """Axes B: salted key for hot-host skew mitigation —
    concat(host, '#', pmod(xxhash64(url), S))."""
    return F.concat(
        host, F.lit("#"), F.pmod(F.xxhash64(url), F.lit(salt_buckets)).cast("string")
    )


def lang_from_url(url: Column) -> Column:
    """P4: language detection — goldie.py:17-19 ('/fra/' substring → fr)."""
    return F.when(url.contains("/fra/"), F.lit("fr")).otherwise(F.lit("en"))
