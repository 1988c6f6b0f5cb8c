"""Per-round page extraction: ONE vectorized pandas pass per fetch batch
(SURVEY §2.2 — P1-P6 fused into a single mapInPandas stage so each page's
HTML is parsed exactly once).

Semantics follow the parallel spider worker (the crawl-order oracle,
goldie_playwright_parallel.py:160-216):
- title   = first <title> text ('' when missing)        (:170)
- lang    = 'fr' if '.ca/fr' in url else 'en'           (:177)
- content = cleaned main/body (nav/header/footer+junk dropped) (:251-287)
- children = a[href] minus #…/mailto:, urljoin'd, allowed-domain substring
  filter on the netloc, first-occurrence order-preserving dedup (:183-214)
- last_updated = first <time> text (goldie.py:13 — kept as engine feature)
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from louis_crawler_legacy_spark.functions.htmlx import (
    children_from_hrefs,
    clean_soup,
    parse_html,
)


def extract_page_fields(
    html: str, url: str, allowed_domains: list[str] | None
) -> dict:
    # ONE parse per page. Order matters and follows the reference worker:
    # clean_content_worker runs FIRST (goldie_playwright_parallel.py:162)
    # and its .drop() calls mutate scrapy's cached selector tree, so the
    # later a::attr(href) pass (:183) never sees links inside dropped junk
    # within <main>. goldie does the same (clean at goldie.py:14, children
    # at :23). title/<time> live outside <main> in practice; we read them
    # pre-clean (goldie's literal order, goldie.py:11-13).
    soup = parse_html(html)
    t = soup.title
    title = t.get_text() if t is not None else ""
    time_el = soup.root.find("time")
    last_updated = time_el.get_text() if time_el is not None else None
    content = clean_soup(soup, parallel_variant=True)
    hrefs = [
        a.attrs["href"] for a in soup.root.find_all("a") if a.attrs.get("href")
    ]
    children = children_from_hrefs(hrefs, url)
    if allowed_domains:
        kept = []
        for link in children:
            domain = link.split("/")[2] if "://" in link else ""
            if any(allowed in domain for allowed in allowed_domains):
                kept.append(link)
        children = kept
    return {
        "title": title,
        "lang": "fr" if ".ca/fr" in url else "en",
        "content": content,
        "last_updated": last_updated or None,
        "children": children,
    }


EXTRACT_FIELDS = [
    T.StructField("title", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("content", T.StringType()),
    T.StructField("last_updated", T.StringType()),
    T.StructField("children", T.ArrayType(T.StringType())),
]


def extract_pages(
    df: DataFrame,
    allowed_domains: list[str] | None,
    url_col: str = "url",
    html_col: str = "html",
    passthrough: list[str] | None = None,
) -> DataFrame:
    """fetched(url, html, …passthrough) → +title/lang/content/last_updated/
    children. Narrow (no shuffle); Arrow-batched; HTML parsed once per page."""
    passthrough = passthrough or [
        f.name for f in df.schema.fields if f.name != html_col
    ]
    in_fields = [f for f in df.schema.fields if f.name in passthrough]
    schema = T.StructType(in_fields + EXTRACT_FIELDS)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            extracted = [
                extract_page_fields(h, u, allowed_domains)
                for u, h in zip(pdf[url_col], pdf[html_col])
            ]
            out = pdf[passthrough].copy()
            for f in EXTRACT_FIELDS:
                out[f.name] = [e[f.name] for e in extracted]
            yield out

    return df.mapInPandas(gen, schema=schema)
