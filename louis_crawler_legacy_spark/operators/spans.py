"""Interleaved-document span model (BASELINE.json input_hint):

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

A crawled page becomes an ordered span sequence:
- kind='text'  — one span per chunker output chunk (operators/chunking.py),
- kind='media' — a .pdf child link (the reference stores it as a child,
  goldie.py:22-35, but excludes it from the frontier, requests.py:6-7),
- kind='link'  — any other child link.

The per-row invariant vs the reference (north rule) is span-sequence
equality on (kind, text, media_ref, order) — enforced by
``assert_span_equality`` in tests.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from louis_crawler_legacy_spark.functions.extract import extract_page_fields
from louis_crawler_legacy_spark.functions.tokenizer import default_encoder
from louis_crawler_legacy_spark.operators.chunking import chunk_html

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

SPANS_TYPE = T.ArrayType(SPAN_STRUCT)


def page_spans(content: str | None, children, enc) -> list[tuple]:
    """One page's span tuples (kind, text, media_ref, offset): a text span
    per chunk of the cleaned ``content``, then a media or link span per
    child url, in order."""
    spans: list[tuple] = []
    if content:
        for ch in chunk_html(content, enc):
            spans.append(("text", ch["text_content"], None, len(spans)))
    for child in (children if children is not None else []):
        kind = "media" if child.endswith(".pdf") else "link"
        spans.append((kind, None, child, len(spans)))
    return spans


def _spans_from_html(html: str, base_url: str, enc) -> list[tuple]:
    f = extract_page_fields(html, base_url, None)
    return page_spans(f["content"], f["children"], enc)


def build_spans_py(html: str, base_url: str, enc=None) -> list[dict]:
    """Pure-Python span builder (the oracle twin for the Spark operator).

    Mirrors the reference pipeline composition exactly: goldie stores the
    CLEANED main as html_content (goldie.py:14,47-61) and hawn chunks that
    stored content (middlewares.py:119-129 → hawn.py:8-19), while children
    are collected from the post-clean tree (clean mutates scrapy's cached
    selector before a::attr(href) runs — goldie.py:14 vs :23). So: text
    spans = chunk_html(cleaned content), link/media spans = post-clean
    children — the content and children the crawl's extract_page_fields
    produces."""
    if enc is None:
        enc = default_encoder()
    return [
        dict(zip(SPAN_STRUCT.fieldNames(), s))
        for s in _spans_from_html(html, base_url, enc)
    ]


def spans_from_extracted(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
    children_col: str = "children",
) -> DataFrame:
    """documents(doc_id, spans) from ALREADY-extracted fields — the
    crawl-path spans builder.

    The fetch round has already parsed + cleaned each page once
    (functions/extract.py), so text spans chunk the stored cleaned content
    (precisely what hawn does to crawl_items.html_content) and link/media
    spans come from the stored children. Identical output to
    docs_to_spans(raw html) — pinned by tests — without a second
    parse+clean of the 75 KB raw page per row (chunk_html still parses
    the cleaned content)."""
    id_field = next(f for f in df.schema.fields if f.name == id_col)
    schema = T.StructType([id_field, T.StructField("spans", SPANS_TYPE)])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        enc = default_encoder()
        for pdf in batches:
            out = [
                (doc_id, page_spans(content, children, enc))
                for doc_id, content, children in zip(
                    pdf[id_col], pdf[content_col], pdf[children_col]
                )
            ]
            yield pd.DataFrame(out, columns=[id_col, "spans"])

    return df.select(id_col, content_col, children_col).mapInPandas(
        gen, schema=schema
    )


def docs_to_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """pages(html) → documents(doc_id, spans) — one narrow mapInPandas pass,
    vectorized across documents per Arrow batch, no shuffle."""
    id_field = next(f for f in df.schema.fields if f.name == id_col)
    schema = T.StructType([id_field, T.StructField("spans", SPANS_TYPE)])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        enc = default_encoder()
        for pdf in batches:
            out = [
                (doc_id,
                 [] if html is None else _spans_from_html(html, url, enc))
                for doc_id, html, url in zip(
                    pdf[id_col], pdf[html_col], pdf[url_col]
                )
            ]
            yield pd.DataFrame(out, columns=[id_col, "spans"])

    return df.select(id_col, html_col, url_col).mapInPandas(gen, schema=schema)


def explode_spans(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Flatten to one row per span, preserving order via offset."""
    return df.select(
        id_col, F.explode("spans").alias("span")
    ).select(
        id_col,
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def frontier_candidates_from_spans(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Link-kind spans → frontier candidate URLs (media spans are stored
    but never scheduled — reference requests.py:6-7)."""
    s = explode_spans(df, id_col)
    return s.filter(F.col("kind") == "link").select(
        F.col(id_col).alias("src_doc"), F.col("media_ref").alias("url"), "offset"
    )
