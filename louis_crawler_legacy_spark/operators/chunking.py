"""HTML → 256–512-token chunk segmentation (the span generator).

Re-implementation of the reference algorithm (louis/crawler/chunking.py,
289 LoC) on our stdlib DOM, preserving its semantics exactly:

- headings h1..h6 and their following siblings are wrapped into
  ``div.hN-block.blocks`` carrying the heading text as ``title``
  (chunking.py:158-196); the body is the ``h0-block`` root; lone-wrapped
  headings are unwrapped first (chunking.py:170-174).
- leaf blocks are segmented (chunking.py:220-250):
  * 256 ≤ n ≤ 512 → emitted as-is,
  * n < 256 → greedy sibling collection up to 512 total, then climb to the
    parent block and retry from there; parent title = ';'.join(child titles)
    (chunking.py:120-156),
  * n > 512 → sentence split on '.' and first-fit into buckets with the
    reference's fixed 409-token target (chunking.py:100 — its
    estimate_best_bucket_size is dead code; we keep the constant),
- combine: '\\n'-joined text, concatenated tokens, ';'-chained titles with
  adjacent-dup suppression, hard ≤512 assertion (chunking.py:198-218 — the
  reference crashes on a single >512-token sentence; we raise
  ChunkTooLargeError to mirror).

The algorithm is sequential per document; vectorization is across documents
inside an Arrow batch (``chunk_documents`` below, mapInPandas), which is
legal because documents are independent.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from louis_crawler_legacy_spark.functions.htmlx import (
    HEADERS_RE,
    Element,
    Soup,
    collapse_ws,
    parse_html,
)
from louis_crawler_legacy_spark.functions.tokenizer import default_encoder

MIN_TOKENS = 256
MAX_TOKENS = 512
SPLIT_BUCKET_TARGET = 409  # chunking.py:100 — fixed constant, see module doc


class ChunkTooLargeError(ValueError):
    """Mirrors the reference's `assert chunk['token_count'] <= 512`
    (chunking.py:217) — raised when a single '.'-free sentence exceeds 512
    tokens and bucket-packing cannot satisfy the invariant."""


def _compute_tokens(block: Element, enc) -> dict:
    """Tokenize a block's collapsed text, caching in attrs
    (chunking.py:14-36). Pre-annotated blocks (tokens/token_count attrs
    already present) are trusted — the fixture cache path."""
    if "tokens" in block.attrs:
        text_content = block.attrs["text_content"]
        token_count = int(block.attrs["token_count"])
        tokens = block.attrs["tokens"]
        if isinstance(tokens, str):  # fixture path: JSON-string attr in HTML
            tokens = json.loads(tokens)
    else:
        text_content = collapse_ws(block.get_text())
        # a token always consumes ≥1 character, so token_count ≤ len(text):
        # a block at ≤ MAX_TOKENS chars can never take the sentence-split
        # path and keeps the plain (cheapest) encode. Longer blocks use the
        # combined pass so a >512-token block is tokenized ONCE — the spans
        # (cached on the block like the token list) let the split path slice
        # per-sentence token lists out of the flat list instead of
        # re-tokenizing the whole text.
        breaks_fn = getattr(enc, "encode_with_breaks", None)
        if breaks_fn is not None and len(text_content) > MAX_TOKENS:
            tokens, sent_spans = breaks_fn(text_content, ".")
            block.attrs["sent_spans"] = sent_spans
        else:
            tokens = enc.encode(text_content)
        token_count = len(tokens)
        # cache the list itself — these attrs never serialize back to HTML
        # on the chunk path, and the json round-trip was pure overhead;
        # pre-annotated fixtures still arrive as strings (guard above)
        block.attrs["tokens"] = tokens
        block.attrs["token_count"] = token_count
        block.attrs["text_content"] = text_content
    return {
        "text_content": text_content,
        "tokens": tokens,
        "token_count": token_count,
        "title": block.attrs.get("title", ""),
    }


def _mark_parent(block: Element) -> None:
    """Flag a block and its ancestors as parents (chunking.py:38-55)."""
    while block is not None:
        if "parent" in block.attrs:
            return
        block.attrs["parent"] = "1"
        if block.name == "body":
            return
        block = block.parent


def _mark_processed(block: Element) -> None:
    """Flag a block and every descendant block as processed
    (chunking.py:61-66)."""
    block.attrs["processed"] = "1"
    for child in block.find_all(class_="blocks"):
        child.attrs["processed"] = "1"


def group_heading_by_block(soup: Soup) -> None:
    """Wrap each heading + following siblings (up to the next same-or-higher
    heading) into a titled div block (chunking.py:158-196)."""
    body = soup.body
    body.add_class("blocks", "h0-block")
    if soup.title is not None:
        body.attrs["title"] = soup.title.get_text().strip()

    # unwrap tags that wrap a lone heading, e.g. <summary><h1>…</h1></summary>
    for block in list(soup.find_all(HEADERS_RE)):
        parent = block.parent
        if parent is None:
            continue
        if not HEADERS_RE.match(parent.name) and len(block.element_siblings_after()) == 0:
            parent.unwrap()

    for block in list(soup.find_all(HEADERS_RE)):
        siblings = block.next_siblings()  # captured before the wrap
        wrapper = Element(
            "div",
            {
                "class": f"{block.name}-block blocks",
                "title": block.get_text().strip(),
            },
        )
        parent_div = block.wrap(wrapper)
        for sibling in siblings:
            name = sibling.name
            if name and HEADERS_RE.match(name):
                if name[1] <= block.name[1]:
                    # same-or-higher heading level terminates the block
                    break
            parent_div.append(sibling)
        _mark_parent(parent_div.parent)


def _is_int_pairs(value) -> bool:
    return isinstance(value, list) and all(
        isinstance(p, (list, tuple)) and len(p) == 2
        and all(type(i) is int for i in p)
        for p in value
    )


def _split_chunk_into_subchunks(
    large_chunk: dict, enc, sent_spans: list[tuple[int, int]] | None = None
) -> list[dict]:
    """Sentence-split + first-fit bucket packing at the 409 target
    (chunking.py:79-118)."""
    assert large_chunk["token_count"] > MAX_TOKENS
    sentences = large_chunk["text_content"].split(".")
    # zero extra tokenizer passes when _compute_tokens already recorded the
    # sentence spans (encode_with_breaks): per-sentence token lists are
    # slices of the block's flat token list (bit-equal, pinned by test).
    # Otherwise (encoders without the combined pass, e.g. tiktoken, and
    # fixture blocks that arrive with their tokens) per-sentence encode.
    if sent_spans is not None:
        tokens = large_chunk["tokens"]
        token_lists = [tokens[s:e] for s, e in sent_spans]
    else:
        token_lists = [enc.encode(s) for s in sentences]
    if len(token_lists) != len(sentences):
        raise ValueError(
            f"{len(token_lists)} sentence token lists for "
            f"{len(sentences)} sentences (stale or malformed sent_spans?)"
        )
    sentence_chunks = []
    for sentence, tokens in zip(sentences, token_lists):
        sentence_chunks.append(
            {
                "text_content": sentence,
                "tokens": tokens,
                "token_count": len(tokens),
                "title": large_chunk.get("title", ""),
            }
        )

    buckets: list[list[dict]] = [[]]
    bucket = buckets[0]
    bucket_size = 0
    for sc in sentence_chunks:
        if bucket_size + sc["token_count"] >= SPLIT_BUCKET_TARGET:
            bucket = []
            buckets.append(bucket)
            bucket_size = 0
        bucket.append(sc)
        bucket_size += sc["token_count"]

    return [_combine_chunks(bucket) for bucket in buckets]


def _combine_chunks(chunks: list[dict]) -> dict:
    """Fold chunks into one: '\\n'-join text, concat tokens, ';'-chain titles
    (chunking.py:198-218)."""
    assert len(chunks) > 0
    if len(chunks) == 1:
        return chunks[0]
    chunk = chunks[0]
    for nxt in chunks[1:]:
        chunk["text_content"] += "\n" + nxt["text_content"]
        chunk["tokens"] = chunk["tokens"] + nxt["tokens"]
        chunk["token_count"] += nxt["token_count"]
        if nxt["title"] != chunk["title"]:
            chunk["title"] += ";" + nxt["title"]
        if chunk["token_count"] > MAX_TOKENS:
            raise ChunkTooLargeError(
                f"combined chunk exceeds {MAX_TOKENS} tokens "
                f"({chunk['token_count']})"
            )
    return chunk


def _collect_chunks_from_block(
    block: Element, total_token_count: int, chunks: list[dict], enc
) -> None:
    """Greedy sibling collection then parent climb (chunking.py:120-156)."""
    if "processed" not in block.attrs:
        chunk = _compute_tokens(block, enc)
        prospective_total = total_token_count + int(chunk["token_count"])
        if prospective_total <= MAX_TOKENS:
            chunks.append(chunk)
            _mark_processed(block)
        else:
            # too big — abandon here, a later iteration handles the rest
            return
    else:
        prospective_total = total_token_count

    sibling = block.find_next_sibling(class_="blocks")
    if sibling is not None:
        return _collect_chunks_from_block(sibling, prospective_total, chunks, enc)

    parent_div = block.find_parent(class_="blocks")
    if parent_div is not None:
        parent_chunks: list[dict] = []
        if "title" not in parent_div.attrs:
            parent_div.attrs["title"] = ";".join(c["title"] for c in chunks)
        _collect_chunks_from_block(parent_div, 0, parent_chunks, enc)
        if parent_chunks:
            chunks.clear()
            chunks.extend(parent_chunks)
    return


def segment_blocks_into_chunks(blocks: list[Element], enc) -> list[dict]:
    """Leaf-block segmentation dispatch (chunking.py:220-250)."""
    all_chunks: list[dict] = []
    for block in blocks:
        if "parent" in block.attrs or "processed" in block.attrs:
            continue
        chunk = _compute_tokens(block, enc)
        if chunk["token_count"] <= MAX_TOKENS:
            if chunk["token_count"] >= MIN_TOKENS:
                all_chunks.append(chunk)
                _mark_processed(block)
            else:
                collected: list[dict] = []
                _collect_chunks_from_block(block, 0, collected, enc)
                all_chunks.append(_combine_chunks(collected))
        else:
            # spans cached by _compute_tokens are a list of int pairs; an
            # HTML attr of the same name arrives as a string — ignore it
            spans = block.attrs.get("sent_spans")
            if not _is_int_pairs(spans):
                spans = None
            all_chunks.extend(
                _split_chunk_into_subchunks(chunk, enc, sent_spans=spans)
            )
            _mark_processed(block)
    return all_chunks


def chunk_html(html_content: str, enc=None) -> list[dict]:
    """Chunk one HTML document; returns list of
    {text_content, tokens, token_count, title} (chunking.py:252-276)."""
    if enc is None:
        enc = default_encoder()
    soup = parse_html(html_content)
    soup.smooth()
    group_heading_by_block(soup)
    blocks = soup.select_class("blocks")
    return segment_blocks_into_chunks(blocks, enc)


# ---------------------------------------------------------------------------
# Spark operator: documents(html) → chunks, vectorized across docs per
# Arrow batch. One shuffle-free narrow mapInPandas; output explodes 1→N.
# ---------------------------------------------------------------------------


def chunk_schema(id_field: T.StructField) -> T.StructType:
    return T.StructType(
        [
            id_field,
            T.StructField("chunk_idx", T.IntegerType()),
            T.StructField("title", T.StringType()),
            T.StructField("text_content", T.StringType()),
            T.StructField("token_count", T.IntegerType()),
            T.StructField("tokens", T.ArrayType(T.LongType())),
        ]
    )


def chunk_documents(
    df: DataFrame, id_col: str = "doc_id", html_col: str = "html"
) -> DataFrame:
    """documents → chunks (the hawn pipeline's core, SURVEY §3.3).

    mapInPandas: no shuffle, scales linearly with input partitions; the
    encoder is constructed once per worker batch iterator, not per row."""
    id_field = next(f for f in df.schema.fields if f.name == id_col)
    schema = chunk_schema(id_field)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        enc = default_encoder()
        for pdf in batches:
            rows = []
            for doc_id, html in zip(pdf[id_col], pdf[html_col]):
                if html is None:
                    continue
                for i, ch in enumerate(chunk_html(html, enc)):
                    rows.append(
                        (
                            doc_id,
                            i,
                            ch["title"],
                            ch["text_content"],
                            ch["token_count"],
                            ch["tokens"],
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col,
                    "chunk_idx",
                    "title",
                    "text_content",
                    "token_count",
                    "tokens",
                ],
            )

    return df.select(id_col, html_col).mapInPandas(gen, schema=schema)


def chunk_id_expr(id_col: str = "doc_id", idx_col: str = "chunk_idx"):
    """Deterministic chunk id (replaces the reference's uuid4, db.py:142)."""
    return F.xxhash64(F.col(id_col).cast("string"), F.col(idx_col))
