"""Round-6 optimization equivalence pins: the tokenizer memoization,
the one-pass flat-plus-sentence-spans encode (encode_with_breaks), and
the split/join whitespace collapse must be BIT-IDENTICAL to the folds
they replaced.
"""

from __future__ import annotations

import hashlib
import random
import re

from louis_crawler_legacy_spark.functions.htmlx import collapse_ws
from louis_crawler_legacy_spark.functions.tokenizer import (
    _PIECE_RE,
    _VOCAB,
    _WINDOW,
    StableHashEncoder,
)


def _reference_encode(text: str) -> list[int]:
    """The pre-memoization fold, verbatim (r05 tokenizer.py)."""
    out: list[int] = []
    for piece in _PIECE_RE.findall(text):
        lowered = piece.lower()
        for i in range(0, len(lowered), _WINDOW):
            window = lowered[i : i + _WINDOW]
            digest = hashlib.blake2b(window.encode("utf-8"), digest_size=8)
            out.append(int.from_bytes(digest.digest(), "big") % _VOCAB)
    return out


def _texts() -> list[str]:
    rng = random.Random(11)
    texts = [
        "",
        ".",
        "...",
        "a.b.c",
        "Hello, WORLD!  multiple   spaces",
        "éàç ünïcode 漢字 . mixed punct?!.",
        "superlongword" * 7,
        " ".join(
            f"t{rng.randint(0, 96)}" + ("." if i % 17 == 16 else "")
            for i in range(3000)
        ),
    ]
    alphabet = "ab .?!x9\t\n "
    texts += [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 200)))
        for _ in range(50)
    ]
    return texts


def test_memoized_encode_matches_reference_fold():
    enc = StableHashEncoder()
    for t in _texts():
        assert enc.encode(t) == _reference_encode(t)


def test_memo_overflow_path_is_value_identical():
    old_max = StableHashEncoder._MEMO_MAX
    try:
        StableHashEncoder._MEMO_MAX = 3  # force clears every few pieces
        StableHashEncoder._memo.clear()
        enc = StableHashEncoder()
        t = "alpha beta gamma delta epsilon zeta alpha beta gamma!"
        assert enc.encode(t) == _reference_encode(t)
        assert len(StableHashEncoder._memo) <= 3
    finally:
        StableHashEncoder._MEMO_MAX = old_max
        StableHashEncoder._memo.clear()


def test_encode_with_breaks_equals_encode_and_split():
    """The combined pass must reproduce BOTH folds exactly: the flat list
    is encode(text), and the span slices are the per-sentence lists."""
    enc = StableHashEncoder()
    for t in _texts():
        flat, spans = enc.encode_with_breaks(t, ".")
        assert flat == enc.encode(t)
        assert [flat[s:e] for s, e in spans] == [
            enc.encode(s) for s in t.split(".")
        ]
        assert len(spans) == len(t.split("."))


def test_encode_with_breaks_overflow_path_is_value_identical():
    old_max = StableHashEncoder._MEMO_MAX
    try:
        StableHashEncoder._MEMO_MAX = 3  # force clears every few pieces
        StableHashEncoder._memo.clear()
        enc = StableHashEncoder()
        t = "alpha beta. gamma delta. epsilon zeta alpha. beta gamma!."
        flat, spans = enc.encode_with_breaks(t, ".")
        assert flat == _reference_encode(t)
        assert [flat[s:e] for s, e in spans] == [
            _reference_encode(s) for s in t.split(".")
        ]
    finally:
        StableHashEncoder._MEMO_MAX = old_max
        StableHashEncoder._memo.clear()


def test_chunker_split_path_spans_equal_fallback_chunks():
    """chunk_html output for a >512-token multi-sentence doc must be
    IDENTICAL whether the split path slices cached sent_spans (the r06
    combined pass) or re-tokenizes each sentence with encode (the
    fallback for encoders without the combined pass)."""
    import random

    from louis_crawler_legacy_spark.operators import chunking

    class NoBreaksEncoder(StableHashEncoder):
        encode_with_breaks = None  # force the per-sentence encode fallback

    rng = random.Random(7)
    body = " ".join(
        f"w{rng.randint(0, 400)}" + ("." if i % 13 == 12 else "")
        for i in range(2500)
    )
    html = f"<html><head><title>T</title></head><body><p>{body}</p></body></html>"
    fast = chunking.chunk_html(html, StableHashEncoder())
    slow = chunking.chunk_html(html, NoBreaksEncoder())
    assert len(fast) > 1  # the split path actually ran
    assert fast == slow


def test_poly_hash_split_fold_equals_substr_fold(spark):
    """r06: poly_hash folds over split(col, '') (O(len)) instead of the
    substr(col, i, 1) indexed fold (O(len²) — per-index UTF-8 scan). The
    values must be identical for every string, including the empty string
    (empty array fold ≡ the old 1-element sequence with ascii(NULL)→0)."""
    from pyspark.sql import functions as F

    from louis_crawler_legacy_spark.operators.dedup import poly_hash

    def poly_hash_r05(col, mod=1_000_000_007):
        return F.aggregate(
            F.sequence(F.lit(1), F.greatest(F.length(col), F.lit(1))),
            F.lit(0).cast("long"),
            lambda acc, i: (
                acc * 31
                + F.coalesce(F.ascii(col.substr(i, F.lit(1))), F.lit(0))
            )
            % mod,
        )

    rows = [("",), ("a",), ("abc def",), ("éàç 漢字",), ("x" * 200,),
            (" lead trail ",), ("tab\tand\nnl",), ("punct!?.,;",)]
    df = spark.createDataFrame(rows, ["s"])
    bad = df.select(
        (poly_hash(F.col("s")) == poly_hash_r05(F.col("s"))).alias("eq")
    ).where(~F.col("eq")).count()
    assert bad == 0


def test_collapse_ws_equals_regex_form():
    ws_re = re.compile(r"\s+")
    rng = random.Random(5)
    # every char the old \s+ regex treated as whitespace must still collapse
    zoo = " \t\n\r\f\v\x1c\x1d\x1e\x1f\x85\xa0   　"
    cases = [
        "",
        "   ",
        "a  b",
        f"{zoo}word{zoo}word2{zoo}",
        "x  y",
    ]
    cases += [
        "".join(rng.choice("ab" + zoo) for _ in range(rng.randint(0, 80)))
        for _ in range(200)
    ]
    for s in cases:
        assert collapse_ws(s) == ws_re.sub(" ", s).strip()
