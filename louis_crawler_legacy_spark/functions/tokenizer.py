"""Pluggable tokenizer for the chunking operator.

The reference uses tiktoken cl100k_base (chunking.py:10) and its tests pin
exact token ids. tiktoken is NOT installed in this environment, so we expose:

- ``TiktokenEncoder`` when tiktoken is importable (exact reference parity),
- ``StableHashEncoder`` otherwise: a DOCUMENTED deterministic fallback —
  regex word/punct split, long words windowed BPE-style into ≤8-char pieces,
  each piece mapped to a stable 17-bit id via blake2b. Token *counts* drive
  all chunk-size semantics (256/512/409 branches), so the chunking algorithm
  is fully exercised; golden token ids in tests are pinned against this
  encoder and regenerate under tiktoken if present (documented divergence,
  SURVEY.md §7 'hard/risky').

Both encoders are picklable and cheap to construct inside pandas-UDF workers.
"""

from __future__ import annotations

import hashlib
import re

_PIECE_RE = re.compile(r"[A-Za-z0-9]+|[^\sA-Za-z0-9]")
_VOCAB = 100_003  # prime, ~cl100k-sized id space
_WINDOW = 8


class StableHashEncoder:
    name = "stable-hash-v1"

    # piece → token-id list memo, shared per worker PROCESS (class-level in
    # an importable module, so a reused Python worker keeps it across tasks
    # — the guide-§4.5 heavyweight-state pattern). Natural-language token
    # frequency is Zipfian, so the hit rate is ~99% on real text and the
    # blake2b construction (measured 87% of the whole chunking pipeline's
    # CPU before memoization) amortizes away. Values are IDENTICAL to the
    # unmemoized fold — encode() is a pure function of the piece. Bounded:
    # past _MEMO_MAX distinct pieces the map is cleared (amortized O(1),
    # worst case a recompute), so an adversarial high-entropy corpus cannot
    # grow worker memory without limit (~1M pieces ≈ tens of MB).
    _memo: dict[str, list[int]] = {}
    _MEMO_MAX = 1 << 20

    @classmethod
    def _ids_for_piece(cls, piece: str) -> list[int]:
        """Fold one piece into ids and memoize them — the single
        definition behind encode and encode_with_breaks.
        Callers look the memo up inline first (the ~99% hit path) and call
        this on a miss: 8-char windows of the lowercased piece, each
        blake2b-hashed to a 64-bit int mod _VOCAB."""
        lowered = piece.lower()
        ids = [
            int.from_bytes(
                hashlib.blake2b(
                    lowered[i : i + _WINDOW].encode("utf-8"), digest_size=8
                ).digest(),
                "big",
            )
            % _VOCAB
            for i in range(0, len(lowered), _WINDOW)
        ]
        if len(cls._memo) >= cls._MEMO_MAX:
            cls._memo.clear()
        cls._memo[piece] = ids
        return ids

    def encode(self, text: str) -> list[int]:
        out: list[int] = []
        memo_get = self._memo.get
        for piece in _PIECE_RE.findall(text):
            ids = memo_get(piece)
            if ids is None:
                ids = self._ids_for_piece(piece)
            out.extend(ids)
        return out

    def encode_with_breaks(
        self, text: str, sep: str
    ) -> tuple[list[int], list[tuple[int, int]]]:
        """One pass returning BOTH ``encode(text)`` and the sentence spans.

        ``flat, spans = encode_with_breaks(text, sep)`` satisfies
        ``flat == encode(text)`` and
        ``[flat[s:e] for s, e in spans] == [encode(p) for p in
        text.split(sep)]`` (both pinned by test): ``sep`` (a single
        non-alnum, non-space char) is always matched as its own piece by
        _PIECE_RE, so the piece stream splits at the sep pieces exactly
        where ``text.split(sep)`` splits. This exists for the chunker's
        >512-token blocks, which previously tokenized the same text twice —
        once whole for the size decision, once sentence-split for bucket
        packing; the combined pass halves the tokenizer work on that path.
        Cost on the flat path is one extra ``piece == sep`` comparison per
        piece, so callers with blocks that cannot need splitting (token
        count ≤ len(text) ≤ 512) should keep plain encode()."""
        assert len(sep) == 1 and not sep.isalnum() and not sep.isspace()
        memo_get = self._memo.get
        out: list[int] = []
        spans: list[tuple[int, int]] = []
        start = 0
        for piece in _PIECE_RE.findall(text):
            ids = memo_get(piece)
            if ids is None:
                ids = self._ids_for_piece(piece)
            if piece == sep:
                spans.append((start, len(out)))
                out.extend(ids)
                start = len(out)
            else:
                out.extend(ids)
        spans.append((start, len(out)))
        return out, spans


class TiktokenEncoder:
    name = "cl100k_base"

    def __init__(self):
        import tiktoken

        self._enc = tiktoken.get_encoding("cl100k_base")

    def encode(self, text: str) -> list[int]:
        return self._enc.encode(text)


def get_encoder():
    try:
        return TiktokenEncoder()
    except ImportError:
        return StableHashEncoder()


_ENCODER = None


def default_encoder():
    global _ENCODER
    if _ENCODER is None:
        _ENCODER = get_encoder()
    return _ENCODER
