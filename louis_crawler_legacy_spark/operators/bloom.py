"""Partitioned Bloom-filter URL-seen set (north rule custom structure).

The reference keeps the seen set as an in-memory Python set + append-only
file and documents that it breaks past ~100k URLs
(goldie_playwright_parallel.py:437, docs/parallel_spider_guide.md:407-410).
At a 10^10-URL frontier neither a driver-side set nor a plain exact
anti-join-per-candidate is enough, so:

- the seen set's Bloom layer is hash-partitioned by URL
  (pmod(xxhash64(url), P)) — NOT by host: a hot host would pin one
  partition's blob + all its candidates into a single task and saturate
  that blob's fpp while others sit empty,
- each partition additionally maintains a Bloom bitmap blob
  (`seen_bloom(part_id, bits, n_items)`),
- candidate dedup is two-stage: a vectorized numpy probe per partition
  (cogrouped applyInPandas — each task touches only its partition's blob);
  **bloom-miss ⇒ definitively new** (no false negatives) and skips the
  exact join entirely; only bloom-hits (true dups + fpp false positives)
  go through the exact left-anti against `seen`.

At 10^10 URLs with fpp=1% that turns the exact anti-join from 10^10-row
probe side into ~(dups + 1% of new) — the scale-critical reduction.

Hashing: h1 = xxhash64(url), h2 = xxhash64(url, 'bloom-h2'), double hashing
idx_i = (h1 + i*h2) mod m — both hashes computed JVM-side (functions/urls.py),
the numpy probe only ever sees int64 columns.

**Unbounded growth (round-3 scale fix)**: a fixed bitmap saturates on a
sustained crawl (n_items past capacity → fpp → 1 → the two-stage dedup
silently degrades to a full exact anti-join). Each partition's blob is
therefore a SCALABLE filter (Almeida et al., "Scalable Bloom Filters",
IPL 2007): a chain of layers; inserts always go to the newest layer, a
full layer appends the next one, a probe ORs all layers. Growth never
needs a rebuild pass over the seen table: the blob grows in place inside
the same cogrouped merge task. ``BlobFilter`` owns that chain for both
seen-filter kinds; a kind is a codec over ONE layer. Bloom layer i is
sized by bloom_params(cap0·2^i, fpp0·2^-i), so total fpp is bounded by
Σ fpp0·2^-i < 2·fpp0 FOREVER and the layer count grows log2(n/cap0);
the cuckoo codec (operators/cuckoo.py) doubles its bucket count instead.

Blob layout (little-endian, ``BlobFilter.encode``): uint64 kind magic |
uint64 n_layers | n_layers × per-layer meta (uint64 words) | concatenated
per-layer payloads. Blobs are self-describing (the meta carries every
layer's geometry), so probe tasks need no driver-shared geometry.

- Bloom, magic "SBLOOM01": meta (m_bits, k, cap, n); payload the
  m_bits/8-byte bitmap.
- cuckoo, magic "CUKCHN02": meta (n_buckets, n_stash, n); payload
  uint16 table[n_buckets·4] | uint64 stash[n_stash].
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType()),
        T.StructField("bits", T.BinaryType()),
        T.StructField("n_items", T.LongType()),
        # saturation of the blob as its merge wrote it: layer/table count
        # and the newest layer's fill fraction (null in blob tables written
        # before these columns existed, until the next merge)
        T.StructField("n_layers", T.IntegerType()),
        T.StructField("fill", T.DoubleType()),
    ]
)

_HDR = 16  # magic + n_layers


def bloom_params(expected_n: int, fpp: float = 0.01) -> tuple[int, int]:
    """(m_bits, k_hashes) for a target capacity/fpp; m rounded up to bytes."""
    expected_n = max(expected_n, 1)
    m = int(math.ceil(-expected_n * math.log(fpp) / (math.log(2) ** 2)))
    m = max(64, (m + 7) // 8 * 8)
    k = max(1, round(m / expected_n * math.log(2)))
    return m, min(k, 16)


def _indices(h1: np.ndarray, h2: np.ndarray, k: int, m: int) -> np.ndarray:
    """(rows, k) bit positions via double hashing, unsigned-wrapped."""
    u1 = h1.astype(np.uint64)
    u2 = h2.astype(np.uint64)
    out = np.empty((len(u1), k), dtype=np.uint64)
    for i in range(k):
        out[:, i] = (u1 + np.uint64(i) * u2) % np.uint64(m)
    return out


def build_bits(h1: np.ndarray, h2: np.ndarray, m: int, k: int,
               base: bytes | None = None) -> bytes:
    """Set bits for the given hash pairs, optionally ORing into a prior blob."""
    arr = (
        np.frombuffer(base, dtype=np.uint8).copy()
        if base is not None
        else np.zeros(m // 8, dtype=np.uint8)
    )
    if len(h1):
        idx = _indices(np.asarray(h1), np.asarray(h2), k, m)
        byte_idx = (idx >> np.uint64(3)).astype(np.int64)
        masks = (np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8))
        np.bitwise_or.at(arr, byte_idx.ravel(), masks.ravel())
    return arr.tobytes()


def probe_bits(bits: bytes, h1: np.ndarray, h2: np.ndarray, m: int, k: int) -> np.ndarray:
    """Vectorized membership probe → bool array (True = maybe present)."""
    if len(h1) == 0:
        return np.zeros(0, dtype=bool)
    arr = np.frombuffer(bits, dtype=np.uint8)
    idx = _indices(np.asarray(h1), np.asarray(h2), k, m)
    byte_idx = (idx >> np.uint64(3)).astype(np.int64)
    masks = (np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8))
    return ((arr[byte_idx] & masks) != 0).all(axis=1)


class BlobFilter:
    """A scalable seen filter over one codec's layers, and the cogroup
    driver both kinds share: merge and probe over (part_id, bits, n_items,
    n_layers, fill) blob rows.

    The decoded state of a blob is its list of layers, oldest first; every
    layer has ``n`` (items in it) and ``cap`` (items it takes before the
    chain grows). This class owns growth (``insert``), the OR probe
    (``contains``), ``stats`` and the blob framing (``encode``/``decode``,
    module docstring). A codec supplies ``MAGIC``/``KIND`` (the blob's kind
    tag and the name decode errors give), ``META`` (uint64 words of
    per-layer meta), ``layer(i)`` (an empty layer i of the growth
    schedule), ``add(layer, h1, h2) -> n_added`` and
    ``has(layer, h1, h2) -> bool array`` over one layer, and
    ``meta(layer)``, ``payload(layer)`` and
    ``load(meta, blob, off) -> (layer, end)`` for the framing.

    All per-row work happens inside cogrouped applyInPandas tasks; the
    driver only moves (part_id, blob) rows, never URLs, and each task
    touches exactly one blob.
    """

    MAGIC: np.uint64
    KIND: str
    META: int

    def fresh(self) -> list:
        return [self.layer(0)]

    def insert(self, layers: list, h1: np.ndarray, h2: np.ndarray) -> tuple[list, int]:
        """Fill the newest layer to its capacity; overflow appends the next
        layer — growth happens inside the merge task, never a rebuild over
        the seen table. Splitting is positional (the first `room` keys
        stay): membership is chain-wide, and each key lives in exactly one
        layer (what cuckoo's per-copy delete needs)."""
        added = i = 0
        while i < len(h1):
            last = layers[-1]
            room = last.cap - last.n
            if room <= 0:
                layers.append(self.layer(len(layers)))
                continue
            take = min(room, len(h1) - i)
            n = self.add(last, h1[i:i + take], h2[i:i + take])
            last.n += n
            added += n
            i += take
        return layers, added

    def contains(self, layers: list, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        out = np.zeros(len(h1), dtype=bool)
        for layer in layers:
            miss = ~out
            if not miss.any():
                break
            out[miss] = self.has(layer, h1[miss], h2[miss])
        return out

    def stats(self, layers: list) -> tuple[int, float]:
        """(layer count, newest layer's fill fraction)."""
        last = layers[-1]
        return len(layers), last.n / last.cap if last.cap else 0.0

    def encode(self, layers: list) -> bytes:
        head = np.array([self.MAGIC, len(layers)], dtype=np.uint64)
        meta = np.array([self.meta(l) for l in layers], dtype=np.uint64)
        return head.tobytes() + meta.tobytes() + b"".join(self.payload(l) for l in layers)

    def decode(self, blob: bytes) -> list:
        magic, n_layers = np.frombuffer(blob[:_HDR], dtype=np.uint64)
        if magic != self.MAGIC:
            raise ValueError(
                f"not a {self.KIND} seen-filter blob (bad magic) — was this "
                f"warehouse built with another seen_filter kind? The kinds "
                f"share the seen_bloom table but not a blob format."
            )
        off = _HDR + int(n_layers) * self.META * 8
        meta = np.frombuffer(blob[_HDR:off], dtype=np.uint64).reshape(-1, self.META)
        layers = []
        for row in meta:
            layer, off = self.load([int(v) for v in row], blob, off)
            layers.append(layer)
        return layers

    def _update(self, blobs: DataFrame, hashes: DataFrame, op) -> DataFrame:
        """blobs(part_id, bits, n_items) ⊕ hashes(part_id, h1, h2) through
        ``op(state, h1, h2) -> (state, n_delta)``. Cogrouped per partition;
        a partition without a blob starts from ``fresh()``. Each output row
        carries the new state's ``stats()``."""

        def run(key, blob_pdf: pd.DataFrame, hashes_pdf: pd.DataFrame) -> pd.DataFrame:
            if len(blob_pdf):
                n0 = int(blob_pdf["n_items"].iloc[0])
                state = self.decode(blob_pdf["bits"].iloc[0])
            else:
                n0, state = 0, self.fresh()
            state, delta = op(
                state, hashes_pdf["h1"].to_numpy(), hashes_pdf["h2"].to_numpy()
            )
            n_layers, fill = self.stats(state)
            return pd.DataFrame(
                {
                    "part_id": [int(key[0])],
                    "bits": [self.encode(state)],
                    "n_items": [max(n0 + delta, 0)],
                    "n_layers": [n_layers],
                    "fill": [fill],
                }
            )

        return (
            blobs.groupBy("part_id")
            .cogroup(hashes.groupBy("part_id"))
            .applyInPandas(run, schema=BLOOM_SCHEMA)
        )

    def merge_blobs(self, blobs: DataFrame, new_hashes: DataFrame) -> DataFrame:
        """blobs ⊕ new_hashes(part_id, h1, h2) → refreshed blobs. Partitions
        without new URLs pass through; a full partition grows its chain in
        place (no rebuild, no extra shuffle)."""
        return self._update(blobs, new_hashes, self.insert)

    def probe(self, candidates: DataFrame, blobs: DataFrame,
              h1_col: str = "h1", h2_col: str = "h2") -> DataFrame:
        """candidates(…, part_id, h1, h2) → same rows + maybe_seen boolean.

        Cogrouped by part_id so each task loads exactly one blob. Rows in
        partitions with no blob yet are definitively new. Geometry comes
        from the blob's own header, not the driver."""
        out_schema = T.StructType(
            list(candidates.schema.fields)
            + [T.StructField("maybe_seen", T.BooleanType())]
        )
        cols = [f.name for f in candidates.schema.fields]

        def run(key, cand_pdf: pd.DataFrame, blob_pdf: pd.DataFrame) -> pd.DataFrame:
            if len(cand_pdf) == 0:
                return pd.DataFrame(columns=cols + ["maybe_seen"])
            if len(blob_pdf) == 0:
                cand_pdf["maybe_seen"] = False
            else:
                state = self.decode(blob_pdf["bits"].iloc[0])
                cand_pdf["maybe_seen"] = self.contains(
                    state, cand_pdf[h1_col].to_numpy(), cand_pdf[h2_col].to_numpy()
                )
            return cand_pdf

        return (
            candidates.groupBy("part_id")
            .cogroup(blobs.groupBy("part_id"))
            .applyInPandas(run, schema=out_schema)
        )


@dataclass
class _Layer:
    m: int
    k: int
    cap: int
    n: int
    bits: bytes


class PartitionedBloom(BlobFilter):
    """Scalable-Bloom codec (module docstring): capacity is a starting
    point, not a ceiling. ``n_items`` counts inserted rows."""

    MAGIC = np.uint64(0x53424C4F4F4D3031)  # "SBLOOM01"
    KIND = "bloom"
    META = 4

    def __init__(self, capacity: int, fpp: float = 0.01):
        self.cap0 = capacity
        self.fpp0 = fpp

    @classmethod
    def for_capacity(cls, capacity: int, fpp: float = 0.01) -> "PartitionedBloom":
        return cls(capacity, fpp)

    def layer(self, i: int) -> _Layer:
        """Capacity doubles, target fpp halves: total fpp stays < 2·fpp0
        at any size."""
        cap = self.cap0 << i
        m, k = bloom_params(cap, self.fpp0 * (0.5 ** i))
        return _Layer(m, k, cap, 0, b"\x00" * (m // 8))

    def add(self, layer: _Layer, h1, h2) -> int:
        layer.bits = build_bits(h1, h2, layer.m, layer.k, base=layer.bits)
        return len(h1)

    def has(self, layer: _Layer, h1, h2) -> np.ndarray:
        return probe_bits(layer.bits, h1, h2, layer.m, layer.k)

    def meta(self, layer: _Layer) -> tuple[int, ...]:
        return layer.m, layer.k, layer.cap, layer.n

    def payload(self, layer: _Layer) -> bytes:
        return layer.bits

    def load(self, meta: list[int], blob: bytes, off: int) -> tuple[_Layer, int]:
        m, k, cap, n = meta
        return _Layer(m, k, cap, n, blob[off:off + m // 8]), off + m // 8


def with_bloom_hashes(df: DataFrame, url_col: str,
                      num_partitions: int) -> DataFrame:
    """Attach (part_id, h1, h2) — all JVM-side expressions.

    part_id hashes the URL, not the host: a single hot host (a 10^9-URL
    domain is the norm in web crawl) would pin one partition's blob and all
    its candidates into one cogroup task while its blob saturates (fpp→1).
    The probe needs no host locality — politeness keeps its own host
    windows — so uniform URL hashing balances both blob occupancy and probe
    task sizes (VERDICT r01 scale-killer #2)."""
    return df.withColumns(
        {
            "part_id": F.pmod(F.xxhash64(F.col(url_col)), F.lit(num_partitions)).cast(
                "int"
            ),
            "h1": F.xxhash64(F.col(url_col)),
            "h2": F.xxhash64(F.col(url_col), F.lit("bloom-h2")),
        }
    )
