"""Partitioned cuckoo-filter URL-seen set — the north rule's alternative to
the Bloom layer (operators/bloom.py), selectable via
``CrawlConfig(seen_filter="cuckoo")``. It is a codec over one layer (a
cuckoo table) on the scalable chain and cogroup driver both kinds share
(bloom.BlobFilter, which also holds the blob layout); this module holds
the numpy kernels and the one operation Bloom lacks, deletion.

Why a cuckoo filter next to the Bloom filter:

- **deletable**: fingerprints can be removed (``delete_blobs``), which a
  Bloom bitmap cannot do. The crawl engine does not use it: its recrawl
  expiry rewrites the whole seen table anyway and rebuilds the blobs in
  that pass (see the CAVEAT below),
- **bounded lookups**: a probe reads exactly two 4-slot buckets (plus a
  tiny overflow stash) per table, independent of occupancy,
- **lower fpp per bit at high load**: 16-bit fingerprints give
  fpp ≈ 2·b/2^16 ≈ 1.2e-4 at ~84% load.

Same two-stage dedup contract as the Bloom layer: **a miss is definitively
new** (zero false negatives — overflowing inserts go to an exact stash
instead of being dropped, so the filter never forgets), only hits take the
exact left-anti join. All per-row work is vectorized numpy — the kick loop
iterates over *attempt rounds* (each round a full-array numpy pass with
first-writer-wins conflict resolution), never over rows.

Hashing reuses the JVM-side columns from bloom.with_bloom_hashes:
h1 → bucket index, h2 → 16-bit fingerprint. The alternate bucket is the
standard partial-key involution i2 = i1 XOR (fp · K) (Fan et al.,
"Cuckoo Filter: Practically Better Than Bloom", CoNEXT 2014), so a stored
fingerprint's other bucket is derivable from where it sits. A stash key
is (min(i1, i2) << 16) | fp — canonical-bucket keyed so probe and delete
find it from either bucket. Insert/delete are MULTISET operations, the
standard cuckoo-filter contract that keeps per-copy deletion sound — see
insert_many/delete_chain.

**Growth**: a single table saturates on a sustained crawl — past ~84%
load the kick loop starts failing and every overflow lands in the exact
stash, which would grow without bound inside one blob. So layer i of a
blob's chain is a table of nb0·2^i buckets, filled to ``LOAD`` (a stored
fingerprint can't be re-homed into a bigger table — the original h1 bits
above the old bucket mask are gone — so chaining, not rebuild, is the
growth move). Each table's stash only ever holds kick-failures from below
its cap — bounded by construction; fpp grows linearly in chain length
(≈1.2e-4 per table), log-bounded overall.

CAVEAT — ``delete_chain`` walks the tables and forwards only
still-unsatisfied keys, which weakens the single-table contract: a key
whose copy lives in a NEWER table can match a collider's copy (same 16-bit
fp + bucket pair under the older table's smaller mask) in an OLDER table
and consume it, leaving the collider a false NEGATIVE (probability ~per-
table fpp per deleted key; planted repro in tests/test_cuckoo.py). The
crawl engine therefore never deletes: plans/crawl.expire_urls rebuilds
every blob from the surviving exact seen rows, for both filter kinds, in
the same pass that rewrites the seen table. ``delete_blobs`` stays a
library operation with this edge.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame

from louis_crawler_legacy_spark.operators.bloom import BlobFilter

SLOTS = 4
LOAD = 0.84  # fill fraction at which a table's chain grows the next one
_FP_MASK = np.uint64(0xFFFF)
_ALT_K = np.uint64(0x5BD1E995)  # odd multiplier scatters the 16-bit fp
_MAX_KICK_ROUNDS = 250


def cuckoo_buckets(expected_n: int, load: float = LOAD) -> int:
    """Power-of-two bucket count holding expected_n fingerprints at ~load."""
    need = max(int(np.ceil(max(expected_n, 1) / (SLOTS * load))), 2)
    return 1 << int(need - 1).bit_length()


def _fingerprint(h2: np.ndarray) -> np.ndarray:
    """16-bit fingerprint from the second URL hash. The full 64 bits are
    avalanche-mixed first (murmur3 finalizer) so the fingerprint stays
    decorrelated from the bucket index even if a caller derives h2 from h1
    (production h1/h2 are independent xxhash64 salts, but a plain low-16
    truncation would make correlated inputs degenerate: fp ↔ bucket
    bijection ⇒ every fp collision becomes a false positive). 0 is the
    empty-slot sentinel, so fp 0 maps to 1 (a 1/65536 fpp bump)."""
    x = h2.astype(np.uint64)
    x = (x ^ (x >> np.uint64(33))) * np.uint64(0xFF51AFD7ED558CCD)
    x = (x ^ (x >> np.uint64(33))) * np.uint64(0xC4CEB9FE1A85EC53)
    x ^= x >> np.uint64(33)
    fp = x & _FP_MASK
    return np.where(fp == 0, np.uint64(1), fp).astype(np.uint16)


def _bucket1(h1: np.ndarray, nb: int) -> np.ndarray:
    return (h1.astype(np.uint64) & np.uint64(nb - 1)).astype(np.int64)


def _alt_bucket(b: np.ndarray, fp: np.ndarray, nb: int) -> np.ndarray:
    """Involution: alt(alt(b, fp), fp) == b."""
    mix = (fp.astype(np.uint64) * _ALT_K) & np.uint64(nb - 1)
    return (b.astype(np.uint64) ^ mix).astype(np.int64)


def _stash_keys_of(b: np.ndarray, fp: np.ndarray, nb: int) -> np.ndarray:
    cmin = np.minimum(b, _alt_bucket(b, fp, nb)).astype(np.uint64)
    return (cmin << np.uint64(16)) | fp.astype(np.uint64)


@dataclass
class _Table:
    """One layer: a bucket table, its overflow stash and its key count."""

    table: np.ndarray  # uint16 fingerprints, (n_buckets, SLOTS); 0 = empty
    stash: np.ndarray  # uint64 stash keys
    n: int

    @property
    def cap(self) -> int:
        """Keys the table takes before the chain grows the next one."""
        return int(self.table.shape[0] * SLOTS * LOAD)


def _distinct(h1: np.ndarray, h2: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The keys deduped on the full (h1, h2) pair: a 128-bit match is the
    same URL, not a filter-granularity collision."""
    h1, h2 = np.asarray(h1), np.asarray(h2)
    _, uniq = np.unique(np.stack([h1, h2], axis=1), axis=0, return_index=True)
    return h1[uniq], h2[uniq]


def insert_many(
    table: np.ndarray, stash: np.ndarray, h1: np.ndarray, h2: np.ndarray
) -> tuple[np.ndarray, np.ndarray, int]:
    """Bulk insert; returns (table, stash, n_new). Vectorized in rounds:
    every iteration is a whole-array numpy pass placing / kicking all still
    -active items at once, first-writer-wins per (bucket, slot).

    MULTISET semantics (standard cuckoo filter): distinct keys that collide
    at filter granularity — same fingerprint AND same bucket pair — each
    keep their own copy, so deleting one key never un-members a collider
    (delete_chain removes ONE copy). Deduping against the table here would
    silently merge colliders and make deletion unsound. Exact duplicates
    WITHIN a batch are deduped on the full (h1, h2) hash pair — a 128-bit
    match is the same URL, not a collision. Re-inserting a key already
    present from an earlier merge adds a second copy; the crawl engine
    never does (each URL enters `seen` exactly once per warehouse, and
    expire_urls rebuilds the blobs without it before any re-add)."""
    nb = table.shape[0]
    h1, h2 = _distinct(h1, h2)
    fp = _fingerprint(h2)
    cur = _bucket1(h1, nb)
    n_new = len(fp)

    flat = table.reshape(-1)
    for rnd in range(_MAX_KICK_ROUNDS):
        if len(fp) == 0:
            break
        bv = table[cur]                      # (n, SLOTS)
        empty = bv == 0
        has_empty = empty.any(axis=1)
        slot = empty.argmax(axis=1)
        placed = np.zeros(len(fp), dtype=bool)

        idx = np.flatnonzero(has_empty)
        if len(idx):
            claims = cur[idx] * SLOTS + slot[idx]
            order = np.argsort(claims, kind="stable")
            sc = claims[order]
            first = np.ones(len(order), dtype=bool)
            first[1:] = sc[1:] != sc[:-1]
            winners = idx[order[first]]
            flat[cur[winners] * SLOTS + slot[winners]] = fp[winners]
            placed[winners] = True

        # full buckets → kick a deterministic victim; one kick per
        # (bucket, slot) per round, losers just retry next round
        kick = ~placed & ~has_empty
        kidx = np.flatnonzero(kick)
        if len(kidx):
            vslot = (fp[kidx].astype(np.int64) + rnd) % SLOTS
            kflat = cur[kidx] * SLOTS + vslot
            order = np.argsort(kflat, kind="stable")
            sc = kflat[order]
            first = np.ones(len(order), dtype=bool)
            first[1:] = sc[1:] != sc[:-1]
            kw = kidx[order[first]]
            wflat = cur[kw] * SLOTS + (fp[kw].astype(np.int64) + rnd) % SLOTS
            victims = flat[wflat].copy()
            flat[wflat] = fp[kw]
            # the evicted fingerprint continues from its OTHER bucket
            fp[kw] = victims
            cur[kw] = _alt_bucket(cur[kw], victims, nb)

        active = ~placed
        fp, cur = fp[active], cur[active]

    if len(fp):  # table effectively full here — exactness over loss
        # plain concatenate: the stash is a multiset too (colliding copies
        # each keep an entry so per-copy deletion stays sound)
        stash = np.concatenate([stash, _stash_keys_of(cur, fp, nb)])
    return table, stash, n_new


def _delete_pass(table: np.ndarray, fp: np.ndarray,
                 buckets: np.ndarray) -> np.ndarray:
    """Clear each fp from its bucket where present (first-writer-wins per
    (bucket, slot)); returns the deleted mask."""
    deleted = np.zeros(len(fp), dtype=bool)
    if len(fp) == 0:
        return deleted
    flat = table.reshape(-1)
    match = table[buckets] == fp[:, None]
    idx = np.flatnonzero(match.any(axis=1))
    if len(idx):
        slot = match.argmax(axis=1)
        tgt = buckets[idx] * SLOTS + slot[idx]
        order = np.argsort(tgt, kind="stable")
        sc = tgt[order]
        first = np.ones(len(order), dtype=bool)
        first[1:] = sc[1:] != sc[:-1]
        winners = idx[order[first]]
        flat[buckets[winners] * SLOTS + slot[winners]] = 0
        deleted[winners] = True
    return deleted


def _delete_keys(
    table: np.ndarray, stash: np.ndarray, h1u: np.ndarray, h2u: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Core delete over ALREADY-DEDUPED keys; returns (table, stash,
    per-key deleted mask). The mask lets chained callers forward only the
    still-unsatisfied keys to the next table — passing an already-deleted
    key onward would re-violate the delete precondition there."""
    nb = table.shape[0]
    fp = _fingerprint(h2u)
    b1 = _bucket1(h1u, nb)
    keys = _stash_keys_of(b1, fp, nb)
    deleted = np.zeros(len(fp), dtype=bool)

    d1 = _delete_pass(table, fp, b1)
    deleted[d1] = True
    fp2 = fp[~d1]
    b2 = _alt_bucket(b1[~d1], fp2, nb)
    d2 = _delete_pass(table, fp2, b2)
    idx2 = np.flatnonzero(~d1)
    deleted[idx2[d2]] = True

    rem_idx = idx2[~d2]
    rem_keys = keys[rem_idx]
    if len(rem_keys) and len(stash):
        # remove ONE stash occurrence per requested key (keys may repeat
        # when colliders are expired together — k requests take k copies)
        order = np.argsort(stash, kind="stable")
        sorted_stash = stash[order]
        rk_order = np.argsort(rem_keys, kind="stable")
        rk = rem_keys[rk_order]
        occ = np.arange(len(rk)) - np.searchsorted(rk, rk, side="left")
        p = np.searchsorted(sorted_stash, rk, side="left") + occ
        p_clip = np.minimum(p, len(sorted_stash) - 1)
        valid = (p < len(sorted_stash)) & (sorted_stash[p_clip] == rk)
        del_mask = np.zeros(len(stash), dtype=bool)
        del_mask[order[p[valid]]] = True
        deleted[rem_idx[rk_order[valid]]] = True
        stash = stash[~del_mask]
    return table, stash, deleted


def _probe_state(table: np.ndarray, stash: np.ndarray,
                 h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
    if len(h1) == 0:
        return np.zeros(0, dtype=bool)
    nb = table.shape[0]
    fp = _fingerprint(np.asarray(h2))
    b1 = _bucket1(np.asarray(h1), nb)
    b2 = _alt_bucket(b1, fp, nb)
    hit = (table[b1] == fp[:, None]).any(axis=1)
    hit |= (table[b2] == fp[:, None]).any(axis=1)
    if len(stash):
        hit |= np.isin(_stash_keys_of(b1, fp, nb), stash)
    return hit


def delete_chain(tables: list[_Table], h1: np.ndarray,
                 h2: np.ndarray) -> tuple[list[_Table], int]:
    """Delete ONE copy per requested key across the chain — from whichever
    bucket holds it, else from the stash (cuckoo semantics: the filter is a
    multiset of copies, so a collider's copy survives its partner's
    deletion). Keys are deduped on (h1, h2); each table only sees the keys
    the earlier tables did NOT satisfy — forwarding a satisfied key would
    re-run the delete against another table where only a collider's copy
    could match. Within one table, two colliding keys deleted in ONE call
    whose copies sit in the same bucket may clear only one copy this call —
    an error in the SAFE direction (a false positive, never a false
    negative).

    UNSAFE-DIRECTION EDGE (chains of ≥2 tables only): the oldest-first
    walk stops at the FIRST match, which may be a collider's copy in an
    older table while the requested key's own copy sits in a newer one —
    the collider then reads as deleted (false negative). See the module
    docstring; the engine's expiry rebuilds from exact rows instead
    (plans/crawl.expire_urls)."""
    h1u, h2u = _distinct(h1, h2)
    n_deleted = 0
    for t in tables:
        if len(h1u) == 0:
            break
        t.table, t.stash, deleted = _delete_keys(t.table, t.stash, h1u, h2u)
        d = int(deleted.sum())
        t.n = max(t.n - d, 0)
        n_deleted += d
        h1u, h2u = h1u[~deleted], h2u[~deleted]
    return tables, n_deleted


class PartitionedCuckoo(BlobFilter):
    """Cuckoo-table codec on the shared scalable chain and blob driver
    (bloom.BlobFilter): same merge_blobs/probe surface and (part_id, bits,
    n_items) blob rows as the Bloom layer, so crawl.py switches kinds
    without touching the round pipeline. Capacity is a starting size, not a
    ceiling, and every stash stays bounded. ``n_items`` counts
    deduplicated keys.
    """

    MAGIC = np.uint64(0x43554B43484E3032)  # "CUKCHN02"
    KIND = "cuckoo"
    META = 3

    def __init__(self, n_buckets: int):
        self.nb = n_buckets

    @classmethod
    def for_capacity(cls, expected_n: int, load: float = LOAD) -> "PartitionedCuckoo":
        return cls(cuckoo_buckets(expected_n, load))

    def layer(self, i: int) -> _Table:
        nb = self.nb << i
        return _Table(np.zeros((nb, SLOTS), dtype=np.uint16), np.zeros(0, dtype=np.uint64), 0)

    def add(self, t: _Table, h1, h2) -> int:
        t.table, t.stash, n_new = insert_many(t.table, t.stash, h1, h2)
        return n_new

    def has(self, t: _Table, h1, h2) -> np.ndarray:
        return _probe_state(t.table, t.stash, h1, h2)

    def meta(self, t: _Table) -> tuple[int, ...]:
        return t.table.shape[0], len(t.stash), t.n

    def payload(self, t: _Table) -> bytes:
        return t.table.tobytes() + t.stash.tobytes()

    def load(self, meta: list[int], blob: bytes, off: int) -> tuple[_Table, int]:
        nb, ns, n = meta
        t_end = off + nb * SLOTS * 2
        table = np.frombuffer(blob[off:t_end], dtype=np.uint16).reshape(nb, SLOTS).copy()
        stash = np.frombuffer(blob[t_end:t_end + ns * 8], dtype=np.uint64).copy()
        return _Table(table, stash, n), t_end + ns * 8

    def delete_blobs(self, filters: DataFrame, del_hashes: DataFrame) -> DataFrame:
        """Remove (part_id, h1, h2) keys so those URLs probe as unseen
        again — the capability the Bloom layer lacks. Subject to the
        chained-delete edge in the module docstring."""

        def delete(tables, h1, h2):
            tables, n_del = delete_chain(tables, h1, h2)
            return tables, -n_del

        return self._update(filters, del_hashes, delete)
