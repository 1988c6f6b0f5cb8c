"""Partitioned cuckoo-filter URL-seen set — the north rule's alternative to
the Bloom layer (operators/bloom.py), selectable via
``CrawlConfig(seen_filter="cuckoo")``. It is a codec on the Bloom layer's
per-partition blob driver (bloom.BlobFilter); this module holds the numpy
kernels and the blob format.

Why a cuckoo filter next to the Bloom filter:

- **deletable**: fingerprints can be removed (``delete_blobs``), which a
  Bloom bitmap cannot do. The crawl engine does not use it: its recrawl
  expiry rewrites the whole seen table anyway and rebuilds the blobs in
  that pass (see the CAVEAT below),
- **bounded lookups**: a probe reads exactly two 4-slot buckets (plus a
  tiny overflow stash), independent of occupancy,
- **lower fpp per bit at high load**: 16-bit fingerprints give
  fpp ≈ 2·b/2^16 ≈ 1.2e-4 at ~84% load.

Same two-stage dedup contract as the Bloom layer: **a miss is definitively
new** (zero false negatives — overflowing inserts go to an exact stash
instead of being dropped, so the filter never forgets), only hits take the
exact left-anti join. Same physical shape too: one blob row per URL-hash
partition (``part_id, bits, n_items``), grouped by part_id in
bloom.BlobFilter so each task touches exactly one blob, all per-row work
vectorized numpy — the kick loop iterates over *attempt rounds* (each
round a full-array numpy pass with first-writer-wins conflict
resolution), never over rows.

Hashing reuses the JVM-side columns from bloom.with_bloom_hashes:
h1 → bucket index, h2 → 16-bit fingerprint. The alternate bucket is the
standard partial-key involution i2 = i1 XOR (fp · K) (Fan et al.,
"Cuckoo Filter: Practically Better Than Bloom", CoNEXT 2014), so a stored
fingerprint's other bucket is derivable from where it sits.

Blob layout (little-endian): uint64 magic "CUKFILT1" | uint64 n_buckets |
uint64 n_stash | uint16 table[n_buckets * 4] | uint64 stash_keys[n_stash],
where a stash key is (min(i1, i2) << 16) | fp — canonical-bucket keyed so
probe and delete find it from either bucket. The magic guards against
feeding a raw Bloom bitmap (same table, different seen_filter config) into
the cuckoo decoder. Insert/delete are MULTISET operations, the standard
cuckoo-filter contract that keeps per-copy deletion sound — see
insert_many/delete_many.

**Unbounded growth (round-3 scale fix)**: a single table saturates on a
sustained crawl — past ~84% load the kick loop starts failing and every
overflow lands in the exact stash, which would grow without bound inside
one blob. A partition's blob is therefore a CHAIN of cuckoo tables
("CUKCHN02" framing): inserts fill the newest table up to its load cap,
a full table appends the next one at 2× buckets (a stored fingerprint
can't be re-homed into a bigger table — the original h1 bits above the
old bucket mask are gone — so chaining, not rebuild, is the growth move);
probe ORs all tables; delete walks the chain and forwards only
still-unsatisfied keys (per-key masks). CAVEAT — chained deletes weaken
the single-table contract: a key whose copy lives in a NEWER table can
match a collider's copy (same 16-bit fp + bucket pair under the older
table's smaller mask) in an OLDER table and consume it, leaving the
collider a false NEGATIVE (probability ~per-table fpp per deleted key;
planted repro in tests/test_cuckoo.py). The crawl engine therefore never
deletes: plans/crawl.expire_urls rebuilds every blob from the surviving
exact seen rows, for both filter kinds, in the same pass that rewrites
the seen table. ``delete_blobs`` stays a library operation with this
edge. Each table's stash only ever holds kick-failures from below its
cap — bounded by construction; chain length grows log2(n/cap0); fpp grows
linearly in chain length (≈1.2e-4 per table), log-bounded overall.

Chain layout: uint64 magic "CUKCHN02" | uint64 n_tables | n_tables ×
(uint64 n_buckets, uint64 n_stash, uint64 n_items) | per-table payload
(uint16 table[nb·4] | uint64 stash[ns]). A v1 single-table blob decodes
as a one-entry chain (n_items from the blob row), so pre-growth
warehouses stay readable.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from louis_crawler_legacy_spark.operators.bloom import BlobFilter

SLOTS = 4
_FP_MASK = np.uint64(0xFFFF)
_ALT_K = np.uint64(0x5BD1E995)  # odd multiplier scatters the 16-bit fp
_MAX_KICK_ROUNDS = 250

# blob magic: distinguishes a cuckoo blob from a raw Bloom bitmap sharing
# the same table/schema — deserializing the wrong kind must be a clear
# error, not garbage membership answers
_MAGIC = np.uint64(0x43554B46494C5431)  # "CUKFILT1"
_HEADER = np.dtype(np.uint64).itemsize * 3


def cuckoo_buckets(expected_n: int, load: float = 0.84) -> int:
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


def empty_state(nb: int) -> tuple[np.ndarray, np.ndarray]:
    """A fresh (table, stash) pair — the one layout every caller shares."""
    return (
        np.zeros((nb, SLOTS), dtype=np.uint16),
        np.zeros(0, dtype=np.uint64),
    )


def serialize(table: np.ndarray, stash: np.ndarray) -> bytes:
    header = np.array([_MAGIC, table.shape[0], len(stash)], dtype=np.uint64)
    return header.tobytes() + table.tobytes() + stash.tobytes()


def deserialize(blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    magic, nb, ns = np.frombuffer(blob[:_HEADER], dtype=np.uint64)
    if magic != _MAGIC:
        raise ValueError(
            "not a cuckoo-filter blob (bad magic) — was this warehouse "
            "built with seen_filter='bloom'? The two filter kinds share "
            "the seen_bloom table but not a blob format."
        )
    nb, ns = int(nb), int(ns)
    t_end = _HEADER + nb * SLOTS * 2
    table = (
        np.frombuffer(blob[_HEADER:t_end], dtype=np.uint16)
        .reshape(nb, SLOTS)
        .copy()
    )
    stash = np.frombuffer(blob[t_end:t_end + ns * 8], dtype=np.uint64).copy()
    return table, stash


def probe_filter(blob: bytes, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
    """Vectorized membership → bool array over a single-table (v1) blob.
    No false negatives by construction (stash catches what the table
    couldn't place)."""
    if len(h1) == 0:
        return np.zeros(0, dtype=bool)
    table, stash = deserialize(blob)
    return _probe_state(table, stash, np.asarray(h1), np.asarray(h2))


def insert_many(
    table: np.ndarray, stash: np.ndarray, h1: np.ndarray, h2: np.ndarray
) -> tuple[np.ndarray, np.ndarray, int]:
    """Bulk insert; returns (table, stash, n_new). Vectorized in rounds:
    every iteration is a whole-array numpy pass placing / kicking all still
    -active items at once, first-writer-wins per (bucket, slot).

    MULTISET semantics (standard cuckoo filter): distinct keys that collide
    at filter granularity — same fingerprint AND same bucket pair — each
    keep their own copy, so deleting one key never un-members a collider
    (delete_many removes ONE copy). Deduping against the table here would
    silently merge colliders and make deletion unsound. Exact duplicates
    WITHIN a batch are deduped on the full (h1, h2) hash pair — a 128-bit
    match is the same URL, not a collision. Re-inserting a key already
    present from an earlier merge adds a second copy; the crawl engine
    never does (each URL enters `seen` exactly once per warehouse, and
    expire_urls rebuilds the blobs without it before any re-add)."""
    nb = table.shape[0]
    h1 = np.asarray(h1)
    h2 = np.asarray(h2)
    _, uniq = np.unique(np.stack([h1, h2], axis=1), axis=0, return_index=True)
    fp = _fingerprint(h2[uniq])
    cur = _bucket1(h1[uniq], nb)
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


def delete_many(
    table: np.ndarray, stash: np.ndarray, h1: np.ndarray, h2: np.ndarray
) -> tuple[np.ndarray, np.ndarray, int]:
    """Remove the given keys (Bloom can't do this). Clears ONE fingerprint
    copy per requested key — from whichever bucket holds it, else from the
    stash (cuckoo semantics: the filter is a multiset of copies, so a
    collider's copy survives its partner's deletion). Exact duplicates in
    one call are deduped on the full (h1, h2) pair; distinct keys that
    collide at filter granularity each remove their own copy. Sole
    remaining edge: two colliding keys deleted in ONE call whose copies sit
    in the same bucket may clear only one copy this call — an error in the
    SAFE direction (the leftover copy is a false positive, never a false
    negative)."""
    h1 = np.asarray(h1)
    h2 = np.asarray(h2)
    _, uniq = np.unique(np.stack([h1, h2], axis=1), axis=0, return_index=True)
    table, stash, deleted = _delete_keys(table, stash, h1[uniq], h2[uniq])
    return table, stash, int(deleted.sum())


# --- table chain (growth) ---------------------------------------------------

_MAGIC2 = np.uint64(0x43554B43484E3032)  # "CUKCHN02"
_CHDR = 16  # magic + n_tables
_CMETA = 24  # nb, ns, n per table
LOAD = 0.84


def table_cap(nb: int, load: float = LOAD) -> int:
    """Items a table accepts before the chain grows the next one."""
    return int(nb * SLOTS * load)


def serialize_chain(states: list[tuple[np.ndarray, np.ndarray, int]]) -> bytes:
    header = np.array([_MAGIC2, len(states)], dtype=np.uint64)
    meta = np.array(
        [[t.shape[0], len(s), n] for t, s, n in states], dtype=np.uint64
    )
    payload = b"".join(t.tobytes() + s.tobytes() for t, s, _ in states)
    return header.tobytes() + meta.tobytes() + payload


def deserialize_chain(blob: bytes,
                      n_items: int = 0) -> list[tuple[np.ndarray, np.ndarray, int]]:
    magic = np.frombuffer(blob[:8], dtype=np.uint64)[0]
    if magic == _MAGIC:  # v1 single-table blob → one-entry chain
        table, stash = deserialize(blob)
        return [(table, stash, n_items)]
    if magic != _MAGIC2:
        raise ValueError(
            "not a cuckoo blob (bad magic) — was this warehouse built with "
            "seen_filter='bloom'? The two filter kinds share the seen_bloom "
            "table but not a blob format."
        )
    n_tables = int(np.frombuffer(blob[8:16], dtype=np.uint64)[0])
    meta = np.frombuffer(
        blob[_CHDR:_CHDR + n_tables * _CMETA], dtype=np.uint64
    ).reshape(n_tables, 3)
    states, off = [], _CHDR + n_tables * _CMETA
    for nb, ns, n in meta:
        nb, ns, n = int(nb), int(ns), int(n)
        t_end = off + nb * SLOTS * 2
        table = (
            np.frombuffer(blob[off:t_end], dtype=np.uint16)
            .reshape(nb, SLOTS).copy()
        )
        stash = np.frombuffer(blob[t_end:t_end + ns * 8], dtype=np.uint64).copy()
        states.append((table, stash, n))
        off = t_end + ns * 8
    return states


def insert_chain(
    states: list[tuple[np.ndarray, np.ndarray, int]],
    h1: np.ndarray, h2: np.ndarray,
) -> list[tuple[np.ndarray, np.ndarray, int]]:
    """Fill the newest table to its load cap; overflow appends a 2× table.
    Splitting is positional (first `room` keys stay) — membership is
    chain-wide, so placement doesn't matter for probes, and each key still
    lives in exactly one table for per-copy deletion."""
    i = 0
    while i < len(h1):
        table, stash, n = states[-1]
        room = table_cap(table.shape[0]) - n
        if room <= 0:
            states.append(
                empty_state(table.shape[0] * 2) + (0,)
            )
            continue
        take = min(room, len(h1) - i)
        table, stash, n_new = insert_many(
            table, stash, h1[i:i + take], h2[i:i + take]
        )
        states[-1] = (table, stash, n + n_new)
        i += take
    return states


def probe_chain(
    states: list[tuple[np.ndarray, np.ndarray, int]],
    h1: np.ndarray, h2: np.ndarray,
) -> np.ndarray:
    out = np.zeros(len(h1), dtype=bool)
    for table, stash, _ in states:
        miss = ~out
        if not miss.any():
            break
        out[miss] = _probe_state(table, stash, h1[miss], h2[miss])
    return out


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


def delete_chain(
    states: list[tuple[np.ndarray, np.ndarray, int]],
    h1: np.ndarray, h2: np.ndarray,
) -> tuple[list[tuple[np.ndarray, np.ndarray, int]], int]:
    """Delete ONE copy per requested key across the chain. Keys are deduped
    on (h1, h2); each table only sees the keys the earlier tables did NOT
    satisfy — forwarding a satisfied key would re-run the delete against
    another table where only a collider's copy could match.

    UNSAFE-DIRECTION EDGE (chains of ≥2 tables only): the oldest-first
    walk stops at the FIRST match, which may be a collider's copy in an
    older table while the requested key's own copy sits in a newer one —
    the collider then reads as deleted (false negative). See the module
    docstring; the engine's expiry rebuilds from exact rows instead
    (plans/crawl.expire_urls)."""
    h1 = np.asarray(h1)
    h2 = np.asarray(h2)
    _, uniq = np.unique(np.stack([h1, h2], axis=1), axis=0, return_index=True)
    h1u, h2u = h1[uniq], h2[uniq]
    n_deleted = 0
    for idx, (table, stash, n) in enumerate(states):
        if len(h1u) == 0:
            break
        table, stash, deleted = _delete_keys(table, stash, h1u, h2u)
        d = int(deleted.sum())
        states[idx] = (table, stash, max(n - d, 0))
        n_deleted += d
        h1u, h2u = h1u[~deleted], h2u[~deleted]
    return states, n_deleted


class PartitionedCuckoo(BlobFilter):
    """Cuckoo-chain codec on the shared blob driver (bloom.BlobFilter):
    same merge_blobs/probe surface and (part_id, bits, n_items) blob rows
    as the Bloom layer, so crawl.py switches kinds without touching the
    round pipeline. Each blob is a growth chain of tables (module
    docstring), so capacity is a starting size, not a ceiling, and every
    stash stays bounded. ``n_items`` counts deduplicated keys.
    """

    def __init__(self, n_buckets: int):
        self.nb = n_buckets

    @classmethod
    def for_capacity(cls, expected_n: int, load: float = LOAD) -> "PartitionedCuckoo":
        return cls(cuckoo_buckets(expected_n, load))

    def fresh(self) -> list[tuple[np.ndarray, np.ndarray, int]]:
        return [empty_state(self.nb) + (0,)]

    decode = staticmethod(deserialize_chain)
    encode = staticmethod(serialize_chain)
    contains = staticmethod(probe_chain)

    def insert(self, states, h1, h2):
        n0 = sum(n for _, _, n in states)
        states = insert_chain(states, h1, h2)
        return states, sum(n for _, _, n in states) - n0

    def stats(self, states) -> tuple[int, float]:
        last_t, _, last_n = states[-1]
        last_cap = table_cap(last_t.shape[0])
        return len(states), last_n / last_cap if last_cap else 0.0

    def delete_blobs(self, filters: DataFrame, del_hashes: DataFrame) -> DataFrame:
        """Remove (part_id, h1, h2) keys so those URLs probe as unseen
        again — the capability the Bloom layer lacks. Subject to the
        chained-delete edge in the module docstring."""

        def delete(states, h1, h2):
            states, n_del = delete_chain(states, h1, h2)
            return states, -n_del

        return self._update(filters, del_hashes, delete)
