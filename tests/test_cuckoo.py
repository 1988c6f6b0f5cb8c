"""Cuckoo seen-set tests through the codec API (fresh/insert/contains/
encode/decode, delete_chain): zero false negatives (property + overfill),
bounded false positives, deletion (the capability Bloom lacks), the kind
guard, and the Spark cogroup merge/probe/delete round-trip."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from louis_crawler_legacy_spark.operators import bloom, cuckoo


def _codec(capacity: int = 1_000) -> cuckoo.PartitionedCuckoo:
    return cuckoo.PartitionedCuckoo.for_capacity(capacity)


def _h2(h1: np.ndarray) -> np.ndarray:
    return h1 * np.int64(31) + np.int64(7)


def _overfilled(capacity: int, h1: np.ndarray):
    """One table fed past its capacity through the codec's one-layer
    ``add`` (``insert`` would grow the chain instead)."""
    pc = _codec(capacity)
    table = pc.layer(0)
    table.n += pc.add(table, h1, _h2(h1))
    return pc, table


@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=200))
@settings(max_examples=50, deadline=None)
def test_no_false_negatives(items):
    pc = _codec(max(len(items), 1))
    h1 = np.array(items, dtype=np.int64)
    tables, _ = pc.insert(pc.fresh(), h1, _h2(h1))
    tables = pc.decode(pc.encode(tables))
    assert pc.contains(tables, h1, _h2(h1)).all(), "inserted item absent"


def test_overfill_goes_to_stash_never_drops():
    """Insert 4x the table's capacity: every key must still probe present
    (overflow lands in the exact stash — the crawl contract is that a miss
    is DEFINITIVELY new, so the filter may never forget)."""
    rng = np.random.default_rng(7)
    h1 = rng.integers(-(2**62), 2**62, 1_000, dtype=np.int64)
    pc, table = _overfilled(250, h1)
    assert len(table.stash) > 0, "expected overflow at 4x capacity"
    tables = pc.decode(pc.encode([table]))
    assert pc.contains(tables, h1, _h2(h1)).all()


def test_false_positive_rate_bounded():
    pc = _codec(20_000)
    rng = np.random.default_rng(42)
    ins = rng.integers(-(2**62), 2**62, 20_000, dtype=np.int64)
    tables, _ = pc.insert(pc.fresh(), ins, _h2(ins))
    probe = rng.integers(-(2**62), 2**62, 20_000, dtype=np.int64)
    fp = pc.contains(tables, probe, _h2(probe)).mean()
    # 16-bit fingerprints: theoretical fpp ~ 1.2e-4; allow a wide margin
    assert fp < 0.01, f"false positive rate {fp:.5f} too high"


def test_incremental_insert_preserves_members():
    pc = _codec(1_000)
    a = np.arange(100, dtype=np.int64)
    b = np.arange(100, 200, dtype=np.int64)
    tables, na = pc.insert(pc.fresh(), a, _h2(a))
    tables, nb_ = pc.insert(tables, b, _h2(b))
    assert (na, nb_) == (100, 100)
    tables = pc.decode(pc.encode(tables))
    assert pc.contains(tables, a, _h2(a)).all()
    assert pc.contains(tables, b, _h2(b)).all()


def test_within_batch_duplicates_counted_once():
    pc = _codec(1_000)
    h1 = np.array([5, 5, 5, 9], dtype=np.int64)
    tables, n_new = pc.insert(pc.fresh(), h1, _h2(h1))
    assert n_new == 2
    # MULTISET contract: a later merge of the same keys adds copies (the
    # engine never re-adds — each URL enters seen once per warehouse);
    # what matters is that per-copy deletes bring it back to absent
    tables, n_again = pc.insert(tables, h1, _h2(h1))
    assert n_again == 2
    for expected_left in (True, False):
        tables, n_del = cuckoo.delete_chain(tables, h1, _h2(h1))
        assert n_del == 2
        tables = pc.decode(pc.encode(tables))
        got = pc.contains(tables, h1, _h2(h1))
        assert got.all() if expected_left else not got.any()


def test_colliding_keys_survive_partner_deletion():
    """The reason inserts are multiset: two DISTINCT keys colliding at
    filter granularity (same fingerprint + same bucket pair) each keep a
    copy, so expiring one must not un-member the other (a false negative
    would make the crawl re-fetch a seen URL and duplicate its rows)."""
    pc = _codec(1_000)
    h1 = np.array([12345], dtype=np.int64)
    fp_a = cuckoo._fingerprint(np.array([777], dtype=np.int64))[0]
    cand = np.arange(1, 1_000_000, dtype=np.int64)
    matches = cand[(cuckoo._fingerprint(cand) == fp_a) & (cand != 777)]
    h2_b = matches[0]  # distinct second hash, same 16-bit fingerprint

    ins_h1 = np.array([12345, 12345], dtype=np.int64)
    ins_h2 = np.array([777, h2_b], dtype=np.int64)
    tables, n = pc.insert(pc.fresh(), ins_h1, ins_h2)
    assert n == 2  # colliders are separate copies, not "already present"

    tables, nd = cuckoo.delete_chain(
        tables, h1, np.array([777], dtype=np.int64)
    )
    assert nd == 1
    tables = pc.decode(pc.encode(tables))
    assert pc.contains(tables, h1, np.array([h2_b], dtype=np.int64))[0]
    tables, nd2 = cuckoo.delete_chain(
        tables, h1, np.array([h2_b], dtype=np.int64)
    )
    assert nd2 == 1
    tables = pc.decode(pc.encode(tables))
    assert not pc.contains(tables, ins_h1, ins_h2).any()


@pytest.mark.parametrize(
    "writer, reader",
    [("bloom", "cuckoo"), ("cuckoo", "bloom")],
    ids=["bloom_blob_into_cuckoo", "cuckoo_blob_into_bloom"],
)
def test_bloom_blob_rejected_by_magic(writer, reader):
    """Feeding one kind's blob (same seen_bloom table, a warehouse built
    with the other seen_filter) into the other kind's decoder must be a
    clear error naming the decoder's kind, not garbage answers."""
    codecs = {
        "bloom": bloom.PartitionedBloom.for_capacity(1_000, 0.01),
        "cuckoo": _codec(1_000),
    }
    keys = np.arange(50, dtype=np.int64)
    w = codecs[writer]
    blob = w.encode(w.insert(w.fresh(), keys, keys * 13 + 1)[0])
    with pytest.raises(ValueError, match=f"not a {reader} .*bad magic"):
        codecs[reader].decode(blob)


def test_delete_restores_nonmembership():
    pc = _codec(1_000)
    keys = np.arange(500, dtype=np.int64)
    tables, _ = pc.insert(pc.fresh(), keys, _h2(keys))
    victims = keys[::5]
    tables, n_del = cuckoo.delete_chain(tables, victims, _h2(victims))
    assert n_del == len(victims)
    tables = pc.decode(pc.encode(tables))
    assert not pc.contains(tables, victims, _h2(victims)).any()
    kept = np.setdiff1d(keys, victims)
    assert pc.contains(tables, kept, _h2(kept)).all()
    # deleting again is a no-op
    tables, n2 = cuckoo.delete_chain(tables, victims, _h2(victims))
    assert n2 == 0


def test_delete_from_stash():
    rng = np.random.default_rng(3)
    h1 = rng.integers(-(2**62), 2**62, 1_000, dtype=np.int64)
    pc, table = _overfilled(250, h1)  # force overflow
    assert len(table.stash) > 0
    tables, n_del = cuckoo.delete_chain([table], h1, _h2(h1))
    assert n_del == 1_000 and len(tables[0].stash) == 0
    tables = pc.decode(pc.encode(tables))
    assert not pc.contains(tables, h1, _h2(h1)).any()
    assert (tables[0].table == 0).all()


def test_serialize_roundtrip():
    pc = _codec(100)
    h1 = np.arange(50, dtype=np.int64)
    tables, _ = pc.insert(pc.fresh(), h1, _h2(h1))
    (t2,) = pc.decode(pc.encode(tables))
    assert (t2.table == tables[0].table).all()
    assert (t2.stash == tables[0].stash).all() and t2.n == tables[0].n == 50


def test_chain_growth_3x_capacity_bounds_stash(spark):
    """VERDICT r02 scale defect (cuckoo side): insert 3× past capacity —
    the blob chains 2× tables instead of dumping overflow into one
    unbounded stash. Criteria: chain grew, EVERY stash stays bounded (only
    sub-cap kick failures may land there), zero false negatives, fpp still
    tiny, and per-copy deletion works across the chain."""
    cap = 1_000
    pc = _codec(cap)
    tables = pc.fresh()
    rng = np.random.default_rng(5)
    n = 3 * cap
    h1 = rng.integers(-(2**62), 2**62, n, dtype=np.int64)
    for i in range(0, n, 250):
        tables, _ = pc.insert(tables, h1[i:i + 250], _h2(h1[i:i + 250]))
    assert len(tables) >= 2
    assert sum(t.n for t in tables) == n
    for t in tables:
        assert len(t.stash) < 64, f"stash grew to {len(t.stash)} — not bounded"
    assert pc.contains(tables, h1, _h2(h1)).all()
    probe = rng.integers(-(2**62), 2**62, 50_000, dtype=np.int64)
    fp = pc.contains(tables, probe, _h2(probe)).mean()
    assert fp < 0.01  # ~1.2e-4 per table, len(chain) tables

    # serialize round-trip
    tables2 = pc.decode(pc.encode(tables))
    assert pc.contains(tables2, h1, _h2(h1)).all()

    # chain delete: every key deletable exactly once, wherever it lives
    victims = h1[::7]
    tables2, n_del = cuckoo.delete_chain(tables2, victims, _h2(victims))
    assert n_del == len(victims)
    assert not pc.contains(tables2, victims, _h2(victims)).any()
    kept = np.setdiff1d(h1, victims)
    assert pc.contains(tables2, kept, _h2(kept)).all()


def test_spark_probe_merge_delete(spark):
    """Same scenario as test_bloom.test_spark_probe_and_merge, plus the
    delete pass Bloom cannot do. with_bloom_hashes is shared — the cuckoo
    layer consumes the identical (part_id, h1, h2) columns."""
    num_parts = 4
    pc = cuckoo.PartitionedCuckoo.for_capacity(10_000)

    seen = spark.createDataFrame(
        [(f"http://h{i % 7}.ca/p{i}",) for i in range(500)], ["url"]
    )
    seen_h = bloom.with_bloom_hashes(seen, "url", num_parts)
    empty = spark.createDataFrame([], bloom.BLOOM_SCHEMA)
    filters = pc.merge_blobs(empty, seen_h.select("part_id", "h1", "h2")).cache()
    assert filters.count() <= num_parts

    cand = spark.createDataFrame(
        [(f"http://h{i % 7}.ca/p{i}",) for i in range(200, 800)], ["url"]
    )
    cand_h = bloom.with_bloom_hashes(cand, "url", num_parts)
    probed = pc.probe(cand_h, filters).cache()

    seen_urls = {r.url for r in seen.collect()}
    rows = probed.collect()
    assert len(rows) == 600
    for r in rows:
        if r.url in seen_urls:
            assert r.maybe_seen, f"false negative for {r.url}"
    fp = sum(1 for r in rows if r.url not in seen_urls and r.maybe_seen)
    assert fp <= 2  # 16-bit fingerprints: fpp ~ 1e-4

    # TTL eviction: delete the first 100 seen urls → they probe unseen again
    expired = bloom.with_bloom_hashes(
        spark.createDataFrame(
            [(f"http://h{i % 7}.ca/p{i}",) for i in range(100)], ["url"]
        ),
        "url",
        num_parts,
    )
    filters2 = pc.delete_blobs(filters, expired.select("part_id", "h1", "h2"))
    reprobe = pc.probe(
        bloom.with_bloom_hashes(seen, "url", num_parts), filters2
    ).cache()
    assert reprobe.filter(F.col("maybe_seen")).count() == 400
    gone = {r.url for r in reprobe.filter(~F.col("maybe_seen")).collect()}
    assert gone == {f"http://h{i % 7}.ca/p{i}" for i in range(100)}


@pytest.mark.parametrize("seen_filter", ["cuckoo", "bloom"])
def test_expire_and_recrawl(spark, tmp_path, seen_filter):
    """TTL workflow: crawl, expire two fetched URLs, re-seed them →
    exactly those two refetch, MERGE-upserting their page and document
    rows and adding no link edge twice, with no write mode to choose
    (both kinds rebuild the blobs from the surviving seen rows)."""
    from louis_crawler_legacy_spark.plans.crawl import CrawlConfig, CrawlEngine
    from louis_crawler_legacy_spark.sources import corpus as corpus_mod

    corpus = corpus_mod.generate_corpus(
        seed=7, n_hosts=2, pages_per_host=5, hub_factor=2, links_per_page=4
    )
    seeds = corpus_mod.seed_urls(corpus, n=2)
    cfg = CrawlConfig(
        num_partitions=4, bloom_capacity=10_000, max_depth=1, batch_size=10,
        seen_filter=seen_filter, build_spans=True,
    )
    eng = CrawlEngine(
        spark, corpus_mod.corpus_df(spark, corpus), str(tmp_path / "wh"), cfg
    )
    eng.run(seeds=seeds)
    links_before = {tuple(r) for r in eng.links.read().collect()}
    pages_before = {r.url: r.last_crawled for r in eng.pages.read().collect()}
    scraped = sorted(
        r.url for r in eng.seen.read().collect() if r.status == "scraped"
    )
    assert len(scraped) >= 3
    expired = scraped[:2]

    assert eng.expire_urls(expired) == 2
    assert eng.expire_urls(expired) == 0  # idempotent
    left = {r.url for r in eng.seen.read().collect()}
    assert not (set(expired) & left)

    # re-seed expired + one still-seen url: only the expired pair fetches
    stats = eng.run(seeds=expired + [scraped[2]], max_rounds=1, start_round=10)
    assert stats[0].n_batch == 2
    assert sorted(stats[0].batch_urls) == sorted(expired)
    # MERGE upsert: same row count, refreshed last_crawled for the pair
    pages_after = {r.url: r.last_crawled for r in eng.pages.read().collect()}
    assert set(pages_after) == set(pages_before)
    for u in expired:
        assert pages_after[u] == cfg.base_timestamp + 10
    for u in set(pages_before) - set(expired):
        assert pages_after[u] == pages_before[u]
    # one output row per key: the dicts above cannot see a duplicate
    page_urls = [r.url for r in eng.pages.read().collect()]
    assert sorted(page_urls) == sorted(pages_before)
    doc_ids = [r.doc_id for r in eng.documents.read().collect()]
    assert sorted(doc_ids) == sorted(pages_before)
    links = [tuple(r) for r in eng.links.read().collect()]
    assert len(links) == len(set(links))
    assert set(links) == links_before


@pytest.mark.parametrize("seen_filter", ["bloom", "cuckoo"])
def test_expire_requests_outside_seen_never_reach_the_filter(
    spark, tmp_path, seen_filter
):
    """expire_urls counts only the URLs actually matched in `seen`, not the
    raw request list: never-crawled URLs expire nothing and a duplicated
    request URL counts once. The rebuilt filter keeps every surviving seen
    URL (zero false negatives after expiry, for both kinds)."""
    from louis_crawler_legacy_spark.plans.crawl import CrawlConfig, CrawlEngine
    from louis_crawler_legacy_spark.sources import corpus as corpus_mod

    corpus = corpus_mod.generate_corpus(
        seed=7, n_hosts=2, pages_per_host=5, hub_factor=2, links_per_page=4
    )
    seeds = corpus_mod.seed_urls(corpus, n=2)
    cfg = CrawlConfig(
        num_partitions=4, bloom_capacity=10_000, max_depth=1, batch_size=10,
        seen_filter=seen_filter,
    )
    eng = CrawlEngine(
        spark, corpus_mod.corpus_df(spark, corpus), str(tmp_path / "wh"), cfg
    )
    eng.run(seeds=seeds)
    scraped = sorted(
        r.url for r in eng.seen.read().collect() if r.status == "scraped"
    )
    target = scraped[0]

    # a call that matches no seen URL writes nothing: no snapshot, no blob
    # rebuild, and a fresh engine on the warehouse keeps appending
    hist = (eng.seen.history(), eng.blooms.history())
    assert eng.expire_urls(["http://never.invalid/a"]) == 0
    assert (eng.seen.history(), eng.blooms.history()) == hist
    fresh = CrawlEngine(
        spark, corpus_mod.corpus_df(spark, corpus), str(tmp_path / "wh"), cfg
    )
    fresh._load_state()
    assert not fresh._upsert

    # two never-crawled URLs + the same seen URL twice → exactly one expiry
    n = eng.expire_urls(
        ["http://never.invalid/a", "http://never.invalid/b", target, target]
    )
    assert n == 1
    # every surviving seen URL still probes present (zero false negatives)
    left = eng.seen.read().select("url")
    probed = eng.pb.probe(
        bloom.with_bloom_hashes(left, "url", cfg.num_partitions),
        eng.blooms.read(),
    )
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_filter_kind_mismatch_rejected(spark, tmp_path):
    """A warehouse checkpointed with one seen_filter kind refuses to
    continue under the other — the blobs share a table, not a format."""
    from louis_crawler_legacy_spark.plans.crawl import CrawlConfig, CrawlEngine
    from louis_crawler_legacy_spark.sources import corpus as corpus_mod

    corpus = corpus_mod.generate_corpus(
        seed=11, n_hosts=2, pages_per_host=4, hub_factor=2, links_per_page=3
    )
    seeds = corpus_mod.seed_urls(corpus, n=1)
    cdf = corpus_mod.corpus_df(spark, corpus)
    wh = str(tmp_path / "wh")
    a = CrawlEngine(
        spark, cdf, wh,
        CrawlConfig(num_partitions=4, bloom_capacity=10_000, max_depth=1,
                    batch_size=5),
    )
    a.run(seeds=seeds)
    b = CrawlEngine(
        spark, cdf, wh,
        CrawlConfig(num_partitions=4, bloom_capacity=10_000, max_depth=1,
                    batch_size=5, seen_filter="cuckoo"),
    )
    with pytest.raises(ValueError, match="seen-filter"):
        b.resume()


def test_hot_host_skew_correct(spark):
    """URL-hash partitioning (shared with the Bloom layer) keeps a 90%-hot
    host from pinning one blob; membership stays exact through merge+probe."""
    num_parts = 8
    pc = cuckoo.PartitionedCuckoo.for_capacity(10_000)
    urls = [f"http://hot.ca/p{i}" for i in range(900)] + [
        f"http://cold{i}.ca/p" for i in range(100)
    ]
    seen = spark.createDataFrame([(u,) for u in urls], ["url"])
    seen_h = bloom.with_bloom_hashes(seen, "url", num_parts)
    filters = pc.merge_blobs(
        spark.createDataFrame([], bloom.BLOOM_SCHEMA),
        seen_h.select("part_id", "h1", "h2"),
    )
    probed = pc.probe(seen_h, filters)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_delete_chain_cross_table_collider_edge_documented():
    """r03 ADVICE (medium): delete_chain walks tables oldest-first and
    stops at the first match — a key whose copy lives in a NEWER table can
    consume a collider's copy (same 16-bit fp + bucket pair under the
    older table's smaller mask) in an OLDER table, leaving a still-seen
    key with zero copies: a false NEGATIVE. This test PLANTS that
    collision and pins the edge (probability ~per-table fpp per deleted
    key in the wild). The engine never issues chain deletes: expire_urls
    always rebuilds the blobs from the surviving seen rows
    (plans/crawl.expire_urls; growth-expire test below), so this library
    edge is documented, not load-bearing."""
    pc = _codec(100)
    nb0 = pc.nb  # 32 buckets
    cap0 = pc.layer(0).cap

    # two distinct keys with the SAME fingerprint; same bucket in the
    # nb0 table (h1 ≡ mod nb0) but different buckets in the 2×nb0 table
    h2a = np.int64(11)
    fp_a = cuckoo._fingerprint(np.array([h2a], dtype=np.int64))[0]
    h2b = None
    for c in range(12, 2_000_000):
        if cuckoo._fingerprint(np.array([c], dtype=np.int64))[0] == fp_a:
            h2b = np.int64(c)
            break
    assert h2b is not None
    h1a = np.int64(12345)
    h1b = np.int64(12345 + nb0)
    # construction sanity: K' must NOT share K's bucket pair in table 2
    nb1 = 2 * nb0
    b_a = cuckoo._bucket1(np.array([h1a]), nb1)
    b_b = cuckoo._bucket1(np.array([h1b]), nb1)
    alt_a = cuckoo._alt_bucket(b_a, np.array([fp_a]), nb1)
    assert b_b[0] not in (b_a[0], alt_a[0])

    # K' first (lands in table 1), fillers up to the growth cap, then K
    # (lands in table 2)
    states, _ = pc.insert(pc.fresh(), np.array([h1b]), np.array([h2b]))
    filler = np.arange(10**6, 10**6 + cap0 - 1, dtype=np.int64)
    states, _ = pc.insert(states, filler, _h2(filler))
    states, _ = pc.insert(states, np.array([h1a]), np.array([h2a]))
    assert len(states) >= 2
    assert pc.contains(states, np.array([h1b]), np.array([h2b]))[0]

    states, n_del = cuckoo.delete_chain(
        states, np.array([h1a]), np.array([h2a])
    )
    assert n_del == 1
    # THE EDGE: K's delete consumed K's collider K' in the older table;
    # K' is now a false negative (and K, whose copy survives in table 2,
    # still probes seen). If this assertion ever flips, delete_chain
    # became chain-safe.
    assert not pc.contains(states, np.array([h1b]), np.array([h2b]))[0]
    assert pc.contains(states, np.array([h1a]), np.array([h2a]))[0]


def test_expire_rebuilds_multi_table_cuckoo_partitions(spark, tmp_path):
    """Why the chained-delete edge above never reaches the engine:
    expire_urls always rebuilds the blobs from the surviving seen rows,
    multi-table cuckoo partitions included, so after bulk expiry EVERY
    surviving url still probes seen (exact by construction — zero false
    negatives regardless of planted colliders), and the expired urls
    refetch on re-seed."""
    from louis_crawler_legacy_spark.plans.crawl import CrawlConfig, CrawlEngine
    from louis_crawler_legacy_spark.sources import corpus as corpus_mod

    corpus = corpus_mod.generate_corpus(
        seed=11, n_hosts=3, pages_per_host=14, hub_factor=2, links_per_page=6
    )
    seeds = corpus_mod.seed_urls(corpus, n=2)
    cfg = CrawlConfig(
        num_partitions=4, bloom_capacity=2, max_depth=3, batch_size=7,
        seen_filter="cuckoo",
    )
    eng = CrawlEngine(
        spark, corpus_mod.corpus_df(spark, corpus), str(tmp_path / "wh"), cfg
    )
    stats = eng.run(seeds=seeds)
    assert max(s.n_filter_layers for s in stats) > 1  # chains actually grew

    scraped = sorted(
        r.url for r in eng.seen.read().collect() if r.status == "scraped"
    )
    expired = scraped[:2]
    assert eng.expire_urls(expired) == 2
    # rebuild exactness: every surviving seen url still probes maybe_seen
    surviving = eng.seen.read().select("url")
    n_surv = surviving.count()
    probed = eng.pb.probe(
        bloom.with_bloom_hashes(surviving, "url", cfg.num_partitions),
        eng.blooms.read(),
    )
    assert probed.filter(F.col("maybe_seen")).count() == n_surv
    # and the expired pair actually refetches on re-seed
    s2 = eng.run(seeds=expired, max_rounds=1, start_round=50)
    assert sorted(s2[0].batch_urls) == sorted(expired)
