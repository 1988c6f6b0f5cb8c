"""Bloom seen-set tests through the codec API (fresh/insert/contains/
encode/decode): no false negatives (property), bounded false positives,
growth, Spark cogroup probe/merge round-trip."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from louis_crawler_legacy_spark.operators import bloom


@given(
    st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=200),
    st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=50),
)
@settings(max_examples=50, deadline=None)
def test_no_false_negatives(items, probes):
    pb = bloom.PartitionedBloom.for_capacity(max(len(items), 1), 0.01)
    h1 = np.array(items, dtype=np.int64)
    h2 = h1 * np.int64(31) + np.int64(7)  # any deterministic second hash
    layers, _ = pb.insert(pb.fresh(), h1, h2)
    got = pb.contains(layers, h1, h2)
    assert got.all(), "inserted item reported absent"


def test_false_positive_rate_bounded():
    rng = np.random.default_rng(42)
    n = 20_000
    pb = bloom.PartitionedBloom.for_capacity(n, 0.01)
    ins1 = rng.integers(-(2**62), 2**62, n, dtype=np.int64)
    ins2 = rng.integers(-(2**62), 2**62, n, dtype=np.int64)
    layers, _ = pb.insert(pb.fresh(), ins1, ins2)
    probe1 = rng.integers(-(2**62), 2**62, n, dtype=np.int64)
    probe2 = rng.integers(-(2**62), 2**62, n, dtype=np.int64)
    fp = pb.contains(layers, probe1, probe2).mean()
    assert fp < 0.03, f"false positive rate {fp:.4f} too high"


def test_incremental_merge_preserves_members():
    pb = bloom.PartitionedBloom.for_capacity(1000, 0.01)
    a1 = np.arange(100, dtype=np.int64)
    a2 = a1 * 13 + 1
    b1 = np.arange(100, 200, dtype=np.int64)
    b2 = b1 * 13 + 1
    layers, _ = pb.insert(pb.fresh(), a1, a2)
    layers = pb.decode(pb.encode(layers))  # each merge starts from the blob
    layers, _ = pb.insert(layers, b1, b2)
    assert pb.contains(layers, a1, a2).all()
    assert pb.contains(layers, b1, b2).all()


def test_scalable_growth_3x_capacity_bounds_fpp(spark):
    """VERDICT r02 scale defect: insert 3× past the configured capacity —
    the blob must GROW (layer chain) instead of saturating. Criteria:
    (a) measured fpp stays under ~2× configured (the scalable-Bloom bound),
    (b) zero false negatives, (c) the chain actually grew."""
    cap, fpp = 2_000, 0.01
    pb = bloom.PartitionedBloom.for_capacity(cap, fpp)
    rng = np.random.default_rng(11)
    n = 3 * cap
    h1 = rng.integers(-(2**62), 2**62, n, dtype=np.int64)
    # production h1/h2 are INDEPENDENT xxhash64 salts; an affine h2 would
    # break double-hashing independence (all k positions become affine in
    # h1 → pairwise full-collisions at rate n/m) and inflate fpp ~10x
    h2 = rng.integers(-(2**62), 2**62, n, dtype=np.int64)

    layers = pb.fresh()
    # insert in crawl-round-sized batches (growth decisions happen at batch
    # boundaries inside the merge task)
    for i in range(0, n, 500):
        layers, _ = pb.insert(layers, h1[i:i + 500], h2[i:i + 500])
    assert len(layers) >= 2  # grew: 3x capacity needs cap + 2·cap layers
    assert sum(l.n for l in layers) == n
    # (b) no false negatives
    assert pb.contains(layers, h1, h2).all()
    # (a) fpp over fresh keys < 2x configured
    probe1 = rng.integers(-(2**62), 2**62, 50_000, dtype=np.int64)
    probe2 = rng.integers(-(2**62), 2**62, 50_000, dtype=np.int64)
    measured = pb.contains(layers, probe1, probe2).mean()
    assert measured < 2 * fpp, f"fpp {measured:.4f} exceeds 2x configured"
    # round-trip through the serialized blob
    blob = pb.encode(layers)
    layers2 = pb.decode(blob)
    assert pb.contains(layers2, h1, h2).all()


def test_merge_blobs_grows_past_capacity(spark):
    """Same growth through the Spark cogroup merge path: a partition fed
    3× its capacity keeps exact membership and reports layered stats."""
    from pyspark.sql import functions as F

    pb = bloom.PartitionedBloom.for_capacity(100, 0.01)
    urls = [(f"http://h{i % 3}.ca/p{i}",) for i in range(1200)]
    seen = spark.createDataFrame(urls, ["url"])
    seen_h = bloom.with_bloom_hashes(seen, "url", 4)
    blobs = spark.createDataFrame([], bloom.BLOOM_SCHEMA)
    # three merges of 400 — growth must work incrementally across merges
    for lo in (0, 400, 800):
        chunk = spark.createDataFrame(urls[lo:lo + 400], ["url"])
        ch = bloom.with_bloom_hashes(chunk, "url", 4)
        blobs = pb.merge_blobs(blobs, ch.select("part_id", "h1", "h2")).cache()
        blobs.count()
    probed = pb.probe(seen_h, blobs)
    assert probed.filter(~F.col("maybe_seen")).count() == 0
    stats = blobs.collect()  # each merged blob row carries its stats
    assert all(r.n_layers >= 2 for r in stats)  # every partition chained
    assert sum(r.n_items for r in stats) == 1200
    assert all(r.fill <= 1.0 for r in stats)


def test_spark_probe_and_merge(spark):
    num_parts = 4
    pb = bloom.PartitionedBloom.for_capacity(10_000, 0.01)

    seen = spark.createDataFrame(
        [(f"http://h{i % 7}.ca/p{i}", f"h{i % 7}.ca") for i in range(500)],
        ["url", "host"],
    )
    seen_h = bloom.with_bloom_hashes(seen, "url", num_parts)
    empty_blooms = spark.createDataFrame([], bloom.BLOOM_SCHEMA)
    blooms = pb.merge_blobs(empty_blooms, seen_h.select("part_id", "h1", "h2"))
    blooms.cache()
    assert blooms.count() <= num_parts

    # probe: 300 seen urls + 300 fresh urls
    cand = spark.createDataFrame(
        [(f"http://h{i % 7}.ca/p{i}", f"h{i % 7}.ca") for i in range(200, 800)],
        ["url", "host"],
    )
    cand_h = bloom.with_bloom_hashes(cand, "url", num_parts)
    probed = pb.probe(cand_h, blooms).cache()

    seen_urls = {r.url for r in seen.collect()}
    rows = probed.collect()
    assert len(rows) == 600
    for r in rows:
        if r.url in seen_urls:
            assert r.maybe_seen, f"false negative for {r.url}"
    fp = sum(1 for r in rows if r.url not in seen_urls and r.maybe_seen)
    assert fp < 60  # generous: fpp target is 1%

    # merging the fresh urls makes them all hits
    fresh = cand_h.join(seen.select("url"), "url", "left_anti")
    blooms2 = pb.merge_blobs(blooms, fresh.select("part_id", "h1", "h2"))
    probed2 = pb.probe(cand_h, blooms2)
    assert probed2.filter(~F.col("maybe_seen")).count() == 0


def test_hot_host_skew_balanced_and_correct(spark):
    """One host holding 90% of the URLs must NOT collapse the Bloom layer
    into one partition: part_id hashes the URL, so blob occupancy and probe
    tasks stay balanced while dedup results are unchanged (VERDICT r01
    scale-killer #2)."""
    num_parts = 8
    pb = bloom.PartitionedBloom.for_capacity(10_000, 0.01)
    urls = [f"http://hot.ca/p{i}" for i in range(900)] + [
        f"http://cold{i}.ca/p" for i in range(100)
    ]
    seen = spark.createDataFrame([(u,) for u in urls], ["url"])
    seen_h = bloom.with_bloom_hashes(seen, "url", num_parts)

    # balance: the hot host's URLs spread over every partition, and no
    # partition holds more than ~2x its fair share
    dist = {
        r.part_id: r.cnt
        for r in seen_h.filter(F.col("url").startswith("http://hot"))
        .groupBy("part_id").agg(F.count("*").alias("cnt")).collect()
    }
    assert len(dist) == num_parts
    assert max(dist.values()) < 2 * (900 / num_parts)

    # correctness: no false negatives through merge+probe regardless of skew
    blooms = pb.merge_blobs(
        spark.createDataFrame([], bloom.BLOOM_SCHEMA),
        seen_h.select("part_id", "h1", "h2"),
    )
    probed = pb.probe(seen_h, blooms)
    assert probed.filter(~F.col("maybe_seen")).count() == 0
