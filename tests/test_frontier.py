"""Crawl-equivalence tests (the north-rule check, SURVEY §5.2.2): the Spark
engine must reproduce the reference simulator's per-round batches, final
seen set, pages, and link edges on the same corpus + seed list + politeness
budget — plus checkpoint/resume identity."""

from __future__ import annotations

import re

import pytest

from louis_crawler_legacy_spark.operators.politeness import robots_blocked_py
from louis_crawler_legacy_spark.plans.crawl import CrawlConfig, CrawlEngine
from louis_crawler_legacy_spark.simulator import simulate_crawl
from louis_crawler_legacy_spark.sources import corpus as corpus_mod

CORPUS = corpus_mod.generate_corpus(
    seed=42, n_hosts=3, pages_per_host=8, hub_factor=2, links_per_page=5
)
CDICT = corpus_mod.corpus_dict(CORPUS)
SEEDS = corpus_mod.seed_urls(CORPUS, n=2)


def run_engine(spark, tmp_path, bloom_capacity=10_000, **cfg_kwargs):
    cfg = CrawlConfig(num_partitions=4, bloom_capacity=bloom_capacity,
                      **cfg_kwargs)
    eng = CrawlEngine(
        spark, corpus_mod.corpus_df(spark, CORPUS), str(tmp_path / "wh"), cfg
    )
    stats = eng.run(seeds=SEEDS)
    return eng, stats


def assert_equivalent(eng, stats, sim):
    # per-round batches, in order
    got_batches = [s.batch_urls for s in stats]
    want_batches = sim.batches
    assert got_batches == want_batches, (
        f"crawl order diverged at round "
        f"{next(i for i, (a, b) in enumerate(zip(got_batches, want_batches)) if a != b) + 1}"
    )
    # seen set (scraped + errored)
    seen_rows = eng.seen.read().collect()
    got_scraped = {r.url for r in seen_rows if r.status == "scraped"}
    got_errored = {r.url for r in seen_rows if r.status == "errored"}
    assert got_scraped == sim.scraped
    assert got_errored == sim.errored
    # pages: field-level equality
    got_pages = {r.url: r for r in eng.pages.read().collect()}
    assert set(got_pages) == set(sim.pages)
    for url, want in sim.pages.items():
        got = got_pages[url]
        assert got.title == want["title"]
        assert got.lang == want["lang"]
        assert got.html_content == want["html_content"]
        assert list(got.children) == want["children"]
        assert got.depth == want["depth"]
    # link edges
    got_links = {(r.source_url, r.destination_url) for r in eng.links.read().collect()}
    assert got_links == sim.links


@pytest.mark.parametrize(
    "kwargs",
    [
        dict(max_depth=2, batch_size=10),
        dict(max_depth=3, batch_size=7, host_budget=2),
        dict(max_depth=2, batch_size=10, host_budget=3, salt_buckets=4),
        dict(max_depth=2, batch_size=12, allowed_domains=("hub0.ca", "site1.ca")),
        dict(max_depth=3, batch_size=7, host_budget=2, seen_filter="cuckoo"),
        # growth configs: capacity 2 forces the scalable blobs to chain
        # multiple layers/tables MID-CRAWL — results must be identical
        # (both filter kinds are exact-verified prefilters at any fill).
        # 2, not 8: cuckoo capacity rounds UP to a power-of-two bucket
        # count (4 buckets × 4 slots × 0.84 load = 13 fingerprints), and
        # growth must actually trigger for the assertion below
        dict(max_depth=3, batch_size=7, bloom_capacity=2),
        dict(max_depth=3, batch_size=7, bloom_capacity=2,
             seen_filter="cuckoo"),
    ],
    ids=["plain-bfs", "host-budget", "salted-budget", "domain-filter",
         "cuckoo-seen", "bloom-growth", "cuckoo-growth"],
)
def test_engine_matches_simulator(spark, tmp_path, kwargs):
    sim_kwargs = {
        k: v for k, v in kwargs.items()
        if k not in ("salt_buckets", "seen_filter", "bloom_capacity")
    }
    sim = simulate_crawl(CDICT, SEEDS, **sim_kwargs)
    eng, stats = run_engine(spark, tmp_path, **kwargs)
    assert len(stats) == len(sim.rounds)
    assert_equivalent(eng, stats, sim)
    if kwargs.get("bloom_capacity") == 2:
        # the point of the config: growth actually happened, and the round
        # metrics surfaced it
        assert max(s.n_filter_layers for s in stats) > 1


def test_robots_filtering(spark, tmp_path):
    robots = {"hub0.ca": ["/page/1", "/fr/"]}
    sim = simulate_crawl(CDICT, SEEDS, max_depth=2, batch_size=10, robots=robots)
    eng, stats = run_engine(
        spark, tmp_path, max_depth=2, batch_size=10, robots=robots
    )
    assert_equivalent(eng, stats, sim)
    # nothing under a disallowed prefix was ever fetched (except seeds,
    # which bypass robots in both implementations by design)
    fetched = {u for s in stats for u in s.batch_urls} - set(SEEDS)
    assert not any(
        u.startswith("http://hub0.ca/page/1") or u.startswith("http://hub0.ca/fr/")
        for u in fetched
    )
    # n_candidates counts the distinct (url, depth) children that reach the
    # seen check — after the robots filter, the base n_bloom_hits shares
    base = eng.config.base_timestamp
    pages = eng.pages.read().collect()
    for s in stats:
        want = {
            (c, p.depth + 1)
            for p in pages
            if p.last_crawled == base + s.round and p.depth + 1 <= 2
            for c in p.children
            if not robots_blocked_py(c, robots)
        }
        assert s.n_candidates == len(want), s.round
        assert 0 <= s.n_bloom_hits <= s.n_candidates


def test_robots_rfc_rules_engine_matches_simulator(spark, tmp_path):
    """RFC 9309 evaluation (Allow overrides, '*' wildcards, '$' anchors,
    longest-match-wins) — the native Spark filter and the simulator's
    pure-Python twin must agree crawl-for-crawl: Disallow:/ + Allow
    carve-outs on hub0, a wildcard-anchored disallow on site1."""
    robots = {
        "hub0.ca": [
            (False, "/"),             # block the whole host...
            (True, "/page/"),         # ...except /page/*
            (False, "/page/1*"),      # but not /page/1, /page/1x
            (True, "/page/12$"),      # except exactly /page/12
        ],
        "site1.ca": [(False, "/*/page/*")],  # blocks /fr/page/*
    }
    sim = simulate_crawl(CDICT, SEEDS, max_depth=3, batch_size=9, robots=robots)
    eng, stats = run_engine(
        spark, tmp_path, max_depth=3, batch_size=9, robots=robots
    )
    assert_equivalent(eng, stats, sim)
    fetched = {u for s in stats for u in s.batch_urls} - set(SEEDS)
    blocked = [u for u in fetched if u.startswith("http://hub0.ca/")
               and not u.startswith("http://hub0.ca/page/")]
    assert blocked == []  # Disallow:/ held outside the carve-out
    assert "http://hub0.ca/fr/page/0" not in fetched
    assert not any(
        u.startswith("http://hub0.ca/page/1") and u != "http://hub0.ca/page/12"
        for u in fetched
    )
    assert "http://site1.ca/fr/page/0" not in fetched


@pytest.mark.parametrize(
    "field,value", [("seen_filter", "cukoo"), ("fetcher", "https")]
)
def test_config_rejects_unknown_choice(field, value):
    with pytest.raises(ValueError, match=f"CrawlConfig.{field} must be one of"):
        CrawlConfig(**{field: value})


@pytest.mark.parametrize(
    "field,value",
    [("fetch_robots", True), ("robots_ttl_rounds", 3),
     ("adaptive_throttle", True), ("host_min_interval", 0.5),
     ("renderer", lambda url, html: html)],
)
def test_config_rejects_http_option_with_corpus_fetcher(field, value):
    """The corpus replay has no network: an http-only option with it is an
    error naming the option, not a crawl that silently ignores it."""
    with pytest.raises(ValueError, match=f"CrawlConfig.{field} needs "
                                         f"fetcher='http'"):
        CrawlConfig(**{field: value})
    CrawlConfig(fetcher="http", **{field: value})


STAGES = ("bootstrap", "select", "robots", "fetch", "throttle", "pages",
          "links", "spans", "seen", "filter", "frontier", "checkpoint")


def test_every_engine_job_carries_its_stage_label(spark, tmp_path):
    """Each Spark job the engine starts — on the driver thread or on the
    round pool — is described ``r{round}:{stage}`` (``expire`` for
    expiry), read back from Spark's own status store."""
    cfg = CrawlConfig(num_partitions=4, bloom_capacity=10_000, max_depth=2,
                      batch_size=10, build_spans=True, checkpoint_every=1)
    eng = CrawlEngine(
        spark, corpus_mod.corpus_df(spark, CORPUS), str(tmp_path / "wh"), cfg
    )
    sc = spark.sparkContext

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out, it = {}, sc._jsc.sc().statusStore().jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            d = j.description()
            out[j.jobId()] = d.get() if d.isDefined() else None
        return out

    before = max(jobs(), default=-1)
    stats = eng.run(seeds=SEEDS, max_rounds=2)
    assert len(stats) == 2
    assert eng.expire_urls(stats[0].batch_urls[:2]) == 2
    labels = {d for i, d in jobs().items() if i > before}
    pattern = re.compile(rf"r\d+:({'|'.join(STAGES)})|expire")
    assert all(d is not None and pattern.fullmatch(d) for d in labels), labels
    assert {"r2:spans", "r2:frontier", "expire"} <= labels


def test_every_metric_recorded_whatever_detailed_metrics(spark, tmp_path):
    """Each round records all its metrics from jobs it runs anyway: the
    metrics table is the same with detailed_metrics off and on (apart
    from wall time), and no metric is a -1 placeholder."""
    rows = {}
    for detailed in (False, True):
        cfg = CrawlConfig(num_partitions=4, bloom_capacity=10_000,
                          max_depth=2, batch_size=10,
                          detailed_metrics=detailed)
        eng = CrawlEngine(spark, corpus_mod.corpus_df(spark, CORPUS),
                          str(tmp_path / f"wh{detailed}"), cfg)
        assert eng.run(seeds=SEEDS)
        rows[detailed] = sorted(
            eng.metrics.read().drop("wall_sec").collect(), key=lambda r: r.round
        )
    assert rows[False] == rows[True]
    assert all(v >= 0 for r in rows[True] for v in r), rows[True]
    assert all(r.n_filter_layers >= 1 for r in rows[True])


def test_checkpoint_resume_identity(spark, tmp_path):
    kwargs = dict(max_depth=2, batch_size=10)
    sim = simulate_crawl(CDICT, SEEDS, **kwargs)

    cfg = CrawlConfig(num_partitions=4, bloom_capacity=10_000, **kwargs)
    cdf = corpus_mod.corpus_df(spark, CORPUS)

    # run only 2 rounds, then resume with a FRESH engine over the warehouse
    eng1 = CrawlEngine(spark, cdf, str(tmp_path / "wh"), cfg)
    eng1.bootstrap(SEEDS)
    stats1 = eng1.run(seeds=None, max_rounds=2)
    assert len(stats1) == 2

    eng2 = CrawlEngine(spark, cdf, str(tmp_path / "wh"), cfg)
    assert eng2.last_completed_round() == 2
    stats2 = eng2.resume()

    got_batches = [s.batch_urls for s in stats1 + stats2]
    assert got_batches == sim.batches
    assert_equivalent(eng2, stats1 + stats2, sim)


def test_rollback_time_travel(spark, tmp_path):
    kwargs = dict(max_depth=2, batch_size=10)
    cfg = CrawlConfig(num_partitions=4, bloom_capacity=10_000, **kwargs)
    cdf = corpus_mod.corpus_df(spark, CORPUS)
    eng = CrawlEngine(spark, cdf, str(tmp_path / "wh"), cfg)
    full = eng.run(seeds=SEEDS)
    assert len(full) >= 3

    # roll back to after round 2, re-run — batches must replay identically
    eng.rollback_to_round(2)
    assert eng.last_completed_round() == 2
    replay = eng.resume()
    assert [s.batch_urls for s in replay] == [s.batch_urls for s in full[2:]]


def test_crash_resume_no_duplicate_outputs(spark, tmp_path):
    """Outputs (pages/links/documents) append per round BEFORE the state
    checkpoint; a crash between an append and the next checkpoint must NOT
    duplicate those rows when resume() re-runs the rounds (resume rolls
    outputs back to the last completed round first)."""
    kwargs = dict(max_depth=2, batch_size=10)
    cfg = CrawlConfig(num_partitions=4, bloom_capacity=10_000,
                      checkpoint_every=2, build_spans=True, **kwargs)
    cdf = corpus_mod.corpus_df(spark, CORPUS)

    # uninterrupted twin
    eng_full = CrawlEngine(spark, cdf, str(tmp_path / "whf"), cfg)
    full = eng_full.run(seeds=SEEDS)
    assert len(full) >= 3

    # crash after round 3: cadence 2 → last checkpoint at round 2, but
    # round 3's output appends already hit the warehouse
    eng1 = CrawlEngine(spark, cdf, str(tmp_path / "wh"), cfg)
    eng1.bootstrap(SEEDS)
    for r in (1, 2, 3):
        assert eng1.run_round(r) is not None
    assert eng1.last_completed_round() == 2
    n_pages_dirty = eng1.pages.read().count()

    eng2 = CrawlEngine(spark, cdf, str(tmp_path / "wh"), cfg)
    stats2 = eng2.resume()
    assert [s.batch_urls for s in stats2] == [s.batch_urls for s in full[2:]]

    for table, key in (("pages", "url"), ("links", None), ("documents", None)):
        got = getattr(eng2, table).read()
        want = getattr(eng_full, table).read()
        assert got.count() == want.count(), table
        assert got.exceptAll(want).count() == 0, table
        assert want.exceptAll(got).count() == 0, table
    # and the crash really left dirty round-3 rows for resume() to trim —
    # otherwise this test proves nothing
    assert n_pages_dirty == full[0].n_scraped + full[1].n_scraped + full[2].n_scraped


def test_recrawl_upsert_semantics(spark, tmp_path):
    """After an expiry, S7 MERGE-style upsert (reference db.py:494-528
    INSERT … ON CONFLICT (url) DO UPDATE) and J6 insert-if-absent links: a
    full recrawl, by a fresh engine, of an existing warehouse whose every
    seen url was expired keeps one row per url with the REFRESHED
    last_crawled, and the link-edge set is unchanged."""
    from dataclasses import replace

    kwargs = dict(max_depth=1, batch_size=10)
    cfg1 = CrawlConfig(num_partitions=4, bloom_capacity=10_000,
                       base_timestamp=1_700_000_000, build_spans=True,
                       **kwargs)
    cdf = corpus_mod.corpus_df(spark, CORPUS)
    eng = CrawlEngine(spark, cdf, str(tmp_path / "wh"), cfg1)
    eng.run(seeds=SEEDS)
    pages1 = {r.url: r.last_crawled for r in eng.pages.read().collect()}
    links1 = {(r.source_url, r.destination_url)
              for r in eng.links.read().collect()}
    assert pages1 and links1

    # recrawl: expire every seen url, keep the outputs
    seen_urls = [r.url for r in eng.seen.read().collect()]
    assert eng.expire_urls(seen_urls) == len(seen_urls)
    cfg2 = replace(cfg1, base_timestamp=1_800_000_000)
    eng2 = CrawlEngine(spark, cdf, str(tmp_path / "wh"), cfg2)
    eng2.run(seeds=SEEDS)
    pages2 = {r.url: r.last_crawled for r in eng2.pages.read().collect()}
    assert set(pages2) == set(pages1)  # MERGE: still one row per url
    assert all(v >= 1_800_000_000 for v in pages2.values())  # all refreshed
    links2 = {(r.source_url, r.destination_url)
              for r in eng2.links.read().collect()}
    assert links2 == links1  # ON CONFLICT DO NOTHING
    doc_ids = [r.doc_id for r in eng2.documents.read().collect()]
    assert sorted(doc_ids) == sorted(pages2)  # documents MERGE by doc_id


def test_crawl_without_expiry_appends_its_outputs(spark, tmp_path,
                                                 monkeypatch):
    """A warehouse that never saw an expiry fetches each url at most once,
    so every round appends its outputs: no upsert (an O(table) rewrite)
    ever runs on pages, links or documents."""
    from louis_crawler_legacy_spark.sources.tables import SnapshotTable

    calls = []
    for op in ("append", "upsert"):
        real = getattr(SnapshotTable, op)

        def spy(self, *args, _op=op, _real=real, **kwargs):
            calls.append((_op, self.name))
            return _real(self, *args, **kwargs)

        monkeypatch.setattr(SnapshotTable, op, spy)
    eng, stats = run_engine(spark, tmp_path, max_depth=1, batch_size=10,
                            build_spans=True)
    outputs = ("pages", "links", "documents")
    assert not [c for c in calls if c[0] == "upsert" and c[1] in outputs]
    for name in outputs:
        assert calls.count(("append", name)) == len(stats), name


def test_per_host_crawl_delay_budgets(spark, tmp_path):
    from louis_crawler_legacy_spark.operators.politeness import (
        budgets_from_crawl_delays,
    )

    budgets = budgets_from_crawl_delays(
        {"hub0.ca": 5.0, "site1.ca": 30.0}, round_period_sec=30
    )
    assert budgets == {"hub0.ca": 6, "site1.ca": 1}
    kwargs = dict(max_depth=2, batch_size=10, host_budget=4, host_budgets=budgets)
    sim = simulate_crawl(CDICT, SEEDS, **kwargs)
    eng, stats = run_engine(spark, tmp_path, **kwargs)
    assert_equivalent(eng, stats, sim)
    # the cap actually bit: no round fetched more than 6 hub urls
    for s in stats:
        per_host = {}
        for u in s.batch_urls:
            h = u.split("/")[2]
            per_host[h] = per_host.get(h, 0) + 1
        assert per_host.get("hub0.ca", 0) <= 6
        assert per_host.get("site1.ca", 0) <= 1


def test_second_corpus_seed_equality(spark, tmp_path):
    """Different graph shape (new seed, more hosts, deeper) — guards against
    the main corpus getting lucky."""
    corpus2 = corpus_mod.generate_corpus(
        seed=7, n_hosts=4, pages_per_host=10, hub_factor=3, links_per_page=6,
        error_rate=0.15, dangling_rate=0.1,
    )
    seeds2 = corpus_mod.seed_urls(corpus2, n=3)
    kwargs = dict(max_depth=3, batch_size=9, host_budget=3)
    sim = simulate_crawl(corpus_mod.corpus_dict(corpus2), seeds2, **kwargs)
    cfg = CrawlConfig(num_partitions=4, bloom_capacity=10_000, **kwargs)
    eng = CrawlEngine(
        spark, corpus_mod.corpus_df(spark, corpus2), str(tmp_path / "wh"), cfg
    )
    stats = eng.run(seeds=seeds2)
    assert [s.batch_urls for s in stats] == sim.batches
    seen_rows = eng.seen.read().collect()
    assert {r.url for r in seen_rows} == sim.seen


def test_select_batch_multi_depth_url(spark, tmp_path):
    """A url pending at two depths: the batch must take its lowest-order
    entry once; politeness counts it once (reference pending-set semantics,
    goldie_playwright_parallel.py:647-664)."""
    from louis_crawler_legacy_spark.plans.crawl import FRONTIER_SCHEMA

    cfg = CrawlConfig(num_partitions=2, bloom_capacity=100, batch_size=3,
                      host_budget=2)
    eng = CrawlEngine(
        spark,
        corpus_mod.corpus_df(spark, CORPUS),
        str(tmp_path / "wh"),
        cfg,
    )
    rows = [
        # (url, host, depth, discovery_round, discovery_seq)
        ("http://a.ca/1", "a.ca", 2, 1, 1),
        ("http://a.ca/1", "a.ca", 1, 2, 5),  # same url, lower depth → wins
        ("http://a.ca/2", "a.ca", 1, 2, 1),
        ("http://a.ca/3", "a.ca", 1, 2, 2),  # 3rd a.ca url: budget-capped
        ("http://b.ca/1", "b.ca", 1, 2, 9),
    ]
    frontier = spark.createDataFrame(rows, FRONTIER_SCHEMA)
    batch_df, n_batch = eng.select_batch(frontier)
    batch = batch_df.orderBy("batch_seq").collect()
    assert n_batch == len(batch)
    got = [(r.url, r.depth) for r in batch]
    # order: depth 1 first, by (discovery_round, discovery_seq, url);
    # a.ca budget 2 → /1 (seq 5? no — /2 seq1, /3 seq2 come first), then
    # b.ca/1; batch_size 3
    assert got == [
        ("http://a.ca/2", 1),
        ("http://a.ca/3", 1),
        ("http://b.ca/1", 1),
    ]


def test_broadcast_decision_equivalent(spark, tmp_path, monkeypatch):
    """The engine hints a round join's small side for broadcast iff its
    row bound fits Spark's own autoBroadcastJoinThreshold. Crawl results
    are the same at the default threshold, at -1 (Spark's "never": no
    hint and no broadcast in the round plan) and at a threshold between
    the round-2 batch-side and candidate-side bounds (the batch sides are
    hinted, the candidate sides are left to Spark)."""
    from test_plans import _nodes, _physical

    from louis_crawler_legacy_spark.plans import crawl as crawl_mod

    key = "spark.sql.autoBroadcastJoinThreshold"
    default = spark.conf.get(key)
    cdf = corpus_mod.corpus_df(spark, CORPUS)
    df_class = type(cdf)
    local_checkpoint = df_class.localCheckpoint

    def crawl(name, threshold):
        """Crawl at ``threshold``; returns (stats, (url, children) of
        every page, the round-2 frontier′ DataFrame's query execution)."""
        eng = CrawlEngine(spark, cdf, str(tmp_path / name),
                          CrawlConfig(num_partitions=4, bloom_capacity=10_000,
                                      max_depth=1, batch_size=10))
        plans = []

        def spy(self, *args, **kwargs):
            if (eng._last_round == 1 and set(self.columns)
                    == set(crawl_mod.FRONTIER_SCHEMA.fieldNames())):
                plans.append((self._jdf.queryExecution().optimizedPlan(),
                              _physical(self)))
            return local_checkpoint(self, *args, **kwargs)

        spark.conf.set(key, str(threshold))
        monkeypatch.setattr(df_class, "localCheckpoint", spy)
        try:
            stats = eng.run(seeds=SEEDS)
        finally:
            monkeypatch.undo()
            spark.conf.set(key, default)
        (plan,) = plans
        pages = sorted((r.url, list(r.children))
                       for r in eng.pages.read().collect())
        return stats, pages, plan

    def kind(n):
        """A plan leaf: the batch (its localCheckpoint), the cached
        candidate probe, or other."""
        out = n.output().toString()
        if n.nodeName() in ("LogicalRDD", "Scan ExistingRDD") \
                and "batch_seq" in out:
            return "batch"
        if n.nodeName() in ("InMemoryRelation", "InMemoryTableScan") \
                and "maybe_seen" in out:
            return "probed"
        return "other"

    def leaves(node):
        return {kind(m) for m, _ in _nodes(node) if m.children().isEmpty()}

    def hinted(plan):
        """Leaf kinds of every join side the engine hinted for broadcast
        (all of its hints are on the right side)."""
        logical, _ = plan
        return [
            leaves(n.right()) for n, _ in _nodes(logical)
            if n.nodeName() == "Join"
            and n.hint().rightHint().isDefined()
            and "broadcast" in n.hint().rightHint().get().toString()
        ]

    def broadcasts(plan):
        _, physical = plan
        return [n for n, _ in _nodes(physical)
                if n.nodeName() == "BroadcastExchange"]

    sa, pages_a, plan_a = crawl("default", default)
    assert {"batch"} in hinted(plan_a)
    assert any("probed" in side for side in hinted(plan_a))

    sb, pages_b, plan_b = crawl("never", -1)
    assert hinted(plan_b) == [] and broadcasts(plan_b) == []

    # round 2's bounds: n_batch rows batch-side, n_children + n_batch
    # candidate-side; pick a threshold strictly between them
    batch2 = set(sa[1].batch_urls)
    n_children = sum(len(c) for u, c in pages_a if u in batch2)
    row = crawl_mod._BC_ROW_BYTES
    middle = (2 * len(batch2) + n_children) * row // 2
    assert len(batch2) * row <= middle < (len(batch2) + n_children) * row
    sc, pages_c, plan_c = crawl("middle", middle)
    assert hinted(plan_c) and all(
        side == {"batch"} for side in hinted(plan_c)
    ), hinted(plan_c)
    assert broadcasts(plan_c)

    for stats, pages in ((sb, pages_b), (sc, pages_c)):
        assert [s.batch_urls for s in stats] == [s.batch_urls for s in sa]
        assert pages == pages_a


def test_long_run_soak_flat_wall_and_partitions(spark, tmp_path):
    """Soak guard (r03 VERDICT #6): 40+ rounds on a small corpus — the
    class of test that catches O(rounds) leaks. Two flatness checks:
    (a) seen/frontier partition counts are CONSTANT from round 2 onward
    (the r03-measured leak grew them ~2×corpus_parts/round, so by round
    40 the round plan would schedule thousands of state tasks), and
    (b) late-round wall time stays within noise of early rounds (an
    O(rounds) per-round cost would show a clear upward trend by round
    40+), and (c) every round is a barrier: no Spark job is still active
    after run_round returns, and the persisted-RDD count stops growing
    from round 3 on — a leaked cache or localCheckpoint would add one
    O(seen) block set per round."""
    import statistics

    corpus = corpus_mod.generate_corpus(
        seed=3, n_hosts=4, pages_per_host=60, hub_factor=3, links_per_page=6
    )
    cfg = CrawlConfig(
        max_depth=30, batch_size=4, num_partitions=4, checkpoint_every=0,
        detailed_metrics=False, collect_batch_urls=False, bloom_capacity=512,
    )
    eng = CrawlEngine(
        spark, corpus_mod.corpus_df(spark, corpus), str(tmp_path / "wh"), cfg
    )
    eng.bootstrap(corpus_mod.seed_urls(corpus, n=2))
    sc = spark.sparkContext
    walls, seen_parts, frontier_parts, active, persisted = [], [], [], [], []
    r = 1
    while r <= 48:
        s = eng.run_round(r)
        if s is None:
            break
        active.append(list(sc.statusTracker().getActiveJobsIds()))
        persisted.append(sc._jsc.getPersistentRDDs().size())
        walls.append(s.wall_sec)
        seen_parts.append(eng._seen_df.rdd.getNumPartitions())
        frontier_parts.append(eng._frontier_df.rdd.getNumPartitions())
        r += 1
    eng.checkpoint(r - 1)
    assert not any(active), f"jobs outlived their round: {active}"
    assert max(persisted[2:]) <= persisted[2], (
        f"persisted RDDs growing: {persisted}"
    )
    assert len(walls) >= 40, f"corpus exhausted after {len(walls)} rounds"
    assert len(set(seen_parts[1:])) == 1, f"seen partitions grew: {seen_parts}"
    assert len(set(frontier_parts[1:])) == 1, (
        f"frontier partitions grew: {frontier_parts}"
    )
    early = statistics.median(walls[4:12])
    late = statistics.median(walls[-8:])
    assert late < 2.5 * early, (
        f"per-round wall trending up: early median {early:.2f}s, "
        f"late median {late:.2f}s, walls={['%.2f' % w for w in walls]}"
    )
