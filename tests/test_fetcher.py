"""HTTP fetcher (sources/fetcher.py): unit fetch behavior against a local
http.server, redirect canonicalization, per-host pacing, the render seam,
and a 2-round end-to-end crawl through the SAME round pipeline with
CrawlConfig(fetcher="http")."""

from __future__ import annotations

import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from louis_crawler_legacy_spark.sources.fetcher import fetch_url, http_fetch

PAGES = {
    "/page/0": (
        200,
        "<html><head><title>Root</title></head><body><main>"
        '<h1>Root</h1><p>root text</p>'
        '<a href="/page/1">one</a> <a href="/page/2">two</a>'
        '<aside><a href="/trap">trap</a></aside>'
        "</main></body></html>",
    ),
    "/page/1": (
        200,
        "<html><head><title>One</title></head><body><main>"
        '<h1>One</h1><p>leaf</p><a href="/page/0">back</a></main></body></html>',
    ),
    "/page/2": (500, "<html><body>boom</body></html>"),
    "/robots.txt": (
        200,
        "# test rules\nSitemap: https://example.ca/sitemap.xml\n"
        "User-agent: other-bot\nDisallow: /\n\n"
        "User-agent: *\nDisallow: /private/\nAllow: /private/ok$\n"
        "Disallow: /*.bin$\nCrawl-delay: 2\n",
    ),
    "/r/start": (
        200,
        "<html><head><title>RStart</title></head><body><main>"
        '<h1>R</h1><p>start</p><a href="/r/a">a</a>'
        '<a href="/private/p">p</a><a href="/private/ok">ok</a>'
        '<a href="/r/c.bin">bin</a></main></body></html>',
    ),
    "/private/ok": (
        200,
        "<html><head><title>Ok</title></head><body><main>"
        "<h1>Ok</h1><p>allow override</p></main></body></html>",
    ),
    "/r/a": (
        200,
        "<html><head><title>RA</title></head><body><main>"
        "<h1>RA</h1><p>leaf a</p></main></body></html>",
    ),
    "/private/p": (
        200,
        "<html><head><title>Secret</title></head><body><main>"
        "<h1>S</h1><p>private</p></main></body></html>",
    ),
    "/canonical": (
        200,
        "<html><head><title>Canon</title></head><body><main>"
        '<h1>Canon</h1><p>canonical text</p>'
        '<a href="/page/1">rel</a></main></body></html>',
    ),
    "/linker": (
        200,
        "<html><head><title>Linker</title></head><body><main>"
        '<h1>L</h1><p>links the canonical page directly</p>'
        '<a href="/canonical">c</a></main></body></html>',
    ),
}

REDIRECTS = {"/moved": "/canonical", "/moved2": "/canonical"}


class _Server(ThreadingHTTPServer):
    """Stamps each connection when it is accepted, before a handler thread
    starts and parses the request: the fetcher paces requests by send
    time, and arrival is the server-side time closest to it."""

    def __init__(self, *args):
        super().__init__(*args)
        self.accepted: dict[tuple, float] = {}  # client address → ts

    def process_request(self, request, client_address):
        self.accepted[client_address] = time.monotonic()
        super().process_request(request, client_address)


class _Handler(BaseHTTPRequestHandler):
    server_version = "test"
    request_log: list[tuple[float, str]] = []  # (monotonic arrival, path)

    def do_GET(self):
        arrived = self.server.accepted.pop(self.client_address)
        type(self).request_log.append((arrived, self.path))
        if self.path.startswith("/slow/"):
            time.sleep(0.3)
            data = (
                "<html><head><title>Slow</title></head><body><main>"
                "<h1>Slow</h1><p>takes a while</p></main></body></html>"
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)
            return
        if self.path in REDIRECTS:
            self.send_response(302)
            self.send_header("Location", REDIRECTS[self.path])
            self.send_header("Content-Length", "0")
            self.end_headers()
            return
        status, body = PAGES.get(self.path, (404, "missing"))
        data = body if isinstance(body, bytes) else body.encode()
        self.send_response(status)
        self.send_header("Content-Type", "text/html; charset=utf-8")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, *a):  # quiet
        pass


@pytest.fixture(scope="module")
def server():
    srv = _Server(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_fetch_url_statuses(server):
    status, html, final = fetch_url(f"{server}/page/0", timeout=5)
    assert status == 200 and "Root" in html
    assert final == f"{server}/page/0"  # no redirect → final == requested
    status, html, _ = fetch_url(f"{server}/page/2", timeout=5)
    assert status == 500 and html is None  # HTTPError carries its code
    status, html, _ = fetch_url(f"{server}/nope", timeout=5)
    assert status == 404 and html is None
    status, html, final = fetch_url("http://127.0.0.1:1/never", timeout=2)
    assert status is None and html is None  # transport failure
    assert final == "http://127.0.0.1:1/never"


def test_fetch_url_follows_redirect_reports_final(server):
    status, html, final = fetch_url(f"{server}/moved", timeout=5)
    assert status == 200 and "canonical text" in html
    assert final == f"{server}/canonical"


def test_http_fetch_mapinpandas(spark, server):
    batch = spark.createDataFrame(
        [(f"{server}/page/0",), (f"{server}/page/2",), (f"{server}/missing",)],
        ["url"],
    )
    rows = {r.url: r for r in http_fetch(batch, timeout=5).collect()}
    assert rows[f"{server}/page/0"].status == 200
    assert "root text" in rows[f"{server}/page/0"].html
    assert rows[f"{server}/page/2"].status == 500
    assert rows[f"{server}/missing"].status == 404


def test_per_host_pacing_spacing_and_results(spark, server):
    """host_min_interval: same-host requests inside a task are spaced by at
    least the interval (timestamps recorded server-side), different hosts
    interleave, and the fetch results are unchanged."""
    _Handler.request_log.clear()
    # two "hosts" (same server, distinct host labels) × 3 urls each
    rows = [(f"{server}/page/0", "a"), (f"{server}/page/1", "a"),
            (f"{server}/canonical", "a"),
            (f"{server}/page/0", "b"), (f"{server}/page/1", "b"),
            (f"{server}/canonical", "b")]
    batch = spark.createDataFrame(rows, ["url", "host"]).coalesce(1)
    out = http_fetch(batch, timeout=5, host_min_interval=0.3).collect()
    assert len(out) == 6 and all(r.status == 200 for r in out)
    # reconstruct per-host spacing from the rows' fetch order server-side:
    # each host's requests must be >= 0.29s apart (tolerance for clock)
    log = sorted(_Handler.request_log)  # handler threads append out of order
    assert len(log) == 6
    # round-robin order means hosts alternate → total wall ~2 intervals,
    # not 4 (interleaving proof): first and last request < 3*interval apart
    assert log[-1][0] - log[0][0] < 3 * 0.3 + 0.25
    # spacing proof per host label: requests for the same PATH pair off by
    # host; stronger: successive same-host fetches are the odd/even slots
    by_slot = [ts for ts, _ in log]
    gaps = [b - a for a, b in zip(by_slot, by_slot[2:])]  # same-host stride 2
    assert all(g >= 0.29 for g in gaps), gaps


def test_renderer_seam_applied(spark, server):
    """CrawlConfig(renderer=...) — the Playwright divergence as a config
    seam: a (url, html) -> html callable runs inside the fetch task."""

    def fake_render(url, html):
        return html.replace("root text", f"RENDERED::{url.rsplit('/', 1)[1]}")

    batch = spark.createDataFrame([(f"{server}/page/0", "a")], ["url", "host"])
    rows = http_fetch(batch, timeout=5, renderer=fake_render).collect()
    assert "RENDERED::0" in rows[0].html


def test_redirect_crawl_one_page_both_seen_no_refetch(spark, server, tmp_path):
    """Redirect canonicalization through the FULL round pipeline: seed two
    urls that both redirect to one canonical page → ONE stored page (under
    the final url), requested AND final urls in seen, requested→final link
    edges, and a later re-seed of any of the three urls refetches nothing."""
    from louis_crawler_legacy_spark.plans.crawl import CrawlConfig, CrawlEngine

    cfg = CrawlConfig(
        max_depth=0, batch_size=8, num_partitions=2, bloom_capacity=1_000,
        fetcher="http", fetch_timeout=5.0,
    )
    eng = CrawlEngine(spark, corpus=None, warehouse_dir=str(tmp_path / "wh"),
                      config=cfg)
    seeds = [f"{server}/moved", f"{server}/moved2"]
    stats = eng.run(seeds=seeds)
    assert stats[0].n_batch == 2

    pages = eng.pages.read().collect()
    assert [p.url for p in pages] == [f"{server}/canonical"]
    assert pages[0].title == "Canon"

    seen = {r.url for r in eng.seen.read().collect()}
    assert seen == {f"{server}/moved", f"{server}/moved2",
                    f"{server}/canonical"}

    links = {(r.source_url, r.destination_url)
             for r in eng.links.read().collect()}
    assert (f"{server}/moved", f"{server}/canonical") in links
    assert (f"{server}/moved2", f"{server}/canonical") in links

    # rediscovery: re-seeding requested or final urls fetches NOTHING
    _Handler.request_log.clear()
    stats2 = eng.run(seeds=seeds + [f"{server}/canonical"], max_rounds=2,
                     start_round=5)
    assert stats2 == []
    assert _Handler.request_log == []


def test_same_round_candidate_of_redirect_final_not_refetched(
    spark, server, tmp_path
):
    """A candidate link to a url that a redirect LANDED ON this same round
    must not enter the frontier: the final url is seen without being a
    batch url, so the candidate dedup needs the extra final-url exclusion
    (one page row, one fetch, crawl ends after round 1)."""
    from louis_crawler_legacy_spark.plans.crawl import CrawlConfig, CrawlEngine

    _Handler.request_log.clear()
    cfg = CrawlConfig(
        max_depth=1, batch_size=8, num_partitions=2, bloom_capacity=1_000,
        fetcher="http", fetch_timeout=5.0,
    )
    eng = CrawlEngine(spark, corpus=None, warehouse_dir=str(tmp_path / "wh"),
                      config=cfg)
    stats = eng.run(seeds=[f"{server}/moved", f"{server}/linker"])
    # round 1: /moved (→ /canonical) + /linker. /canonical is both the
    # redirect target AND /linker's child — the candidate is excluded, so
    # round 2 holds only /canonical's own child /page/1
    assert [s.batch_urls for s in stats] == [
        [f"{server}/moved", f"{server}/linker"],
        [f"{server}/page/1"],
    ]
    paths = [p for _, p in _Handler.request_log]
    assert paths.count("/canonical") == 1  # the redirect chase only
    pages = sorted(p.url for p in eng.pages.read().collect())
    assert pages == [f"{server}/canonical", f"{server}/linker",
                     f"{server}/page/1"]


def test_parse_robots_txt_groups_and_delay():
    from louis_crawler_legacy_spark.operators.robots import parse_robots_txt

    body = PAGES["/robots.txt"][1]
    got = parse_robots_txt(body, "louis-crawler-legacy-spark/0.3")
    assert got["disallow_prefixes"] == ["/private/", "/*.bin$"]
    assert got["crawl_delay"] == 2.0
    assert [(r["allow"], r["pattern"]) for r in got["rules"]] == [
        (False, "/private/"), (True, "/private/ok$"), (False, "/*.bin$"),
    ]
    # the more specific group wins for its agent
    other = parse_robots_txt(body, "other-bot/1.0")
    assert other["disallow_prefixes"] == ["/"]
    # missing/unfetchable file → allow-all
    none = parse_robots_txt(None)
    assert none["rules"] == [] and none["crawl_delay"] is None
    # empty Disallow lines contribute nothing; comments stripped
    assert parse_robots_txt(
        "User-agent: *\nDisallow:\nDisallow: /x # inline\n"
    )["disallow_prefixes"] == ["/x"]
    # rules before any User-agent line are ignored; bad delay ignored
    orphan = parse_robots_txt(
        "Disallow: /orphan\nUser-agent: *\nCrawl-delay: soon\nDisallow: /y\n"
    )
    assert orphan["disallow_prefixes"] == ["/y"]
    assert orphan["crawl_delay"] is None
    # RFC 9309: Allow overrides and wildcards/anchors become ordered rules
    rfc = parse_robots_txt(
        "User-agent: *\nDisallow: /\nAllow: /public/\n"
        "Disallow: /public/*.pdf$\n"
    )
    assert [(r["allow"], r["pattern"]) for r in rfc["rules"]] == [
        (False, "/"), (True, "/public/"), (False, "/public/*.pdf$"),
    ]
    assert rfc["rules"][2]["rx"] == "^/public/.*\\.pdf$"


def test_fetch_robots_blocks_batch_and_candidates(spark, server, tmp_path):
    """Live robots.txt compliance end-to-end: /robots.txt is fetched once
    per host, a directly-seeded disallowed url is marked seen as
    robots_blocked without being fetched, and a disallowed CANDIDATE never
    enters the frontier; crawl-delay lands in the warehouse robots table."""
    from louis_crawler_legacy_spark.plans.crawl import CrawlConfig, CrawlEngine

    _Handler.request_log.clear()
    cfg = CrawlConfig(
        max_depth=1, batch_size=8, num_partitions=2, bloom_capacity=1_000,
        fetcher="http", fetch_timeout=5.0, fetch_robots=True,
    )
    eng = CrawlEngine(spark, corpus=None, warehouse_dir=str(tmp_path / "wh"),
                      config=cfg)
    stats = eng.run(seeds=[f"{server}/r/start", f"{server}/private/p"])

    paths = [p for _, p in _Handler.request_log]
    assert paths.count("/robots.txt") == 1  # fetched once per host, ever
    assert "/private/p" not in paths  # seeded but disallowed → never fetched
    assert "/r/c.bin" not in paths  # '/*.bin$' wildcard-anchored disallow

    pages = {r.url for r in eng.pages.read().collect()}
    # /private/ok IS crawled: 'Allow: /private/ok$' out-lengths
    # 'Disallow: /private/' (RFC 9309 longest-match; Allow override)
    assert pages == {
        f"{server}/r/start", f"{server}/r/a", f"{server}/private/ok",
    }

    seen = {r.url: r.status for r in eng.seen.read().collect()}
    assert seen[f"{server}/private/p"] == "robots_blocked"
    # the disallowed CANDIDATES (/private/p, /r/c.bin as child links) were
    # filtered before entering the frontier — no seen row beyond the
    # blocked seed, and none at all for the .bin link
    assert f"{server}/r/c.bin" not in seen
    assert seen[f"{server}/r/start"] == "scraped"
    assert all(u in seen for u in pages)
    # intentional blocks are NOT failures: the blocked seed counts in
    # n_robots_blocked, not n_errored
    assert sum(s.n_robots_blocked for s in stats) == 1
    assert sum(s.n_errored for s in stats) == 0

    rules = {r.host: r for r in eng.robots_table.read().collect()}
    host = f"{server}".split("/")[2]
    assert [(r.allow, r.pattern) for r in rules[host].rules] == [
        (False, "/private/"), (True, "/private/ok$"), (False, "/*.bin$"),
    ]
    assert rules[host].crawl_delay == 2.0
    # Sitemap: lines land in the warehouse table (RFC 9309 §2.2.4 —
    # not group-scoped), the crawl-seeding hook
    assert list(rules[host].sitemaps) == ["https://example.ca/sitemap.xml"]

    # re-seeding the blocked url refetches nothing (it is seen)
    _Handler.request_log.clear()
    assert eng.run(seeds=[f"{server}/private/p"], max_rounds=1,
                   start_round=9) == []
    assert _Handler.request_log == []


def test_two_round_http_crawl(spark, server, tmp_path):
    """End-to-end: the SAME round pipeline (select → fetch → extract →
    dedup → appends) with the HTTP fetcher instead of the corpus join."""
    from louis_crawler_legacy_spark.plans.crawl import CrawlConfig, CrawlEngine

    cfg = CrawlConfig(
        max_depth=1, batch_size=8, num_partitions=2, bloom_capacity=1_000,
        fetcher="http", fetch_timeout=5.0,
    )
    eng = CrawlEngine(spark, corpus=None, warehouse_dir=str(tmp_path / "wh"),
                      config=cfg)
    stats = eng.run(seeds=[f"{server}/page/0"])

    # round 1: the seed; round 2: its two in-main children (trap dropped
    # by clean-before-extract, /page/2 errors with 500)
    assert [s.batch_urls for s in stats] == [
        [f"{server}/page/0"],
        [f"{server}/page/1", f"{server}/page/2"],
    ]
    pages = {r.url: r for r in eng.pages.read().collect()}
    assert set(pages) == {f"{server}/page/0", f"{server}/page/1"}
    assert pages[f"{server}/page/0"].title == "Root"
    seen = {r.url: r.status for r in eng.seen.read().collect()}
    assert seen[f"{server}/page/2"] == "errored"
    assert not any("/trap" in u for u in seen)


def test_adaptive_throttle_backs_off_slow_host(spark, server):
    """AutoThrottle analog (reference settings.py:71-78): with
    adaptive_throttle on, a slow host's request interval climbs from
    throttle_start_delay toward latency/target-concurrency instead of
    hammering at a static rate — observed request gaps on the live server
    must back off, while fetch RESULTS stay identical."""
    _Handler.request_log.clear()
    host = f"{server}".split("/")[2]
    df = spark.createDataFrame(
        [(f"{server}/slow/{i}", host) for i in range(5)], ["url", "host"]
    ).coalesce(1)
    out = http_fetch(
        df, timeout=5.0, adaptive_throttle=True,
        throttle_start_delay=0.01, throttle_max_delay=2.0,
        throttle_target_concurrency=0.4,
    ).collect()
    # results unchanged by throttling
    assert sorted(r.url for r in out) == [f"{server}/slow/{i}" for i in range(5)]
    assert all(r.status == 200 and "Slow" in r.html for r in out)
    ts = [t for t, p in _Handler.request_log if p.startswith("/slow/")]
    gaps = [b - a for a, b in zip(ts, ts[1:])]
    # latency ~0.3s, target 0.3/0.4=0.75s: intervals converge upward
    # (≈0.38, 0.57, 0.66, 0.70) — strictly beyond the pure-latency gap
    assert gaps[-1] > gaps[0] + 0.15, f"no backoff: {gaps}"
    assert gaps[-1] > 0.45, f"final interval never exceeded latency: {gaps}"


def test_adaptive_throttle_crawl_results_unchanged(spark, server, tmp_path):
    """Engine-level: an adaptive-throttle crawl produces exactly the same
    pages/seen as the static-pacing crawl (throttling changes timing
    only)."""
    from louis_crawler_legacy_spark.plans.crawl import CrawlConfig, CrawlEngine

    cfg = CrawlConfig(
        max_depth=1, batch_size=8, num_partitions=2, bloom_capacity=1_000,
        fetcher="http", fetch_timeout=5.0,
        adaptive_throttle=True, throttle_start_delay=0.01,
        throttle_max_delay=0.5,
    )
    eng = CrawlEngine(spark, corpus=None, warehouse_dir=str(tmp_path / "wh"),
                      config=cfg)
    stats = eng.run(seeds=[f"{server}/page/0"])
    assert [s.batch_urls for s in stats] == [
        [f"{server}/page/0"],
        [f"{server}/page/1", f"{server}/page/2"],
    ]
    pages = {r.url for r in eng.pages.read().collect()}
    assert pages == {f"{server}/page/0", f"{server}/page/1"}
    seen = {r.url: r.status for r in eng.seen.read().collect()}
    assert seen[f"{server}/page/2"] == "errored"


def test_adaptive_throttle_delay_persists_across_rounds(
    spark, server, tmp_path
):
    """The learned per-host AutoThrottle interval survives a round
    boundary (host_state table): after a round against a slow host, the
    NEXT round's first same-host gap is spaced at the learned delay, not
    throttle_start_delay — the reference's AutoThrottle state lives for
    the crawl's lifetime, not one batch."""
    from louis_crawler_legacy_spark.plans.crawl import CrawlConfig, CrawlEngine

    cfg = CrawlConfig(
        max_depth=0, batch_size=8, num_partitions=2, bloom_capacity=1_000,
        fetcher="http", fetch_timeout=5.0,
        adaptive_throttle=True, throttle_start_delay=0.01,
        throttle_max_delay=2.0, throttle_target_concurrency=0.4,
    )
    eng = CrawlEngine(spark, corpus=None, warehouse_dir=str(tmp_path / "wh"),
                      config=cfg)
    # round 1: 5 slow urls (latency ~0.3 s, target 0.3/0.4 = 0.75 s) —
    # the interval climbs 0.01 → ~0.38 → ~0.57 → ~0.66 → ~0.70
    eng.run(seeds=[f"{server}/slow/p{i}" for i in range(5)], max_rounds=1)
    host = f"{server}".split("/")[2]
    hs = {r.host: r.throttle_delay for r in eng.host_state.read().collect()}
    assert hs[host] > 0.5, hs  # learned delay persisted
    # round 2, fresh batch: the FIRST same-host gap must already be the
    # learned interval (a per-round restart would give ~0.38 = one
    # adjustment from start_delay after request 1)
    _Handler.request_log.clear()
    eng.run(seeds=[f"{server}/slow/q1", f"{server}/slow/q2"],
            max_rounds=1, start_round=2)
    ts = sorted(t for t, p in _Handler.request_log if p.startswith("/slow/q"))
    assert len(ts) == 2
    assert ts[1] - ts[0] > 0.55, f"round-2 gap forgot the learned delay: {ts[1] - ts[0]:.3f}"
    # crawl results unchanged by the persistence
    pages = {r.url for r in eng.pages.read().collect()}
    assert pages == {f"{server}/slow/p{i}" for i in range(5)} | {
        f"{server}/slow/q1", f"{server}/slow/q2"
    }


def test_parse_robots_sitemaps_collected():
    from louis_crawler_legacy_spark.operators.robots import parse_robots_txt

    got = parse_robots_txt(
        "Sitemap: https://x.ca/a.xml\n"          # before any group: kept
        "User-agent: *\nDisallow: /p\n"
        "Sitemap: https://x.ca/b.xml\n"          # inside a group: kept,
        "Disallow: /q\n",                        # and does NOT end the group
        "any-bot",
    )
    assert got["sitemaps"] == ["https://x.ca/a.xml", "https://x.ca/b.xml"]
    assert got["disallow_prefixes"] == ["/p", "/q"]


def test_robots_5xx_means_complete_disallow(spark, tmp_path):
    """RFC 9309 §2.3.1.4: a 500-599 robots.txt response means the crawler
    MUST assume complete disallow — every batch url for that host is
    robots_blocked, nothing but /robots.txt is ever requested. (4xx and
    transport errors stay allow-all: §2.3.1.3 / documented divergence.)"""
    import threading as _threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from louis_crawler_legacy_spark.plans.crawl import CrawlConfig, CrawlEngine

    log: list[str] = []

    class Srv(BaseHTTPRequestHandler):
        def do_GET(self):
            log.append(self.path)
            status = 500 if self.path == "/robots.txt" else 200
            body = b"<html><head><title>X</title></head><body><main><p>x</p></main></body></html>"
            self.send_response(status)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            if status == 200:
                self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Srv)
    _threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        cfg = CrawlConfig(
            max_depth=1, batch_size=8, num_partitions=2, bloom_capacity=1_000,
            fetcher="http", fetch_timeout=5.0, fetch_robots=True,
        )
        eng = CrawlEngine(spark, corpus=None,
                          warehouse_dir=str(tmp_path / "wh"), config=cfg)
        stats = eng.run(seeds=[f"{base}/a", f"{base}/b"])
        assert log == ["/robots.txt"]  # nothing else was ever requested
        assert eng.pages.read().count() == 0
        seen = {r.url: r.status for r in eng.seen.read().collect()}
        assert seen == {f"{base}/a": "robots_blocked",
                        f"{base}/b": "robots_blocked"}
        assert sum(s.n_robots_blocked for s in stats) == 2
        assert sum(s.n_errored for s in stats) == 0
    finally:
        srv.shutdown()


SITEMAPS = {
    "/sitemap_index.xml": (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        "<sitemap><loc>{base}/sitemap1.xml</loc></sitemap>"
        "<sitemap><loc>{base}/sitemap2.xml</loc></sitemap>"
        "</sitemapindex>"
    ),
    "/sitemap1.xml": (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        "<url><loc>{base}/page/0</loc><lastmod>2024-01-01</lastmod></url>"
        "<url><loc>{base}/page/1</loc></url>"
        "</urlset>"
    ),
    "/sitemap2.xml": (  # no namespace + a nested index hop back (cycle)
        "<urlset>"
        "<url><loc>{base}/canonical</loc></url>"
        "</urlset>"
    ),
}


def test_sitemap_parse_unit():
    from louis_crawler_legacy_spark.sources.sitemap import parse_sitemap

    pages, nested = parse_sitemap(SITEMAPS["/sitemap1.xml"].format(base="http://x"))
    assert pages == ["http://x/page/0", "http://x/page/1"] and nested == []
    pages, nested = parse_sitemap(SITEMAPS["/sitemap_index.xml"].format(base="http://x"))
    assert pages == [] and nested == [
        "http://x/sitemap1.xml", "http://x/sitemap2.xml",
    ]
    assert parse_sitemap("not xml <<<") == ([], [])
    assert parse_sitemap(None) == ([], [])


def test_sitemap_seeds_live_index_recursion(spark, server):
    """Seed discovery (sitemaps.org): a <sitemapindex> fans out to child
    sitemaps (fetched through the same mapInPandas fetcher), their <loc>
    page urls come back as distinct seeds, and a robots table's
    `sitemaps` column feeds the same path."""
    from louis_crawler_legacy_spark.sources.sitemap import (
        sitemap_seeds,
        sitemap_seeds_from_urls,
    )

    for path, tmpl in SITEMAPS.items():
        PAGES[path] = (200, tmpl.format(base=server))
    try:
        got = sitemap_seeds_from_urls(
            spark.createDataFrame(
                [(f"{server}/sitemap_index.xml",)], ["url"]
            ),
            timeout=5.0,
        )
        urls = sorted(r.url for r in got.collect())
        assert urls == sorted(
            [f"{server}/page/0", f"{server}/page/1", f"{server}/canonical"]
        )
        # robots-table path: (host, rules, crawl_delay, sitemaps, round)
        from louis_crawler_legacy_spark.plans.crawl import ROBOTS_TABLE_SCHEMA

        robots_tbl = spark.createDataFrame(
            [(server.split("/")[2], [], None,
              [f"{server}/sitemap1.xml"], 1)],
            ROBOTS_TABLE_SCHEMA,
        )
        urls2 = sorted(
            r.url for r in sitemap_seeds(robots_tbl, timeout=5.0).collect()
        )
        assert urls2 == [f"{server}/page/0", f"{server}/page/1"]
        # unreachable sitemap → zero seeds, no failure
        none = sitemap_seeds_from_urls(
            spark.createDataFrame([(f"{server}/no_sitemap.xml",)], ["url"]),
            timeout=5.0,
        )
        assert none.count() == 0
    finally:
        for path in SITEMAPS:
            PAGES.pop(path, None)


def test_robots_known_hosts_resolve_from_warehouse_without_refetch(
    spark, tmp_path
):
    """The warehouse robots table is the only record of known hosts: a
    fresh engine over the same warehouse resolves a host fetched in an
    earlier round from the table — its rules still apply and /robots.txt
    is never refetched."""
    import threading as _threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from louis_crawler_legacy_spark.plans.crawl import CrawlConfig, CrawlEngine

    log: list[tuple[str, str]] = []  # (host, path)

    def make_handler(port_box):
        class Srv(BaseHTTPRequestHandler):
            def do_GET(self):
                log.append((f"127.0.0.1:{port_box[0]}", self.path))
                if self.path == "/robots.txt":
                    body = b"User-agent: *\nDisallow: /private/\n"
                else:
                    body = (
                        b"<html><head><title>P</title></head><body><main>"
                        b"<p>page</p></main></body></html>"
                    )
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):
                pass

        return Srv

    servers, bases = [], []
    for _ in range(4):
        box = [0]
        srv = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(box))
        box[0] = srv.server_address[1]
        _threading.Thread(target=srv.serve_forever, daemon=True).start()
        servers.append(srv)
        bases.append(f"http://127.0.0.1:{box[0]}")
    try:
        cfg = CrawlConfig(
            max_depth=0, batch_size=8, num_partitions=2, bloom_capacity=1_000,
            fetcher="http", fetch_timeout=5.0, fetch_robots=True,
        )
        eng = CrawlEngine(spark, corpus=None,
                          warehouse_dir=str(tmp_path / "wh"), config=cfg)
        # round 1: all four hosts → one robots fetch each
        eng.run(seeds=[f"{b}/a" for b in bases], max_rounds=1)
        robots_reqs = [h for h, p in log if p == "/robots.txt"]
        assert sorted(robots_reqs) == sorted(b.split("//")[1] for b in bases)
        # round 2 on a fresh engine: the warehouse supplies host 0's
        # fetched_round AND its rules — no robots refetch, and a /private/
        # url is still blocked
        eng = CrawlEngine(spark, corpus=None,
                          warehouse_dir=str(tmp_path / "wh"), config=cfg)
        eng.run(
            seeds=[f"{bases[0]}/b", f"{bases[0]}/private/x"],
            max_rounds=1, start_round=2,
        )
        assert [h for h, p in log if p == "/robots.txt"] == robots_reqs
        seen = {r.url: r.status for r in eng.seen.read().collect()}
        assert seen[f"{bases[0]}/b"] == "scraped"
        assert seen[f"{bases[0]}/private/x"] == "robots_blocked"
    finally:
        for srv in servers:
            srv.shutdown()


def test_sitemap_gzip_and_parse_failure_stats(spark, server):
    """sitemaps.org allows sitemap.xml.gz: gzipped payloads (plain AND
    index) must yield the same seeds as their uncompressed twins (the old
    text-decode path mojibaked the bytes → silent zero seeds), and
    return_stats surfaces fetch/parse failures so 'site has no sitemap'
    and 'we failed to parse it' are distinguishable."""
    import gzip

    from louis_crawler_legacy_spark.sources.sitemap import (
        sitemap_seeds_from_urls,
    )

    gz_pages = {
        "/gzindex.xml.gz": gzip.compress(
            (
                "<sitemapindex>"
                f"<sitemap><loc>{server}/gz1.xml.gz</loc></sitemap>"
                f"<sitemap><loc>{server}/plain.xml</loc></sitemap>"
                "</sitemapindex>"
            ).encode()
        ),
        "/gz1.xml.gz": gzip.compress(
            (
                "<urlset>"
                f"<url><loc>{server}/page/0</loc></url>"
                f"<url><loc>{server}/page/1</loc></url>"
                "</urlset>"
            ).encode()
        ),
        "/plain.xml": (
            f"<urlset><url><loc>{server}/canonical</loc></url></urlset>"
        ),
        "/broken.xml": "definitely <<< not xml",
    }
    for path, body in gz_pages.items():
        PAGES[path] = (200, body)
    try:
        got = sitemap_seeds_from_urls(
            spark.createDataFrame([(f"{server}/gzindex.xml.gz",)], ["url"]),
            timeout=5.0,
        )
        assert sorted(r.url for r in got.collect()) == sorted(
            [f"{server}/page/0", f"{server}/page/1", f"{server}/canonical"]
        )
        # failure visibility: one malformed + one unreachable sitemap →
        # two stats rows, zero seeds from those sources
        seeds, stats = sitemap_seeds_from_urls(
            spark.createDataFrame(
                [(f"{server}/broken.xml",), (f"{server}/gone.xml",),
                 (f"{server}/plain.xml",)],
                ["url"],
            ),
            timeout=5.0,
            return_stats=True,
        )
        assert sorted(r.url for r in seeds.collect()) == [
            f"{server}/canonical"
        ]
        got_stats = {(r.source, r.kind) for r in stats.collect()}
        assert got_stats == {
            (f"{server}/broken.xml", "parse_error"),
            (f"{server}/gone.xml", "fetch_error"),
        }
    finally:
        for path in gz_pages:
            PAGES.pop(path, None)


def test_fetch_url_gunzips_magic_payload(server):
    """fetch_url sniffs the gzip magic and decompresses before the charset
    decode — a .gz body comes back as clean text, a corrupt one falls back
    to the raw (replaced) decode without raising."""
    import gzip

    PAGES["/blob.gz"] = (200, gzip.compress(b"<urlset>clean text</urlset>"))
    PAGES["/corrupt.gz"] = (200, b"\x1f\x8b\x00corrupt-not-gzip")
    try:
        status, html, _ = fetch_url(f"{server}/blob.gz", timeout=5)
        assert status == 200 and html == "<urlset>clean text</urlset>"
        status, html, _ = fetch_url(f"{server}/corrupt.gz", timeout=5)
        assert status == 200 and html is not None  # no raise, raw decode
    finally:
        PAGES.pop("/blob.gz", None)
        PAGES.pop("/corrupt.gz", None)


def test_http_soak_flat_wall_bounded_driver_state(spark, tmp_path):
    """12-round live-server soak with robots TTL + adaptive throttle on —
    the http-mode twin of the 48-round corpus soak (guards the http-only
    driver state against the next O(rounds) leak): per-round wall stays
    flat, no Spark job outlives its round, the persisted-RDD count stops
    growing from round 3 on, and host_state keeps exactly one row per host
    across all rounds."""
    import statistics
    import threading as _threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from louis_crawler_legacy_spark.plans.crawl import CrawlConfig, CrawlEngine

    log: list[str] = []

    class Srv(BaseHTTPRequestHandler):
        def do_GET(self):
            log.append(self.path)
            if self.path == "/robots.txt":
                body = b"User-agent: *\nDisallow: /private/\n"
            else:
                # infinite binary tree: /site/{i} -> /site/{2i+1}, /site/{2i+2}
                i = int(self.path.rsplit("/", 1)[1])
                body = (
                    f"<html><head><title>S{i}</title></head><body><main>"
                    f'<p>node {i}</p><a href="/site/{2 * i + 1}">l</a>'
                    f'<a href="/site/{2 * i + 2}">r</a></main></body></html>'
                ).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Srv)
    _threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        cfg = CrawlConfig(
            max_depth=30, batch_size=4, num_partitions=2,
            bloom_capacity=1_000, fetcher="http", fetch_timeout=5.0,
            fetch_robots=True, robots_ttl_rounds=3,
            adaptive_throttle=True, throttle_start_delay=0.001,
            throttle_max_delay=0.05, checkpoint_every=0,
            detailed_metrics=False, collect_batch_urls=False,
        )
        eng = CrawlEngine(spark, corpus=None,
                          warehouse_dir=str(tmp_path / "wh"), config=cfg)
        eng.bootstrap([f"{base}/site/0"])
        sc = spark.sparkContext
        walls, active, persisted = [], [], []
        r = 1
        while r <= 12:
            s = eng.run_round(r)
            if s is None:
                break
            active.append(list(sc.statusTracker().getActiveJobsIds()))
            persisted.append(sc._jsc.getPersistentRDDs().size())
            walls.append(s.wall_sec)
            r += 1
        eng.checkpoint(r - 1)
        assert len(walls) == 12, f"crawl ended early after {len(walls)} rounds"
        assert not any(active), f"jobs outlived their round: {active}"
        assert max(persisted[2:]) <= persisted[2], (
            f"persisted RDDs growing: {persisted}"
        )
        # TTL 3 over 12 rounds: the single host refetches at most every
        # 3rd round (4-5 requests), never per-round
        assert log.count("/robots.txt") <= 5
        # throttle state: exactly one host_state row, MERGE not append
        assert eng.host_state.read().count() == 1
        early = statistics.median(walls[1:5])
        late = statistics.median(walls[-4:])
        assert late < 2.5 * early, (
            f"per-round wall trending up: early {early:.2f}s late {late:.2f}s "
            f"walls={['%.2f' % w for w in walls]}"
        )
    finally:
        srv.shutdown()


def test_robots_ttl_refetches_and_applies_new_rules(spark, tmp_path):
    """robots_ttl_rounds: rules are cached per host for N rounds, then
    refetched (MERGE-upserting the host's table row) — a rule change on
    the server propagates after the TTL, and within the TTL no extra
    robots request is made."""
    import threading as _threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from louis_crawler_legacy_spark.plans.crawl import CrawlConfig, CrawlEngine

    state = {"robots": "User-agent: *\nDisallow: /flip/\n", "log": []}

    class Srv(BaseHTTPRequestHandler):
        def do_GET(self):
            state["log"].append(self.path)
            if self.path == "/robots.txt":
                body = state["robots"].encode()
            else:
                body = (
                    "<html><head><title>P</title></head><body><main>"
                    "<p>page</p></main></body></html>"
                ).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Srv)
    _threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        cfg = CrawlConfig(
            max_depth=0, batch_size=8, num_partitions=2, bloom_capacity=1_000,
            fetcher="http", fetch_timeout=5.0, fetch_robots=True,
            robots_ttl_rounds=3,
        )
        eng = CrawlEngine(spark, corpus=None,
                          warehouse_dir=str(tmp_path / "wh"), config=cfg)
        # round 1: rules v1 block /flip/*
        eng.run(seeds=[f"{base}/flip/x", f"{base}/ok1"], max_rounds=1)
        assert state["log"].count("/robots.txt") == 1
        seen = {r.url: r.status for r in eng.seen.read().collect()}
        assert seen[f"{base}/flip/x"] == "robots_blocked"
        assert seen[f"{base}/ok1"] == "scraped"

        # server flips to allow-all, but round 2 is INSIDE the TTL:
        # cached rules still apply, no new robots request
        state["robots"] = "User-agent: *\nDisallow:\n"
        eng.run(seeds=[f"{base}/flip/y"], max_rounds=1, start_round=2)
        assert state["log"].count("/robots.txt") == 1
        seen = {r.url: r.status for r in eng.seen.read().collect()}
        assert seen[f"{base}/flip/y"] == "robots_blocked"

        # round 5 is past the TTL (fetched_round 1 <= 5-3): refetch,
        # upsert the host row, and the new allow-all rules apply
        eng.run(seeds=[f"{base}/flip/z"], max_rounds=1, start_round=5)
        assert state["log"].count("/robots.txt") == 2
        seen = {r.url: r.status for r in eng.seen.read().collect()}
        assert seen[f"{base}/flip/z"] == "scraped"
        # exactly ONE row per host in the robots table (MERGE, not append)
        host_rows = eng.robots_table.read().collect()
        assert len(host_rows) == 1
        assert host_rows[0].fetched_round == 5
        assert host_rows[0].rules == []  # allow-all now
    finally:
        srv.shutdown()
