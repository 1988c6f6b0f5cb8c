"""Deterministic synthetic web corpus — the fetch-join source.

The reference NEVER hits the network in its snapshot: the goldie spider
replays a local cache dir through its downloader middleware
(middlewares.py:104-117), proving fetch is separable from frontier logic.
We mirror that: a `corpus(url, host, status, html)` table stands in for
the web, and the per-round fetch stage is `batch LEFT JOIN corpus ON url`
(misses → errored, like the middleware's file-not-found path). In
production the join is replaced by a mapInPandas HTTP fetcher with the
same output schema.

Generation is a pure function of (seed, sizes): a host set with one
deliberately hot hub host (skew-handling tests, north rule axis B), pages
whose HTML exercises every extraction branch (title/time/main/junk
selectors/comments; absolute, relative, fragment, mailto, query-string,
pdf, off-domain, and dangling links), and a status mix (200 / ≥400 / and
urls that simply don't exist in the corpus).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("html", T.StringType()),
    ]
)


def generate_corpus(
    seed: int = 42,
    n_hosts: int = 5,
    pages_per_host: int = 40,
    hub_factor: int = 4,
    links_per_page: int = 6,
    error_rate: float = 0.08,
    dangling_rate: float = 0.05,
    min_words: int = 40,
    max_words: int = 380,
) -> list[dict]:
    """Returns a list of {url, host, status, html} dicts.

    Host 0 ('hub0.ca') holds hub_factor× more pages and receives a biased
    share of inbound links — the hot-host skew case.
    """
    rng = random.Random(seed)
    hosts = [f"hub0.ca"] + [f"site{i}.ca" for i in range(1, n_hosts)]
    pages: dict[str, int] = {}  # url -> page ordinal
    all_urls: list[str] = []
    for hi, host in enumerate(hosts):
        n = pages_per_host * (hub_factor if hi == 0 else 1)
        for p in range(n):
            url = f"http://{host}/page/{p}"
            pages[url] = p
            all_urls.append(url)
    # a few French pages for lang detection (.ca/fr substring)
    for hi, host in enumerate(hosts):
        url = f"http://{host}/fr/page/0"
        pages[url] = 10_000 + hi
        all_urls.append(url)

    hub_urls = [u for u in all_urls if u.startswith("http://hub0.ca/")]

    def pick_target(rng: random.Random) -> str:
        # 50% of links point at the hub host (skew)
        cands = hub_urls if rng.random() < 0.5 else all_urls
        return rng.choice(cands)

    out = []
    for url in all_urls:
        host = url.split("/")[2]
        status = 200
        if rng.random() < error_rate:
            status = rng.choice([404, 500, 503])
        n_words = rng.randint(min_words, max_words)
        words = " ".join(
            f"t{rng.randint(0, 96)}." if i % 17 == 16 else f"t{rng.randint(0, 96)}"
            for i in range(n_words)
        )
        links = []
        for j in range(rng.randint(1, links_per_page)):
            r = rng.random()
            if r < 0.55:
                links.append(pick_target(rng))
            elif r < 0.65:
                # relative link to a same-host page
                tgt = rng.randrange(0, pages_per_host)
                links.append(f"/page/{tgt}")
            elif r < 0.72:
                links.append(f"/doc{rng.randrange(100)}.pdf")
            elif r < 0.78:
                links.append("#section")
            elif r < 0.83:
                links.append("mailto:info@" + host)
            elif r < 0.88:
                links.append(f"http://offdomain.example.com/x{rng.randrange(50)}")
            elif r < 0.88 + dangling_rate:
                links.append(f"http://{host}/missing/{rng.randrange(1000)}")
            else:
                links.append(pick_target(rng) + f"?ref={rng.randrange(9)}")
        anchors = "\n".join(f'<a href="{l}">link</a>' for l in links)
        # Trap + nav links pin the reference's clean-before-extract order
        # (goldie_playwright_parallel.py:162 vs :183): links inside junk
        # dropped from <main> (aside here) are NEVER crawled; links outside
        # <main> (the top nav) ARE — clean only mutates within <main>.
        trap = f'<a href="http://{host}/trap/aside/{pages[url]}">trap</a>'
        nav_link = f'<a href="/page/0">home</a>'
        html = (
            f"<html><head><title>Page {pages[url]} of {host}</title></head><body>\n"
            f"<nav>nav junk {nav_link}</nav>\n"
            f"<main>\n<!-- generator comment -->\n"
            f"<h1>Section {pages[url]}</h1>\n"
            f"<aside>aside junk {trap}</aside>\n"
            f'<div class="alert">alert junk</div>\n'
            f"<p>{words}</p>\n"
            f"<time>2024-0{1 + pages[url] % 9}-01</time>\n"
            f"{anchors}\n"
            f"</main>\n<footer>footer junk</footer>\n</body></html>"
        )
        out.append({"url": url, "host": host, "status": status, "html": html})
    return out


def corpus_df(spark: SparkSession, corpus: list[dict]) -> DataFrame:
    rows = [(c["url"], c["host"], c["status"], c["html"]) for c in corpus]
    return spark.createDataFrame(rows, CORPUS_SCHEMA)


def corpus_dict(corpus: list[dict]) -> dict[str, dict]:
    """url → record, for the pure-Python simulator."""
    return {c["url"]: c for c in corpus}


def seed_urls(corpus: list[dict], n: int = 2) -> list[str]:
    """Deterministic seed list: first page of each of the first n hosts."""
    hosts: list[str] = []
    for c in corpus:
        if c["host"] not in hosts:
            hosts.append(c["host"])
    return [f"http://{h}/page/0" for h in hosts[:n]]


def corpus_df_distributed(
    spark: SparkSession,
    n_pages: int = 200_000,
    n_hosts: int = 48,
    links_per_page: int = 12,
    min_words: int = 600,
    max_words: int = 1500,
    error_pct: int = 5,
) -> DataFrame:
    """Benchmark-scale corpus generated ENTIRELY JVM-side from spark.range —
    no driver-side rows, no Python. Structure mirrors generate_corpus
    (hot hub host ≈ 1/3 of pages, same link-shape mix) but is addressed by
    page id so link targets are computable: url(id) is a pure expression.

    At 100 TB this is how you'd smoke-test the engine on a cluster: the
    corpus materializes lazily, partitioned, with zero driver involvement.
    """
    from pyspark.sql import functions as F

    def host_idx(id_col):
        # 1/3 of pages on the hub (skew), rest spread over the other hosts
        return F.when(F.pmod(id_col, 3) == 0, F.lit(0)).otherwise(
            F.pmod(F.xxhash64(id_col, F.lit("h")), n_hosts - 1) + 1
        )

    def url_of(id_col):
        return F.concat(
            F.lit("http://h"),
            host_idx(id_col).cast("string"),
            F.lit(".ca/page/"),
            id_col.cast("string"),
        )

    df = spark.range(n_pages).repartition(
        spark.sparkContext.defaultParallelism
    )
    idc = F.col("id")
    n_words = (
        F.pmod(F.xxhash64(idc, F.lit("w")), max_words - min_words) + min_words
    )
    words = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_words),
            lambda i: F.concat(
                F.lit("t"),
                F.pmod(F.xxhash64(idc * 10_000 + i), 97).cast("string"),
                # sentence periods so the chunker's sentence-split path has
                # real sentences to pack (a '.'-free mega-block is a crash
                # by reference semantics, chunking.py:100-118)
                F.when(F.pmod(i, 17) == 16, F.lit(".")).otherwise(F.lit("")),
            ),
        ),
        " ",
    )

    def link_expr(j: int):
        r = F.pmod(F.xxhash64(idc, F.lit(f"l{j}")), 100)
        target = F.pmod(F.xxhash64(idc, F.lit(f"t{j}")), n_pages)
        target_url = url_of(target)
        return (
            F.when(r < 55, target_url)
            .when(r < 65, F.concat(F.lit("/page/"), target.cast("string")))
            .when(r < 72, F.concat(F.lit("/doc"), r.cast("string"), F.lit(".pdf")))
            .when(r < 78, F.lit("#section"))
            .when(r < 83, F.lit("mailto:info@example.ca"))
            .when(r < 88, F.concat(F.lit("http://offdomain.example.com/x"), r.cast("string")))
            .when(r < 93, F.concat(target_url, F.lit("?ref="), r.cast("string")))
            .otherwise(target_url)
        )

    anchors = F.concat_ws(
        "\n",
        *[
            F.concat(F.lit('<a href="'), link_expr(j), F.lit('">link</a>'))
            for j in range(links_per_page)
        ],
    )
    html = F.concat(
        F.lit("<html><head><title>Page "),
        idc.cast("string"),
        F.lit('</title></head><body>\n<nav>nav junk <a href="'),
        url_of(idc),
        F.lit('">self</a></nav>\n<main>\n'),
        F.lit("<!-- generator comment -->\n<h1>Section "),
        idc.cast("string"),
        # trap link inside dropped junk — must never reach the frontier
        # (clean-before-extract order, see generate_corpus)
        F.lit('</h1>\n<aside>aside junk <a href="http://trap.invalid/'),
        idc.cast("string"),
        F.lit('">trap</a></aside>\n'),
        F.lit('<div class="alert">alert junk</div>\n<p>'),
        words,
        F.lit("</p>\n<time>2024-01-01</time>\n"),
        anchors,
        F.lit("\n</main>\n<footer>footer junk</footer>\n</body></html>"),
    )
    status = F.when(
        F.pmod(F.xxhash64(idc, F.lit("s")), 100) < error_pct, F.lit(404)
    ).otherwise(F.lit(200))
    return df.select(
        url_of(idc).alias("url"),
        F.concat(F.lit("h"), host_idx(idc).cast("string"), F.lit(".ca")).alias("host"),
        status.alias("status"),
        html.alias("html"),
    )
