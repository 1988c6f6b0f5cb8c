"""The two workloads. Each drives the program only through its public
surface: ``CrawlEngine.bootstrap / run_round / checkpoint / resume /
expire_urls / select_batch``, the ``sources.corpus`` generators, and
``__spark_entry__.queries()``.

A workload has four parts:

- ``setup``: the inputs (counted in ``setup_s``);
- ``run_pass``: one timed pass (a crawl, or one pass over the queries);
  the first pass of a run is the first time the session meets the
  program's plans;
- ``record``: untimed capture, after each pass, of what the checks need;
- ``check``: untimed output checks, after the timed loop.
"""

from __future__ import annotations

import math
import os
import random
import sys
import time
from dataclasses import dataclass, field

# --- sizes (measured on a 4-CPU box; see perfbench/README.md) --------------
CRAWL = dict(n_hosts=20, pages_per_host=40, links_per_page=8, min_words=200,
             max_words=800, n_seeds=64, max_depth=6, batch_size=64,
             resume_rounds=1, n_expire=32, filter_capacity=128)

# one or more driver queries per operator module: c3_cluster_canonical
# (d6's n-gram Jaccard dedup and clustering, then textstats),
# c4_decontaminate (dedup), t6_repetition (textstats) and s1_cosine_topk
# (similarity). The crawl's span building chunks every page. The rest are left out
# to fit the run budget (bench.py and bench_extra.py time them). They run
# in this fixed order: each is timed on its first call, so the order
# decides which query compiles a plan piece that several of them share.
QUERIES = ["s1_cosine_topk", "c3_cluster_canonical", "c4_decontaminate", "t6_repetition"]


@dataclass
class Pass:
    """One timed pass: its wall time and the time of each timed public
    call in it (the crawl's three phases, or the queries)."""

    run_s: float
    steps: list[float]
    t_start: float = 0.0  # epoch seconds, for event-log windows
    t_end: float = 0.0
    info: dict = field(default_factory=dict)


class Ctx:
    """Run-wide state: the session, scratch dirs, seed and the
    attempted/failed tally shared by timed calls and output checks."""

    def __init__(self, spark, scratch, seed: int):
        self.spark = spark
        self.scratch = scratch
        self.seed = seed
        self.attempted = 0
        self.failed = 0

    def timed(self, fn, *args, **kwargs):
        """Run one public call, counting it; returns (result, seconds)."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            raise
        return out, time.perf_counter() - t

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {name} {detail}", file=sys.stderr)


# --- crawl ---------------------------------------------------------------------
class Crawl:
    """Pages of 200-800 words with span building on, a cuckoo seen-filter
    sized below the final seen set, and a checkpoint every round, in three
    timed phases: bootstrap seeds durably and abandon the engine; resume
    one round on a fresh engine; expire a seeded sample of seen URLs."""

    name = "crawl"

    def setup(self, ctx: Ctx, clock) -> None:
        from louis_crawler_legacy_spark.sources import corpus as corpus_mod

        with clock.span("inputs"):
            self.corpus = corpus_mod.generate_corpus(
                seed=ctx.seed, n_hosts=CRAWL["n_hosts"],
                pages_per_host=CRAWL["pages_per_host"],
                links_per_page=CRAWL["links_per_page"],
                min_words=CRAWL["min_words"], max_words=CRAWL["max_words"],
            )
            self.cdf = corpus_mod.corpus_df(ctx.spark, self.corpus)
            self.seeds = random.Random(ctx.seed).sample(
                sorted(c["url"] for c in self.corpus), CRAWL["n_seeds"]
            )
        self.results: list[dict] = []

    def config(self, traced: bool):
        from louis_crawler_legacy_spark.plans.crawl import CrawlConfig

        return CrawlConfig(
            max_depth=CRAWL["max_depth"], batch_size=CRAWL["batch_size"],
            build_spans=True, checkpoint_every=1, seen_filter="cuckoo",
            bloom_capacity=CRAWL["filter_capacity"],
            detailed_metrics=traced, collect_batch_urls=False,
        )

    def engine(self, ctx: Ctx, cfg, wh: str):
        from louis_crawler_legacy_spark.plans.crawl import CrawlEngine

        eng = CrawlEngine(ctx.spark, self.cdf, wh, cfg)
        eng.corpus.count()  # untimed: the engine's cached corpus copy
        return eng

    def run_pass(self, ctx: Ctx, traced: bool) -> Pass:
        cfg = self.config(traced)
        wh = ctx.scratch.fresh_dir("wh")
        w0 = time.time()
        # phase 1: seeds in (bootstrap commits the frontier table itself),
        # then the engine is abandoned
        eng = self.engine(ctx, cfg, wh)
        _, boot_s = ctx.timed(eng.bootstrap, self.seeds)
        # phase 2: a fresh engine on the same warehouse resumes
        eng = self.engine(ctx, cfg, wh)
        stats, resume_s = ctx.timed(eng.resume, max_rounds=CRAWL["resume_rounds"])
        # untimed: what the checks need from the resumed crawl, and the sample
        got = self.snapshot(eng)
        sample = random.Random(ctx.seed).sample(
            sorted(got["seen"]), min(CRAWL["n_expire"], len(got["seen"]))
        )
        # phase 3: expire the sample
        n_expired, expire_s = ctx.timed(eng.expire_urls, sample)
        return Pass(
            boot_s + resume_s + expire_s, [boot_s, resume_s, expire_s],
            w0, time.time(),
            dict(engine=eng, stats=stats, bootstrap_s=boot_s,
                 resume_s=resume_s, expire_s=expire_s,
                 resumed=got, sample=sample, n_expired=n_expired),
        )

    @staticmethod
    def snapshot(eng) -> dict:
        """Per-round page URL sets, the seen set, and the documents count."""
        base = eng.config.base_timestamp
        pages: dict[int, set] = {}
        for r in eng.pages.read().select("url", "last_crawled").collect():
            pages.setdefault(r.last_crawled - base, set()).add(r.url)
        return dict(
            pages=pages,
            seen={r.url for r in eng.seen.read().select("url").collect()},
            documents=eng.documents.read().count(),
        )

    def record(self, ctx: Ctx, p: Pass) -> None:
        from pyspark.sql import functions as F

        eng = p.info["engine"]
        n_pages, n_urls = eng.pages.read().agg(F.count("*"), F.countDistinct("url")).first()
        seen_after_expire = {r.url for r in eng.seen.read().select("url").collect()}
        self.results.append(dict(
            p.info, engine=None, n_pages=n_pages, distinct_pages=n_urls,
            seen_after_expire=seen_after_expire,
        ))

    def check(self, ctx: Ctx) -> None:
        from louis_crawler_legacy_spark.simulator import simulate_crawl
        from louis_crawler_legacy_spark.sources import corpus as corpus_mod

        sim = simulate_crawl(
            corpus_mod.corpus_dict(self.corpus), self.seeds,
            max_depth=CRAWL["max_depth"], batch_size=CRAWL["batch_size"],
            max_rounds=CRAWL["resume_rounds"],
        )
        want = {i + 1: set(r.scraped) for i, r in enumerate(sim.rounds)}
        for r in self.results:
            got, sample = r["resumed"], set(r["sample"])
            n_pages = sum(len(u) for u in got["pages"].values())
            ctx.check("crawl.pages_per_round_eq_simulator", got["pages"] == want)
            ctx.check("crawl.seen_eq_simulator", got["seen"] == sim.seen,
                      f"{len(got['seen'])} vs {len(sim.seen)}")
            ctx.check("crawl.documents_eq_pages", got["documents"] == n_pages,
                      f"{got['documents']} vs {n_pages}")
            ctx.check("crawl.one_page_row_per_url", r["n_pages"] == r["distinct_pages"],
                      f"{r['n_pages']} vs {r['distinct_pages']}")
            ctx.check("crawl.expired_count", r["n_expired"] == len(sample),
                      f"{r['n_expired']} vs {len(sample)}")
            ctx.check("crawl.expire_removes_sample",
                      r["seen_after_expire"] == got["seen"] - sample)

    def layers(self, ctx: Ctx, p: Pass, timer) -> dict:
        from perfbench import trace

        out = trace.crawl_layers(ctx, p, timer)
        out.update(trace.page_layer(trace.heavy_pages(ctx.spark, ctx.seed)))
        return out


# --- queries --------------------------------------------------------------------
class Queries:
    """Four operator-heavy driver queries on seeded tables, each
    collected once per pass."""

    name = "queries"

    def setup(self, ctx: Ctx, clock) -> None:
        import __spark_entry__ as entry

        from perfbench import querydata

        with clock.span("inputs"):
            self.sf_dir = ctx.scratch.sub("inputs")
            self.rows = querydata.write_tables(self.sf_dir, ctx.seed)
            self.fns = entry.queries()
            self.oracles = entry.oracle_sql()
        self.outputs: list[dict] = []

    def _collect(self, ctx: Ctx, name: str):
        """Build one query (some run jobs while building) and collect it."""
        df = self.fns[name](ctx.spark, self.sf_dir)
        return df.columns, df.collect()

    def run_pass(self, ctx: Ctx, traced: bool) -> Pass:
        sc = ctx.spark.sparkContext
        t0, w0 = time.perf_counter(), time.time()
        steps, out = [], {}
        for name in QUERIES:
            sc.setJobDescription(f"q:{name}")
            out[name], dt = ctx.timed(self._collect, ctx, name)
            steps.append(dt)
        sc.setJobDescription(None)
        return Pass(time.perf_counter() - t0, steps, w0, time.time(), dict(outputs=out))

    def record(self, ctx: Ctx, p: Pass) -> None:
        self.outputs.append(p.info["outputs"])

    def layers(self, ctx: Ctx, p: Pass, timer) -> dict:
        return {f"q.{q}_s": dt for q, dt in zip(QUERIES, p.steps)}

    def check(self, ctx: Ctx) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            for t in self.rows:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for outputs in self.outputs:
                for name in QUERIES:
                    cols, got = outputs[name]
                    if name in self.oracles:
                        res = con.execute(self.oracles[name])
                        want = res.fetchall()
                        ok = _rows_equal(cols, got, [d[0] for d in res.description], want)
                        ctx.check(f"queries.{name}.oracle", ok,
                                  f"{len(got)} vs {len(want)} rows")
                    else:
                        ctx.check(f"queries.{name}.rows",
                                  len(got) > 0 and len({repr(r) for r in got}) == len(got),
                                  f"{len(got)} rows")
        finally:
            con.close()


def _norm(v):
    if hasattr(v, "item"):  # numpy scalars from duckdb
        v = v.item()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _coarse(v):
    """Sort key: floats at two decimals, so rows pair up even when the
    two engines round a value differently in its last digit."""
    if isinstance(v, float):
        return round(v, 2) + 0.0
    if isinstance(v, tuple):
        return tuple(_coarse(x) for x in v)
    return v


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-3)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def _rows_equal(cols_a, rows_a, cols_b, rows_b) -> bool:
    """Order-insensitive equality with columns matched by name and floats
    equal within 1e-3 (a value on a rounding boundary may land on either
    side of it in the two engines)."""
    if sorted(cols_a) != sorted(cols_b) or len(rows_a) != len(rows_b):
        return False

    def rows(cols, rs):
        idx = [cols.index(c) for c in sorted(cols)]
        out = [tuple(_norm(r[i]) for i in idx) for r in rs]
        return sorted(out, key=lambda r: repr(_coarse(r)))

    return all(_close(a, b) for a, b in zip(rows(cols_a, rows_a), rows(cols_b, rows_b)))


WORKLOADS = {w.name: w for w in (Crawl, Queries)}
