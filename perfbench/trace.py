"""Per-layer numbers for a traced run, all collected from the benchmark's
side: timers around calls into the package's modules, microbenchmarks of
single layers on the workload's own inputs, and Spark's event log folded
into per-pool executor time.

Every workload reports every metric in ``LAYER_METRICS``; a layer the
workload does not exercise reports 0.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

from perfbench.workloads import QUERIES

TABLES = ("pages", "links", "documents", "frontier", "seen", "seen_bloom")
POOLS = ("default", "state", "background")
FILTERS = ("bloom", "cuckoo")

LAYER_METRICS: dict[str, str] = {
    "setup.session_s": "s", "setup.inputs_s": "s", "setup.warmup_s": "s",
    "trace.traced_run_s": "s", "trace.untraced_run_s": "s", "trace.overhead_s": "s",
    "trace.peak_rss_mb": "MB", "trace.cpu_s": "s",
    "crawl.bootstrap_s": "s", "crawl.round_s.max": "s",
    "crawl.select_s": "s", "crawl.rounds": "count", "crawl.urls_scheduled": "count",
    "crawl.new_frontier": "count", "crawl.candidates": "count",
    "crawl.filter_hits": "count", "crawl.filter_hit_ratio": "ratio",
    "crawl.resume_s": "s", "crawl.expire_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.jobs_per_step": "count",
    **{f"spark.exec_s.{p}": "s" for p in POOLS},
    **{f"spark.cpu_s.{p}": "s" for p in POOLS},
    "spark.gc_s": "s", "spark.shuffle_bytes": "B", "spark.spill_bytes": "B",
    "spark.busy_frac": "ratio",
    **{f"filter.{k}.{m}": u for k in FILTERS for m, u in (
        ("merge_s", "s"), ("probe_s", "s"), ("blob_bytes", "B"), ("fp_rate", "ratio"))},
    "filter.cuckoo.delete_s": "s",
    **{f"wh.bytes.{t}": "B" for t in TABLES},
    "wh.bytes_per_page": "B/page", "wh.commits": "count", "wh.write_s": "s",
    "wh.read_s": "s",
    "page.extract_ms": "ms", "page.chunk_ms": "ms", "page.spans_ms": "ms",
    "page.tokenize_ms": "ms", "page.bytes": "B",
    **{f"q.{q}_s": "s" for q in QUERIES},
    **{f"q.{q}.exec_s": "s" for q in QUERIES},
    **{f"q.{q}.shuffle_bytes": "B" for q in QUERIES},
}


# --- call timers ----------------------------------------------------------------
class TableWriteTimer:
    """Counts and times ``SnapshotTable`` writes (append/overwrite/upsert)
    on every thread while installed; nested writes (upsert's inner
    overwrite) count once."""

    METHODS = ("append", "overwrite", "upsert")

    def __init__(self):
        from louis_crawler_legacy_spark.sources.tables import SnapshotTable

        self.cls = SnapshotTable
        self.saved = {m: getattr(SnapshotTable, m) for m in self.METHODS}
        self.lock = threading.Lock()
        self.local = threading.local()
        self.count = 0
        self.seconds = 0.0

    def _wrap(self, fn):
        timer = self

        def wrapped(*args, **kwargs):
            depth = getattr(timer.local, "depth", 0)
            timer.local.depth = depth + 1
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                timer.local.depth = depth
                if depth == 0:
                    with timer.lock:
                        timer.count += 1
                        timer.seconds += time.perf_counter() - t

        return wrapped

    def __enter__(self):
        for m, fn in self.saved.items():
            setattr(self.cls, m, self._wrap(fn))
        return self

    def __exit__(self, *exc):
        for m, fn in self.saved.items():
            setattr(self.cls, m, fn)


# --- crawl layers -----------------------------------------------------------------
def crawl_layers(ctx, p, write_timer: TableWriteTimer) -> dict:
    eng = p.info["engine"]
    stats = p.info["stats"]
    cand = sum(max(s.n_candidates, 0) for s in stats)
    hits = sum(max(s.n_bloom_hits, 0) for s in stats)
    out = {
        "crawl.bootstrap_s": p.info["bootstrap_s"],
        "crawl.round_s.max": max(s.wall_sec for s in stats),
        "crawl.rounds": len(stats),
        "crawl.urls_scheduled": sum(s.n_batch for s in stats),
        "crawl.new_frontier": sum(s.n_new_frontier for s in stats),
        "crawl.candidates": cand,
        "crawl.filter_hits": hits,
        "crawl.filter_hit_ratio": hits / cand if cand else 0.0,
        "crawl.resume_s": p.info["resume_s"],
        "crawl.expire_s": p.info["expire_s"],
        "wh.commits": write_timer.count,
        "wh.write_s": write_timer.seconds,
    }
    # select_batch on the checkpointed frontier snapshots (at most four)
    snaps = [h["v"] for h in eng.frontier.history()][-4:]
    sel = [ctx.timed(eng.select_batch, eng.frontier.read(v))[1] for v in snaps]
    out["crawl.select_s"] = statistics.mean(sel) if sel else 0.0
    # warehouse bytes on disk, and the time to read back each table
    wh_dir = eng.wh.root
    for t in TABLES:
        out[f"wh.bytes.{t}"] = _dir_bytes(os.path.join(wh_dir, t))
    t0 = time.perf_counter()
    n_pages = 0
    for t in TABLES:
        n = eng.wh.table(t).read().count()
        if t == "pages":
            n_pages = n
    out["wh.read_s"] = time.perf_counter() - t0
    out["wh.bytes_per_page"] = _dir_bytes(wh_dir) / max(n_pages, 1)
    out.update(filter_layer(ctx, eng))
    return out


def filter_layer(ctx, eng) -> dict:
    """Merge, probe and (cuckoo) delete on the crawl's final seen set, for
    both filter kinds at the crawl's capacity; the probe mixes every seen
    URL with 5,000 known-absent ones."""
    from pyspark.sql import functions as F

    from louis_crawler_legacy_spark.operators import bloom as bloom_mod
    from louis_crawler_legacy_spark.operators.cuckoo import PartitionedCuckoo

    cfg = eng.config
    spark = ctx.spark
    seen = eng.seen.read().select("url").localCheckpoint()
    hashes = bloom_mod.with_bloom_hashes(seen, "url", cfg.num_partitions).select(
        "part_id", "h1", "h2"
    ).localCheckpoint()
    n_absent = 5_000
    absent = spark.range(n_absent).select(
        F.concat(F.lit("http://absent.invalid/"), F.col("id").cast("string")).alias("url"),
        F.lit(False).alias("present"),
    )
    cand = bloom_mod.with_bloom_hashes(
        absent.unionByName(seen.select("url", F.lit(True).alias("present"))),
        "url", cfg.num_partitions,
    ).localCheckpoint()
    empty = spark.createDataFrame([], bloom_mod.BLOOM_SCHEMA)
    out = {}
    for kind, pb in (
        ("bloom", bloom_mod.PartitionedBloom.for_capacity(cfg.bloom_capacity, cfg.bloom_fpp)),
        ("cuckoo", PartitionedCuckoo.for_capacity(cfg.bloom_capacity)),
    ):
        t0 = time.perf_counter()
        blobs = pb.merge_blobs(empty, hashes).localCheckpoint()
        out[f"filter.{kind}.merge_s"] = time.perf_counter() - t0
        out[f"filter.{kind}.blob_bytes"] = blobs.agg(F.sum(F.length("bits"))).first()[0] or 0
        t0 = time.perf_counter()
        row = (
            pb.probe(cand, blobs)
            .agg(
                F.sum((~F.col("present") & F.col("maybe_seen")).cast("int")).alias("fp"),
                F.sum((F.col("present") & ~F.col("maybe_seen")).cast("int")).alias("fn"),
            )
            .first()
        )
        out[f"filter.{kind}.probe_s"] = time.perf_counter() - t0
        out[f"filter.{kind}.fp_rate"] = (row.fp or 0) / n_absent
        ctx.check(f"filter.{kind}.no_false_negative", (row.fn or 0) == 0, f"{row.fn}")
        if kind == "cuckoo":
            t0 = time.perf_counter()
            pb.delete_blobs(blobs, hashes.sample(0.1, seed=ctx.seed)).localCheckpoint()
            out["filter.cuckoo.delete_s"] = time.perf_counter() - t0
    return out


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


# --- per-page Python --------------------------------------------------------------
def page_layer(pages: list[tuple[str, str]]) -> dict:
    """Single-threaded ms/page for each per-page function on ``pages``
    ((url, html) pairs): one untimed loop fills the per-process caches,
    then each function is timed over the whole sample."""
    from louis_crawler_legacy_spark.functions.extract import extract_page_fields
    from louis_crawler_legacy_spark.functions.tokenizer import default_encoder
    from louis_crawler_legacy_spark.operators.chunking import chunk_html
    from louis_crawler_legacy_spark.operators.spans import build_spans_py

    enc = default_encoder()

    def run_all():
        fields = [extract_page_fields(h, u, None) for u, h in pages]
        chunks = [chunk_html(f["content"], enc) if f["content"] else [] for f in fields]
        texts = [c["text_content"] for cs in chunks for c in cs]
        return fields, texts

    fields, texts = run_all()
    n = len(pages)

    def ms(fn) -> float:
        t = time.perf_counter()
        fn()
        return (time.perf_counter() - t) * 1000 / n

    return {
        "page.extract_ms": ms(lambda: [extract_page_fields(h, u, None) for u, h in pages]),
        "page.chunk_ms": ms(lambda: [chunk_html(f["content"], enc) for f in fields if f["content"]]),
        "page.spans_ms": ms(lambda: [build_spans_py(h, u, enc) for u, h in pages]),
        "page.tokenize_ms": ms(lambda: [enc.encode(t) for t in texts]),
        "page.bytes": statistics.mean(len(h.encode()) for _, h in pages),
    }


def heavy_pages(spark, seed: int, k: int = 16) -> list[tuple[str, str]]:
    """``k`` seeded pages of 8-14k words (about 46 KB) from the JVM-side
    generator. The id filter runs before the html is built."""
    import random

    from pyspark.sql import functions as F

    from louis_crawler_legacy_spark.sources.corpus import corpus_df_distributed

    n_pages = 20_000
    ids = random.Random(seed).sample(range(n_pages), 2 * k)
    rows = (
        corpus_df_distributed(spark, n_pages=n_pages, min_words=8_000, max_words=14_000)
        .filter(F.split("url", "/").getItem(4).cast("long").isin(ids))
        .filter(F.col("status") < 400)
        .select("url", "html")
        .collect()
    )
    return sorted((r.url, r.html) for r in rows)[:k]


# --- Spark event log ------------------------------------------------------------
class EventLog:
    """Jobs, stages and task metrics from the run's event log, read after
    the session has stopped (the log is complete then)."""

    def __init__(self, events_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[tuple[int, dict]] = []  # (stage id, metrics)
        for name in os.listdir(events_dir):
            with open(os.path.join(events_dir, name)) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            self.jobs[jid] = dict(
                t=e["Submission Time"] / 1000.0,
                pool=props.get("spark.scheduler.pool") or "default",
                desc=props.get("spark.job.description") or "",
                stages=list(e.get("Stage IDs", [])),
            )
            for sid in e.get("Stage IDs", []):
                self.stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.tasks.append((e["Stage ID"], dict(
                run_s=m.get("Executor Run Time", 0) / 1000.0,
                cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                gc_s=m.get("JVM GC Time", 0) / 1000.0,
                shuffle=sw.get("Shuffle Bytes Written", 0),
                spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            )))

    def window(self, t0: float, t1: float, desc: str | None = None):
        """Job ids submitted in [t0, t1] (and with ``desc``, if given),
        and the tasks of their stages."""
        jids = {
            j for j, v in self.jobs.items()
            if t0 <= v["t"] <= t1 and (desc is None or v["desc"] == desc)
        }
        tasks = [(self.jobs[self.stage_job[s]], m) for s, m in self.tasks
                 if self.stage_job.get(s) in jids]
        return jids, tasks

    def fold(self, t0: float, t1: float, run_s: float, n_steps: int, cores: int) -> dict:
        jids, tasks = self.window(t0, t1)
        stages = {s for j in jids for s in self.jobs[j]["stages"]}
        out = {
            "spark.jobs": len(jids),
            "spark.stages": len(stages),
            "spark.tasks": len(tasks),
            "spark.jobs_per_step": len(jids) / max(n_steps, 1),
            "spark.gc_s": sum(m["gc_s"] for _, m in tasks),
            "spark.shuffle_bytes": sum(m["shuffle"] for _, m in tasks),
            "spark.spill_bytes": sum(m["spill"] for _, m in tasks),
        }
        for pool in POOLS:
            ts = [m for j, m in tasks if j["pool"] == pool]
            out[f"spark.exec_s.{pool}"] = sum(m["run_s"] for m in ts)
            out[f"spark.cpu_s.{pool}"] = sum(m["cpu_s"] for m in ts)
        busy = sum(m["run_s"] for _, m in tasks)
        out["spark.busy_frac"] = busy / (run_s * cores) if run_s else 0.0
        return out

    def per_query(self, t0: float, t1: float) -> dict:
        out = {}
        for q in QUERIES:
            _, tasks = self.window(t0, t1, desc=f"q:{q}")
            out[f"q.{q}.exec_s"] = sum(m["run_s"] for _, m in tasks)
            out[f"q.{q}.shuffle_bytes"] = sum(m["shuffle"] for _, m in tasks)
        return out
