#!/usr/bin/env python
"""spark-submit entry point for the crawl engine (north rule: launched via
``spark-submit --py-files`` on a multi-executor cluster).

    zip -r louis.zip louis_crawler_legacy_spark/
    spark-submit --py-files louis.zip scripts/run_crawl.py \
        --corpus /data/corpus.parquet --warehouse /data/warehouse \
        --seeds seeds.txt --max-depth 4 --batch-size 1000000 \
        --host-budget 64 --salt-buckets 16 --partitions 4096 --resume

On a cluster the session comes from spark-submit's conf (master, executor
counts); locally this falls back to local[*]. The corpus argument is the
fetch source table — swap for a mapInPandas HTTP fetcher in production.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--corpus", help="parquet path: url,host,status,html "
                                    "(omit with --fetcher http)")
    p.add_argument("--fetcher", choices=["corpus", "http"], default="corpus",
                   help="'http' = production mapInPandas fetcher "
                        "(sources/fetcher.py); 'corpus' = replay join")
    p.add_argument("--fetch-timeout", type=float, default=60.0)
    p.add_argument("--warehouse", required=True)
    p.add_argument("--seeds", help="text file, one URL per line")
    p.add_argument("--max-depth", type=int, default=4)
    p.add_argument("--batch-size", type=int, default=64)
    p.add_argument("--host-budget", type=int, default=None)
    p.add_argument("--salt-buckets", type=int, default=0)
    p.add_argument("--partitions", type=int, default=64)
    p.add_argument("--allowed-domains", default="", help="comma-separated substrings")
    p.add_argument("--robots-json", help="json file: host -> robots.txt body")
    p.add_argument("--fetch-robots", action="store_true",
                   help="live robots.txt compliance: fetch+parse /robots.txt "
                        "per newly-seen host (http fetcher only)")
    p.add_argument("--robots-ttl-rounds", type=int, default=None,
                   help="refetch a host's robots.txt after N rounds "
                        "(default: once per host, ever)")
    p.add_argument("--host-min-interval", type=float, default=0.0,
                   help="minimum seconds between same-host requests "
                        "(http fetcher)")
    p.add_argument("--adaptive-throttle", action="store_true",
                   help="AutoThrottle-style per-host backoff from observed "
                        "latency (http fetcher); learned delays persist "
                        "across rounds in the host_state table")
    p.add_argument("--throttle-target-concurrency", type=float, default=1.0,
                   help="AUTOTHROTTLE_TARGET_CONCURRENCY: intervals "
                        "converge toward latency / this")
    p.add_argument("--seed-from-sitemaps", action="store_true",
                   help="expand each --seeds line that is a sitemap URL "
                        "(contains 'sitemap', .xml) into its page URLs "
                        "before crawling (sources/sitemap.py)")
    p.add_argument("--checkpoint-every", type=int, default=1)
    p.add_argument("--build-spans", action="store_true")
    p.add_argument("--max-rounds", type=int, default=10_000)
    p.add_argument("--resume", action="store_true")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("louis-crawl").getOrCreate()

    from louis_crawler_legacy_spark.operators.robots import robots_map
    from louis_crawler_legacy_spark.plans.crawl import CrawlConfig, CrawlEngine

    robots = None
    if args.robots_json:
        with open(args.robots_json) as f:
            robots = robots_map(json.load(f))

    cfg = CrawlConfig(
        max_depth=args.max_depth,
        batch_size=args.batch_size,
        host_budget=args.host_budget,
        salt_buckets=args.salt_buckets,
        num_partitions=args.partitions,
        allowed_domains=tuple(d for d in args.allowed_domains.split(",") if d),
        robots=robots,
        checkpoint_every=args.checkpoint_every,
        build_spans=args.build_spans,
        collect_batch_urls=False,
        fetcher=args.fetcher,
        fetch_timeout=args.fetch_timeout,
        fetch_robots=args.fetch_robots,
        robots_ttl_rounds=args.robots_ttl_rounds,
        host_min_interval=args.host_min_interval,
        adaptive_throttle=args.adaptive_throttle,
        throttle_target_concurrency=args.throttle_target_concurrency,
    )
    if args.fetcher == "corpus" and not args.corpus:
        sys.exit("--corpus required unless --fetcher http")
    corpus = spark.read.parquet(args.corpus) if args.corpus else None
    eng = CrawlEngine(spark, corpus, args.warehouse, cfg)

    if args.resume:
        stats = eng.resume(max_rounds=args.max_rounds)
    else:
        if not args.seeds:
            sys.exit("--seeds required unless --resume")
        with open(args.seeds) as f:
            seeds = [line.strip() for line in f if line.strip()]
        if args.seed_from_sitemaps:
            from louis_crawler_legacy_spark.sources.sitemap import (
                sitemap_seeds_from_urls,
            )

            maps = [s for s in seeds
                    if "sitemap" in s.lower()
                    and s.lower().endswith((".xml", ".xml.gz"))]
            if maps:
                expanded = sitemap_seeds_from_urls(
                    spark.createDataFrame([(u,) for u in maps], ["url"]),
                    timeout=args.fetch_timeout,
                ).collect()
                seeds = [s for s in seeds if s not in maps] + sorted(
                    r.url for r in expanded
                )
        stats = eng.run(seeds=seeds, max_rounds=args.max_rounds)

    total = sum(s.n_batch for s in stats)
    new = sum(s.n_new_frontier for s in stats)
    wall = sum(s.wall_sec for s in stats)
    print(
        json.dumps(
            {
                "rounds": len(stats),
                "urls_scheduled": total,
                "frontier_added": new,
                "wall_sec": round(wall, 2),
                "sched_dedup_per_sec": round((total + new) / wall, 2) if wall else 0,
            }
        )
    )


if __name__ == "__main__":
    main()
