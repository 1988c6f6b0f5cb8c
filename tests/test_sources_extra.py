"""S5/S6 permissive JSON metadata scans, S15 exports, robots.txt parsing,
and the spark-submit CLI."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from louis_crawler_legacy_spark.operators import robots as robots_mod
from louis_crawler_legacy_spark.sources import metadata

# this checkout: the CLI tests run its scripts against its own package
REPO = Path(__file__).resolve().parents[1]


def test_metadata_scan_drops_corrupt(spark, tmp_path):
    d = tmp_path / "metadata"
    d.mkdir()
    good = {
        "id": "a1", "url": "http://x.ca/a", "title": "A", "lang": "en",
        "last_crawled": 1700000000, "last_updated": "2024-01-01",
        "children": ["http://x.ca/b"],
    }
    (d / "a.json").write_text(json.dumps(good))
    (d / "b.json").write_text('{"id": "b2", "url": "http://x.ca/b"}')
    (d / "corrupt.json").write_text('{"id": broken!!!')
    df = metadata.read_metadata_json(spark, str(d))
    rows = {r.url: r for r in df.collect()}
    assert set(rows) == {"http://x.ca/a", "http://x.ca/b"}
    assert list(rows["http://x.ca/a"].children) == ["http://x.ca/b"]


def test_exports(spark, tmp_path):
    df = spark.createDataFrame(
        [("http://x.ca/a", ["c1", "c2"]), ("http://x.ca/b", [])],
        ["url", "children"],
    )
    metadata.export_items(df, str(tmp_path / "items_json"), "json")
    back = spark.read.json(str(tmp_path / "items_json"))
    assert back.count() == 2
    metadata.export_items(df, str(tmp_path / "items_csv"), "csv")
    csv = spark.read.option("header", "true").csv(str(tmp_path / "items_csv"))
    assert csv.count() == 2
    assert '"c1"' in [r["children"] for r in csv.collect() if r.url.endswith("/a")][0]


ROBOTS_TXT = """
# comments ignored
User-agent: evilbot
Disallow: /

User-agent: *
Disallow: /private/
Disallow: /tmp
Crawl-delay: 2.5
Allow: /private/ok
"""


def test_parse_robots():
    got = robots_mod.parse_robots_txt(ROBOTS_TXT)
    assert got["disallow_prefixes"] == ["/", "/private/", "/tmp"] or got[
        "disallow_prefixes"
    ] == ["/private/", "/tmp"]
    # NB: our minimal parser applies groups for '*' and the named agent; the
    # evilbot group's Disallow:/ is only included if agent matching keeps it
    assert got["crawl_delay"] == 2.5


def test_robots_end_to_end_filtering():
    # parse → map → pure-python filter twin used by the simulator
    from louis_crawler_legacy_spark.operators.politeness import robots_blocked_py

    m = robots_mod.robots_map({"x.ca": ROBOTS_TXT})
    assert robots_blocked_py("http://x.ca/private/page", m)
    assert robots_blocked_py("http://x.ca/tmp123", m)  # prefix semantics


def test_robots_twin_agrees_with_hand_derived_rfc_table():
    """The r1_robots_rfc driver-gate oracle is a HAND-DERIVED literal
    table (so it is independent of the evaluators); this pins the Python
    twin to it — a regression in the shared normalize_rules/pattern_regex
    fold now fails here even before the Spark gate runs."""
    from louis_crawler_legacy_spark.operators.politeness import robots_blocked_py
    from louis_crawler_legacy_spark.plans.driver_queries import (
        _ROBOTS_BODIES,
        _ROBOTS_EXPECTED,
        _ROBOTS_URLS,
    )

    m = robots_mod.robots_map(_ROBOTS_BODIES)
    got = [robots_blocked_py(u, m) for u in _ROBOTS_URLS]
    assert got == _ROBOTS_EXPECTED


def test_spark_submit_cli(tmp_path):
    """Drive scripts/run_crawl.py the way spark-submit would (python -m
    equivalent: the script builds its own session)."""
    from louis_crawler_legacy_spark.session import get_spark
    from louis_crawler_legacy_spark.sources import corpus as cm

    spark = get_spark(cpus="4")
    corpus = cm.generate_corpus(seed=42, n_hosts=2, pages_per_host=5, links_per_page=3)
    corpus_path = str(tmp_path / "corpus.parquet")
    cm.corpus_df(spark, corpus).write.parquet(corpus_path)
    seeds_file = tmp_path / "seeds.txt"
    seeds_file.write_text("\n".join(cm.seed_urls(corpus, n=1)))

    env = dict(os.environ, PYTHONPATH=str(REPO))
    out = subprocess.run(
        [sys.executable, str(REPO / "scripts" / "run_crawl.py"),
         "--corpus", corpus_path, "--warehouse", str(tmp_path / "wh"),
         "--seeds", str(seeds_file), "--max-depth", "1",
         "--batch-size", "8", "--partitions", "2"],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    summary = json.loads(out.stdout.strip().splitlines()[-1])
    assert summary["rounds"] >= 1 and summary["urls_scheduled"] >= 1

    # resume path: no new rounds on a finished crawl, exits cleanly
    out2 = subprocess.run(
        [sys.executable, str(REPO / "scripts" / "run_crawl.py"),
         "--corpus", corpus_path, "--warehouse", str(tmp_path / "wh"),
         "--resume", "--batch-size", "8", "--partitions", "2"],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert out2.returncode == 0, out2.stderr[-2000:]


def test_log_stats_cli(tmp_path):
    """scripts/log_stats.py — the reference log_analyzer.py twin (:46-182):
    per-[TASK:id] rollups + global stats via native regexp extraction."""
    log = tmp_path / "crawler.log"
    log.write_text(
        "2024-01-01 10:00:00,000 [TASK:aaaa1111] Processing URL 1/5: http://x.ca/a\n"
        "2024-01-01 10:00:02,500 [TASK:aaaa1111] Successfully processed http://x.ca/a\n"
        "2024-01-01 10:00:01,000 [TASK:bbbb2222] Processing URL 2/5: http://x.ca/b\n"
        "2024-01-01 10:00:01,250 [TASK:bbbb2222] Error processing http://x.ca/b: timeout\n"
        "general startup line without a task id\n"
        "\n"
        "2024-01-01 10:00:05,000 [TASK:cccc3333] Processing URL 3/5: http://x.ca/c\n"
        # last-marker-wins (reference log_analyzer.py:82-90 overwrites
        # status per line): success then a LATER error ⇒ error, and the
        # LAST "Error processing" message wins
        "2024-01-01 10:00:06,000 [TASK:dddd4444] Processing URL 4/5: http://x.ca/d\n"
        "2024-01-01 10:00:06,500 [TASK:dddd4444] Error processing http://x.ca/d: first-fail\n"
        "2024-01-01 10:00:07,000 [TASK:dddd4444] Successfully processed http://x.ca/d\n"
        "2024-01-01 10:00:07,500 [TASK:dddd4444] Error processing http://x.ca/d: late-fail\n"
    )
    env = dict(os.environ, PYTHONPATH=str(REPO))

    def cli(*args):
        out = subprocess.run(
            [sys.executable, str(REPO / "scripts" / "log_stats.py"),
             str(log), *args],
            capture_output=True, text=True, env=env, timeout=300,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        return json.loads(out.stdout.strip().splitlines()[-1])

    res = cli()
    tasks, stats = res["tasks"], res["stats"]
    assert set(tasks) == {"aaaa1111", "bbbb2222", "cccc3333", "dddd4444"}
    assert tasks["aaaa1111"]["status"] == "success"
    assert tasks["aaaa1111"]["url"] == "http://x.ca/a"
    assert tasks["aaaa1111"]["duration_sec"] == 2.5
    assert tasks["bbbb2222"]["status"] == "error"
    assert tasks["bbbb2222"]["error"] == "timeout"
    assert tasks["cccc3333"]["status"] == "unknown"
    assert tasks["dddd4444"]["status"] == "error"  # last marker wins
    assert tasks["dddd4444"]["error"] == "late-fail"  # last message wins
    assert stats["total_tasks"] == 4 and stats["successful"] == 1
    assert stats["failed"] == 2 and stats["unknown"] == 1
    assert stats["max_duration"] == 2.5
    assert res["general_lines"] == 1

    detail = cli("bbbb2222")
    assert len(detail) == 2 and "timeout" in detail[1]["line"]


def test_storage_stats_cli(tmp_path):
    """scripts/storage_stats.py — the reference storage_manager twin
    (stats / recent / search over the warehouse, storage_manager.py:57-223)."""
    from louis_crawler_legacy_spark.plans.crawl import CrawlConfig, CrawlEngine
    from louis_crawler_legacy_spark.session import get_spark
    from louis_crawler_legacy_spark.sources import corpus as cm

    spark = get_spark(cpus="4")
    corpus = cm.generate_corpus(seed=42, n_hosts=2, pages_per_host=5,
                                links_per_page=3)
    wh = str(tmp_path / "wh")
    eng = CrawlEngine(spark, cm.corpus_df(spark, corpus), wh,
                      CrawlConfig(max_depth=1, batch_size=8, num_partitions=2,
                                  bloom_capacity=1_000))
    eng.run(seeds=cm.seed_urls(corpus, n=1))
    n_pages = eng.pages.read().count()

    env = dict(os.environ, PYTHONPATH=str(REPO))

    def cli(*args):
        out = subprocess.run(
            [sys.executable, str(REPO / "scripts" / "storage_stats.py"),
             "--warehouse", wh, *args],
            capture_output=True, text=True, env=env, timeout=300,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        return json.loads(out.stdout.strip().splitlines()[-1])

    stats = cli("stats")
    assert stats["pages"] == n_pages and stats["links"] > 0

    recent = cli("recent", "-n", "3")
    assert len(recent) == min(3, n_pages)
    crawled = [r["last_crawled"] for r in recent]
    assert crawled == sorted(crawled, reverse=True)

    found = cli("search", "PAGE/0")  # case-insensitive, like ILIKE
    assert any(r["url"].endswith("/page/0") for r in found)
    assert cli("search", "zzz-no-match") == []
