"""ranked_take — bit-equality with row_number() plus the plan property that
motivated it: no unpartitioned Window (single-task stage) anywhere."""

from __future__ import annotations

import random

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from louis_crawler_legacy_spark.operators.ordering import ranked_take


def _rows(n: int, seed: int):
    rng = random.Random(seed)
    # duplicate-heavy leading keys; url makes the tuple unique (total order)
    return [
        (rng.randint(0, 3), rng.randint(0, 5), f"http://h{rng.randrange(999)}.ca/{i}")
        for i in range(n)
    ]


def test_dense_seq_matches_row_number(spark):
    df = spark.createDataFrame(_rows(5_000, 1), ["depth", "rnd", "url"])
    got, total = ranked_take(df, ("depth", "rnd", "url"), seq_col="seq")
    assert total == 5_000
    w = Window.orderBy("depth", "rnd", "url")
    want = df.withColumn("seq", F.row_number().over(w).cast("long"))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


import pytest


@pytest.mark.parametrize("force_two_pass", [False, True])
def test_top_n_matches_order_by_limit(spark, force_two_pass, monkeypatch):
    """Both physical strategies — the bounded fast path (TakeOrdered +
    counter) and the production two-pass path — must produce identical
    numbered top-n."""
    if force_two_pass:
        from louis_crawler_legacy_spark.operators import ordering

        monkeypatch.setattr(ordering, "FAST_TAKE_MAX", 0)
    df = spark.createDataFrame(_rows(5_000, 2), ["depth", "rnd", "url"])
    got, n = ranked_take(df, ("depth", "rnd", "url"), n=64, seq_col="seq")
    assert n == 64
    rows = got.orderBy("seq").collect()
    want = df.orderBy("depth", "rnd", "url").limit(64).collect()
    assert [(r.depth, r.rnd, r.url) for r in rows] == [
        (r.depth, r.rnd, r.url) for r in want
    ]
    assert [r.seq for r in rows] == list(range(1, 65))


@pytest.mark.parametrize("force_two_pass", [False, True])
def test_n_larger_than_input_and_empty(spark, force_two_pass, monkeypatch):
    if force_two_pass:
        from louis_crawler_legacy_spark.operators import ordering

        monkeypatch.setattr(ordering, "FAST_TAKE_MAX", 0)
    df = spark.createDataFrame(_rows(10, 3), ["depth", "rnd", "url"])
    got, n = ranked_take(df, ("depth", "rnd", "url"), n=64, seq_col="seq")
    assert n == 10 and got.count() == 10
    empty = df.filter("depth < 0")
    got2, n2 = ranked_take(empty, ("depth", "rnd", "url"), n=64, seq_col="seq")
    assert n2 == 0 and got2.count() == 0


def test_two_pass_releases_its_pinned_intermediate(spark, monkeypatch):
    """The two-pass path pins its range-partitioned intermediate with a
    localCheckpoint; once the result is materialized those blocks must be
    freed, so repeated calls leave the persisted-RDD count flat."""
    from louis_crawler_legacy_spark.operators import ordering
    from louis_crawler_legacy_spark.session import release

    monkeypatch.setattr(ordering, "FAST_TAKE_MAX", 0)
    df = spark.createDataFrame(_rows(500, 4), ["depth", "rnd", "url"])
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    for _ in range(2):
        got, n = ranked_take(df, ("depth", "rnd", "url"), n=64, seq_col="seq")
        assert n == 64 and got.count() == 64
        release(got)
    assert persisted().size() == before


def test_large_round_small_shuffle_partitions(spark):
    """50k-candidate-scale numbering with few shuffle partitions — the
    production shape where the old unpartitioned window was one task."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        df = spark.createDataFrame(_rows(50_000, 7), ["depth", "rnd", "url"])
        got, total = ranked_take(df, ("depth", "rnd", "url"), seq_col="seq")
        assert total == 50_000
        # spot-check the dense numbering at both ends
        first = got.orderBy("seq").limit(3).collect()
        want = df.orderBy("depth", "rnd", "url").limit(3).collect()
        assert [r.url for r in first] == [r.url for r in want]
        assert got.agg(F.min("seq"), F.max("seq"), F.count("*")).first() == (
            1, 50_000, 50_000,
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_no_unpartitioned_window_in_round_source():
    """Source-level regression guard (VERDICT r01 scale-killer #1): the
    round pipeline must never construct a global Window — every Window in
    plans/crawl.py has a partitionBy, dense numbering goes through
    operators/ordering.py."""
    import inspect

    from louis_crawler_legacy_spark.plans import crawl

    src = inspect.getsource(crawl)
    assert "Window.orderBy(" not in src
    assert "Window.partitionBy" in src  # the per-key windows remain


def test_no_single_task_stage(spark):
    """The physical plan of the numbered output must not contain an
    unpartitioned Window or a single-partition exchange."""
    df = spark.createDataFrame(_rows(2_000, 4), ["depth", "rnd", "url"])
    got, _ = ranked_take(df, ("depth", "rnd", "url"), seq_col="seq")
    # localCheckpoint truncates lineage; assert on actual partition counts:
    # the work was spread over >1 partition
    assert got.rdd.getNumPartitions() > 1
    dist = got.groupBy(F.spark_partition_id().alias("p")).count().collect()
    assert len(dist) > 1
