"""Snapshot table store: append/overwrite/upsert/time-travel/rollback."""

from __future__ import annotations

from pyspark.sql import types as T

from louis_crawler_legacy_spark.sources.tables import Warehouse

SCHEMA = T.StructType(
    [T.StructField("url", T.StringType()), T.StructField("depth", T.IntegerType())]
)


def test_snapshot_lifecycle(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.table("frontier", SCHEMA)

    assert t.read().count() == 0  # empty read with schema

    v1 = t.append(spark.createDataFrame([("a", 0), ("b", 0)], SCHEMA), {"round": 0})
    v2 = t.append(spark.createDataFrame([("c", 1)], SCHEMA), {"round": 1})
    assert (v1, v2) == (1, 2)
    assert t.read().count() == 3
    assert t.read(version=1).count() == 2  # time travel

    t.overwrite(spark.createDataFrame([("z", 9)], SCHEMA), {"round": 2})
    assert t.read().count() == 1
    assert t.read(version=2).count() == 3  # history preserved

    # rollback (resume-from-round)
    t.rollback_to(2)
    assert t.current_version() == 2
    assert t.read().count() == 3
    assert [m["meta"].get("round") for m in t.history()] == [0, 1]


def test_upsert_by_key(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh2"))
    t = wh.table("pages", SCHEMA)
    t.append(spark.createDataFrame([("a", 0), ("b", 0)], SCHEMA))
    t.upsert(spark.createDataFrame([("b", 5), ("c", 1)], SCHEMA), key="url")
    got = {r.url: r.depth for r in t.read().collect()}
    assert got == {"a": 0, "b": 5, "c": 1}


def test_concurrent_same_table_appends_allocate_distinct_versions(
    spark, tmp_path
):
    """A table may receive commits from several threads at once (the
    crawl engine commits from its round pool and its driver thread, and
    callers may share a table across threads). Version allocation must be
    atomic: without the per-table write lock, both writers read the same
    manifest, pick the same v, and collide on os.replace (or lose a
    manifest update)."""
    from concurrent.futures import ThreadPoolExecutor

    wh = Warehouse(spark, str(tmp_path / "whc"))
    t = wh.table("races", SCHEMA)
    dfs = [
        spark.createDataFrame([(f"u{i}", i)], SCHEMA) for i in range(6)
    ]
    with ThreadPoolExecutor(max_workers=6) as ex:
        versions = list(ex.map(lambda d: t.append(d), dfs))
    assert sorted(versions) == [1, 2, 3, 4, 5, 6]
    assert t.read().count() == 6
    assert [v["v"] for v in t.history()] == [1, 2, 3, 4, 5, 6]


def test_mismatched_write_raises(spark, tmp_path):
    """Reads trust the declared schema (no footer inference), so a write
    whose column names or types differ must fail loudly, naming the table
    and both schemas — not land files the next read misparses."""
    import pytest

    wh = Warehouse(spark, str(tmp_path / "whm"))
    t = wh.table("frontier", SCHEMA)
    wrong_type = spark.createDataFrame([("a", 0)], "url string, depth long")
    wrong_name = spark.createDataFrame([("a", 0)], "url string, d int")
    for df in (wrong_type, wrong_name):
        with pytest.raises(ValueError) as err:
            t.append(df)
        msg = str(err.value)
        assert "frontier" in msg
        assert SCHEMA.simpleString() in msg
        assert df.schema.simpleString() in msg
    assert t.is_empty()  # nothing was committed


def test_read_ignores_columns_outside_declared_schema(spark, tmp_path):
    """Reads select the declared schema by name, so a snapshot written
    with an extra column (an older, wider layout of the table) still
    reads through the narrower declaration."""
    wide = T.StructType(
        [SCHEMA["url"], T.StructField("url_hash", T.LongType()),
         SCHEMA["depth"]]
    )
    root = str(tmp_path / "whw")
    Warehouse(spark, root).table("seen", wide).append(
        spark.createDataFrame([("a", 7, 0), ("b", 8, 1)], wide)
    )
    df = Warehouse(spark, root).table("seen", SCHEMA).read()
    assert df.schema == SCHEMA
    assert sorted(tuple(r) for r in df.collect()) == [("a", 0), ("b", 1)]


def test_empty_read_is_local_relation(spark, tmp_path):
    """An empty table reads as a local relation, so joins and unions
    against it fold away at plan time instead of scanning a Python RDD."""
    t = Warehouse(spark, str(tmp_path / "whe")).table("seen", SCHEMA)
    plan = t.read()._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan


def test_engine_tables_round_trip_declared_schema(spark, tmp_path):
    """Every table a corpus crawl with span building writes holds exactly
    its declared schema on disk (the parquet footers agree with the
    schema-on-read) and reads back every row."""
    from louis_crawler_legacy_spark.plans.crawl import CrawlConfig, CrawlEngine
    from louis_crawler_legacy_spark.sources import corpus as corpus_mod

    corpus = corpus_mod.generate_corpus(
        seed=3, n_hosts=2, pages_per_host=8, links_per_page=4,
        max_words=120,
    )
    eng = CrawlEngine(
        spark, corpus_mod.corpus_df(spark, corpus), str(tmp_path / "wht"),
        CrawlConfig(max_depth=2, batch_size=8, num_partitions=2,
                    build_spans=True, seen_filter="cuckoo"),
    )
    eng.run(corpus_mod.seed_urls(corpus, n=2), max_rounds=1)
    written = [t for t in eng.wh._tables.values() if not t.is_empty()]
    assert {t.name for t in written} == {
        "frontier", "seen", "pages", "links", "metrics", "documents",
        "seen_bloom",
    }
    for t in written:
        manifest = t._load_manifest()
        on_disk = spark.read.parquet(
            *t._dirs_for_version(manifest, manifest["current"])
        )
        assert on_disk.schema.simpleString() == t.schema.simpleString(), t.name
        assert t.read().count() == on_disk.count(), t.name
