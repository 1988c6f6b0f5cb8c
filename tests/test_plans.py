"""Physical-plan regression guards: pushdown, pruning, and join strategy
must survive refactors (the properties that matter at 100 TB)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = entry_mod.queries()[name](spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q1_filter_pushdown_and_pruning(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate reached the scan
    # column pruning: the wide columns never read
    assert "l_partkey" not in plan.split("ReadSchema")[1].splitlines()[0]
    assert "HashAggregate" in plan  # partial+final hash agg


def test_j1_anti_join_is_broadcast(spark):
    plan = plan_of(spark, "j1_anti_join_missing_embeddings")
    assert "BroadcastHashJoin LeftAnti" in plan
    assert "EqualTo(label,0)" in plan  # filter pushed below the join


def test_j3_dims_broadcast_fact_never_shuffles(spark):
    plan = plan_of(spark, "j3_broadcast_dim_join")
    # formatted explain lists each join in the tree and once per-node
    # detail section — just require: broadcasts present, no SMJ anywhere
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_f4_substring_pushdown(spark):
    plan = plan_of(spark, "f4_substring_prune")
    assert "StringContains(text,scan)" in plan


def test_o3_topk_no_global_sort(spark):
    plan = plan_of(spark, "o3_topk_recent")
    assert "TakeOrderedAndProject" in plan  # per-partition k, not a full sort


def test_minhash_single_aggregate(spark):
    # inspect the UNMATERIALIZED plan (materialize_sig=False): the default
    # path localCheckpoints the signature table, which truncates the
    # visible lineage (see test_minhash_sig_materialized_once below)
    from louis_crawler_legacy_spark.operators.dedup import minhash_lsh_pairs

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = minhash_lsh_pairs(df, threshold=0.3, materialize_sig=False)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # the signature must be ONE hash aggregate (partial+final), not 64
    # separate passes; generator explode feeds it
    assert "Generate" in plan  # explode of shingles feeds the aggregate
    assert "HashAggregate" in plan
    assert "partial_min" in plan  # map-side combine below the exchange


def test_minhash_sig_materialized_once(spark):
    """r06: the LSH self-join reads the signature table from BOTH sides
    and AQE does not reuse the exchange — the default path must therefore
    materialize (localCheckpoint) the signatures so the 64-min aggregate
    runs ONCE: no aggregate may remain in the returned join plan."""
    plan = plan_of(spark, "d4_minhash_lsh")
    assert "partial_min" not in plan  # sig agg already ran, not re-planned
    assert "Scan ExistingRDD" in plan  # both sides read the checkpoint


def test_d8_shuffles_window_hashes_not_strings(spark):
    """r06: d8's frequency groupBy and membership join must key on the
    8-byte xxhash64 of the window, never the raw 10-word window STRING
    (~60-100 bytes/position ≈ 10-20x corpus text bytes at the 100 TB
    design point). Every Exchange input must be hash/count columns only."""
    import re

    plan = plan_of(spark, "d8_dup_substring")
    assert "xxhash64" in plan
    for b in re.split(r"\n\n", plan):
        if re.search(r"\(\d+\) Exchange", b):
            assert not re.search(r"\bwin#", b), (
                f"window string crossed an exchange:\n{b}"
            )
            assert not re.search(r"\btext#", b), (
                f"text crossed an exchange:\n{b}"
            )


def test_d7_incremental_signatures_only_text_never_shuffles(spark):
    """d7 (incremental dedup): both sides' minhash signatures are ONE
    map-side-combined aggregate (partial_min below the exchange), and the
    raw `text` column never crosses an Exchange — the corpus contributes
    signatures (~0.5 KB/doc), the join shuffles (band, band_hash) keys."""
    import re

    plan = plan_of(spark, "d7_incremental_dedup")
    assert "partial_min" in plan
    for b in re.split(r"\n\n", plan):
        if re.search(r"\(\d+\) Exchange", b):
            assert not re.search(r"\btext#", b), f"text crossed an exchange:\n{b}"


def test_d3_hot_block_triggers_aqe_skew_split(spark):
    """The blocked dedup paths rely on AQE's skew-join for hot blocks
    (session.py enables it; dedup.py documents it). Prove it actually
    fires AND doesn't change results: plant one block holding 80% of the
    docs, lower the skew thresholds to test scale, and the final adaptive
    plan must show the skewed partition split — with the exact expected
    pair set (hot-block C(800,2) pairs; every cold block is a singleton)."""
    import random

    from louis_crawler_legacy_spark.operators.dedup import ngram_jaccard_pairs

    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    knobs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in knobs}
    try:
        for k, v in knobs.items():
            spark.conf.set(k, v)
        rng = random.Random(7)

        def words():
            return " ".join(f"w{rng.randrange(10**9)}" for _ in range(12))

        rows = [(f"hot{i}", "alpha beta " + words()) for i in range(800)]
        rows += [(f"cold{i}", f"u{i} v{i} " + words()) for i in range(200)]
        df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(8)
        out = ngram_jaccard_pairs(df, threshold=0.0)
        got = out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan
        assert "AQEShuffleRead" in plan and "skewed" in plan
        # results unchanged by the split: exactly the hot block's pairs
        assert len(got) == 800 * 799 // 2
        assert all(r.id_a.startswith("hot") and r.id_b.startswith("hot")
                   for r in got)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_c3_text_never_crosses_an_exchange(spark):
    """c3 (cluster-canonical selection): quality is computed in the scan
    project, so the documents' wide `text` column must never appear in an
    Exchange — only (cluster_id, doc_id, quality) longs/doubles move into
    the per-cluster max_by aggregate. Guards against a refactor that joins
    clusters to raw documents and computes quality after the shuffle."""
    import re

    plan = plan_of(spark, "c3_cluster_canonical")
    # formatted explain: each Exchange node has a detail block starting
    # "(N) Exchange" whose Input [...] lists the attributes that move
    blocks = re.split(r"\n\n", plan)
    exchange_blocks = [b for b in blocks if re.search(r"\(\d+\) Exchange", b)]
    for b in exchange_blocks:
        assert not re.search(r"\btext#", b), f"text crossed an exchange:\n{b}"
    # the aggregate itself is present (partial+final max_by)
    assert "max_by" in plan


def test_t6_repetition_partial_agg_no_text_in_exchange(spark):
    """t6 (repetition report): the (doc, bigram) count must be map-side
    combined (the shuffle carries partial counts, not one row per token
    position), and the raw `text` column must never cross an Exchange —
    dup_word_frac and the bigram array are computed in the scan project."""
    import re

    plan = plan_of(spark, "t6_repetition")
    assert "partial_count" in plan
    for b in re.split(r"\n\n", plan):
        if re.search(r"\(\d+\) Exchange", b):
            assert not re.search(r"\btext#", b), f"text crossed an exchange:\n{b}"
            # r06: the count keys on xxhash64(gram) — the raw bigram
            # string must not cross the exchange either
            assert not re.search(r"\bg#", b), (
                f"gram string crossed an exchange:\n{b}"
            )


def test_c4_eval_broadcasts_corpus_never_shuffles_text(spark):
    """c4 (decontamination): the eval shingle set must BROADCAST (the
    corpus probes it in place — at 10^9 docs vs 10^4 benchmark rows a
    sort-merge join would shuffle the whole exploded corpus), and the
    corpus `text` column must never cross an Exchange: only
    (doc_id, partial_count) moves into the per-doc aggregate."""
    import re

    plan = plan_of(spark, "c4_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan  # map-side combine below the exchange
    blocks = re.split(r"\n\n", plan)
    for b in blocks:
        if re.search(r"\(\d+\) Exchange", b):
            assert not re.search(r"\btext#", b), f"text crossed an exchange:\n{b}"


def test_t5_vocab_topk_partial_agg_no_global_sort(spark):
    """t5 (vocabulary top-k): the exchange must carry (term, partial_n),
    not one row per token — partial_count collapses each task's terms
    before the shuffle — and the top-50 must be TakeOrderedAndProject
    (per-partition k), never a global Sort. At 100 TB the explode emits
    ~10^13 token rows; without the map-side combine the shuffle is the
    whole corpus re-keyed by term."""
    plan = plan_of(spark, "t5_vocab_topk")
    assert "partial_count" in plan  # map-side combine below the exchange
    assert "TakeOrderedAndProject" in plan
    # no standalone global Sort node (TakeOrderedAndProject subsumes it)
    import re

    assert not re.search(r"\(\d+\) Sort\b", plan), "global sort crept in"


def test_bucketed_seen_state_probe_never_shuffles_blobs(spark, tmp_path):
    """The 10^10-scale seen-state layout (PLANS.md): filter blobs persisted
    BUCKETED by part_id feed the probe cogroup with NO Exchange on the blob
    side — only the round's candidates (new data) shuffle. At production
    blob sizes this is the difference between moving GBs of filter state
    every round and moving none (Iceberg bucket transform / parquet
    bucketBy are the same layout)."""
    from pyspark.sql import functions as F

    from louis_crawler_legacy_spark.operators import bloom

    pb = bloom.PartitionedBloom(*bloom.bloom_params(10_000, 0.01))
    seen = spark.createDataFrame(
        [(f"http://h{i % 5}.ca/p{i}",) for i in range(300)], ["url"]
    )
    seen_h = bloom.with_bloom_hashes(seen, "url", 16)
    blobs = pb.merge_blobs(
        spark.createDataFrame([], bloom.BLOOM_SCHEMA),
        seen_h.select("part_id", "h1", "h2"),
    )
    name = "seen_bloom_bucketed_test"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        blobs.write.option("path", str(tmp_path / "blobs"))
        .bucketBy(16, "part_id").sortBy("part_id")
        .mode("overwrite").saveAsTable(name)
    )
    try:
        bucketed = spark.table(name)
        cand = bloom.with_bloom_hashes(
            spark.createDataFrame(
                [(f"http://h{i % 5}.ca/p{i}",) for i in range(200, 500)], ["url"]
            ),
            "url",
            16,
        )
        probed = pb.probe(cand, bucketed)
        plan = probed._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan  # blob scan reports its bucketing
        # exactly ONE exchange: the candidates; the blob side reads in place
        assert plan.count("Exchange") == 1
        assert "Exchange" not in plan.split("FileScan")[1]
        # and the probe is still correct over the bucketed state
        n_seen = probed.filter(F.col("maybe_seen")).count()
        assert n_seen >= 100  # the 100 overlapping urls (plus bloom fp)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_state_partition_count_constant_across_rounds(spark, tmp_path):
    """The r03-measured scale defect: seen/frontier merges are unions, and
    a union's partition count is the SUM of its children — without the
    coalesce cap the materialized state gained ~2×corpus_parts/round
    forever (an O(rounds) per-round task-scheduling cost on a long crawl).
    Partitions must be CONSTANT from round 2 onward, bounded by
    _state_parts."""
    from louis_crawler_legacy_spark.plans.crawl import CrawlConfig, CrawlEngine
    from louis_crawler_legacy_spark.sources import corpus as corpus_mod

    corpus = corpus_mod.generate_corpus(
        seed=7, n_hosts=4, pages_per_host=30, hub_factor=3, links_per_page=6
    )
    cfg = CrawlConfig(
        max_depth=6, batch_size=16, num_partitions=4, checkpoint_every=0,
        detailed_metrics=False, collect_batch_urls=False,
    )
    eng = CrawlEngine(
        spark, corpus_mod.corpus_df(spark, corpus), str(tmp_path / "wh"), cfg
    )
    eng.bootstrap(corpus_mod.seed_urls(corpus, n=2))
    seen_parts, frontier_parts = [], []
    r = 1
    while r <= 8:
        if eng.run_round(r) is None:
            break
        seen_parts.append(eng._seen_df.rdd.getNumPartitions())
        frontier_parts.append(eng._frontier_df.rdd.getNumPartitions())
        r += 1
    eng.checkpoint(r - 1)
    assert len(seen_parts) >= 5, "corpus too small to exercise the loop"
    assert len(set(seen_parts[1:])) == 1, f"seen partitions grew: {seen_parts}"
    assert len(set(frontier_parts[1:])) == 1, (
        f"frontier partitions grew: {frontier_parts}"
    )
    assert seen_parts[-1] <= eng._state_parts
    assert frontier_parts[-1] <= eng._state_parts


# -- crawl-engine plans: walk the physical tree (AQE's initial plan) -------
def _physical(df):
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()  # the initial plan, exchanges included
    return plan


def _nodes(plan, ancestors=()):
    """(node, ancestor node names) for every node; cached relations are
    leaves (their plans ran when they were materialized)."""
    yield plan, ancestors
    children = plan.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i), ancestors + (plan.nodeName(),))


def _out(node) -> set[str]:
    out = node.output()
    return {out.apply(i).name() for i in range(out.size())}


def _crawl_engine(spark, wh, **overrides):
    from louis_crawler_legacy_spark.plans.crawl import CrawlConfig, CrawlEngine
    from louis_crawler_legacy_spark.sources import corpus as corpus_mod

    corpus = corpus_mod.generate_corpus(
        seed=7, n_hosts=4, pages_per_host=30, hub_factor=3, links_per_page=6
    )
    cfg = CrawlConfig(
        max_depth=6, batch_size=16, num_partitions=4,
        detailed_metrics=False, collect_batch_urls=False, **overrides,
    )
    eng = CrawlEngine(spark, corpus_mod.corpus_df(spark, corpus), wh, cfg)
    return eng, corpus_mod.seed_urls(corpus, n=2)


def _bootstrap_plan(eng, seeds):
    """Physical plan of the frontier rows bootstrap writes."""
    plans = []
    overwrite = eng.frontier.overwrite

    def spy(df, meta=None):
        plans.append(_physical(df))
        return overwrite(df, meta)

    eng.frontier.overwrite = spy
    eng.bootstrap(seeds)
    eng.frontier.overwrite = overwrite
    (plan,) = plans
    return plan


def test_bootstrap_into_empty_warehouse_plans_no_join(spark, tmp_path):
    """Driver-side seeds and an empty seen table are both local
    relations, so seeds ∖ seen folds away at plan time: no join, no
    Exchange — not a shuffled anti-join against nothing."""
    eng, seeds = _crawl_engine(spark, str(tmp_path / "wh"))
    names = [n.nodeName() for n, _ in _nodes(_bootstrap_plan(eng, seeds))]
    assert not [n for n in names if "Join" in n or "Exchange" in n], names


def test_bootstrap_scans_seen_in_place(spark, tmp_path):
    """Re-seeding a warehouse with seen state: seen streams in place
    against the broadcast seeds (semi), the hits broadcast back (anti) —
    the seen scan sits under no shuffle Exchange even when seen is past
    the auto-broadcast budget (threshold off, as at crawl scale)."""
    eng, seeds = _crawl_engine(spark, str(tmp_path / "wh"))
    eng.bootstrap(seeds)
    eng.run_round(1)
    key = "spark.sql.autoBroadcastJoinThreshold"
    threshold = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan = _bootstrap_plan(eng, seeds)
    finally:
        spark.conf.set(key, threshold)
    scans = [
        anc for n, anc in _nodes(plan)
        if n.nodeName().startswith("Scan parquet")
    ]
    assert len(scans) == 1, "seen is the bootstrap's only table scan"
    assert "Exchange" not in scans[0]


def test_round_dedup_nests_two_broadcast_levels(spark, tmp_path, monkeypatch):
    """The round's candidate dedup keys both state probes off the cached
    probe output: no broadcast nests more than two levels deep, and the
    seen and frontier state scans sit under no shuffle Exchange."""
    from louis_crawler_legacy_spark.plans.crawl import (
        FRONTIER_SCHEMA,
        SEEN_SCHEMA,
    )

    eng, seeds = _crawl_engine(spark, str(tmp_path / "wh"))
    eng.bootstrap(seeds)
    eng.run_round(1)
    plans = []
    df_class = type(eng._seen_df)
    local_checkpoint = df_class.localCheckpoint

    def spy(self, *args, **kwargs):
        if set(self.columns) == set(FRONTIER_SCHEMA.fieldNames()):
            plans.append(_physical(self))
        return local_checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(df_class, "localCheckpoint", spy)
    assert eng.run_round(2) is not None
    monkeypatch.undo()
    (plan,) = plans
    nodes = list(_nodes(plan))
    depth = max(
        (anc + (n.nodeName(),)).count("BroadcastExchange") for n, anc in nodes
    )
    assert depth <= 2, f"broadcasts nest {depth} levels"
    for schema in (SEEN_SCHEMA, FRONTIER_SCHEMA):
        scans = [
            anc for n, anc in nodes
            if n.nodeName() == "Scan ExistingRDD"
            and _out(n) == set(schema.fieldNames())
        ]
        assert scans, f"no {schema.fieldNames()} state scan in the plan"
        assert all("Exchange" not in anc for anc in scans)


def test_corpus_links_append_plans_no_exchange(spark, tmp_path):
    """Corpus-mode link edges are unique by construction (each page's
    children are deduplicated and a round's page urls are distinct), so
    the links append runs no dedup shuffle: its plan has no Exchange."""
    eng, seeds = _crawl_engine(spark, str(tmp_path / "wh"))
    plans = []
    append = eng.links.append

    def spy(df, meta=None):
        plans.append(_physical(df))
        return append(df, meta)

    eng.links.append = spy
    eng.bootstrap(seeds)
    assert eng.run_round(1) is not None
    (plan,) = plans
    names = [n.nodeName() for n, _ in _nodes(plan)]
    assert not [n for n in names if "Exchange" in n], names
