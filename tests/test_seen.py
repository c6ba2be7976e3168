"""URL-seen dedup: within-round dedup + the exact anti-join."""

from __future__ import annotations

from pyspark.sql import functions as F


def _df(spark, vals):
    return (
        spark.createDataFrame([(v,) for v in vals], "url string")
        .withColumn("url_hash", F.xxhash64("url"))
    )


def _cand_df(spark, urls):
    """Frontier-candidate-shaped rows (the crawl's FRONTIER_COLS)."""
    return _df(spark, urls).selectExpr(
        "url", "url_hash",
        "coalesce(parse_url(url, 'AUTHORITY'), '') AS host",
        "CAST(1 AS INT) AS depth", "CAST(1.0 AS DOUBLE) AS priority",
        "CAST(1 AS INT) AS round", "CAST(0 AS INT) AS attempt",
    )


def test_exact_shards_equals_plain_antijoin_plus_dedup(spark):
    from sparkcrawler.operators.seen import ExactSeenShards

    seen_urls = [f"https://h.example/p/{i}" for i in range(0, 300, 2)]
    cand_urls = [f"https://h.example/p/{i}" for i in range(100, 400)]
    cand_urls += cand_urls[:50]  # within-round duplicates
    seen = _df(spark, seen_urls)
    cands = _cand_df(spark, cand_urls)

    persisted_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    ex = ExactSeenShards()
    ex.update_from_df(seen)
    got = sorted(r["url"] for r in ex.filter_new(cands).collect())

    want = sorted(
        r["url"]
        for r in cands.dropDuplicates(["url_hash"])
        .join(seen.select("url_hash"), "url_hash", "left_anti")
        .collect()
    )
    assert got == want and len(got) > 0
    ex.release()
    # no NET storage leak (earlier tests in the shared session may
    # legitimately hold their own persisted state)
    assert (
        spark.sparkContext._jsc.getPersistentRDDs().size() == persisted_before
    )


def test_exact_shards_filters_held_and_passed_seen(spark):
    """A seen view passed to filter_new (the crawl's committed
    snapshots) filters together with the rows held via update_from_df."""
    from sparkcrawler.operators.seen import ExactSeenShards

    packed = [f"https://h.example/a/{i}" for i in range(50)]
    recent = [f"https://h.example/b/{i}" for i in range(50)]
    fresh = [f"https://h.example/c/{i}" for i in range(50)]

    ex = ExactSeenShards()
    ex.update_from_df(_df(spark, packed))
    cands = _cand_df(spark, packed + recent + fresh)
    got = sorted(
        r["url"]
        for r in ex.filter_new(cands, seen=_df(spark, recent)).collect()
    )
    assert got == sorted(fresh)
    ex.release()


def test_exact_shards_empty_state_dedups_only(spark):
    from sparkcrawler.operators.seen import ExactSeenShards

    urls = [f"https://h.example/p/{i}" for i in range(40)] * 3
    ex = ExactSeenShards()
    got = sorted(r["url"] for r in ex.filter_new(_cand_df(spark, urls)).collect())
    assert got == sorted(set(urls))


def test_exact_shards_incremental_update_merges(spark):
    from sparkcrawler.operators.seen import ExactSeenShards

    ex = ExactSeenShards()
    ex.update_from_df(_df(spark, [f"https://h.example/x/{i}" for i in range(30)]))
    ex.update_from_df(_df(spark, [f"https://h.example/y/{i}" for i in range(30)]))
    assert ex.n_added == 60
    cands = _cand_df(
        spark,
        [f"https://h.example/x/{i}" for i in range(30)]
        + [f"https://h.example/y/{i}" for i in range(30)]
        + [f"https://h.example/z/{i}" for i in range(10)],
    )
    got = sorted(r["url"] for r in ex.filter_new(cands).collect())
    assert got == sorted(f"https://h.example/z/{i}" for i in range(10))
    ex.release()


def _broadcast_threshold(spark, value):
    """Set autoBroadcastJoinThreshold; returns the previous value."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    return prev


def test_dedup_with_bloom_equals_plain_antijoin(spark):
    """The dedup equals set difference whichever join Spark picks. Under
    the Bloom prefilter this test forced false positives onto the exact
    backstop; without a prefilter the backstop is the whole filter, so it
    is checked against Python sets for a broadcast and a sort-merge
    anti-join alike."""
    from sparkcrawler.operators.seen import ExactSeenShards

    seen_urls = [f"https://h.example/p/{i}" for i in range(300)]
    cand_urls = (
        [f"https://h.example/p/{i}" for i in range(200, 600)]
        + [f"https://other.example/q/{i}" for i in range(50)]
    )
    want = sorted(set(cand_urls) - set(seen_urls))
    seen = _df(spark, seen_urls)
    cands = _cand_df(spark, cand_urls)
    for threshold, join in (("10485760", "BroadcastHashJoin"),
                            ("-1", "SortMergeJoin")):
        prev = _broadcast_threshold(spark, threshold)
        try:
            new = ExactSeenShards().filter_new(cands, seen=seen)
            got = sorted(r["url"] for r in new.collect())
            plan = new._jdf.queryExecution().executedPlan().toString()
        finally:
            _broadcast_threshold(spark, prev)
        assert join in plan, (threshold, plan)
        assert got == want, threshold


def test_distributed_bloom_no_false_negatives_many_shards(spark):
    """Regression kept from the distributed Bloom, whose cogroup once
    co-partitioned the two sides differently and let seen URLs through.
    The shuffled anti-join must meet every seen hash on its partition:
    with more partitions than hosts and no broadcast, no seen URL comes
    back and every fresh one does."""
    from sparkcrawler.operators.seen import ExactSeenShards

    seen_urls = [f"https://h{i % 7}.example/p/{i}" for i in range(500)]
    fresh = [f"https://h{i % 7}.example/q/{i}" for i in range(100)]
    key = "spark.sql.shuffle.partitions"
    prev_parts = spark.conf.get(key)
    spark.conf.set(key, "16")
    prev = _broadcast_threshold(spark, "-1")
    try:
        ex = ExactSeenShards()
        ex.update_from_df(_df(spark, seen_urls[:250]), n_rows=250)
        got = [
            r["url"]
            for r in ex.filter_new(
                _cand_df(spark, seen_urls + fresh),
                seen=_df(spark, seen_urls[250:]),
            ).collect()
        ]
        ex.release()
    finally:
        _broadcast_threshold(spark, prev)
        spark.conf.set(key, prev_parts)
    assert [u for u in got if u in set(seen_urls)] == []
    assert sorted(got) == sorted(fresh)
