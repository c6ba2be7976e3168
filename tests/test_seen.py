"""URL-seen dedup: the exact anti-join; Bloom pre-filter ≡ plain anti-join."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkcrawler.operators.seen import PartitionedBloom, dedup_against_seen


def _df(spark, vals):
    return (
        spark.createDataFrame([(v,) for v in vals], "url string")
        .withColumn("url_hash", F.xxhash64("url"))
    )


def test_bloom_filter_no_false_negatives(spark):
    seen = _df(spark, [f"https://h.example/p/{i}" for i in range(500)])
    bloom = PartitionedBloom(num_shards=8, bits_per_shard=1 << 16)
    bloom.update_from_df(seen)
    assert bloom.n_added == 500
    flags = (
        seen.withColumn("m", bloom.maybe_seen_udf(spark)(F.col("url_hash")))
        .select("m")
        .collect()
    )
    assert all(r["m"] for r in flags)  # every member must hit


def test_dedup_with_bloom_equals_plain_antijoin(spark):
    """Tiny bitmap forces false positives → the exact anti-join backstop
    must still produce identical output."""
    seen = _df(spark, [f"https://h.example/p/{i}" for i in range(300)])
    cands = _df(
        spark,
        [f"https://h.example/p/{i}" for i in range(200, 600)]
        + [f"https://other.example/q/{i}" for i in range(50)],
    )
    plain = {
        r["url"]
        for r in cands.join(seen.select("url_hash"), "url_hash", "left_anti").collect()
    }
    for bits in (1 << 10, 1 << 16, 1 << 22):  # high → low FP rate
        bloom = PartitionedBloom(num_shards=4, bits_per_shard=bits)
        bloom.update_from_df(seen)
        got = {
            r["url"] for r in dedup_against_seen(cands, seen, bloom, spark).collect()
        }
        assert got == plain, bits


def test_bloom_update_local_matches_df_build(spark):
    urls = [f"https://h.example/p/{i}" for i in range(50)]
    df = _df(spark, urls)
    hashes = [r["url_hash"] for r in df.collect()]
    b1 = PartitionedBloom(num_shards=4, bits_per_shard=1 << 14)
    b1.update_from_df(df)
    b2 = PartitionedBloom(num_shards=4, bits_per_shard=1 << 14)
    b2.update_local(hashes)
    assert (b1.bitmaps == b2.bitmaps).all()
    assert b1.n_added == b2.n_added == 50


# ---------------------------------------------------- distributed bloom --


def test_distributed_bloom_bitmaps_match_broadcast(spark):
    """Same bit layout as PartitionedBloom: per-shard bitmaps collected
    from the DataFrame state equal the driver-built arrays."""
    import numpy as np

    from sparkcrawler.operators.seen import DistributedBloom

    seen = _df(spark, [f"https://h.example/p/{i}" for i in range(400)])
    pb = PartitionedBloom(num_shards=4, bits_per_shard=1 << 14)
    pb.update_from_df(seen)
    db = DistributedBloom(spark, num_shards=4, bits_per_shard=1 << 14)
    # two incremental updates → the OR-merge pass must fold correctly
    db.update_from_df(seen.where(F.col("url_hash") % 2 == 0))
    db.update_from_df(seen.where(F.col("url_hash") % 2 != 0))
    assert db.n_added == 400
    rows = {r["shard"]: r["bitmap"] for r in db.bitmaps_df.collect()}
    for shard, blob in rows.items():
        assert (np.frombuffer(blob, dtype=np.uint8) == pb.bitmaps[shard]).all()


def test_distributed_bloom_dedup_equals_plain_antijoin(spark):
    from sparkcrawler.operators.seen import DistributedBloom

    seen = _df(spark, [f"https://h.example/p/{i}" for i in range(300)])
    cands = _df(
        spark,
        [f"https://h.example/p/{i}" for i in range(200, 600)]
        + [f"https://other.example/q/{i}" for i in range(50)],
    )
    plain = {
        r["url"]
        for r in cands.join(seen.select("url_hash"), "url_hash", "left_anti").collect()
    }
    for bits in (1 << 10, 1 << 18):  # tiny bitmap forces false positives
        db = DistributedBloom(spark, num_shards=4, bits_per_shard=bits)
        db.update_from_df(seen, n_rows=300)
        got = {
            r["url"] for r in dedup_against_seen(cands, seen, db, spark).collect()
        }
        assert got == plain, bits


def test_distributed_bloom_many_shards(spark):
    """Shard count far beyond what a driver would OR-reduce comfortably:
    the state stays a DataFrame, consult stays cogroup-local."""
    from sparkcrawler.operators.seen import DistributedBloom

    seen = _df(spark, [f"https://h.example/p/{i}" for i in range(500)])
    db = DistributedBloom(spark, num_shards=64, bits_per_shard=1 << 12)
    db.update_from_df(seen, n_rows=500)
    flags = db.tag_maybe(seen, spark).select("_maybe").collect()
    assert all(r["_maybe"] for r in flags)  # no false negatives


def test_distributed_bloom_no_false_negatives_many_shards(spark):
    """Regression (round 4): cogroup key TYPES must match — a bigint
    pmod key against the state's int shard key co-partitions each side
    differently, so most bitmaps never met their candidates and seen
    URLs came back _maybe=False (false negatives → duplicate crawling).
    16 shards > shuffle partitions is the configuration that exposed it."""
    from sparkcrawler.operators.seen import DistributedBloom

    seen = _df(spark, [f"https://h{i % 7}.example/p/{i}" for i in range(500)])
    db = DistributedBloom(spark, num_shards=16, bits_per_shard=1 << 20)
    db.update_from_df(seen, n_rows=500)
    tagged = db.tag_maybe(seen, spark).collect()
    assert len(tagged) == 500
    misses = [r["url"] for r in tagged if not r["_maybe"]]
    assert misses == []  # every seen URL must be maybe-seen


# --------------------------------------------------- exact anti-join --


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
