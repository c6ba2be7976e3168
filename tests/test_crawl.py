"""Differential tests: Spark crawl vs the pure-Python oracle, plus the
dedup/stop/robots/politeness contracts from the reference test suite
(reference tests/test_cache.py, tests/test_downloader.py).

Crawl runs are expensive (many Spark jobs per round), so module-scoped
fixtures run each configuration once and the tests assert on the shared
results.
"""

from __future__ import annotations

import re
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from sparkcrawler import oracle
from sparkcrawler.fs import LocalFS
from sparkcrawler.plans.crawl import (
    CrawlConfig,
    crawl,
    read_crawl_log,
    read_lineage,
    read_seen,
)


from sparkcrawler.sources.synth import (
    page_url,
    robots_df,
    robots_rows,
    synth_pages_df,
    synth_pages_local,
)


class RecordingFS(LocalFS):
    """LocalFS that records every driver-side parquet read (path +
    columns) — the instrument for the driver-memory-bound assertions."""

    def __init__(self):
        self.reads: list[tuple[str, tuple | None]] = []

    def read_parquet(self, path, columns=None):
        self.reads.append((path, tuple(columns) if columns else None))
        return super().read_parquet(path, columns)

N_PAGES, N_HOSTS = 200, 6


@pytest.fixture(scope="module")
def corpus(spark):
    layout, rows = synth_pages_local(N_PAGES, N_HOSTS)
    pages_map = {r["url"]: r["html"] for r in rows}
    robots_map = {r["host"]: r for r in robots_rows(layout)}
    _, pages = synth_pages_df(spark, N_PAGES, N_HOSTS)
    pages = pages.cache()
    pages.count()
    return layout, pages_map, robots_map, pages, robots_df(spark, layout)


def _crawl(spark, corpus, seed, cfg, keep_dir=False, fs=None):
    _, _, _, pages, rob = corpus
    out = tempfile.mkdtemp(prefix="sc_test_")
    res = crawl(spark, pages, rob, [seed], out, config=cfg, fs=fs)
    log = read_crawl_log(spark, out).collect()
    seen = {r["url"] for r in read_seen(spark, out).collect()}
    if not keep_dir:
        shutil.rmtree(out, ignore_errors=True)
        out = None
    return res, log, seen, out


def _oracle(corpus, seed, cfg):
    _, pages_map, robots_map, _, _ = corpus
    return oracle.simulate(
        pages_map, robots_map, [seed], max_pages=cfg.max_pages,
        round_seconds=cfg.round_seconds, retries=cfg.retries,
    )


def _log_key(rows):
    return sorted((r["url"], r["depth"], r["crawl_status"], r["status_code"]) for r in rows)


# ---------------------------------------------------------- shared runs --

FULL_CFG = CrawlConfig(max_pages=10_000)


@pytest.fixture(scope="module")
def full_run(spark, corpus):
    """Exhaustive crawl of host1 (no politeness budget), kept on disk."""
    seed = page_url(1, 0)
    res, log, seen, out = _crawl(spark, corpus, seed, FULL_CFG, keep_dir=True)
    yield seed, res, log, seen, out
    shutil.rmtree(out, ignore_errors=True)


@pytest.fixture(scope="module")
def mega_run(spark, corpus):
    """Crawl of the mega-host host0 (robots + /private/ + crawl_delay)."""
    seed = page_url(0, 0)
    cfg = CrawlConfig(max_pages=40)
    res, log, seen, _ = _crawl(spark, corpus, seed, cfg)
    return seed, cfg, res, log, seen


# ----------------------------------------------------------------- tests --


def test_full_crawl_matches_oracle(spark, corpus, full_run):
    seed, res, log, seen, _ = full_run
    ores = _oracle(corpus, seed, FULL_CFG)
    assert _log_key(log) == _log_key(ores.log)
    assert seen == ores.seen
    assert res.visited == ores.visited


def test_orphans_unreachable(corpus, full_run):
    """Last 10% of each host's pages have no in-links → never visited."""
    layout = corpus[0]
    _, _, log, _, _ = full_run
    visited = {r["url"] for r in log}
    assert visited
    host1_count = layout.host_counts[1]
    reach = host1_count - max(1, host1_count // 10)
    for j in range(reach, host1_count):
        assert page_url(1, j) not in visited


def test_dedup_each_url_processed_once(full_run):
    """First request_download wins (reference test_cache.py:72-86)."""
    _, _, log, _, _ = full_run
    urls = [r["url"] for r in log]
    assert len(urls) == len(set(urls))


def test_offsite_links_never_followed(full_run):
    """Same-domain filter (reference tests/test_parser.py:16-34): a crawl
    seeded on host1 must never visit another host."""
    _, _, log, seen, _ = full_run
    assert all(r["host"] == "host1.example" for r in log)
    assert all("host1.example" in u for u in seen)


def test_mega_host_matches_oracle(spark, corpus, mega_run):
    seed, cfg, res, log, seen = mega_run
    ores = _oracle(corpus, seed, cfg)
    assert _log_key(log) == _log_key(ores.log)
    assert seen == ores.seen
    assert res.visited == ores.visited == 40


def test_robots_disallowed_never_fetched(mega_run):
    """Disallowed → 403 close, never fetched/parsed (reference
    tests/test_downloader.py:56-71); host0 disallows /private/."""
    _, _, _, log, _ = mega_run
    private = [r for r in log if "/private/" in r["url"]]
    assert private, "corpus must link some /private/ pages"
    for r in private:
        assert r["crawl_status"] == -1
        assert r["status_code"] == 403
        assert r["links"] is None
    for r in log:
        if "/private/" not in r["url"]:
            assert r["status_code"] != 403


def test_max_pages_stop_exact(spark, corpus):
    """completed_pages >= max_pages ⇒ stop (reference test_cache.py:178-192),
    with a deterministic trim of the final round."""
    seed = page_url(1, 0)
    cfg = CrawlConfig(max_pages=17)
    res, log, seen, _ = _crawl(spark, corpus, seed, cfg)
    ores = _oracle(corpus, seed, cfg)
    assert res.visited == len(log) == 17
    assert _log_key(log) == _log_key(ores.log)


def test_broken_links_logged_404(spark, corpus):
    """URLs absent from the corpus → ERROR/404 closed out (reference
    downloader.py:71-82 raise path)."""
    seed = "https://host1.example/p/999999"
    cfg = CrawlConfig(max_pages=10)
    res, log, seen, _ = _crawl(spark, corpus, seed, cfg)
    assert len(log) == 1
    assert log[0]["crawl_status"] == -2 and log[0]["status_code"] == 404
    assert res.visited == 1


def test_politeness_budget_enforced(spark, corpus):
    """host0 has crawl_delay=2; with round_seconds=4 at most 2 host0
    fetches per round; overflow defers to later rounds, not lost."""
    seed = page_url(0, 0)
    cfg = CrawlConfig(max_pages=8, round_seconds=4.0)
    res, log, seen, _ = _crawl(spark, corpus, seed, cfg)
    ores = _oracle(corpus, seed, cfg)
    assert _log_key(log) == _log_key(ores.log)
    per_round = {}
    for r in log:
        if r["crawl_status"] != -1:
            per_round[r["round"]] = per_round.get(r["round"], 0) + 1
    assert per_round and all(v <= 2 for v in per_round.values()), per_round
    assert res.visited == 8


def test_bloom_delta_batching_equivalent(spark, corpus, full_run):
    """With bloom updates skipped entirely (min_batch=inf), the
    uncovered-delta anti-join must keep outputs identical. The Bloom
    prefilter runs only in its own regimes, so the test selects one."""
    seed, _, log_full, seen_full, _ = full_run
    cfg = CrawlConfig(
        max_pages=10_000, bloom_update_min_batch=10**9,
        bloom_mode="distributed",
    )
    _, log2, seen2, _ = _crawl(spark, corpus, seed, cfg)
    assert _log_key(log2) == _log_key(log_full)
    assert seen2 == seen_full


def test_resume_bit_identical(spark, corpus, full_run):
    """Kill after round 3, resume → state identical to the uninterrupted
    run (north rule: resumable from checkpoint)."""
    seed, _, log_full, seen_full, _ = full_run
    _, _, _, pages, rob = corpus
    out = tempfile.mkdtemp(prefix="sc_resume_")
    try:
        crawl(spark, pages, rob, [seed], out,
              config=CrawlConfig(max_pages=10_000, max_rounds=3))
        partial = read_crawl_log(spark, out).count()
        crawl(spark, pages, rob, [seed], out, config=FULL_CFG)
        log2 = read_crawl_log(spark, out).collect()
        seen2 = {r["url"] for r in read_seen(spark, out).collect()}
        assert partial < len(log2)
        assert _log_key(log2) == _log_key(log_full)
        assert seen2 == seen_full
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_resume_every_round(spark, corpus, full_run):
    """One round per crawl() call on the same out_dir until the crawl
    finishes: every round re-reads the seen set after a resume, and the
    result equals the uninterrupted run and the oracle."""
    seed, _, log_full, seen_full, _ = full_run
    _, _, _, pages, rob = corpus
    out = tempfile.mkdtemp(prefix="sc_resume_each_")
    try:
        calls = 0
        while True:
            calls += 1
            res = crawl(spark, pages, rob, [seed], out,
                        config=CrawlConfig(max_pages=10_000, max_rounds=calls))
            if res.rounds == 0:
                break
            assert res.rounds == 1
        log2 = read_crawl_log(spark, out).collect()
        seen2 = {r["url"] for r in read_seen(spark, out).collect()}
        assert calls > 3
        assert _log_key(log2) == _log_key(log_full)
        assert seen2 == seen_full
        ores = _oracle(corpus, seed, FULL_CFG)
        assert _log_key(log2) == _log_key(ores.log)
        assert seen2 == ores.seen
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_lineage_totals_consistent(spark, full_run):
    seed, res, log, _, out = full_run
    lin = read_lineage(spark, out)
    agg = lin.groupBy("round").agg(
        F.sum("fetched").alias("fetched"),
        F.sum("newly_discovered").alias("new"),
    ).collect()
    by_round = {r["round"]: r for r in agg}
    for st in res.round_stats:
        assert by_round[st["round"]]["new"] == st["new"]
    total_fetched = sum(r["fetched"] for r in agg)
    assert total_fetched == sum(1 for r in log if r["crawl_status"] == 2)


def test_bloom_partial_batching_equivalent(spark, corpus, full_run):
    """Regression: with an intermediate update threshold some rounds'
    deltas are skipped then caught up later — the catch-up must fold
    EVERY uncovered round (a covered-but-unfolded round would let seen
    URLs re-enter the frontier as definite-new)."""
    seed, _, log_full, seen_full, _ = full_run
    cfg = CrawlConfig(
        max_pages=10_000, bloom_update_min_batch=30, bloom_mode="distributed"
    )
    _, log2, seen2, _ = _crawl(spark, corpus, seed, cfg)
    assert _log_key(log2) == _log_key(log_full)
    assert seen2 == seen_full


def test_distributed_bloom_crawl_identical(spark, corpus, full_run):
    """bloom_mode=distributed (cogroup consult, DataFrame-resident
    bitmaps) must reproduce the broadcast-bloom crawl bit-for-bit —
    AND the driver must never read the url_hash column (the hashes
    live executor-side in this mode)."""
    seed, _, log_full, seen_full, _ = full_run
    cfg = CrawlConfig(max_pages=10_000, bloom_mode="distributed")
    fs = RecordingFS()
    _, log2, seen2, _ = _crawl(spark, corpus, seed, cfg, fs=fs)
    assert _log_key(log2) == _log_key(log_full)
    assert seen2 == seen_full
    hash_reads = [
        (p, c) for p, c in fs.reads if c is not None and "url_hash" in c
    ]
    assert hash_reads == [], hash_reads


def test_large_round_never_materializes_hashes_on_driver(
    spark, corpus, full_run
):
    """bloom_driver_update_limit=0 forces every Bloom delta down the
    distributed-build path; the driver-side metrics pass must then read
    only the is_new flag column, never url_hash (VERDICT r2 hazard #1:
    a 10^8-new-URLs round must not put ~GBs of hashes on the driver)."""
    seed, _, log_full, seen_full, _ = full_run
    cfg = CrawlConfig(max_pages=10_000, bloom_driver_update_limit=0)
    fs = RecordingFS()
    _, log2, seen2, _ = _crawl(spark, corpus, seed, cfg, fs=fs)
    assert _log_key(log2) == _log_key(log_full)
    assert seen2 == seen_full
    hash_reads = [
        (p, c) for p, c in fs.reads if c is not None and "url_hash" in c
    ]
    assert hash_reads == [], hash_reads


def test_resume_reads_markers_not_crawl_log(spark, corpus, full_run):
    """Resume is O(rounds): visited + 429 backoff come from the commit
    markers, so NO committed crawl_log parquet is re-opened (VERDICT r2
    hazard #2). New rounds (>= the resume point) still read their own
    just-written output — that is the normal per-round metrics pass."""
    seed, _, log_full, seen_full, _ = full_run
    _, _, _, pages, rob = corpus
    out = tempfile.mkdtemp(prefix="sc_resume_fs_")
    try:
        crawl(spark, pages, rob, [seed], out,
              config=CrawlConfig(max_pages=10_000, max_rounds=3))
        fs = RecordingFS()
        crawl(spark, pages, rob, [seed], out, config=FULL_CFG, fs=fs)
        log2 = read_crawl_log(spark, out).collect()
        seen2 = {r["url"] for r in read_seen(spark, out).collect()}
        assert _log_key(log2) == _log_key(log_full)
        assert seen2 == seen_full
        for path, _cols in fs.reads:
            m = re.search(r"crawl_log/r(\d+)/", path)
            if m:
                assert int(m.group(1)) >= 3, (
                    f"resume re-read committed crawl_log: {path}"
                )
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_legacy_layout_fails_fast(spark, corpus):
    """An out_dir written by a pre-is_new engine (frontier without the
    is_new column / a separate seen/ tree) must fail with an explicit
    incompatible-layout error on resume, not an opaque missing-column
    error mid-crawl (ADVICE r2)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import json
    import os

    _, _, _, pages, rob = corpus
    out = tempfile.mkdtemp(prefix="sc_legacy_")
    try:
        d = os.path.join(out, "frontier", "r0")
        os.makedirs(d)
        pq.write_table(
            pa.table({"url": pa.array(["https://host1.example/p/0"]),
                      "url_hash": pa.array([1], pa.int64())}),
            os.path.join(d, "part-0.parquet"),
        )
        with open(os.path.join(out, "_committed_init"), "w") as fh:
            json.dump({"run_id": "legacy"}, fh)
        with pytest.raises(RuntimeError, match="incompatible on-disk layout"):
            crawl(spark, pages, rob, [page_url(1, 0)], out,
                  config=CrawlConfig(max_pages=5))
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_bucketed_corpus_forced_shuffle_crawl(spark, corpus, full_run):
    """Deep-web fallback (round.py shuffle path): broadcast_frontier_limit=0
    forces the shuffle fetch join against a url_bucket-PARTITIONED corpus
    with URL pushdown disabled; the crawl must stay oracle-identical and
    the fetch scan must be partition-pruned to the frontier's buckets."""
    from sparkcrawler.plans.crawl import seed_frontier
    from sparkcrawler.plans.round import build_round
    from sparkcrawler.oracle import url_hash64

    seed, _, log_full, seen_full, _ = full_run
    _, _, _, pages, rob = corpus
    nb = 64
    bdir = tempfile.mkdtemp(prefix="sc_bucketed_corpus_")
    try:
        pages.withColumn(
            "url_bucket", F.pmod(F.xxhash64("url"), F.lit(nb))
        ).write.mode("overwrite").partitionBy("url_bucket").parquet(bdir)
        bucketed = spark.read.parquet(bdir)

        # plan-shape probe: one round at forced shuffle over the
        # bucketed corpus → the scan carries PartitionFilters on
        # url_bucket (only the frontier's buckets are read)
        fr = seed_frontier(spark, [seed])
        plan = build_round(
            bucketed, rob, fr, "probe", 0,
            frontier_count=1,
            frontier_buckets=[url_hash64(seed) % nb],
            broadcast_frontier_limit=0,
        )
        pstr = plan.crawl_log._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in pstr and "url_bucket" in pstr, pstr[:2000]

        # end-to-end: full crawl down the shuffle path == broadcast path
        cfg = CrawlConfig(
            max_pages=10_000, broadcast_frontier_limit=0,
            corpus_buckets=nb, fetch_pushdown_limit=0,
        )
        out = tempfile.mkdtemp(prefix="sc_shuffle_crawl_")
        try:
            crawl(spark, bucketed, rob, [seed], out, config=cfg)
            log2 = read_crawl_log(spark, out).collect()
            seen2 = {r["url"] for r in read_seen(spark, out).collect()}
            assert _log_key(log2) == _log_key(log_full)
            assert seen2 == seen_full
        finally:
            shutil.rmtree(out, ignore_errors=True)
    finally:
        shutil.rmtree(bdir, ignore_errors=True)
