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
    return sorted(
        (r["url"], r["depth"], r["crawl_status"], r["status_code"], r["round"])
        for r in rows
    )


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


def test_bloom_partial_batching_equivalent(spark, full_run):
    """Regression kept from the Bloom-prefilter era, when a catch-up fold
    that skipped a round let seen URLs re-enter the frontier as new. The
    contract holds for the anti-join: across the committed frontier
    snapshots every URL is tagged is_new in exactly one snapshot, and
    those rows are the seen set."""
    import glob
    import os

    import pyarrow.parquet as pq

    _, res, _, seen_full, out = full_run
    snaps = sorted(glob.glob(os.path.join(out, "frontier", "r*")))
    assert len(snaps) > res.rounds
    first_new: dict[str, str] = {}
    for snap in snaps:
        t = pq.read_table(snap, columns=["url", "is_new"])
        for url, is_new in zip(t.column("url").to_pylist(),
                               t.column("is_new").to_pylist()):
            if is_new:
                assert url not in first_new, (url, first_new[url], snap)
                first_new[url] = snap
    assert set(first_new) == seen_full


def test_large_round_never_materializes_hashes_on_driver(
    spark, corpus, full_run
):
    """The driver-side passes (frontier probe, round metrics, lineage)
    read only narrow columns, never url_hash: a 10^8-new-URLs round must
    not put ~GBs of hashes on the driver — the seen anti-join reads
    them executor-side."""
    seed, _, log_full, seen_full, _ = full_run
    fs = RecordingFS()
    _, log2, seen2, _ = _crawl(spark, corpus, seed, FULL_CFG, fs=fs)
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
    """An out_dir written by an older engine must fail with an explicit
    incompatible-layout error on resume, not an opaque missing-column
    error mid-crawl (ADVICE r2) or a silent crawl_log rescan: frontier
    snapshots without the is_new column, and a committed round whose
    marker lacks hosts_429."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import json
    import os

    from sparkcrawler.plans.crawl import _frontier0_table, _seed_rows

    _, _, _, pages, rob = corpus
    seed = page_url(1, 0)
    no_is_new = pa.table({"url": pa.array([seed]),
                          "url_hash": pa.array([1], pa.int64())})
    cases = [
        (no_is_new, {}),
        (_frontier0_table(_seed_rows([seed])), {"0": {"processed": 1}}),
    ]
    for frontier0, markers in cases:
        out = tempfile.mkdtemp(prefix="sc_legacy_")
        try:
            d = os.path.join(out, "frontier", "r0")
            os.makedirs(d)
            pq.write_table(frontier0, os.path.join(d, "part-0.parquet"))
            markers = {"init": {"run_id": "legacy"}, **markers}
            for name, payload in markers.items():
                with open(os.path.join(out, f"_committed_{name}"), "w") as fh:
                    json.dump(payload, fh)
            with pytest.raises(
                RuntimeError, match="incompatible on-disk layout"
            ):
                crawl(spark, pages, rob, [seed], out,
                      config=CrawlConfig(max_pages=5))
        finally:
            shutil.rmtree(out, ignore_errors=True)


def test_bucketed_corpus_forced_shuffle_crawl(
    spark, corpus, full_run, monkeypatch
):
    """Deep-web fallback (round.py shuffle path): BROADCAST_FRONTIER_LIMIT
    patched to 0 forces the shuffle fetch join against a url_bucket-
    PARTITIONED corpus, and FETCH_PUSHDOWN_LIMIT patched to 0 disables
    URL pushdown; the crawl must stay oracle-identical and the fetch
    scan must be partition-pruned to the frontier's buckets. The plan
    probe proves the patch reaches build_round: the broadcast path's
    fetch-miss anti-join is in the crawl_log plan at the default limit
    and gone at 0."""
    import sparkcrawler.plans.crawl as crawl_mod
    import sparkcrawler.plans.round as round_mod
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

        # plan-shape probe: one round over the bucketed corpus
        def probe_plan() -> str:
            plan = build_round(
                bucketed, rob, seed_frontier(spark, [seed]), "probe", 0,
                frontier_count=1,
                frontier_buckets=[url_hash64(seed) % nb],
            )
            return plan.crawl_log._jdf.queryExecution().executedPlan().toString()

        assert "LeftAnti" in probe_plan()
        monkeypatch.setattr(round_mod, "BROADCAST_FRONTIER_LIMIT", 0)
        monkeypatch.setattr(crawl_mod, "FETCH_PUSHDOWN_LIMIT", 0)
        # forced shuffle → no fetch-miss anti-join, and the scan carries
        # PartitionFilters on url_bucket (only the frontier's buckets
        # are read)
        pstr = probe_plan()
        assert "LeftAnti" not in pstr, pstr[:2000]
        assert "PartitionFilters" in pstr and "url_bucket" in pstr, pstr[:2000]

        # end-to-end: full crawl down the shuffle path == broadcast path
        cfg = CrawlConfig(max_pages=10_000, corpus_buckets=nb)
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


def test_retry_rounds(spark):
    """O3: a missing URL is retried `retries` times across rounds, then
    closed ERROR/404 exactly once."""
    layout, pages = synth_pages_df(spark, 40, 4)
    out = tempfile.mkdtemp(prefix="sc_retry_")
    try:
        res = crawl(
            spark, pages, robots_df(spark, layout),
            ["https://host1.example/p/424242"], out,
            config=CrawlConfig(max_pages=10, retries=3),
        )
        log = read_crawl_log(spark, out).collect()
        assert len(log) == 1
        assert log[0]["crawl_status"] == -2 and log[0]["status_code"] == 404
        # closed in round 2 (attempts 0,1 deferred; attempt 2 is final)
        assert log[0]["round"] == 2
        assert res.rounds == 3
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_readers_skip_uncommitted_rounds(spark, full_run, tmp_path):
    """A round exists once its commit marker does: with the markers of
    the last rounds deleted (a kill after a round's writes, before its
    marker), every reader returns exactly the committed rounds' rows of
    the uninterrupted crawl. Round K commits frontier r{K+1}, so the
    seen view keeps the is_new rows added up to that snapshot."""
    import os

    _, res, log, _, out = full_run
    copy = str(tmp_path / "out")
    shutil.copytree(out, copy)
    lineage = read_lineage(spark, out).collect()
    seen = read_seen(spark, out).collect()
    last = res.round_stats[-1]["round"]
    assert last >= 2
    for k in (last, last - 1):
        os.remove(os.path.join(copy, f"_committed_{k}"))
        assert _log_key(read_crawl_log(spark, copy).collect()) == _log_key(
            [r for r in log if r["round"] < k]
        )
        assert sorted(read_lineage(spark, copy).collect()) == sorted(
            r for r in lineage if r["round"] < k
        )
        assert sorted(read_seen(spark, copy).collect()) == sorted(
            r for r in seen if r["round_added"] <= k
        )


AQE = "spark.sql.adaptive.enabled"


def test_crawl_runs_without_aqe_and_restores_it(spark, corpus, monkeypatch):
    """Each crawl() call plans its rounds with AQE off and hands the
    caller's setting back, whether it returns or raises."""
    import sparkcrawler.plans.crawl as crawl_mod

    _, _, _, pages, rob = corpus
    real_build_round = crawl_mod.build_round
    aqe_in_round = []

    def spy(*args, **kwargs):
        aqe_in_round.append(spark.conf.get(AQE))
        if fail:
            raise RuntimeError("round build failed")
        return real_build_round(*args, **kwargs)

    monkeypatch.setattr(crawl_mod, "build_round", spy)
    cfg = CrawlConfig(max_pages=1)
    try:
        for caller in ("true", "false"):
            spark.conf.set(AQE, caller)
            for fail in (False, True):
                out = tempfile.mkdtemp(prefix="sc_aqe_")
                try:
                    if fail:
                        with pytest.raises(RuntimeError, match="round build"):
                            crawl(spark, pages, rob, [page_url(1, 0)], out,
                                  config=cfg)
                    else:
                        res = crawl(spark, pages, rob, [page_url(1, 0)], out,
                                    config=cfg)
                        assert res.visited == 1
                finally:
                    shutil.rmtree(out, ignore_errors=True)
                assert spark.conf.get(AQE) == caller
    finally:
        spark.conf.set(AQE, "true")
    assert aqe_in_round == ["false"] * 4


# A chain of pages whose only same-host link is the page's LAST anchor,
# behind off-host, javascript: and mailto: anchors. Every synthetic
# page ends on javascript:void(0), so the synthetic corpus alone would
# not show a crawl that loses a page's last link.
LAST_LINK_CHAIN = [
    ("https://a.example/p/0",
     b'<a href="https://b.example/x">off</a>'
     b'<a href="javascript:void(0)">v</a><a href="/p/1">next</a>'),
    ("https://a.example/p/1",
     b'<a href="mailto:x@a.example">m</a><a href="2">next</a>'),
    ("https://a.example/p/2",
     b'<a href="//d.example/">off</a>'
     b'<a href="https://a.example/p/3">next</a>'),
    ("https://a.example/p/3",
     b'<a href="https://b.example/y">off</a><a href="/p/0">back</a>'),
]


def test_crawl_follows_each_page_last_link(spark):
    from sparkcrawler.schemas import PAGES, ROBOTS_SCHEMA, local_frame

    pages = local_frame(
        spark, [{"url": u, "html": h} for u, h in LAST_LINK_CHAIN], PAGES
    )
    cfg = CrawlConfig(max_pages=10)
    out = tempfile.mkdtemp(prefix="sc_lastlink_")
    try:
        crawl(spark, pages, local_frame(spark, [], ROBOTS_SCHEMA),
              [LAST_LINK_CHAIN[0][0]], out, config=cfg)
        log = read_crawl_log(spark, out).collect()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    ores = oracle.simulate(
        dict(LAST_LINK_CHAIN), {}, [LAST_LINK_CHAIN[0][0]],
        max_pages=cfg.max_pages, round_seconds=cfg.round_seconds,
    )
    assert {r["url"] for r in log} == {r["url"] for r in ores.log} == {
        u for u, _ in LAST_LINK_CHAIN
    }
    assert _log_key(log) == _log_key(ores.log)
