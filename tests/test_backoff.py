"""429 adaptive backoff (reference main.py:80-84: sleep 10s, interval
×1.5): a WARC-style corpus with a status_code column throttles a host;
the engine must re-enqueue 429s with bounded retries, shrink the host's
politeness budget ×1.5 per 429-round, and match the BFS oracle exactly
— including across a kill/resume (multipliers rebuilt from the log)."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from sparkcrawler import oracle
from sparkcrawler.plans.crawl import CrawlConfig, crawl, read_crawl_log
from sparkcrawler.sources.synth import (
    is_rate_limited,
    page_url,
    robots_df,
    robots_rows,
    synth_pages_df,
    synth_pages_local,
)

RL_HOST = 1
N_PAGES, N_HOSTS = 160, 4


@pytest.fixture(scope="module")
def rl_corpus(spark):
    layout, rows = synth_pages_local(
        N_PAGES, N_HOSTS, rate_limit_host=RL_HOST
    )
    pages_map = {
        r["url"]: {"html": r["html"], "status_code": r.get("status_code")}
        for r in rows
    }
    robots_map = {r["host"]: r for r in robots_rows(layout)}
    _, pages = synth_pages_df(spark, N_PAGES, N_HOSTS, rate_limit_host=RL_HOST)
    pages = pages.cache()
    pages.count()
    return layout, pages_map, robots_map, pages, robots_df(spark, layout)


def _key(rows):
    return sorted(
        (r["url"], r["depth"], r["crawl_status"], r["status_code"], r["round"])
        for r in rows
    )


def _run(spark, rl_corpus, cfg, out=None):
    _, _, _, pages, rob = rl_corpus
    d = out or tempfile.mkdtemp(prefix="sc_backoff_")
    res = crawl(spark, pages, rob, [page_url(RL_HOST, 0)], d, config=cfg)
    log = read_crawl_log(spark, d).collect()
    if out is None:
        shutil.rmtree(d, ignore_errors=True)
    return res, log


def _oracle(rl_corpus, cfg):
    _, pages_map, robots_map, _, _ = rl_corpus
    return oracle.simulate(
        pages_map, robots_map, [page_url(RL_HOST, 0)],
        max_pages=cfg.max_pages, round_seconds=cfg.round_seconds,
        retries=cfg.retries,
    )


FULL_CFG = CrawlConfig(max_pages=24, retries=2, round_seconds=30.0)


@pytest.fixture(scope="module")
def full_run(spark, rl_corpus):
    """The uninterrupted 429 crawl, run once for the module: the oracle
    test checks it and the resume test compares against its log."""
    return _run(spark, rl_corpus, FULL_CFG)


def test_429_terminal_after_retries_matches_oracle(rl_corpus, full_run):
    res, log = full_run
    ores = _oracle(rl_corpus, FULL_CFG)
    assert _key(log) == _key(ores.log)
    assert res.visited == ores.visited
    # the throttled URLs show one observation row then a terminal 429
    obs = [r for r in log if r["crawl_status"] == 0]
    dead = [r for r in log if r["crawl_status"] == -2 and r["status_code"] == 429]
    assert obs and dead
    layout = rl_corpus[0]
    for r in obs + dead:
        j = int(r["url"].rsplit("/", 1)[1])
        assert is_rate_limited(RL_HOST, j, RL_HOST)


def test_backoff_throttles_host_budget(spark, rl_corpus):
    """After the first 429 round the host's effective delay is >=10s →
    with round_seconds=30 at most 3 fetch attempts per later round."""
    cfg = CrawlConfig(max_pages=18, retries=1, round_seconds=30.0)
    _, log = _run(spark, rl_corpus, cfg)
    ores = _oracle(rl_corpus, cfg)
    assert _key(log) == _key(ores.log)
    first_429_round = min(r["round"] for r in log if r["status_code"] == 429)
    per_round: dict[int, int] = {}
    for r in log:
        if r["crawl_status"] != -1:  # fetch attempts (incl. observations)
            per_round[r["round"]] = per_round.get(r["round"], 0) + 1
    later = {k: v for k, v in per_round.items() if k > first_429_round}
    assert later and all(v <= 3 for v in later.values()), per_round


def test_backoff_state_survives_resume(spark, rl_corpus, full_run):
    _, log_full = full_run
    _, _, _, pages, rob = rl_corpus
    out = tempfile.mkdtemp(prefix="sc_backoff_resume_")
    try:
        crawl(spark, pages, rob, [page_url(RL_HOST, 0)], out,
              config=CrawlConfig(max_pages=24, retries=2,
                                 round_seconds=30.0, max_rounds=3))
        crawl(spark, pages, rob, [page_url(RL_HOST, 0)], out, config=FULL_CFG)
        log2 = read_crawl_log(spark, out).collect()
        assert _key(log2) == _key(log_full)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_small_frames_plan_as_local_relations(spark, rl_corpus, monkeypatch):
    """The 429-backoff dimension and the robots dimension reach every
    round as LocalRelations, built from Arrow. A frame built from a
    Python list is a LogicalRDD over a PythonRDD, whose every scan runs
    Python tasks in both gate plans of the round."""
    import sparkcrawler.plans.crawl as crawl_mod

    _, _, _, pages, rob = rl_corpus
    real_build_round = crawl_mod.build_round
    dims = []

    def spy(pages, robots, *args, **kwargs):
        dims.append((robots, kwargs["backoff"]))
        return real_build_round(pages, robots, *args, **kwargs)

    monkeypatch.setattr(crawl_mod, "build_round", spy)
    out = tempfile.mkdtemp(prefix="sc_backoff_local_")
    try:
        # the first 429 is seen in round 2, so round 3 carries the dim
        crawl(spark, pages, rob, [page_url(RL_HOST, 0)], out,
              config=CrawlConfig(max_pages=24, retries=2,
                                 round_seconds=30.0, max_rounds=4))
    finally:
        shutil.rmtree(out, ignore_errors=True)
    frames = [rob] + [b for _, b in dims if b is not None]
    assert len(frames) > 1, "no round carried a backoff dimension"
    assert all(robots is rob for robots, _ in dims)
    for df in frames:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation") and "LogicalRDD" not in plan, plan
