"""robots.txt content parser: Protego-for-UA-* semantics the reference
relies on (reference simple_crawler/downloader.py:24-44), plus the
corpus→dimension build and a crawl driven end-to-end by the PARSED dim
(not the hand-built one).
"""

from __future__ import annotations

import shutil
import tempfile

import pytest

from sparkcrawler import oracle
from sparkcrawler.operators.robots import parse_robots_py, robots_from_corpus
from sparkcrawler.plans.crawl import CrawlConfig, crawl, read_crawl_log
from sparkcrawler.sources.synth import (
    page_url,
    robots_df,
    robots_rows,
    synth_pages_df,
    synth_pages_local,
)

# ------------------------------------------------------------- unit parse --


def test_parse_basic_group():
    body = b"User-agent: *\nDisallow: /private/\nCrawl-delay: 2\n"
    p = parse_robots_py(body)
    assert p["disallow_prefixes"] == ["/private/"]
    assert p["crawl_delay"] == 2.0
    assert p["sitemap_urls"] == []


def test_parse_comments_and_case():
    body = b"# hello\nUser-Agent: *  # star\nDISALLOW: /a/  # trailing\n"
    p = parse_robots_py(body)
    assert p["disallow_prefixes"] == ["/a/"]


def test_parse_other_agent_group_ignored():
    body = b"User-agent: googlebot\nDisallow: /\nCrawl-delay: 9\n"
    p = parse_robots_py(body)
    assert p["disallow_prefixes"] == []
    assert p["crawl_delay"] is None


def test_parse_consecutive_agents_share_group():
    body = b"User-agent: googlebot\nUser-agent: *\nDisallow: /x/\n"
    assert parse_robots_py(body)["disallow_prefixes"] == ["/x/"]


def test_parse_multiple_star_groups_merge():
    body = (
        b"User-agent: *\nDisallow: /a/\n\n"
        b"User-agent: bot\nDisallow: /bot-only/\n\n"
        b"User-agent: *\nDisallow: /b/\n"
    )
    assert parse_robots_py(body)["disallow_prefixes"] == ["/a/", "/b/"]


def test_parse_blank_line_does_not_end_group():
    body = b"User-agent: *\n\nDisallow: /y/\n"
    assert parse_robots_py(body)["disallow_prefixes"] == ["/y/"]


def test_parse_empty_disallow_allows_all():
    assert parse_robots_py(b"User-agent: *\nDisallow:\n")["disallow_prefixes"] == []


def test_parse_sitemap_is_file_global():
    body = (
        b"User-agent: bot\nDisallow: /\nSitemap: https://h/s1.xml\n"
        b"User-agent: *\nSitemap: https://h/s2.xml\n"
    )
    p = parse_robots_py(body)
    assert p["sitemap_urls"] == ["https://h/s1.xml", "https://h/s2.xml"]
    assert p["disallow_prefixes"] == []


def test_parse_request_rate_and_bad_numbers():
    p = parse_robots_py(
        b"User-agent: *\nRequest-rate: 1/5\nCrawl-delay: soon\n"
    )
    assert p["request_rate"] == pytest.approx(0.2)
    assert p["crawl_delay"] is None
    assert parse_robots_py(None)["disallow_prefixes"] == []


# ------------------------------------------------- corpus → dimension build --


def test_robots_from_corpus_matches_handbuilt_dim(spark):
    layout, pages = synth_pages_df(spark, 120, 5, with_robots=True)
    parsed = {
        r["host"]: r.asDict() for r in robots_from_corpus(pages).collect()
    }
    expected = {r["host"]: r for r in robots_rows(layout)}
    assert set(parsed) == set(expected)
    for host, exp in expected.items():
        got = parsed[host]
        assert got["disallow_prefixes"] == exp["disallow_prefixes"], host
        assert got["crawl_delay"] == exp["crawl_delay"], host
        assert got["sitemap_urls"] == (exp["sitemap_urls"] or []), host
    # the last host has no robots.txt row → no dim entry (allow-on-error)
    assert f"host{layout.n_hosts - 1}.example" not in parsed


def _log_key(rows):
    return sorted(
        (r["url"], r["depth"], r["crawl_status"], r["status_code"], r["round"])
        for r in rows
    )


def test_crawl_with_parsed_robots_matches_oracle(spark):
    """End-to-end: dim parsed from corpus content, crawl == BFS oracle
    (robots gate + crawl_delay budget both come from the parse)."""
    n_pages, n_hosts = 150, 4
    layout, rows = synth_pages_local(n_pages, n_hosts, with_robots=True)
    pages_map = {r["url"]: r["html"] for r in rows}
    robots_map = {r["host"]: r for r in robots_rows(layout)}
    _, pages = synth_pages_df(spark, n_pages, n_hosts, with_robots=True)
    pages = pages.cache()

    cfg = CrawlConfig(max_pages=40, round_seconds=6.0)
    out = tempfile.mkdtemp(prefix="sc_robotsparse_")
    # parsed once: both gate plans broadcast the dim every round
    robots = robots_from_corpus(pages).persist()
    try:
        crawl(spark, pages, robots, [page_url(0, 0)], out, config=cfg)
        log = read_crawl_log(spark, out).collect()
    finally:
        shutil.rmtree(out, ignore_errors=True)
        robots.unpersist()
        pages.unpersist()

    ores = oracle.simulate(
        pages_map, robots_map, [page_url(0, 0)],
        max_pages=cfg.max_pages, round_seconds=cfg.round_seconds,
    )
    assert _log_key(log) == _log_key(ores.log)


def test_parsed_dim_equivalent_to_handbuilt_in_gate(spark):
    """Same corpus, hand-built dim vs parsed dim → byte-identical logs."""
    n_pages, n_hosts = 100, 4
    layout, pages = synth_pages_df(spark, n_pages, n_hosts, with_robots=True)
    pages = pages.cache()
    cfg = CrawlConfig(max_pages=25)
    logs = []
    parsed = robots_from_corpus(pages).persist()
    try:
        for dim in (robots_df(spark, layout), parsed):
            out = tempfile.mkdtemp(prefix="sc_dimcmp_")
            try:
                crawl(spark, pages, dim, [page_url(0, 0)], out, config=cfg)
                logs.append(_log_key(read_crawl_log(spark, out).collect()))
            finally:
                shutil.rmtree(out, ignore_errors=True)
    finally:
        parsed.unpersist()
        pages.unpersist()
    assert logs[0] == logs[1]


# ------------------------------- Protego rule semantics (Allow/wildcards) --


def test_parse_allow_and_longest_match_precedence():
    body = (
        b"User-agent: *\n"
        b"Disallow: /private/\n"
        b"Allow: /private/open/\n"
    )
    p = parse_robots_py(body)
    assert len(p["rules"]) == 2
    # longest pattern first
    assert p["rules"][0] == {"regex": "^/private/open/", "allow": True}
    from sparkcrawler.operators.robots import can_fetch_py

    assert can_fetch_py(p, "/private/open/x.html") is True
    assert can_fetch_py(p, "/private/x.html") is False
    assert can_fetch_py(p, "/public/x.html") is True


def test_parse_allow_wins_length_tie():
    body = b"User-agent: *\nDisallow: /dir/\nAllow: /dir/\n"
    from sparkcrawler.operators.robots import can_fetch_py

    p = parse_robots_py(body)
    assert p["rules"][0]["allow"] is True  # allow outranks on equal length
    assert can_fetch_py(p, "/dir/a") is True


def test_parse_wildcard_and_end_anchor():
    from sparkcrawler.operators.robots import can_fetch_py, rule_regex

    p = parse_robots_py(
        b"User-agent: *\nDisallow: /*.zip\nDisallow: /tmp*/x\nDisallow: /*.php$\n"
    )
    assert can_fetch_py(p, "/a/b.zip") is False        # * spans dirs
    assert can_fetch_py(p, "/tmp123/x") is False
    assert can_fetch_py(p, "/index.php") is False
    assert can_fetch_py(p, "/index.php5") is True      # $ anchors the end
    assert can_fetch_py(p, "/a/b.txt") is True
    # regex metacharacters in patterns stay literal
    assert rule_regex("/a+b?.c") == "^/a\\+b\\?\\.c"


def test_parse_empty_allow_ignored():
    p = parse_robots_py(b"User-agent: *\nAllow:\nDisallow: /x/\n")
    assert [r["allow"] for r in p["rules"]] == [False]


def test_gate_applies_protego_rules_jvm_side(spark):
    """End-to-end through the BROADCAST dim: Allow exceptions,
    wildcards, and the $ anchor must gate exactly like can_fetch_py —
    including the path?query match target."""
    from pyspark.sql import functions as F

    from sparkcrawler.operators.robots import (
        apply_robots_gate,
        can_fetch_py,
        parse_robots_py,
        robots_from_corpus,
    )

    body = (
        "User-agent: *\n"
        "Disallow: /private/\n"
        "Allow: /private/open/\n"
        "Disallow: /*.zip\n"
        "Disallow: /*.php$\n"
        "Disallow: /search?q=*\n"
    )
    pages = spark.createDataFrame(
        [("https://h.example/robots.txt", body.encode())], "url string, html binary"
    )
    dim = robots_from_corpus(pages)
    paths = [
        "/private/a", "/private/open/a", "/files/x.zip", "/x.php",
        "/x.php5", "/plain", "/search?q=hi", "/search",
    ]
    frontier = spark.createDataFrame(
        [(f"https://h.example{p}", "h.example") for p in paths]
        + [("https://nodim.example/private/a", "nodim.example")],
        "url string, host string",
    )
    got = {
        r["url"]: r["allowed"]
        for r in apply_robots_gate(frontier, dim).collect()
    }
    parsed = parse_robots_py(body.encode())
    for p in paths:
        assert got[f"https://h.example{p}"] == can_fetch_py(parsed, p), p
    assert got["https://nodim.example/private/a"] is True  # allow-on-error
