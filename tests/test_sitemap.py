"""Sitemap parsing + priming contracts (reference tests/test_mapper.py)."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from sparkcrawler.plans.crawl import CrawlConfig, crawl, read_crawl_log
from sparkcrawler.plans.sitemap import (
    parse_sitemap_py,
    prime_from_sitemap,
    sitemap_candidates,
    sitemap_index_edges,
)
from sparkcrawler.sources.synth import page_url, robots_df, synth_pages_df

INDEX_XML = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
    "  <sitemap><loc>https://example.com/sitemap1.xml</loc></sitemap>\n"
    "  <sitemap><loc>https://example.com/sitemap2.xml</loc></sitemap>\n"
    "</sitemapindex>"
)

URLSET_XML = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
    "  <url>\n"
    "    <loc>https://example.com/page1</loc>\n"
    "    <priority>0.8</priority>\n"
    "    <changefreq>daily</changefreq>\n"
    "    <modified>2023-01-01</modified>\n"
    "  </url>\n"
    "  <url><loc>https://example.com/page2</loc></url>\n"
    "</urlset>"
)


def test_index_parse_reference_fixture():
    """2 child sitemap urls (reference tests/test_mapper.py:24-32)."""
    out = parse_sitemap_py(INDEX_XML)
    assert out["kind"] == "index"
    assert out["children"] == [
        "https://example.com/sitemap1.xml",
        "https://example.com/sitemap2.xml",
    ]


def test_urlset_first_url_only_quirk():
    """Only the FIRST <url> is consumed (reference mapper.py:70;
    tests/test_mapper.py:75-84 pin the exact field values)."""
    out = parse_sitemap_py(URLSET_XML)
    assert out["kind"] == "urlset"
    assert out["loc"] == "https://example.com/page1"
    assert out["priority"] == "0.8"
    assert out["changefreq"] == "daily"
    assert out["modified"] == "2023-01-01"


def test_malformed_xml_is_error():
    assert parse_sitemap_py("<not xml")["kind"] == "error"
    assert parse_sitemap_py(None)["kind"] == "error"


def test_candidates_order():
    rob = {"sitemap_urls": ["https://h.example/custom.xml"]}
    assert sitemap_candidates(rob, "https://h.example/") == [
        "https://h.example/custom.xml",
        "https://h.example/sitemap-index.xml",
        "https://h.example/sitemap.xml",
    ]
    assert sitemap_candidates(None, "https://h.example/")[0] == (
        "https://h.example/sitemap-index.xml"
    )


def test_prime_and_crawl(spark):
    """host0's sitemap-index → 2 urlsets → first-loc-only priming; the
    primed crawl starts from those URLs + the seed."""
    layout, pages = synth_pages_df(spark, 120, 5)
    pages = pages.cache()
    rob = robots_df(spark, layout)
    seed = page_url(0, 0)
    extra, sitemaps_df = prime_from_sitemap(spark, pages, rob, seed, "run_p")

    details = sitemaps_df.collect()
    assert len(details) == 2  # one row per child urlset
    assert {d["index_url"] for d in details} == {
        "https://host0.example/sitemap-index.xml"
    }
    locs = {d["loc"] for d in details}
    assert locs == {page_url(0, 0), page_url(0, 3)}
    assert all(d["status"] == "Success" for d in details)
    assert all(d["frequency"] == "daily" for d in details)

    primed = extra.collect()
    assert {r["url"] for r in primed} == locs
    assert all(0.0 <= r["priority"] <= 1.0 for r in primed)

    out = tempfile.mkdtemp(prefix="sc_prime_")
    try:
        res = crawl(
            spark, pages, rob, [seed], out,
            config=CrawlConfig(max_pages=6), extra_frontier=extra,
        )
        log = read_crawl_log(spark, out)
        round0 = {r["url"] for r in log.where(F.col("round") == 0).collect()}
        # seed + the extra sitemap loc (p/0 duplicates the seed → deduped)
        assert round0 == {page_url(0, 0), page_url(0, 3)}
        assert res.visited == 6
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_prime_missing_sitemap_returns_none(spark):
    layout, pages = synth_pages_df(spark, 60, 4)
    rob = robots_df(spark, layout)
    extra, details = prime_from_sitemap(
        spark, pages, rob, page_url(1, 0), "run_p2"
    )
    assert extra is None and details is None


def test_sitemap_index_edges(spark):
    layout, pages = synth_pages_df(spark, 80, 4)
    _, details = prime_from_sitemap(
        spark, pages, robots_df(spark, layout), page_url(0, 0), "run_e"
    )
    edges = sitemap_index_edges(details).collect()
    assert len(edges) == 1
    assert edges[0]["index_url"] == "https://host0.example/sitemap-index.xml"
    assert edges[0]["n_children"] == 2
