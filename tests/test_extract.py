"""Link/text extraction contracts pinned by the reference test suite
(reference tests/test_parser.py:16-34, :104-110) + byte-identical text."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkcrawler.functions.extract import (
    extract_links_py,
    extract_page_udf,
    extract_text_py,
    extract_text_udf,
    oracle_links,
)

FIXTURE_3A = (
    "<html><body>"
    '<a href="/page1">Page 1</a>'
    '<a href="https://example.com/page2">Page 2</a>'
    '<a href="https://other-domain.com/page3">Page 3</a>'
    "</body></html>"
)


def test_reference_three_anchor_fixture():
    """3 anchors, one off-domain → exactly {/page1, /page2} same-host."""
    links = oracle_links("https://example.com", FIXTURE_3A)
    assert set(links) == {
        "https://example.com/page1",
        "https://example.com/page2",
    }


def test_javascript_href_yields_no_link():
    html = "<html><a href='javascript:void(0)'>Invalid</a></html>"
    assert oracle_links("https://example.com", html) == []


def test_within_page_dedup_and_order():
    html = (
        '<a href="/b">1</a><a href="/a">2</a><a href="/b">dup</a>'
        '<a href="/c">3</a>'
    )
    links = extract_links_py("https://e.com", html)
    assert links == ["https://e.com/b", "https://e.com/a", "https://e.com/c"]


def test_anchor_without_href_ignored():
    assert extract_links_py("https://e.com", "<a name='x'>no href</a>") == []


def test_extract_text_entities_and_script_skipped():
    html = (
        "<html><head><script>var x=1;</script><style>.a{}</style></head>"
        "<body><h1>T&amp;itle</h1><p>café 中文</p></body></html>"
    )
    assert extract_text_py(html) == "T&itlecafé 中文"


def test_udfs_match_python_and_corpus_text_byte_identical(spark):
    """The Arrow UDFs must equal the pure-Python core on the synthetic
    corpus, and extracted text must be byte-identical to the corpus
    ``text`` column (BASELINE.json per-row invariant)."""
    from sparkcrawler.sources.synth import synth_pages_df

    _, pages = synth_pages_df(spark, 120, 5, with_sitemaps=False)
    got = (
        pages.withColumn("links", extract_page_udf("url", "html").links)
        .withColumn("text2", extract_text_udf("html"))
        .select("url", "html", "links", "text", "text2")
        .collect()
    )
    assert len(got) == 120
    mismatches = [r["url"] for r in got if r["text2"] != r["text"]]
    assert mismatches == []
    for r in got[:25]:
        assert list(r["links"]) == extract_links_py(r["url"], bytes(r["html"]))
        assert r["text2"].encode("utf-8") == extract_text_py(bytes(r["html"])).encode("utf-8")


# Pages whose last anchor is same-host (root-relative, relative,
# absolute). Every synthetic page's last extracted link is
# javascript:void(0), which the host filter drops, so the synthetic
# corpus alone would not show a lost last link.
LAST_LINK_PAGES = [
    (
        "https://a.example/p/1",
        b'<a href="https://b.example/x">off</a>'
        b'<a href="javascript:void(0)">v</a><a href="/last">l</a>',
    ),
    (
        "https://a.example/dir/page.html",
        b'<a href="/first">f</a><a href="mailto:x@a.example">m</a>'
        b'<a href="next.html">n</a>',
    ),
    (
        "http://c.example/",
        b'<a href="//d.example/">off</a>'
        b'<a href="http://c.example/z?b=2&a=1">z</a>',
    ),
]


def test_same_host_filter_jvm_side_matches_oracle(spark):
    """JVM parse_url host filter == oracle_links same-host filter."""
    from sparkcrawler.sources.synth import synth_pages_df

    _, pages = synth_pages_df(spark, 60, 4, with_sitemaps=False)
    pages = pages.select("url", "html").unionByName(
        spark.createDataFrame(LAST_LINK_PAGES, "url string, html binary")
    )
    df = (
        pages.withColumn("links_all", extract_page_udf("url", "html").links)
        .withColumn("host", F.parse_url("url", F.lit("HOST")))
        .withColumn(
            "links",
            F.filter(
                F.col("links_all"),
                lambda x: F.parse_url(x, F.lit("HOST")) == F.col("host"),
            ),
        )
        .select("url", "html", "links")
        .collect()
    )
    for r in df:
        assert list(r["links"]) == oracle_links(r["url"], bytes(r["html"])), r["url"]


# hrefs whose canonical form depends on the page differently: absolute,
# scheme-relative (shared by http and https pages), root-relative,
# relative, same-scheme without netloc (`http:g` resolves against the
# page), empty, fragment-only, default ports and upper-case schemes
MEMO_PAGES = [
    "http://h/p/a",
    "https://h/p/a",
    "https://h/q/b?x=1",
    "http://other.example/",
]
MEMO_HREFS = [
    "//h/p",
    "//H:443/p#f",
    "//h:80/p",
    "https://h/p?b=2&a=1",
    "HTTPS://H:443/P#x",
    "HTTP://h:80",
    "http:g",
    "https:g",
    "/top",
    "rel/x",
    "../up",
    "",
    "#frag",
    "?q=1",
    "mailto:a@b",
    "javascript:void(0)",
]


def test_canonicalize_memo_matches_plain_calls(monkeypatch):
    from sparkcrawler.functions import extract
    from sparkcrawler.functions.urlnorm import canonicalize

    monkeypatch.setattr(extract, "_CANON_MEMO", {})
    html = "".join(f'<a href="{h}">x</a>' for h in MEMO_HREFS)
    for _warm in (False, True):
        for page in MEMO_PAGES:
            scheme = page.split(":", 1)[0]
            for href in MEMO_HREFS:
                assert extract._canonicalize_memo(page, scheme, href) == (
                    canonicalize(page, href)
                ), (page, href)
            links, _ = extract.extract_page_py(page, html)
            assert links == extract_links_py(page, html), page
    assert extract._CANON_MEMO


def test_canonicalize_memo_cleared_at_cap(monkeypatch):
    from sparkcrawler.functions import extract
    from sparkcrawler.functions.urlnorm import canonicalize

    monkeypatch.setattr(extract, "_CANON_MEMO", {})
    monkeypatch.setattr(extract, "_CANON_MEMO_CAP", 3)
    sizes = []
    for i in range(7):
        href = f"/p/{i}"
        link = extract._canonicalize_memo("https://h/", "https", href)
        assert link == canonicalize("https://h/", href)
        sizes.append(len(extract._CANON_MEMO))
    assert sizes == [1, 2, 3, 1, 2, 3, 1]
