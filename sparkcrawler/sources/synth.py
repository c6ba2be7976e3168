"""Deterministic synthetic web corpus (FIXTURES.md §1.1, seed=42).

There is no live network in the sandbox, so "fetch" = join into a
``pages`` table. This module synthesizes that table deterministically:

- ``host0.example`` owns ~50% of pages (mega-host → exercises salting /
  skew handling); remaining hosts sized ∝ 1/(i+1) (Zipf-ish).
- Page links form a binary tree (2j+1, 2j+2) + a chain (j+1) within the
  first 90% of each host's pages; the last 10% are orphans —
  unreachable from the seed, so a correct crawl never visits them.
- Every page also carries one off-domain link (must be excluded by the
  same-host filter), one ``javascript:void(0)`` href (must yield no
  link), and one duplicate href (within-page dedup) — the behavioral
  contracts pinned by the reference's tests
  (reference tests/test_parser.py:16-34, :104-110).
- On host0, every 37th page lives under ``/private/`` which robots.txt
  disallows → those URLs are linked but must be closed DISALLOWED and
  never fetched (reference downloader.py:63-67, tests/test_downloader.py:56-71).
- The last host has NO robots entry → allow-on-error default
  (reference downloader.py:34).
- ``text`` is produced by the engine's own ``extract_text_py`` so the
  extract UDF is byte-identical by construction (and verified in tests).

Generation is a pure function of ``page_index`` so it can run
distributed (``spark.range → mapInPandas``) for bench-scale corpora
without materializing HTML on the driver.
"""

from __future__ import annotations

import datetime as dt
import random
from bisect import bisect_right
from dataclasses import dataclass, field
from typing import Iterator

from sparkcrawler.functions.extract import extract_text_py

SEED = 42
_LANGS = ["en", "de", "fr", "es"]
_WORDS = [
    "crawl", "frontier", "página", "straße", "日本語", "éclair", "über",
    "queue", "robots", "sitemap", "中文", "naïve", "coöperate", "shard",
]
_EPOCH = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)


@dataclass(frozen=True)
class CorpusLayout:
    """Host sizing for a corpus of ``n_pages`` over ``n_hosts`` hosts.

    ``fanout`` = tree branching factor of the in-domain link graph
    (2 = binary tree, the test default; bench corpora use a wide
    fan-out so BFS reaches steady-state rounds quickly).
    ``extra_paras`` inflates page text for extraction-heavy benches.
    """

    n_pages: int
    n_hosts: int
    host_counts: tuple[int, ...] = field(default=())
    prefix: tuple[int, ...] = field(default=())
    fanout: int = 2
    extra_paras: int = 0

    @staticmethod
    def build(
        n_pages: int, n_hosts: int = 10, fanout: int = 2, extra_paras: int = 0
    ) -> "CorpusLayout":
        n_hosts = max(2, min(n_hosts, n_pages // 2))
        counts = [0] * n_hosts
        counts[0] = n_pages // 2  # mega-host: 50% of pages
        rest = n_pages - counts[0]
        weights = [1.0 / (i + 1) for i in range(1, n_hosts)]
        total_w = sum(weights)
        assigned = 0
        for i, w in enumerate(weights, start=1):
            counts[i] = max(2, int(rest * w / total_w))
            assigned += counts[i]
        counts[1] += rest - assigned  # remainder to host1
        prefix = [0]
        for c in counts:
            prefix.append(prefix[-1] + c)
        return CorpusLayout(
            n_pages, n_hosts, tuple(counts), tuple(prefix), fanout, extra_paras
        )

    def locate(self, page_index: int) -> tuple[int, int]:
        """page_index -> (host_id, within-host index j)."""
        h = bisect_right(self.prefix, page_index) - 1
        return h, page_index - self.prefix[h]


def host_name(h: int) -> str:
    return f"host{h}.example"


def _is_private(h: int, j: int) -> bool:
    return h == 0 and j > 0 and j % 37 == 5


def page_path(h: int, j: int) -> str:
    return f"/private/{j}" if _is_private(h, j) else f"/p/{j}"


def page_url(h: int, j: int) -> str:
    return f"https://{host_name(h)}{page_path(h, j)}"


def _reach_count(host_pages: int) -> int:
    """Pages 0..reach-1 are linkable; the rest are orphans."""
    return max(1, host_pages - max(1, host_pages // 10))


def link_targets(h: int, j: int, layout: CorpusLayout, page_index: int) -> list[int]:
    """Deterministic in-domain link targets (within-host indices):
    f-ary tree children + a chain edge + seeded uniform extras.

    Extras draw uniformly over the whole reachable range (not just the
    already-tree-covered prefix) — the web-like shape: BFS depth stays
    ~log_f(host size) with no long single-page discovery tail, while
    the last 10% (orphans) remain unreachable."""
    reach = _reach_count(layout.host_counts[h])
    f = layout.fanout
    k = 1 + page_index % 5 if f == 2 else f + 1 + page_index % 5
    rnd = random.Random(SEED + page_index)
    candidates = [f * j + i for i in range(1, f + 1)] + [j + 1]
    while len(candidates) < k:
        candidates.append(rnd.randrange(0, max(1, reach)))
    out: list[int] = []
    for t in candidates[:k]:
        if t < reach and t != j and t not in out:
            out.append(t)
    return out


def gen_html(page_index: int, layout: CorpusLayout) -> tuple[str, str]:
    """Return (url, html) for a page index. Pure & deterministic."""
    h, j = layout.locate(page_index)
    rnd = random.Random(SEED * 1000003 + page_index)
    url = page_url(h, j)
    targets = link_targets(h, j, layout, page_index)
    anchors = [
        f'<a href="{page_path(h, t)}">p{t}</a>' for t in targets
    ]
    off_host = (h + 1) % layout.n_hosts
    anchors.append(f'<a href="https://{host_name(off_host)}/p/0">offsite</a>')
    anchors.append('<a href="javascript:void(0)">void</a>')
    if targets:  # duplicate of an earlier link — within-page dedup contract
        anchors.append(f'<a href="{page_path(h, targets[0])}">dup</a>')
    paras = []
    for p in range(1 + page_index % 3 + layout.extra_paras):
        words = [rnd.choice(_WORDS) for _ in range(8 + rnd.randrange(8))]
        paras.append(f"<p>{' '.join(words)}</p>")
    html = (
        f"<html><head><title>Page {h}/{j}</title></head><body>"
        f"<h1>host{h} page {j}</h1>\n"
        + "\n".join(paras)
        + "\n"
        + "\n".join(anchors)
        + "</body></html>"
    )
    return url, html


def is_rate_limited(h: int, j: int, rate_limit_host: int | None) -> bool:
    """Deterministic 429 pattern: every 13th page of the designated host
    answers 429 on every fetch (a perpetually throttled endpoint)."""
    return rate_limit_host is not None and h == rate_limit_host and j % 13 == 4


def status_of(page_index: int) -> int:
    """The WARC-status error model (``with_status_errors``): ~2.3% of
    pages answer 429 and ~2.1% answer 404, deterministically by page
    index — the 3-5% error band a real WARC-derived corpus shows, so a
    bench crawl exercises adaptive backoff + terminal HTTP errors under
    load, not just in small fixtures."""
    if page_index % 43 == 7:
        return 429
    if page_index % 47 == 11:
        return 404
    return 200


def gen_page_row(
    page_index: int, layout: CorpusLayout, rate_limit_host: int | None = None,
    with_status_errors: bool = False,
) -> dict:
    url, html = gen_html(page_index, layout)
    html_bytes = html.encode("utf-8")
    row = {
        "url": url,
        "warc_ts": _EPOCH + dt.timedelta(seconds=page_index),
        "html": html_bytes,
        "text": extract_text_py(html_bytes),
        "lang": _LANGS[page_index % len(_LANGS)],
    }
    if with_status_errors:
        row["status_code"] = status_of(page_index)
    elif rate_limit_host is not None:
        h, j = layout.locate(page_index)
        row["status_code"] = 429 if is_rate_limited(h, j, rate_limit_host) else 200
    return row


# ------------------------------------------------------- robots + sitemaps --


def robots_rows(layout: CorpusLayout) -> list[dict]:
    """robots dimension: host0 disallows /private/ with crawl_delay=2;
    the LAST host has no entry at all (allow-on-error default)."""
    rows = []
    for h in range(layout.n_hosts - 1):  # last host intentionally absent
        rows.append(
            {
                "host": host_name(h),
                "disallow_prefixes": ["/private/"] if h == 0 else [],
                "crawl_delay": 2.0 if h == 0 else None,
                "request_rate": None,
                "sitemap_urls": (
                    [f"https://{host_name(h)}/sitemap-index.xml"] if h == 0 else []
                ),
            }
        )
    return rows


def robots_txt_pages(layout: CorpusLayout) -> list[dict]:
    """robots.txt bodies as corpus rows (reference downloader.py:24-27
    fetches ``https://<host>/robots.txt``). Content is generated so that
    ``robots_from_corpus`` parses back exactly :func:`robots_rows` —
    the hand-built dim and the parsed dim are interchangeable. The last
    host has no robots.txt row at all (allow-on-error default)."""
    rows = []
    for spec in robots_rows(layout):
        lines = ["# synthetic robots.txt", "User-agent: *"]
        for p in spec["disallow_prefixes"]:
            lines.append(f"Disallow: {p}")
        if not spec["disallow_prefixes"]:
            lines.append("Disallow:")  # empty = allow all
        if spec["crawl_delay"] is not None:
            lines.append(f"Crawl-delay: {spec['crawl_delay']:g}")
        for sm in spec["sitemap_urls"] or []:
            lines.append(f"Sitemap: {sm}")
        body = "\n".join(lines) + "\n"
        rows.append(
            {
                "url": f"https://{spec['host']}/robots.txt",
                "warc_ts": _EPOCH,
                "html": body.encode("utf-8"),
                "text": "",
                "lang": "en",
            }
        )
    return rows


def sitemap_pages(layout: CorpusLayout) -> list[dict]:
    """Sitemap XML blobs for host0, stored as extra corpus rows.

    Index → two child urlsets; each urlset lists 3 urls but the
    reference only consumes the FIRST <url> per sitemap
    (reference mapper.py:70) — the priming loop preserves that quirk.
    """
    host = host_name(0)
    index_url = f"https://{host}/sitemap-index.xml"
    children = [f"https://{host}/sitemap{i}.xml" for i in (1, 2)]
    index_xml = (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
        + "\n".join(f"<sitemap><loc>{c}</loc></sitemap>" for c in children)
        + "\n</sitemapindex>"
    )
    rows = [
        {
            "url": index_url,
            "warc_ts": _EPOCH,
            "html": index_xml.encode("utf-8"),
            "text": "",
            "lang": "en",
        }
    ]
    for i, child in enumerate(children, start=1):
        locs = [page_url(0, 3 * (i - 1) + d) for d in range(3)]
        urls_xml = "\n".join(
            f"<url><loc>{loc}</loc><priority>0.{8 - i}</priority>"
            f"<changefreq>daily</changefreq><modified>2023-01-0{i}</modified></url>"
            for loc in locs
        )
        xml = (
            '<?xml version="1.0" encoding="UTF-8"?>\n'
            '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
            + urls_xml
            + "\n</urlset>"
        )
        rows.append(
            {
                "url": child,
                "warc_ts": _EPOCH,
                "html": xml.encode("utf-8"),
                "text": "",
                "lang": "en",
            }
        )
    return rows


# -------------------------------------------------------------- DataFrames --


def synth_pages_local(
    n_pages: int, n_hosts: int = 10, with_sitemaps: bool = True,
    fanout: int = 2, extra_paras: int = 0, with_robots: bool = False,
    rate_limit_host: int | None = None,
):
    """Small-scale corpus as a list of dicts (for pytest + the oracle)."""
    layout = CorpusLayout.build(n_pages, n_hosts, fanout, extra_paras)
    rows = [gen_page_row(i, layout, rate_limit_host) for i in range(n_pages)]
    extra = []
    if with_sitemaps:
        extra.extend(sitemap_pages(layout))
    if with_robots:
        extra.extend(robots_txt_pages(layout))
    if rate_limit_host is not None:
        for r in extra:
            r.setdefault("status_code", 200)
    rows.extend(extra)
    return layout, rows


def synth_pages_df(
    spark, n_pages: int, n_hosts: int = 10, with_sitemaps: bool = True,
    fanout: int = 2, extra_paras: int = 0, with_robots: bool = False,
    rate_limit_host: int | None = None, with_status_errors: bool = False,
):
    """Distributed corpus: spark.range → mapInPandas, no driver blowup.

    ``rate_limit_host`` adds the optional ``status_code`` column (as a
    real WARC-derived corpus carries) with deterministic 429 rows — the
    adaptive-backoff exercise. ``with_status_errors`` instead applies
    the corpus-wide :func:`status_of` model (~4.4% 429/404) for
    bench-scale runs. Without either the schema is exactly PAGES.
    """
    import pandas as pd

    from pyspark.sql.types import IntegerType, StructField, StructType

    from sparkcrawler.schemas import PAGES

    layout = CorpusLayout.build(n_pages, n_hosts, fanout, extra_paras)
    has_status = rate_limit_host is not None or with_status_errors
    schema = PAGES
    if has_status:
        # fresh StructType — StructType.add would MUTATE the shared
        # PAGES instance and poison every later schema-less corpus
        schema = StructType(
            list(PAGES.fields) + [StructField("status_code", IntegerType(), True)]
        )

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for batch in batches:
            rows = [
                gen_page_row(int(i), layout, rate_limit_host,
                             with_status_errors)
                for i in batch["id"]
            ]
            yield pd.DataFrame(rows)

    parallelism = spark.sparkContext.defaultParallelism
    df = spark.range(0, n_pages, numPartitions=parallelism).mapInPandas(
        gen, schema=schema
    )
    extra_rows: list[dict] = []
    if with_sitemaps:
        extra_rows.extend(sitemap_pages(layout))
    if with_robots:
        extra_rows.extend(robots_txt_pages(layout))
    if extra_rows:
        if has_status:
            for r in extra_rows:
                r.setdefault("status_code", 200)
        df = df.unionByName(spark.createDataFrame(extra_rows, schema))
    return layout, df


def robots_df(spark, layout: CorpusLayout):
    from sparkcrawler.schemas import ROBOTS_SCHEMA, local_frame

    return local_frame(spark, robots_rows(layout), ROBOTS_SCHEMA)
