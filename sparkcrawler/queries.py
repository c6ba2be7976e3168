"""The crawl-output query catalog behind ``__spark_entry__.queries()``
and ``oracle_sql()``.

Each entry pairs a Spark DataFrame builder with a DuckDB SQL oracle
that reads the very same files, so the check is rows + schema + values
over the crawl engine's own output:

- ``crawl_visits_by_depth``, ``crawl_lineage_by_round`` and
  ``crawl_pages_text`` read a demo crawl committed to a fixed path;
- ``pages_outdegree_hist`` checks the link-extraction UDF against the
  pure-Python extractor's histogram;
- ``robots_parse_dim`` checks the robots.txt parser UDF against the
  same fields computed parametrically in SQL.

Alignment rules (the driver hashes values after sorting columns by
name): every computed column is aliased identically on both sides,
ratios are rounded to 4dp, and DuckDB integer sums are cast to BIGINT
to match Spark's long.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F


@dataclass(frozen=True)
class QuerySpec:
    spark: Callable[[SparkSession, str], DataFrame]
    sql: str  # DuckDB oracle (tables pre-registered as views)


# Explicit schema of the driver's nation table: the scan skips
# driver-side footer/schema inference (matches the parquet bit-for-bit).
_NATION_DDL = "n_nationkey int, n_name string, n_regionkey int"


def robots_parse_dim(spark, sf_dir):
    """robots.txt content → dimension parse (reference downloader.py:24-44
    Protego semantics: UA-* groups, comments, empty Disallow, file-global
    Sitemap lines). The robots bodies are built deterministically per
    nation row, the REAL parser UDF extracts the fields, and the oracle
    computes the same fields parametrically — a mismatch means the
    parser broke a contract."""
    from sparkcrawler.operators.robots import parse_robots_udf

    nation = spark.read.schema(_NATION_DDL).parquet(f"{sf_dir}/nation.parquet")
    key = F.col("n_nationkey")
    ks = key.cast("string")
    host = F.concat(F.lit("nation"), ks, F.lit(".example"))
    v = key % 4
    text = (
        F.when(
            v == 0,
            F.concat_ws(
                "\n",
                F.lit("User-agent: *"),
                F.lit("Disallow: /private/  # keep out"),
                F.lit("Allow: /private/open/"),
                F.concat(F.lit("Disallow: /tmp"), ks, F.lit("/")),
                F.concat(F.lit("Crawl-delay: "), (1 + key % 5).cast("string")),
                F.concat(F.lit("Sitemap: https://"), host, F.lit("/sm.xml")),
            ),
        )
        .when(
            v == 1,
            F.concat_ws(
                "\n",
                F.lit("# comment line"),
                F.lit("User-Agent: *"),
                F.concat(F.lit("Disallow: /a"), ks, F.lit("/")),
                F.lit("Disallow: /*.zip$"),
                F.lit(""),
                F.lit("User-agent: googlebot"),
                F.lit("Disallow: /"),
            ),
        )
        .when(
            v == 2,
            F.concat_ws(
                "\n",
                F.lit("User-agent: *"),
                F.lit("Disallow:"),
                F.lit("Crawl-delay: 1.5"),
                F.lit("Request-rate: 1/5"),
            ),
        )
        .otherwise(
            F.concat_ws(
                "\n", F.lit("User-agent: badbot"), F.lit("Disallow: /")
            )
        )
    )
    parsed = nation.select(
        host.alias("host"),
        parse_robots_udf(text.cast("binary")).alias("p"),
    )
    return parsed.select(
        "host",
        F.size("p.disallow_prefixes").alias("n_disallow"),
        F.concat_ws(",", "p.disallow_prefixes").alias("disallow_csv"),
        # the full Allow/Disallow match list, longest-pattern-first —
        # pins the Protego rule compilation (wildcards become regexes)
        F.size("p.rules").alias("n_rules"),
        F.get(F.col("p.rules"), 0).getField("regex").alias("rule_1_regex"),
        F.get(F.col("p.rules"), 0).getField("allow").alias("rule_1_allow"),
        F.col("p.crawl_delay").alias("crawl_delay"),
        F.round("p.request_rate", 4).alias("request_rate"),
        F.get("p.sitemap_urls", 0).alias("sitemap_1"),
    ).orderBy("host")


ROBOTS_PARSE_SQL = """
SELECT 'nation' || CAST(n_nationkey AS VARCHAR) || '.example' AS host,
       CAST(CASE n_nationkey % 4 WHEN 0 THEN 2 WHEN 1 THEN 2 ELSE 0 END
            AS INTEGER) AS n_disallow,
       CASE n_nationkey % 4
            WHEN 0 THEN '/private/,/tmp' || CAST(n_nationkey AS VARCHAR) || '/'
            WHEN 1 THEN '/a' || CAST(n_nationkey AS VARCHAR) || '/,/*.zip$'
            ELSE '' END AS disallow_csv,
       CAST(CASE n_nationkey % 4 WHEN 0 THEN 3 WHEN 1 THEN 2 ELSE 0 END
            AS INTEGER) AS n_rules,
       CASE n_nationkey % 4
            WHEN 0 THEN '^/private/open/'
            WHEN 1 THEN '^/.*\\.zip$'
            ELSE NULL END AS rule_1_regex,
       CASE n_nationkey % 4
            WHEN 0 THEN TRUE WHEN 1 THEN FALSE ELSE NULL END AS rule_1_allow,
       CASE n_nationkey % 4
            WHEN 0 THEN CAST(1 + n_nationkey % 5 AS DOUBLE)
            WHEN 2 THEN 1.5 ELSE NULL END AS crawl_delay,
       CASE n_nationkey % 4 WHEN 2 THEN CAST(0.2 AS DOUBLE)
            ELSE NULL END AS request_rate,
       CASE n_nationkey % 4
            WHEN 0 THEN 'https://nation' || CAST(n_nationkey AS VARCHAR)
                        || '.example/sm.xml'
            ELSE NULL END AS sitemap_1
FROM nation ORDER BY host
"""


# --------------------------------------------------------------------------
# Crawl-engine queries. The demo crawl writes to a FIXED, versioned path
# so DuckDB can read the very same parquet the Spark queries read —
# turning the crawl queries into real rows+schema+hash oracle checks
# (the iterative BFS itself has no SQL analog; the oracle verifies the
# analytical reads over its committed output byte-for-byte).
# --------------------------------------------------------------------------

def _demo_version() -> str:
    """Cache key for the demo-crawl parquet: a content hash of every
    crawl-relevant source module plus the demo parameters. A logic
    change in any of these modules changes the key, so the crawl
    re-runs and a stale cache can never satisfy the oracles (a
    hand-bumped version constant could silently be forgotten)."""
    import hashlib

    import sparkcrawler.functions.extract as _ex
    import sparkcrawler.functions.urlnorm as _un
    import sparkcrawler.operators.politeness as _pol
    import sparkcrawler.operators.robots as _rob
    import sparkcrawler.operators.seen as _seen
    import sparkcrawler.plans.crawl as _c
    import sparkcrawler.plans.round as _r
    import sparkcrawler.schemas as _sch
    import sparkcrawler.sources.synth as _s

    h = hashlib.md5()
    for mod in (_c, _r, _s, _pol, _rob, _seen, _ex, _un, _sch):
        with open(mod.__file__, "rb") as fh:
            h.update(fh.read())
    h.update(b"demo:pages=150,hosts=5,max_pages=60,seed=h0p0")
    return h.hexdigest()[:10]


_DEMO_ROOT = "/tmp/sparkcrawler_demo"
# The PUBLIC path segment is PINNED, not derived from _demo_version():
# the DuckDB oracle texts embed these paths verbatim, so a crawl-module
# edit that renamed the dir would change the oracle_sql() TEXT of every
# crawl-family query mid-round — which an external fingerprint check
# reads as a changed oracle. The freshness property the name hash used
# to carry now travels INSIDE the dir: builders write a _VERSION marker
# holding the current _demo_version() and accessors rebuild on any
# mismatch, so a stale cache still can never satisfy the oracles.
_DEMO_NAME = "b34fdeb6b9"  # oracle texts fingerprinted with this name
DEMO_DIR = f"{_DEMO_ROOT}/crawl_{_DEMO_NAME}"
_DEMO_CRAWL = f"{DEMO_DIR}/crawl"
_DEMO_CORPUS = f"{DEMO_DIR}/corpus"
_OUTDEG_DIR = f"{_DEMO_ROOT}/outdeg_{_DEMO_NAME}"


def _demo_stale(dir_path: str) -> bool:
    """True when ``dir_path`` is missing, unpublished, or was built by
    a different crawl-source version than the current one."""
    if not os.path.exists(os.path.join(dir_path, "_READY")):
        return True
    try:
        with open(os.path.join(dir_path, "_VERSION")) as fh:
            return fh.read().strip() != _demo_version()
    except OSError:
        return True


def _build_dir(prefix: str) -> str:
    """A fresh build dir on the destination filesystem: a cross-device
    TMPDIR would make the publish rename fail with EXDEV."""
    os.makedirs(_DEMO_ROOT, exist_ok=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_DEMO_ROOT)


def _publish(tmp: str, dest: str) -> None:
    """Mark the finished build ``tmp`` with the current version and
    rename it onto ``dest``. A stale ``dest`` is cleared first, but only
    while it is still stale: a fresh build that a concurrent process
    just published (and may be reading) is never deleted — the rename
    then fails and the lost-race branch reuses it."""
    with open(os.path.join(tmp, "_VERSION"), "w") as fh:
        fh.write(_demo_version())
    with open(os.path.join(tmp, "_READY"), "w") as fh:
        fh.write("ok")  # marker travels inside the atomic rename
    if _demo_stale(dest):
        shutil.rmtree(dest, ignore_errors=True)
    try:
        os.rename(tmp, dest)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if _demo_stale(dest):
            raise  # not a lost race — surface the real error
        # lost the race: reuse the published build


def _demo_crawl_dir(spark) -> str:
    """Run the flagship crawl once over the deterministic synthetic
    corpus (seed 42 → bit-stable output) into the fixed demo path; both
    the Spark queries and the DuckDB oracles read these files. Built
    atomically (tmp dir + rename) so concurrent callers are safe."""
    if _demo_stale(DEMO_DIR):
        from sparkcrawler.plans.crawl import CrawlConfig, crawl
        from sparkcrawler.sources.synth import page_url, robots_df, synth_pages_df

        layout, pages = synth_pages_df(spark, 150, 5)
        pages = pages.persist()
        tmp = _build_dir("sc_demo_build_")
        crawl(
            spark, pages, robots_df(spark, layout), [page_url(0, 0)],
            os.path.join(tmp, "crawl"), run_id="demo",
            config=CrawlConfig(max_pages=60),
        )
        pages.coalesce(4).write.mode("overwrite").parquet(
            os.path.join(tmp, "corpus")
        )
        pages.unpersist()
        _publish(tmp, DEMO_DIR)
    return _DEMO_CRAWL


def crawl_visits_by_depth(spark, sf_dir):
    """BFS crawl over the synthetic web; visits per depth × status."""
    from sparkcrawler.plans.crawl import read_crawl_log

    log = read_crawl_log(spark, _demo_crawl_dir(spark))
    return (
        log.groupBy("depth", "crawl_status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("n_links"), 4).alias("avg_links"),
        )
        .orderBy("depth", "crawl_status")
    )


VISITS_SQL = f"""
SELECT depth, crawl_status, count(*) AS n, round(avg(n_links), 4) AS avg_links
FROM read_parquet('{_DEMO_CRAWL}/crawl_log/*/*.parquet')
GROUP BY depth, crawl_status ORDER BY depth, crawl_status
"""


def crawl_lineage_by_round(spark, sf_dir):
    from sparkcrawler.plans.crawl import read_lineage

    lin = read_lineage(spark, _demo_crawl_dir(spark))
    return (
        lin.groupBy("round")
        .agg(
            F.sum("frontier_in").alias("frontier_in"),
            F.sum("fetched").alias("fetched"),
            F.sum("deduped").alias("deduped"),
            F.sum("newly_discovered").alias("newly_discovered"),
        )
        .orderBy("round")
    )


LINEAGE_SQL = f"""
SELECT round,
       CAST(sum(frontier_in) AS BIGINT) AS frontier_in,
       CAST(sum(fetched) AS BIGINT) AS fetched,
       CAST(sum(deduped) AS BIGINT) AS deduped,
       CAST(sum(newly_discovered) AS BIGINT) AS newly_discovered
FROM read_parquet('{_DEMO_CRAWL}/lineage/*/*.parquet')
GROUP BY round ORDER BY round
"""


def crawl_pages_text(spark, sf_dir):
    """Read-side parity with the reference's ``SELECT * FROM urls``
    including the content BLOB (reference data_conn.py:11-16): each
    crawled URL joined back to its corpus row — the page text is
    recoverable per URL (md5 proves byte identity across engines)."""
    from sparkcrawler.plans.crawl import read_crawl_pages

    out = _demo_crawl_dir(spark)
    corpus = spark.read.parquet(_DEMO_CORPUS)
    joined = read_crawl_pages(spark, out, corpus)
    return joined.select(
        "url",
        "depth",
        "crawl_status",
        F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")).alias("text_md5"),
        "lang",
    ).orderBy("url")


PAGES_TEXT_SQL = f"""
SELECT l.url, l.depth, l.crawl_status,
       md5(coalesce(c.text, '')) AS text_md5, c.lang
FROM read_parquet('{_DEMO_CRAWL}/crawl_log/*/*.parquet') l
LEFT JOIN read_parquet('{_DEMO_CORPUS}/*.parquet') c ON l.url = c.url
ORDER BY l.url
"""


def _outdegree_expected_dir() -> str:
    """Materialize the EXPECTED out-degree histogram, computed entirely
    by the pure-Python extractor (``extract_links_py`` — the same code
    the crawl oracle trusts) over the local corpus generator — so the
    DuckDB oracle reads a result the Spark UDF never touched. Atomic
    build (tmp dir + rename), content-hash versioned like the demo
    crawl."""
    from urllib.parse import urlparse

    if _demo_stale(_OUTDEG_DIR):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from sparkcrawler.functions.extract import extract_links_py
        from sparkcrawler.sources.synth import synth_pages_local

        _, rows = synth_pages_local(150, 5, with_sitemaps=False)
        hist: dict[int, int] = {}
        for r in rows:
            host = urlparse(r["url"]).hostname
            deg = sum(
                1
                for link in extract_links_py(r["url"], r["html"])
                if urlparse(link).hostname == host
            )
            hist[deg] = hist.get(deg, 0) + 1
        tmp = _build_dir("sc_outdeg_build_")
        pq.write_table(
            pa.table(
                {
                    "degree": pa.array(sorted(hist), pa.int32()),
                    "n_pages": pa.array(
                        [hist[d] for d in sorted(hist)], pa.int64()
                    ),
                }
            ),
            os.path.join(tmp, "part-0.parquet"),
        )
        _publish(tmp, _OUTDEG_DIR)
    return _OUTDEG_DIR


def pages_outdegree_hist(spark, sf_dir):
    """The crawl's extract UDF exercised standalone: out-degree
    histogram of the synthetic corpus (same-host links only). The
    oracle is the pure-Python extractor's histogram
    (:func:`_outdegree_expected_dir`) — a genuine differential check of
    the Arrow UDF against the reference-parity extractor."""
    from sparkcrawler.functions.extract import extract_page_udf
    from sparkcrawler.sources.synth import synth_pages_df

    _outdegree_expected_dir()
    _, pages = synth_pages_df(spark, 150, 5, with_sitemaps=False)
    deg = pages.select(
        F.size(
            F.filter(
                extract_page_udf("url", "html").links,
                lambda x: F.parse_url(x, F.lit("HOST"))
                == F.parse_url(F.col("url"), F.lit("HOST")),
            )
        ).alias("degree")
    )
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .orderBy("degree")
    )


OUTDEG_SQL = f"""
SELECT degree, n_pages
FROM read_parquet('{_OUTDEG_DIR}/part-0.parquet')
ORDER BY degree
"""


CATALOG: dict[str, QuerySpec] = {
    # the BFS itself has no SQL analog, but its committed parquet is
    # oracle-checked (DuckDB reads the same files)
    "crawl_visits_by_depth": QuerySpec(crawl_visits_by_depth, VISITS_SQL),
    "crawl_lineage_by_round": QuerySpec(crawl_lineage_by_round, LINEAGE_SQL),
    "crawl_pages_text": QuerySpec(crawl_pages_text, PAGES_TEXT_SQL),
    # link extraction differential: Spark Arrow-UDF histogram vs the
    # pure-Python extractor's histogram materialized to parquet
    "pages_outdegree_hist": QuerySpec(pages_outdegree_hist, OUTDEG_SQL),
    "robots_parse_dim": QuerySpec(robots_parse_dim, ROBOTS_PARSE_SQL),
}
