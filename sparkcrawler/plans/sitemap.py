"""Sitemap priming: the reference's entry point 2 (SURVEY.md §3.2).

The reference walks a sitemap tree recursively before the crawl starts
(reference simple_crawler/mapper.py:81-104 recurse_sitemap), with these
pinned behaviors we preserve:

- sitemap source selection: robots.txt ``Sitemap:`` entries first
  (first one wins), else ``/sitemap-index.xml``, else ``/sitemap.xml``,
  else fall back to just the seed URL (mapper.py:130-159, main.py:33);
- a ``<sitemapindex>`` document explodes into its child ``<loc>`` urls,
  which are fetched and recursed (mapper.py:55-60, :86-93);
- a urlset document contributes ONLY ITS FIRST ``<url>`` element's
  ``loc/priority/changefreq/modified`` fields (mapper.py:70 ``find``),
  and the loc is enqueued into the crawl frontier (mapper.py:99);
- detail rows land in the ``sitemaps`` table
  (reference config/sqlite.yml:60-95).

Spark shape: iterative BFS in the driver over a ``sitemap_frontier``
DataFrame — join vs the pages corpus, classify via an Arrow UDF,
explode children back into the frontier, collect detail rows. The tree
per host is tiny relative to the crawl, so each level is one small job.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

from sparkcrawler import schemas
from sparkcrawler.functions.urlnorm import canonicalize, canonicalize_udf, host_of
from sparkcrawler.plans.round import FRONTIER_COLS

_PARSE_SCHEMA = StructType(
    [
        StructField("kind", StringType()),           # index | urlset | error
        StructField("children", ArrayType(StringType())),
        StructField("loc", StringType()),
        StructField("priority", StringType()),
        StructField("changefreq", StringType()),
        StructField("modified", StringType()),
    ]
)


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1].lower()


def parse_sitemap_py(content) -> dict:
    """Classify + extract one sitemap document (reference quirks kept)."""
    out = {
        "kind": "error", "children": None, "loc": None,
        "priority": None, "changefreq": None, "modified": None,
    }
    if content is None:
        return out
    if isinstance(content, (bytes, bytearray, memoryview)):
        content = bytes(content).decode("utf-8", errors="replace")
    try:
        root = ET.fromstring(content)
    except ET.ParseError:
        return out
    if _local(root.tag) == "sitemapindex":
        # all <loc> texts under the index (reference mapper.py:55-60)
        out["kind"] = "index"
        out["children"] = [
            (el.text or "").strip()
            for el in root.iter()
            if _local(el.tag) == "loc" and el.text
        ]
        return out
    # urlset (or anything else): FIRST <url> element only (mapper.py:70)
    out["kind"] = "urlset"
    first_url = next((el for el in root.iter() if _local(el.tag) == "url"), None)
    if first_url is not None:
        for child in first_url:
            name = _local(child.tag)
            if name in ("loc", "priority", "changefreq", "modified"):
                out[name] = (child.text or "").strip()
    return out


@F.pandas_udf(_PARSE_SCHEMA)
def parse_sitemap_udf(html: pd.Series) -> pd.DataFrame:
    return pd.DataFrame([parse_sitemap_py(h) for h in html])


def sitemap_candidates(robots_row: dict | None, seed_url: str) -> list[str]:
    """Ordered sitemap source candidates (reference mapper.py:137-154)."""
    cu = canonicalize(None, seed_url)
    host = host_of(cu)
    scheme = cu.split(":", 1)[0] if cu else "https"
    cands = []
    if robots_row:
        # only the FIRST robots `Sitemap:` entry is tried before the two
        # fallback paths (reference mapper.py:139-153 uses sitemaps[0])
        listed = robots_row.get("sitemap_urls") or []
        if listed:
            cands.append(listed[0])
    cands.append(f"{scheme}://{host}/sitemap-index.xml")
    cands.append(f"{scheme}://{host}/sitemap.xml")
    # dedupe, keep order
    seen, out = set(), []
    for c in cands:
        if c not in seen:
            seen.add(c)
            out.append(c)
    return out


def crawl_with_priming(
    spark: SparkSession,
    pages: DataFrame,
    robots: DataFrame | None,
    seed_url: str,
    out_dir: str,
    run_id: str = "run_0",
    config=None,
):
    """Reference entry point 1+2 combined (main.py:26-48 prime_queue →
    event loop): try sitemap priming first, fall back to the bare seed
    (main.py:33), persist the sitemaps table, run the crawl.

    ``robots=None`` builds the dimension from the corpus' own
    ``robots.txt`` rows (the reference's per-host robots fetch,
    downloader.py:24-27) via :func:`robots_from_corpus` — the path a
    user pointing the engine at raw Common-Crawl-style data takes."""
    import os

    from sparkcrawler.operators.robots import robots_from_corpus
    from sparkcrawler.plans.crawl import crawl

    own_robots = None
    if robots is None:
        # parsed once, materialized: the dim is joined (broadcast) every
        # round and collected by the priming probe — don't re-parse
        robots = own_robots = robots_from_corpus(pages).persist()

    try:
        extra, sitemaps_df = prime_from_sitemap(
            spark, pages, robots, seed_url, run_id
        )
        if sitemaps_df is not None:
            sitemaps_df.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(out_dir, "sitemaps")
            )
        return crawl(
            spark, pages, robots, [seed_url], out_dir,
            run_id=run_id, config=config, extra_frontier=extra,
        )
    finally:
        # release the dim we pinned ourselves: a long-lived session
        # running many priming crawls must not accrete one persisted
        # robots table per call
        if own_robots is not None:
            own_robots.unpersist()


def sitemap_index_edges(sitemaps_df: DataFrame) -> DataFrame:
    """Group child sitemap/page urls under their parent index
    (reference A5: mapper.py:58,96 ``sitemap_indexes[index].append``;
    dumped as sitemap_indexes.json by on_map_success, mapper.py:117-127)."""
    return sitemaps_df.groupBy("index_url").agg(
        F.sort_array(F.collect_list("url")).alias("child_urls"),
        F.count(F.lit(1)).alias("n_children"),
    )


def prime_from_sitemap(
    spark: SparkSession,
    pages: DataFrame,
    robots: DataFrame,
    seed_url: str,
    run_id: str,
    max_depth: int = 5,
) -> tuple[DataFrame | None, DataFrame | None]:
    """Walk the seed host's sitemap tree.

    Returns ``(extra_frontier, sitemaps_df)`` — both None when no
    sitemap exists (caller falls back to the bare seed, reference
    main.py:33). Frontier priority for sitemap-seeded URLs is
    ``1 - <sitemap priority>`` (sitemap 0.8 → 0.2 → crawled earlier),
    defaulting to 0.5 — between the seed (0.0) and discovered links (1.0).
    """
    host = host_of(canonicalize(None, seed_url))
    rob_row = robots.where(F.col("host") == host).collect()
    rob = rob_row[0].asDict() if rob_row else None

    corpus = pages.select("url", "html")
    # one IN-list probe scan for all ≤3 candidates (not a job per candidate)
    cands = sitemap_candidates(rob, seed_url)
    present = {
        r[0] for r in corpus.where(F.col("url").isin(cands)).select("url").collect()
    }
    source = next((c for c in cands if c in present), None)
    if source is None:
        return None, None

    frontier = schemas.local_frame(
        spark, [(source, "root")], "url string, index_url string"
    )
    detail_rows: list[tuple] = []
    frontier_rows: list[tuple] = []
    depth = 0
    while depth < max_depth:
        parsed = (
            frontier.join(corpus, "url", "left")
            .withColumn("p", parse_sitemap_udf(F.col("html")))
            .select("url", "index_url", "p.*")
            .collect()
        )
        children: list[tuple] = []
        for row in parsed:
            if row["kind"] == "index" and row["children"]:
                for child in row["children"]:
                    children.append((child, row["url"]))
            else:
                status = "Success" if row["loc"] else None
                detail_rows.append(
                    (
                        run_id, seed_url, row["url"], row["index_url"],
                        row["loc"], row["priority"], row["changefreq"],
                        row["modified"], status,
                    )
                )
                if row["loc"]:
                    prio = 0.5
                    try:
                        prio = max(0.0, min(1.0, 1.0 - float(row["priority"])))
                    except (TypeError, ValueError):
                        pass
                    frontier_rows.append((row["loc"], prio))
        if not children:
            break
        frontier = schemas.local_frame(
            spark, children, "url string, index_url string"
        ).dropDuplicates(["url"])
        depth += 1

    sitemaps_df = schemas.local_frame(spark, detail_rows, schemas.SITEMAPS_SCHEMA)
    if not frontier_rows:
        return None, sitemaps_df

    extra = (
        schemas.local_frame(spark, frontier_rows, "url string, priority double")
        .dropDuplicates(["url"])
        .withColumn(
            "url", canonicalize_udf(F.lit(None).cast("string"), F.col("url"))
        )
        .where(F.col("url").isNotNull())
        .withColumn("url_hash", F.xxhash64("url"))
        .withColumn(
            "host",
            F.coalesce(F.parse_url(F.col("url"), F.lit("AUTHORITY")), F.lit("")),
        )
        .withColumn("depth", F.lit(0).cast("int"))
        .withColumn("round", F.lit(0).cast("int"))
        .withColumn("attempt", F.lit(0).cast("int"))
        .select(*FRONTIER_COLS)
    )
    return extra, sitemaps_df
