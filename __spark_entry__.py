"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship crawl (BFS frontier over the deterministic
synthetic web corpus) plus a read of the sf0.001 testdata;
``queries``/``oracle_sql`` expose the crawl-output query catalog
(``sparkcrawler.queries.CATALOG``, five queries) for the DuckDB
differential check.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sparkcrawler.queries import CATALOG, _demo_crawl_dir  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: crawl the synthetic web corpus (robots gate, politeness
    window, Arrow-UDF extraction, anti-join seen dedup, snapshot
    commits), then summarize the crawl log per depth, tagged with the
    sf0.001 document count to tie in the driver testdata."""
    import tempfile

    from sparkcrawler.plans.crawl import CrawlConfig, crawl, read_crawl_log
    from sparkcrawler.sources.synth import page_url, robots_df, synth_pages_df

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n_docs = docs.count()

    # materialize the fixed demo-crawl dir the crawl-query DuckDB
    # oracles read, so it exists whichever order the driver evaluates
    _demo_crawl_dir(spark)

    layout, pages = synth_pages_df(spark, 150, 5)
    pages = pages.persist()
    out = tempfile.mkdtemp(prefix="sc_entry_")
    crawl(
        spark, pages, robots_df(spark, layout), [page_url(0, 0)], out,
        run_id="entry", config=CrawlConfig(max_pages=60),
    )
    pages.unpersist()
    log = read_crawl_log(spark, out)
    return (
        log.groupBy("depth", "crawl_status")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.sum(F.coalesce(F.col("n_links"), F.lit(0))).alias("links_found"),
        )
        .withColumn("corpus_docs_sf0001", F.lit(n_docs))
        .orderBy("depth", "crawl_status")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The crawl-output catalog, in ``CATALOG`` order."""
    return {name: spec.spark for name, spec in CATALOG.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB SQL over the same files each catalog query reads."""
    return {name: spec.sql.strip() for name, spec in CATALOG.items()}
