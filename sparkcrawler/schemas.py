"""Explicit StructType schemas for every engine table.

The reference declares its SQLite schemas in YAML
(reference: config/sqlite.yml:4-95, config/configuration.py:80-101); we
declare Spark schemas in code so writes and resume reads are
schema-stable. FIXTURES.md §1-2 is the authoritative shape list.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# -- crawl status enum (mirrors reference cache.py:13-21 CrawlStatus) --------
ERROR = -2
DISALLOWED = -1
FRONTIER = 0
DOWNLOADED = 1
PARSED = 2
CLOSED = 3

# The web corpus the crawler "fetches" from (BASELINE.json input_hint).
PAGES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# Frontier: the per-round replacement for the Redis `to_visit` list
# (reference cache.py:86,96). `depth` = BFS discovery round, `attempt`
# supports bounded refetch (reference main.py:71 retries loop).
FRONTIER_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("url_hash", LongType(), False),
        StructField("host", StringType(), False),
        StructField("depth", IntegerType(), False),
        StructField("priority", DoubleType(), False),
        StructField("round", IntegerType(), False),
        StructField("attempt", IntegerType(), False),
    ]
)

# On-disk frontier snapshot: FRONTIER_SCHEMA + the is_new seen-set tag.
# Passed explicitly to every frontier read so the driver loop never pays
# a per-round schema-inference footer read (fresh StructType — never
# StructType.add on a shared instance, which mutates it).
FRONTIER_SNAPSHOT_SCHEMA = StructType(
    list(FRONTIER_SCHEMA.fields) + [StructField("is_new", BooleanType(), True)]
)

# Per-URL crawl outcome log: replacement for the `urls:<url>` Redis hash +
# SQLite `urls` table (reference cache.py:61-79, config/sqlite.yml:29-58).
CRAWL_LOG_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("round", IntegerType(), False),
        StructField("url", StringType(), False),
        StructField("url_hash", LongType(), False),
        StructField("host", StringType(), False),
        StructField("depth", IntegerType(), False),
        StructField("crawl_status", IntegerType(), False),
        StructField("status_code", IntegerType(), False),
        StructField("links", ArrayType(StringType()), True),
        StructField("n_links", IntegerType(), True),
        StructField("text_len", LongType(), True),
    ]
)

# Per-partition per-round lineage counters (north-rule requirement; the
# reference only logs counts, main.py:121-123).
LINEAGE_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("round", IntegerType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("frontier_in", LongType(), False),
        StructField("fetched", LongType(), False),
        StructField("deduped", LongType(), False),
        StructField("newly_discovered", LongType(), False),
    ]
)

# robots.txt dimension (reference downloader.py:24-44 fetches + Protego-
# parses per URL; we parse once into a broadcastable dim table).
ROBOTS_SCHEMA = StructType(
    [
        StructField("host", StringType(), False),
        StructField("disallow_prefixes", ArrayType(StringType()), True),
        StructField("crawl_delay", DoubleType(), True),
        StructField("request_rate", DoubleType(), True),
        StructField("sitemap_urls", ArrayType(StringType()), True),
    ]
)

# sitemaps detail table (mirror of reference config/sqlite.yml:60-95).
SITEMAPS_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("seed_url", StringType(), True),
        StructField("url", StringType(), False),
        StructField("index_url", StringType(), True),
        StructField("loc", StringType(), True),
        StructField("priority", StringType(), True),
        StructField("frequency", StringType(), True),
        StructField("modified", StringType(), True),
        StructField("status", StringType(), True),
    ]
)

# run event log (mirror of reference config/sqlite.yml:4-27,
# data.py:117-140 start_run/complete_run).
RUNS_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("seed_url", StringType(), True),
        StructField("max_pages", IntegerType(), True),
        StructField("event", StringType(), False),
        StructField("event_time", TimestampType(), False),
    ]
)


def local_frame(spark, rows, schema):
    """``rows`` (dicts or tuples) as a DataFrame of exactly ``schema``
    (a ``StructType`` or a DDL string), built from a ``pyarrow.Table``.

    It plans as a ``LocalRelation``: its scans run in the JVM. The same
    rows passed to ``createDataFrame`` as a list plan as a ``LogicalRDD``
    over a PythonRDD of ``defaultParallelism`` partitions, even when the
    list is empty, so every scan of it starts that many Python tasks:
    about 0.3 s a wave on 4 local cores, whatever the row count."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    rows = [r if isinstance(r, dict) else dict(zip(schema.names, r)) for r in rows]
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)
