"""Test-only analytics catalog: TPC-H-style, event, text-dedup and
media queries over the driver-provided testdata star schema.

No crawl calls this module and the driver contract does not serve it:
``__spark_entry__`` serves the crawl-output catalog in
:mod:`sparkcrawler.queries`. ``tests/test_queries.py`` still checks
every entry of :data:`CATALOG` against its DuckDB oracle until later
stages delete these queries and, last, this module.

Alignment rules (the tests hash values after sorting columns by
name): every computed column is aliased identically on both sides;
doubles are rounded (2dp for money sums, 4dp for ratios) so
summation-order differences between engines vanish; DuckDB integer
sums are cast to BIGINT to match Spark's long; dates are emitted as
``yyyy-MM-dd`` strings; every ORDER BY under a LIMIT carries a unique
tiebreak column so the selected row *set* is deterministic.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from sparkcrawler.queries import QuerySpec

_SNAP_DIRS: set[str] = set()


def _cleanup_snap_dirs() -> None:
    for d in list(_SNAP_DIRS):
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_cleanup_snap_dirs)


def _snapshot(df: DataFrame) -> DataFrame:
    """Eagerly materialize a small intermediate to a temp parquet dir
    and read it back, so a plan that references it several times
    computes it ONCE per query invocation instead of once per subtree.
    Unlike ``persist``/``localCheckpoint`` this pins no executor
    storage (the ``no_persist_leak`` contract: every catalog query
    leaves storage empty), and unlike a cache it is recomputed from the
    parquet inputs on every invocation — nothing survives across runs.
    The dir is deleted at interpreter exit."""
    out = tempfile.mkdtemp(prefix="sc_q_snap_")
    _SNAP_DIRS.add(out)
    df.write.mode("overwrite").parquet(out)
    return df.sparkSession.read.parquet(out)


# Explicit schemas for the driver-provided testdata tables: a scan
# should never pay driver-side footer/schema inference per query — at
# 100 TB the footer listing alone is a distributed job, and even here
# it is 0.1-2s of py4j/driver latency on EVERY _t() call. Matches the
# parquet files bit-for-bit (generated from their arrow schemas).
_TESTDATA_DDL = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": "c_custkey bigint, c_name string, c_nationkey int, "
                "c_acctbal double, c_mktsegment string",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, "
                "s_acctbal double",
    "part": "p_partkey bigint, p_name string, p_brand string, "
            "p_type string, p_size int, p_retailprice double",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
              "o_totalprice double, o_orderdate timestamp_ntz, "
              "o_orderpriority string",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
                "l_linenumber int, l_quantity double, "
                "l_extendedprice double, l_discount double, l_tax double, "
                "l_returnflag string, l_linestatus string, "
                "l_shipdate timestamp_ntz",
    "events": "event_id bigint, ts timestamp_ntz, user_id bigint, "
              "event_type string, value double, props string",
    "documents": "doc_id bigint, text string, lang string, source string, "
                 "n_chars bigint",
}


# Tables whose per-row work dominates their byte size (text payloads
# feeding UDF-heavy or explode-heavy pipelines). Their scans are
# widened to the session's core count when the natural file split
# produces fewer tasks — at sandbox scale a 6 MB documents.parquet
# splits into 2 tasks (maxPartitionBytes=128m, openCostInBytes=4m), so
# every pre-exchange stage (gram explode, regex, Arrow pass) ran on 2
# of N cores. Scale-adaptive by construction: a corpus that already
# scans with >= defaultParallelism splits is returned untouched, so no
# full-corpus shuffle ever appears at real scale (guide §2.5/§6.1).
_WIDEN_TABLES = frozenset({"documents"})
# (sf_dir, table, parallelism) -> widen?  The natural-split probe
# (df.rdd.getNumPartitions()) costs ~0.1s of driver-side planning per
# call; the answer is a pure function of the on-disk file layout and
# the session core count, so it is computed once per table.
_WIDEN_CACHE: dict[tuple[str, str, int], bool] = {}


def _t(
    spark: SparkSession, sf_dir: str, name: str, wide: bool = True
) -> DataFrame:
    ddl = _TESTDATA_DDL.get(name)
    reader = spark.read.schema(ddl) if ddl else spark.read
    df = reader.parquet(f"{sf_dir}/{name}.parquet")
    if wide and name in _WIDEN_TABLES:
        par = spark.sparkContext.defaultParallelism
        key = (sf_dir, name, par)
        widen = _WIDEN_CACHE.get(key)
        if widen is None:
            widen = df.rdd.getNumPartitions() < par
            _WIDEN_CACHE[key] = widen
        if widen:
            df = df.repartition(par)
    return df


# --------------------------------------------------------------------------
# Relational core over the TPC-H-ish star schema
# --------------------------------------------------------------------------


def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: wide multi-agg groupBy — partial aggregation is
    map-side, one shuffle on the 2 group keys."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join + agg + deterministic top-10."""
    cust = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-06-01")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-06-01")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01'
  AND l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_region_revenue(spark, sf_dir):
    """TPC-H Q5 shape: 6-way join; small dims broadcast."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(sup),
            (li.l_suppkey == sup.s_suppkey)
            & (cust.c_nationkey == sup.s_nationkey),
        )
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("r_name", "n_name")
    )


Q5_SQL = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: correlated EXISTS → left-semi join."""
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def top3_customers_per_nation(spark, sf_dir):
    """Top-K per group: the politeness-budget window shape (P2)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.desc("c_acctbal"), F.col("c_custkey")
    )
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "n_name", "c_custkey", F.round("c_acctbal", 2).alias("acctbal"), "rnk"
        )
        .orderBy("n_name", "rnk")
    )


TOP3_SQL = """
SELECT n_name, c_custkey, round(c_acctbal, 2) AS acctbal,
       CAST(row_number() OVER (PARTITION BY n_name
            ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rnk
FROM customer JOIN nation ON c_nationkey = n_nationkey
QUALIFY rnk <= 3
ORDER BY n_name, rnk
"""


def customers_without_orders(spark, sf_dir):
    """Anti-join — the URL-seen dedup shape (J1/J5) on relational data."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


ANTI_SQL = """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


def events_sessionized(spark, sf_dir):
    """Sessionization: lag + gap>30min cumulative flags (streaming-ish
    semantics done relationally; A4/round analog)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet ts is TIMESTAMP_NTZ; session tz is UTC so the NTZ→TZ cast
    # is identity, matching DuckDB's naive-timestamp date_diff
    secs = F.col("ts").cast("timestamp").cast("long")
    gap = secs - F.lag(secs).over(w)
    return (
        ev.withColumn(
            "new_s",
            F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0)),
        )
        .groupBy("user_id")
        .agg(
            F.sum("new_s").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


SESSION_SQL = """
WITH g AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR date_diff('second', lag(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM g GROUP BY user_id ORDER BY user_id
"""


def events_daily(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("day", "event_type")
    )


DAILY_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
       count(*) AS n, round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2 ORDER BY day, event_type
"""


def monthly_order_growth(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )
    w = Window.orderBy("month")
    return monthly.withColumn("prev_n", F.lag("n_orders").over(w)).orderBy(
        "month"
    )


MONTHLY_SQL = """
WITH m AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
  FROM orders GROUP BY 1
)
SELECT month, n_orders, revenue,
       lag(n_orders) OVER (ORDER BY month) AS prev_n
FROM m ORDER BY month
"""


def part_brand_stats(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    return (
        part.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
            F.min("p_size").alias("min_size"),
            F.max("p_size").alias("max_size"),
        )
        .orderBy("p_brand")
    )


PART_SQL = """
SELECT p_brand, count(*) AS n_parts,
       round(avg(p_retailprice), 4) AS avg_price,
       min(p_size) AS min_size, max(p_size) AS max_size
FROM part GROUP BY p_brand ORDER BY p_brand
"""


# --------------------------------------------------------------------------
# Training-data pipeline ops over `documents`
# --------------------------------------------------------------------------


def _words_of(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).where(F.col("w") != "")


def _words(spark, sf_dir):
    return _words_of(_t(spark, sf_dir, "documents"))


def docs_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy keeping the min doc_id (J1 analog)."""
    docs = _t(spark, sf_dir, "documents", wide=False)
    return (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .orderBy("text_hash")
    )


DEDUP_SQL = """
SELECT md5(text) AS text_hash, count(*) AS n_copies,
       min(doc_id) AS keep_doc_id
FROM documents GROUP BY 1 ORDER BY text_hash
"""

# MinHash: k=64 permutations from ONE md5 per word. The word's 60-bit
# md5 prefix becomes an integer h (exact in both engines), and the i-th
# permutation is the classic (a_i·h + b_i) mod p universal hash with
# p = 2^31 − 1 — all multiplications stay below 2^63, so Spark and
# DuckDB compute bit-identical signatures with no overflow semantics in
# play. 16 bands × 4 rows for LSH (catch probability ≈0.89 at J=0.6).
_MINHASH_K = 64
_MINHASH_BANDS = 16
_MH_ROWS = _MINHASH_K // _MINHASH_BANDS
_MH_MOD = 2147483647  # 2^31 - 1
_MH_A = [(1103515245 * (i + 1)) % _MH_MOD for i in range(_MINHASH_K)]
_MH_B = [(12345 + 7919 * i) % _MH_MOD for i in range(_MINHASH_K)]

_MH_HM_SQL = (
    "('0x' || substr(md5(w), 1, 15))::BIGINT % 2147483647"
)


def _mh_words_sql(src: str = "documents") -> str:
    """Word→hash rows; ``src`` is any (doc_id, text) relation name."""
    return (
        "SELECT doc_id, " + _MH_HM_SQL + " AS hm FROM "
        f"(SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM {src}) "
        "WHERE w <> ''"
    )


def _mh_sig_sql(src: str = "documents") -> str:
    return (
        "SELECT doc_id, "
        + ", ".join(
            f"min((hm * {a} + {b}) % {_MH_MOD}) AS g{i}"
            for i, (a, b) in enumerate(zip(_MH_A, _MH_B))
        )
        + f" FROM ({_mh_words_sql(src)}) GROUP BY doc_id"
    )


_MH_WORDS_SQL = _mh_words_sql()
_MH_SIG_SQL = _mh_sig_sql()


def _minhash_sig_of(docs: DataFrame, source: str = "relational") -> DataFrame:
    """The shared k=64 signature table (doc_id, g0..g63) over any
    (doc_id, text) DataFrame.

    ``source`` picks the physical form: ``"relational"`` (explode words
    → groupBy min — the shape the DuckDB oracle mirrors term-for-term)
    or ``"arrow"`` (the zero-shuffle mapInPandas pass, identical values
    — proven by docs_minhash_arrow sharing the relational oracle). The
    LSH/Jaccard/cluster pipeline consumes the arrow form, so at corpus
    scale no per-word exploded rows ever cross a shuffle to build
    signatures."""
    if source == "arrow":
        return _minhash_sig_arrow_of(docs)
    # MinHash is set semantics: min over the doc's word MULTISET equals
    # min over its word SET, so dedup within the doc at the array level
    # (array_distinct, still inside the scan task — zero extra shuffle)
    # before paying md5+conv per row. Distinct words per doc is never
    # more than occurrences, so this only removes work (A/B: 1.62 vs
    # 1.96s at sf1.0). Values are bit-identical (min over the same set).
    words = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.filter(F.split("text", " "), lambda w: w != ""))
        ).alias("w"),
    )
    hm = (
        F.conv(F.substring(F.md5(F.col("w").cast("binary")), 1, 15), 16, 10)
        .cast("long") % _MH_MOD
    )
    words = words.select("doc_id", hm.alias("hm"))
    aggs = [
        F.min((F.col("hm") * F.lit(a) + F.lit(b)) % _MH_MOD).alias(f"g{i}")
        for i, (a, b) in enumerate(zip(_MH_A, _MH_B))
    ]
    return words.groupBy("doc_id").agg(*aggs)


def _minhash_sig(spark, sf_dir):
    return _minhash_sig_of(_t(spark, sf_dir, "documents"))


def _band_cols():
    """16 LSH band keys: md5 over each 4-value slice of the signature."""
    cols = []
    for j in range(_MINHASH_BANDS):
        parts = [
            F.col(f"g{4 * j + r}").cast("string") for r in range(_MH_ROWS)
        ]
        cols.append(F.substring(F.md5(F.concat_ws("-", *parts)), 1, 16))
    return cols


def _band_sql(j: int) -> str:
    parts = ", ".join(f"g{4 * j + r}" for r in range(_MH_ROWS))
    return f"substr(md5(concat_ws('-', {parts})), 1, 16)"


def docs_minhash(spark, sf_dir):
    """Word-level MinHash signature (k=64) — the shingle→minhash step of
    near-dup detection, emitted as one joined string per doc."""
    sig = _minhash_sig(spark, sf_dir)
    parts = [F.col(f"g{i}").cast("string") for i in range(_MINHASH_K)]
    return sig.select(
        "doc_id", F.concat_ws("-", *parts).alias("sig")
    ).orderBy("doc_id")


MINHASH_SQL = f"""
WITH sig AS ({_MH_SIG_SQL})
SELECT doc_id, concat_ws('-', {", ".join(f"g{i}" for i in range(_MINHASH_K))}) AS sig
FROM sig ORDER BY doc_id
"""


def _lsh_membership_of(docs: DataFrame, source: str = "relational") -> DataFrame:
    """(doc_id, band_id, band_key) — each doc lands in 16 LSH buckets."""
    sig = _minhash_sig_of(docs, source=source)
    return sig.select(
        "doc_id", F.posexplode(F.array(*_band_cols())).alias("band_id", "band_key")
    ).select("doc_id", (F.col("band_id") + 1).cast("int").alias("band_id"), "band_key")


def _lsh_membership(spark, sf_dir, source: str = "relational"):
    return _lsh_membership_of(_t(spark, sf_dir, "documents"), source=source)


def _lsh_member_sql(src: str = "documents") -> str:
    return (
        f"SELECT doc_id, CAST(generate_subscripts(bands, 1) AS INTEGER) AS band_id, "
        f"unnest(bands) AS band_key FROM ("
        f"SELECT doc_id, [{', '.join(_band_sql(j) for j in range(_MINHASH_BANDS))}] "
        f"AS bands FROM ({_mh_sig_sql(src)}))"
    )


_LSH_MEMBER_SQL = _lsh_member_sql()


def docs_lsh_buckets(spark, sf_dir):
    """LSH banding over the k=64 minhash signature: bucket = (band_id,
    band slice hash); buckets with >1 doc are the candidate near-dup
    groups — candidate generation is bucket-local, never all-pairs.
    Consumes the Arrow-pass signature (same values, no shuffle)."""
    return (
        _lsh_membership(spark, sf_dir, source="arrow")
        .groupBy("band_id", "band_key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("sample_doc"),
        )
        .where(F.col("n_docs") > 1)
        .orderBy("band_id", "band_key")
    )


LSH_SQL = f"""
SELECT band_id, band_key, count(*) AS n_docs, min(doc_id) AS sample_doc
FROM ({_LSH_MEMBER_SQL})
GROUP BY band_id, band_key HAVING count(*) > 1
ORDER BY band_id, band_key
"""


def _jaccard_pairs_of(
    docs: DataFrame, threshold: float = 0.6,
    max_bucket: int | None = None,
    source: str = "arrow",
) -> DataFrame:
    """Verified near-dup pairs (id_a < id_b, jaccard ≥ threshold) over
    any (doc_id, text) DataFrame. Candidates come from the LSH buckets
    (co-bucketed in ≥1 band) — the word self-join touches only
    candidate pairs, never all pairs.

    ``max_bucket`` (off by default, so the oracle contract is
    unchanged): skip LSH buckets holding more than this many docs
    before pairing. At corpus scale a template/boilerplate cluster
    makes some buckets near-complete graphs — candidate pairs grow
    quadratically in the bucket size (the synthetic corpus reproduces
    this: one ~2300-doc component at sf0.1 → 7M verified pairs). A
    production dedup caps hot buckets and routes their docs to exact
    dedup on a boilerplate-stripped key instead; the cap is one
    groupBy(count) + semi-join, shuffle-free beyond what banding
    already pays.

    Signatures feed in through the zero-shuffle Arrow pass by default
    (``source`` — see :func:`_minhash_sig_of`); values are identical to
    the relational form, so the DuckDB oracles are unchanged."""
    member = _lsh_membership_of(docs, source=source)
    if max_bucket is not None:
        small = (
            member.groupBy("band_id", "band_key")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") <= max_bucket)
            .select("band_id", "band_key")
        )
        member = member.join(small, ["band_id", "band_key"], "left_semi")
    a = member.alias("a")
    b = member.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    w = _words_of(docs).dropDuplicates(["doc_id", "w"])
    counts = w.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    wa = w.select(F.col("doc_id").alias("id_a"), "w")
    wb = w.select(F.col("doc_id").alias("_idb"), F.col("w").alias("w2"))
    inter = (
        pairs.join(wa, "id_a")
        .join(wb, (F.col("id_b") == F.col("_idb")) & (F.col("w") == F.col("w2")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("ninter"))
    )
    ca = counts.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    cb = counts.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    return (
        inter.join(ca, "id_a")
        .join(cb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("ninter") / (F.col("na") + F.col("nb") - F.col("ninter")), 4
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def docs_jaccard_pairs(spark, sf_dir):
    """Exact word-set Jaccard VERIFY step over LSH-bucket candidates —
    the scale-safe shape (see :func:`_jaccard_pairs_of`)."""
    return _jaccard_pairs_of(_t(spark, sf_dir, "documents")).orderBy(
        "id_a", "id_b"
    )


def _jaccard_sql(
    src: str = "documents", threshold: float = 0.6, order: bool = True
) -> str:
    """The verify-step SQL over any (doc_id, text) relation — shares its
    member/words fragments with the Spark plan builders above."""
    return f"""
WITH member AS ({_lsh_member_sql(src)}),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM member a JOIN member b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
w AS (
  SELECT DISTINCT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM {src}
  ) WHERE w <> ''
),
c AS (SELECT doc_id, count(*) AS n FROM w GROUP BY doc_id),
inter AS (
  SELECT id_a, id_b, count(*) AS ninter
  FROM pairs
  JOIN w wa ON wa.doc_id = id_a
  JOIN w wb ON wb.doc_id = id_b AND wa.w = wb.w
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(ninter * 1.0 / (ca.n + cb.n - ninter), 4) AS jaccard
FROM inter
JOIN c ca ON ca.doc_id = id_a
JOIN c cb ON cb.doc_id = id_b
WHERE round(ninter * 1.0 / (ca.n + cb.n - ninter), 4) >= {threshold}
{"ORDER BY id_a, id_b" if order else ""}
"""


JACCARD_SQL = _jaccard_sql()


def docs_ngram_jaccard(spark, sf_dir):
    """Character 5-gram Jaccard RE-verification of the word-level
    near-dup pairs (word-Jaccard ≥ 0.9): a second, character-level
    similarity feature over the already-verified candidates — the
    tokenization-robust check a training-data dedup runs on pairs whose
    word overlap could be an artifact of whitespace splitting. Scale
    shape: the gram self-join touches verified pairs only (≪ candidate
    pairs ≪ all pairs)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = _jaccard_pairs_of(docs, 0.9).select("id_a", "id_b")
    grams = (
        docs.select(
            "doc_id",
            F.explode(
                F.when(
                    F.length("text") >= 5,
                    F.expr(
                        "transform(sequence(1, length(text) - 4),"
                        " i -> substring(text, i, 5))"
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("g"),
        )
        .dropDuplicates(["doc_id", "g"])
    )
    counts = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ga = grams.select(F.col("doc_id").alias("id_a"), "g")
    gb = grams.select(F.col("doc_id").alias("_idb"), F.col("g").alias("g2"))
    inter = (
        pairs.join(ga, "id_a")
        .join(gb, (F.col("id_b") == F.col("_idb")) & (F.col("g") == F.col("g2")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("ninter"))
    )
    ca = counts.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    cb = counts.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    ni = F.coalesce("ninter", F.lit(0))
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .join(ca, "id_a")
        .join(cb, "id_b")
        .withColumn(
            "ngram_jaccard",
            F.round(ni / (F.col("na") + F.col("nb") - ni), 4),
        )
        .select("id_a", "id_b", "ngram_jaccard")
        .orderBy("id_a", "id_b")
    )


NGRAM_JACCARD_SQL = f"""
WITH wp AS ({_jaccard_sql("documents", 0.9, order=False)}),
pairs AS (SELECT id_a, id_b FROM wp),
g AS (
  SELECT DISTINCT doc_id, substring(text, gs, 5) AS g
  FROM (SELECT doc_id, text,
               unnest(range(1, greatest(length(text) - 3, 1))) AS gs
        FROM documents)
),
c AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
inter AS (
  SELECT id_a, id_b, count(*) AS ninter
  FROM pairs
  JOIN g ga ON ga.doc_id = id_a
  JOIN g gb ON gb.doc_id = id_b AND ga.g = gb.g
  GROUP BY 1, 2
)
SELECT p.id_a, p.id_b,
       round(coalesce(ninter, 0) * 1.0 /
             (ca.n + cb.n - coalesce(ninter, 0)), 4) AS ngram_jaccard
FROM pairs p
LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
JOIN c ca ON ca.doc_id = p.id_a
JOIN c cb ON cb.doc_id = p.id_b
ORDER BY p.id_a, p.id_b
"""


def docs_simhash(spark, sf_dir):
    """64-bit SimHash (a corpus-scale fingerprint — 8 bits collide
    constantly at 10^10 docs). Per word, bit i = bit (i mod 4) of md5
    hex nibble i//4 (integer-exact on both engines); per doc,
    fingerprint bit i = sign of the ±1 sum over words. Emitted as two
    32-bit halves in BIGINT columns (``simhash_hi``/``simhash_lo``) so
    no signed-64 overflow semantics are in play cross-engine."""
    # project the 16 nibble ints ONCE per word before the aggregate:
    # the round-6 shape evaluated conv(substring(h, ...)) inside every
    # one of the 64 sum() expressions — 4× the string slicing and
    # radix conversion per word for the same values (guide §1.2
    # per-task work); the aggregate itself now reads int columns and a
    # bitmask only, and still partial-aggregates map-side.
    words = _words(spark, sf_dir).withColumn(
        "h", F.md5(F.col("w").cast("binary"))
    )
    nibs = words.select(
        "doc_id",
        *[
            F.conv(F.substring("h", j + 1, 1), 16, 10).cast("int").alias(f"n{j}")
            for j in range(16)
        ],
    )
    bit_sums = []
    for i in range(64):
        bit_set = F.col(f"n{i // 4}").bitwiseAND(F.lit(1 << (i % 4))) > 0
        bit_sums.append(
            F.sum(F.when(bit_set, F.lit(1)).otherwise(F.lit(-1))).alias(f"s{i}")
        )
    per_doc = nibs.groupBy("doc_id").agg(*bit_sums)

    def _half(lo: int) -> F.Column:
        e = None
        for i in range(lo, lo + 32):
            term = F.when(
                F.col(f"s{i}") > 0, F.lit(1 << (i - lo)).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            e = term if e is None else e + term
        return e

    return per_doc.select(
        "doc_id",
        _half(0).alias("simhash_lo"),
        _half(32).alias("simhash_hi"),
    ).orderBy("doc_id")


def _simhash_sql() -> str:
    sums = ",\n         ".join(
        "sum(CASE WHEN (('0x' || substr(h, {p}, 1))::INTEGER & {m}) > 0 "
        "THEN 1 ELSE -1 END) AS s{i}".format(p=i // 4 + 1, m=1 << (i % 4), i=i)
        for i in range(64)
    )

    def half(lo: int) -> str:
        return " + ".join(
            "(CASE WHEN s{i} > 0 THEN {v} ELSE 0 END)".format(
                i=i, v=1 << (i - lo)
            )
            for i in range(lo, lo + 32)
        )

    return f"""
WITH words AS (
  SELECT doc_id, md5(w) AS h FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE w <> ''
),
sums AS (
  SELECT doc_id,
         {sums}
  FROM words GROUP BY doc_id
)
SELECT doc_id,
       CAST({half(0)} AS BIGINT) AS simhash_lo,
       CAST({half(32)} AS BIGINT) AS simhash_hi
FROM sums ORDER BY doc_id
"""


SIMHASH_SQL = _simhash_sql()


def docs_token_stats(spark, sf_dir):
    """Token counting + quality features (length, alpha ratio)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("text_len"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens_ws"),
        F.length(F.regexp_replace("text", "[^a-z]", "")).cast("long").alias("n_alpha"),
    ).orderBy("doc_id")


TOKENS_SQL = """
SELECT doc_id, lang,
       length(text) AS text_len,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens_ws,
       length(regexp_replace(text, '[^a-z]', '', 'g')) AS n_alpha
FROM documents ORDER BY doc_id
"""

# BPE-ish pre-tokenization regex: letter runs, digit runs, single
# punctuation marks — the GPT-2-style split shape restricted to
# constructs Java regex and RE2 evaluate identically (no lookarounds).
_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def docs_bpe_tokens(spark, sf_dir):
    """Token counting with a BPE-ish pre-tokenizer: subword-style
    counts from a regex split (letter runs / digit runs / punctuation)
    next to the whitespace count — the pair a training-data pipeline
    uses to estimate tokenizer cost per document. Pure builtins
    (regexp_count), one scan, no UDF."""
    docs = _t(spark, sf_dir, "documents")
    n_bpe = F.regexp_count("text", F.lit(_BPE_RE)).cast("long")
    n_ws = F.size(F.filter(F.split("text", " "), lambda w: w != "")).cast("long")
    return (
        docs.select(
            "doc_id",
            n_bpe.alias("n_bpe_tokens"),
            n_ws.alias("n_ws_tokens"),
            F.round(n_bpe / F.greatest(n_ws, F.lit(1)), 4).alias(
                "subtokens_per_word"
            ),
        )
        .orderBy("doc_id")
    )


BPE_TOKENS_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT)
         AS n_bpe_tokens,
       CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT)
         AS n_ws_tokens,
       round(len(regexp_extract_all(text, '{_BPE_RE}')) * 1.0 /
             greatest(len(list_filter(string_split(text, ' '), w -> w <> '')),
                      1), 4) AS subtokens_per_word
FROM documents ORDER BY doc_id
"""


# Gopher-style repetition gate thresholds (Rae et al. 2021 use the same
# signal family — most-frequent-unigram/bigram share + duplicate share;
# values tuned so the synthetic corpus splits ~50/50, exercising both
# branches of `keep` in the oracle diff):
_GQ_TOP_UNI = 0.12
_GQ_TOP_BI = 0.05
_GQ_DUP = 0.65


def docs_gopher_quality(spark, sf_dir):
    """Gopher-style repetition/quality gate per document: the share of
    the most frequent unigram and bigram plus the duplicate-word share,
    with a boolean ``keep`` verdict — the filter family an LLM-corpus
    pipeline runs right after language-ID. Relational form: pure JVM
    builtins with ZERO exchanges before the output sort — every signal
    is a per-document function, so the most-frequent unigram/bigram
    counts come from a sort + run-length pass over the document's own
    token array (array_sort, then boundary positions, then adjacent
    differences), computed entirely inside the scan task. The round-6
    shape exploded every word AND every bigram through two
    (doc_id, term) aggregation shuffles and joined three per-doc
    tables back together — three exchanges for work with no
    cross-document dependency (guide §2.4). Docs with NULL/
    whitespace-only text emit no row (same contract as the minhash
    forms)."""
    docs = _t(spark, sf_dir, "documents")
    words_col = F.filter(F.split("text", " "), lambda w: w != "")

    def _top_count(sorted_col: str):
        """Max multiplicity of any element of the pre-SORTED (and
        non-empty) array column, via run lengths: boundary indices,
        each run's length = next boundary − own boundary. The sorted
        array is a materialized column (not an inline expression) so
        the interpreted HOF lambda never re-sorts per element."""
        s = F.col(sorted_col)
        n = F.size(s)
        starts = F.filter(
            F.sequence(F.lit(1), n),
            lambda i: (i == 1) | (F.element_at(s, i) != F.element_at(s, i - 1)),
        )
        runs = F.zip_with(
            F.concat(F.slice(starts, 2, F.size(starts)), F.array(n + 1)),
            starts,
            lambda nxt, cur: nxt - cur,
        )
        return F.array_max(runs)

    base = (
        docs.select("doc_id", words_col.alias("words"))
        .where(F.size("words") > 0)
        .select(
            "doc_id",
            F.size("words").cast("long").alias("n_words"),
            F.size(F.array_distinct("words")).cast("long").alias("n_distinct"),
            F.array_sort("words").alias("ws"),
            F.array_sort(
                F.zip_with(
                    F.slice("words", 1, F.size("words") - 1),
                    F.slice(F.col("words"), F.lit(2), F.size("words") - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ).alias("bs"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_distinct",
            _top_count("ws").cast("long").alias("top_uni"),
            F.when(
                F.size("bs") > 0, _top_count("bs")
            ).cast("long").alias("top_bi"),
        )
    )
    fu = F.round(F.col("top_uni") / F.col("n_words"), 4)
    fb = F.round(
        F.coalesce(F.col("top_bi"), F.lit(0))
        / F.greatest(F.col("n_words") - 1, F.lit(1)),
        4,
    )
    fd = F.round(F.lit(1.0) - F.col("n_distinct") / F.col("n_words"), 4)
    return (
        base.select(
            "doc_id",
            "n_words",
            fu.alias("top_unigram_frac"),
            fb.alias("top_bigram_frac"),
            fd.alias("dup_word_frac"),
        )
        .withColumn(
            "keep",
            (F.col("top_unigram_frac") <= _GQ_TOP_UNI)
            & (F.col("top_bigram_frac") <= _GQ_TOP_BI)
            & (F.col("dup_word_frac") <= _GQ_DUP),
        )
        .orderBy("doc_id")
    )


GOPHER_SQL = f"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS words
  FROM documents
),
base AS (
  SELECT doc_id, words, len(words) AS n_words,
         len(list_distinct(words)) AS n_distinct,
         list_transform(range(1, len(words)),
                        i -> words[i] || ' ' || words[i + 1]) AS bigrams
  FROM w WHERE len(words) > 0
),
uni AS (
  SELECT doc_id, max(cnt) AS top_uni FROM (
    SELECT doc_id, count(*) AS cnt
    FROM (SELECT doc_id, unnest(words) AS x FROM base) GROUP BY doc_id, x
  ) GROUP BY doc_id
),
bi AS (
  SELECT doc_id, max(cnt) AS top_bi FROM (
    SELECT doc_id, count(*) AS cnt
    FROM (SELECT doc_id, unnest(bigrams) AS x FROM base) GROUP BY doc_id, x
  ) GROUP BY doc_id
)
SELECT b.doc_id, b.n_words,
       round(u.top_uni * 1.0 / b.n_words, 4) AS top_unigram_frac,
       round(coalesce(bb.top_bi, 0) * 1.0 / greatest(b.n_words - 1, 1), 4)
         AS top_bigram_frac,
       round(1.0 - b.n_distinct * 1.0 / b.n_words, 4) AS dup_word_frac,
       (round(u.top_uni * 1.0 / b.n_words, 4) <= {_GQ_TOP_UNI}
        AND round(coalesce(bb.top_bi, 0) * 1.0 / greatest(b.n_words - 1, 1), 4)
            <= {_GQ_TOP_BI}
        AND round(1.0 - b.n_distinct * 1.0 / b.n_words, 4) <= {_GQ_DUP})
         AS keep
FROM base b JOIN uni u USING (doc_id) LEFT JOIN bi bb USING (doc_id)
ORDER BY doc_id
"""


def docs_gopher_quality_arrow(spark, sf_dir):
    """Gopher repetition gate, Arrow-pass twin of
    :func:`docs_gopher_quality`: every signal is a per-document
    function of that document's words alone, so one mapInPandas pass
    computes them all with two Counters — zero shuffles, no exploded
    per-word rows. The 100-TB production form (same DuckDB oracle).
    Rounding matches Spark's HALF_UP-on-the-exact-double semantics via
    Decimal quantize."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def compute(batches):
        from collections import Counter
        from decimal import ROUND_HALF_UP, Decimal

        q4 = Decimal("0.0001")

        def r4(x: float) -> float:
            return float(Decimal(x).quantize(q4, ROUND_HALF_UP))

        for pdf in batches:
            out: dict[str, list] = {
                k: []
                for k in (
                    "doc_id", "n_words", "top_unigram_frac",
                    "top_bigram_frac", "dup_word_frac", "keep",
                )
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if not isinstance(text, str):
                    continue  # NULL text: relational form emits no row
                words = [w for w in text.split(" ") if w]
                if not words:
                    continue
                n = len(words)
                cu = Counter(words)
                top_bi = 0
                if n > 1:
                    top_bi = max(
                        Counter(
                            words[i] + " " + words[i + 1]
                            for i in range(n - 1)
                        ).values()
                    )
                fu = r4(max(cu.values()) / n)
                fb = r4(top_bi / max(n - 1, 1))
                fd = r4(1.0 - len(cu) / n)
                out["doc_id"].append(doc_id)
                out["n_words"].append(n)
                out["top_unigram_frac"].append(fu)
                out["top_bigram_frac"].append(fb)
                out["dup_word_frac"].append(fd)
                out["keep"].append(
                    fu <= _GQ_TOP_UNI and fb <= _GQ_TOP_BI and fd <= _GQ_DUP
                )
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, n_words long, top_unigram_frac double, "
        "top_bigram_frac double, dup_word_frac double, keep boolean"
    )
    return docs.mapInPandas(compute, schema=schema).orderBy("doc_id")


_TOP_TERMS_K = 50


def corpus_top_terms(spark, sf_dir):
    """Corpus-wide heavy hitters: the top-K terms by total occurrences
    with their document frequency — the vocabulary/stopword profile a
    training-data pipeline derives before tokenizer fitting. One explode
    + one shuffle on term; occurrence counts partial-aggregate map-side,
    and the per-term document frequency is a count-distinct whose key
    (term, doc_id) is already co-located after the same shuffle. At
    100 TB the explode never materializes: Tungsten pipelines
    explode→partial-agg inside the scan stage, so only (term, count)
    pairs — bounded by the vocabulary, not the corpus — cross the wire.
    Ties broken by term for a deterministic cut."""
    docs = _t(spark, sf_dir, "documents")
    words_col = F.filter(F.split("text", " "), lambda w: w != "")
    return (
        docs.select("doc_id", F.explode(words_col).alias("term"))
        .groupBy("term")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "term")
        .limit(_TOP_TERMS_K)
    )


TOP_TERMS_SQL = f"""
SELECT term, count(*) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS term
  FROM documents
)
GROUP BY term
ORDER BY n_occurrences DESC, term
LIMIT {_TOP_TERMS_K}
"""


# --------------------------------------------------------------------------
# Benchmark decontamination (13-gram overlap) + unigram-LM surprisal
# --------------------------------------------------------------------------

# Canonical eval-set decontamination gram width (GPT-3 appendix C /
# The Pile use 13-gram collision as the contamination test).
DECON_N = 13
# Deterministic stand-in for the held-out benchmark: every 5th doc_id.
DECON_BENCH_MOD = 5


def docs_decontaminate(spark, sf_dir):
    """Training-set decontamination: find every non-benchmark document
    sharing at least one word 13-gram with the benchmark set, with the
    count of distinct shared grams (the GPT-3/Pile collision rule). The
    benchmark here is a deterministic slice of the corpus itself
    (doc_id % DECON_BENCH_MOD == 0) so the check is self-contained; in
    production it is the eval suites' text.

    Scale shape: the benchmark side is SMALL by construction (eval
    suites are MBs against a 100-TB corpus), so its distinct grams are
    broadcast — the corpus side streams through scan → explode →
    broadcast-hash-join → partial agg with NO shuffle of the corpus
    grams; only (doc_id, gram-hit) pairs reach the one exchange for the
    per-doc count-distinct. Gram construction is pure JVM higher-order
    functions (sequence/slice/concat_ws, whole-stage codegen); at real
    scale you'd xxhash64 the grams before the join to shrink the
    broadcast — kept as strings here so the oracle comparison is exact
    on the grams themselves. `sequence(1, n-12)` is guarded by the
    WHERE on word count: Spark generates a DESCENDING sequence when the
    stop is below the start, so short docs must never reach it."""
    docs = _t(spark, sf_dir, "documents")
    words_col = F.filter(F.split("text", " "), lambda w: w != "")
    grams = (
        docs.select("doc_id", words_col.alias("words"))
        .where(F.size("words") >= DECON_N)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("words") - (DECON_N - 1)),
                    lambda i: F.concat_ws(" ", F.slice(F.col("words"), i, DECON_N)),
                )
            ).alias("gram"),
        )
    )
    bench = (
        grams.where(F.col("doc_id") % DECON_BENCH_MOD == 0)
        .select("gram")
        .distinct()
    )
    return (
        grams.where(F.col("doc_id") % DECON_BENCH_MOD != 0)
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").cast("long").alias("n_contaminated_grams"))
        .orderBy("doc_id")
    )


DECON_SQL = f"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS words
  FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, len(words) + 1 - {DECON_N - 1}),
           i -> array_to_string(words[i:i + {DECON_N - 1}], ' ')
         )) AS gram
  FROM w WHERE len(words) >= {DECON_N}
),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % {DECON_BENCH_MOD} = 0)
SELECT g.doc_id,
       CAST(count(DISTINCT g.gram) AS BIGINT) AS n_contaminated_grams
FROM g JOIN bench USING (gram)
WHERE g.doc_id % {DECON_BENCH_MOD} <> 0
GROUP BY g.doc_id
ORDER BY doc_id
"""


def docs_unigram_surprisal(spark, sf_dir):
    """Perplexity-proxy quality score: per-document mean surprisal
    −(1/n)·Σ ln p(w) under the corpus's own unigram distribution — the
    cheap stand-in for a KenLM quality filter (CCNet-style) that needs
    no external model. High surprisal = rare-word soup (gibberish,
    boilerplate hashes); low = repetitive filler; both tails get cut in
    a real pipeline.

    Scale shape: the vocabulary is BOUNDED (Heaps' law — millions of
    types against 10^10 tokens), so the unigram table is the small side:
    one explode + partial-agg shuffle builds it, a single-partition
    window-sum over the *vocab only* attaches the corpus total with no
    driver action and no crossJoin, and the word→count lookup is a
    broadcast hash join the corpus streams through. avg() of doubles
    differs across engines only in summation order; round(·,6) absorbs
    it (both engines' ln is the same IEEE libm contract).

    Round 7 (second pass): a (doc_id, word, count) restructure was
    measured and REVERTED — its tf subtree feeds both the vocab
    broadcast build side and the per-doc aggregate, so the
    repartition+aggregate pipeline ran twice per query (broadcast build
    sides recompute their subtree), which lost to this shape's two
    cheap partial-agg shuffles at every SF (A/B at sf0.1: 0.75 vs
    1.19s; at sf1.0: tie). The explode stays narrow (``wide=False``):
    the per-row work is one split+log, so the widening exchange costs
    more than the 2-task scan it fixes (same finding as
    docs_sample_hash et al.)."""
    words = _words_of(_t(spark, sf_dir, "documents", wide=False))
    vocab = words.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    vocab_tot = vocab.withColumn(
        "total", F.sum("c").over(Window.partitionBy())
    )
    return (
        words.join(F.broadcast(vocab_tot), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.round(
                F.avg(
                    F.log(
                        F.col("total").cast("double")
                        / F.col("c").cast("double")
                    )
                ),
                6,
            ).alias("surprisal_nats"),
        )
        .orderBy("doc_id")
    )


SURPRISAL_SQL = """
WITH words AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
  FROM documents
),
vocab AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM words GROUP BY w),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM vocab)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       round(avg(ln(total / CAST(c AS DOUBLE))), 6) AS surprisal_nats
FROM words JOIN vocab USING (w) CROSS JOIN tot
GROUP BY doc_id
ORDER BY doc_id
"""


# Duplicated-substring spans (Lee et al., "Deduplicating Training Data
# Makes Language Models Better"): anchor width in tokens. Their
# suffix-array pass finds exact repeats ≥ L tokens; this is the
# distributed n-gram-anchored approximation — a position is covered
# when its W-token gram occurs ≥2 times corpus-wide, and covered
# positions merge into maximal spans (misses repeats < W, may bridge
# gaps < W; exact integer interval arithmetic otherwise).
DUPSPAN_W = 10


def docs_dup_spans(spark, sf_dir):
    """Cross-document duplicated-substring spans: every token position
    whose W-token gram appears at least twice in the corpus is 'covered';
    per document, covered positions merge into maximal spans (classic
    interval-merge via a running-max window — is_new when the position
    starts past every previous span's end), and the doc reports its span
    count and total duplicated-token mass. This is the signal the
    substring-dedup pass cuts on (drop or trim docs whose dup mass is
    high) — document-level MinHash misses it when only a paragraph is
    copied.

    Scale shape: gram construction is the same JVM HOF pipeline as the
    decontamination op (no UDFs), computed ONCE; a single shuffle
    keyed on the gram serves both the ≥2-occurrence test and the
    join-back (a count window over the gram partition — round 6 paid
    an aggregate plus a sort-merge self-join, i.e. the gram pipeline
    and its shuffle twice); the interval merge windows over HIT
    positions only — a tiny fraction of the corpus — partitioned by
    doc_id. All arithmetic is int64-exact, so the oracle matches
    bit-for-bit."""
    docs = _t(spark, sf_dir, "documents")
    words_col = F.filter(F.split("text", " "), lambda w: w != "")
    grams = (
        docs.select("doc_id", words_col.alias("words"))
        .where(F.size("words") >= DUPSPAN_W)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("words") - (DUPSPAN_W - 1)),
                    lambda i: F.struct(
                        (i - 1).cast("int").alias("pos"),
                        F.concat_ws(
                            " ", F.slice(F.col("words"), i, DUPSPAN_W)
                        ).alias("gram"),
                    ),
                )
            ).alias("g"),
        )
        .select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
    )
    # one exchange keyed on the gram serves both the >= 2-occurrence
    # test AND the join-back: a count window over the gram partition
    # replaces the round-6 aggregate + sort-merge self-join, which
    # computed the gram pipeline twice and shuffled it twice (guide
    # §2.4: operations keyed the same way share one exchange)
    w_gram = Window.partitionBy("gram")
    hits = (
        grams.withColumn("c", F.count(F.lit(1)).over(w_gram))
        .where(F.col("c") >= 2)
        .select("doc_id", "pos")
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = hits.withColumn(
        "is_new",
        F.when(
            F.col("pos")
            > F.coalesce(F.max("pos").over(w_prev), F.lit(-DUPSPAN_W))
            + (DUPSPAN_W - 1),
            1,
        ).otherwise(0),
    ).withColumn("span_id", F.sum("is_new").over(w_run))
    spans = flagged.groupBy("doc_id", "span_id").agg(
        F.min("pos").alias("st"),
        (F.max("pos") + (DUPSPAN_W - 1)).alias("en"),
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum(F.col("en") - F.col("st") + 1).cast("long").alias("dup_tokens"),
        )
        .orderBy("doc_id")
    )


DUPSPAN_SQL = f"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS words
  FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, len(words) + 2 - {DUPSPAN_W}),
           i -> array_to_string(words[i:i + {DUPSPAN_W - 1}], ' ')
         )) AS gram,
         unnest(range(1, len(words) + 2 - {DUPSPAN_W})) - 1 AS pos
  FROM w WHERE len(words) >= {DUPSPAN_W}
),
dupg AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
hits AS (SELECT g.doc_id, g.pos FROM g JOIN dupg USING (gram)),
m AS (
  SELECT doc_id, pos,
         max(pos) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS pmax
  FROM hits
),
f AS (
  SELECT doc_id, pos,
         CASE WHEN pmax IS NULL OR pos > pmax + {DUPSPAN_W - 1}
              THEN 1 ELSE 0 END AS is_new
  FROM m
),
s AS (
  SELECT doc_id, pos,
         sum(is_new) OVER (
           PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING
         ) AS span_id
  FROM f
),
spans AS (
  SELECT doc_id, span_id, min(pos) AS st, max(pos) + {DUPSPAN_W - 1} AS en
  FROM s GROUP BY doc_id, span_id
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(en - st + 1) AS BIGINT) AS dup_tokens
FROM spans GROUP BY doc_id ORDER BY doc_id
"""


TFIDF_TOPN = 3


def docs_tfidf_topk(spark, sf_dir):
    """Per-document top-3 TF-IDF terms — the classic keyword/topic
    signal a corpus profiler emits next to the quality scores. tf is
    the in-doc count, idf = ln(N/df) with N the corpus size and df the
    term's document frequency. Ranking happens on the 6-dp ROUNDED
    score (then term asc) so both engines rank the same numbers — raw
    double ordering could flip at a 1-ulp ln() difference.

    Scale shape: one explode feeds a map-side partial agg on
    (doc_id, term) — per-doc terms co-reside in the scan task — one
    exchange; df reuses the same shuffled layout (term already a key);
    N attaches like the surprisal total: a single-partition window over
    the BOUNDED df table, broadcast back.

    Round 7: the document table is hash-partitioned on doc_id up
    front, so BOTH per-doc stages — the (doc_id, term) tf aggregate
    (partitioning on a subset of the grouping keys satisfies its
    clustered distribution) and the per-doc top-3 ranking window —
    reuse that one exchange of ~50 kB/core of raw docs instead of each
    shuffling the multi-million-row term table (guide §2.4). N also no
    longer explodes words a third time: docs with ≥1 word is the same
    count, computed from the doc rows directly."""
    docs = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    docs_by_id = docs.repartition(par, "doc_id")
    words = _words_of(docs_by_id)
    tf = words.groupBy("doc_id", F.col("w").alias("term")).agg(
        F.count("*").cast("long").alias("tf")
    )
    df_ = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    n_docs = docs.where(
        F.size(F.filter(F.split("text", " "), lambda w: w != "")) > 0
    ).select(F.count("*").cast("double").alias("n"))
    dfn = df_.join(F.broadcast(n_docs))
    scored = tf.join(F.broadcast(dfn), "term").withColumn(
        "tfidf",
        F.round(
            F.col("tf").cast("double")
            * F.log(F.col("n") / F.col("df").cast("double")),
            6,
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.col("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TFIDF_TOPN)
        .select("doc_id", F.col("rk").cast("int").alias("rk"), "term", "tf", "tfidf")
        .orderBy("doc_id", "rk")
    )


TFIDF_SQL = f"""
WITH words AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
  FROM documents
),
tf AS (
  SELECT doc_id, w AS term, CAST(count(*) AS BIGINT) AS tf
  FROM words GROUP BY doc_id, w
),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM words),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         round(CAST(tf.tf AS DOUBLE) * ln(n.n / CAST(df.df AS DOUBLE)), 6)
           AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, CAST(rk AS INT) AS rk, term, tf, tfidf
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term
  ) AS rk
  FROM scored
)
WHERE rk <= {TFIDF_TOPN}
ORDER BY doc_id, rk
"""


def docs_winnow_fp(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003 —
    the MOSS algorithm): hash every char 5-gram (integer-exact
    md5-prefix recipe), slide a window of 8 gram-hashes, keep each
    window's minimum — the guaranteed-coverage fingerprint set a
    copy-detector indexes. Emitted per doc: fingerprint count + min,
    both engine-exact. Relational form: one window function over the
    gram sequence, no UDF — the gram hash (a long) is projected before
    the exchange, and the distinct + per-doc aggregate both reuse the
    window's doc_id partitioning, so exactly ONE data exchange carries
    ~20 B/gram. (An all-array zero-exchange variant — transform +
    array_min over slices — was measured SLOWER here: interpreted HOF
    lambdas lose to the codegen'd explode+window pipeline.)"""
    docs = _t(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id",
        F.posexplode(
            F.when(
                F.length("text") >= 5,
                F.expr(
                    "transform(sequence(1, length(text) - 4),"
                    " i -> substring(text, i, 5))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "g"),
    )
    hm = (
        F.conv(F.substring(F.md5(F.col("g").cast("binary")), 1, 15), 16, 10)
        .cast("long") % _MH_MOD
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, 7)
    )
    fps = (
        grams.select("doc_id", "pos", hm.alias("h"))
        .withColumn("wmin", F.min("h").over(w))
        # last 7 positions have truncated windows; winnowing drops them
        .withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        .where(F.col("pos") <= F.col("_n") - 8)
        .select("doc_id", "wmin")
        .distinct()
    )
    return (
        fps.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fingerprints"),
            F.min("wmin").alias("min_fp"),
        )
        .orderBy("doc_id")
    )


WINNOW_SQL = f"""
WITH grams AS (
  SELECT doc_id, gs AS pos, substring(text, gs, 5) AS g
  FROM (SELECT doc_id, text,
               unnest(range(1, greatest(length(text) - 3, 1))) AS gs
        FROM documents)
),
h AS (
  SELECT doc_id, pos,
         ('0x' || substr(md5(g), 1, 15))::BIGINT % {_MH_MOD} AS h
  FROM grams
),
wm AS (
  SELECT doc_id, pos,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wmin,
         count(*) OVER (PARTITION BY doc_id) AS _n
  FROM h
),
fps AS (
  -- pos is 1-based here (Spark's posexplode is 0-based): a full
  -- window [pos, pos+7] needs pos+7 <= _n
  SELECT DISTINCT doc_id, wmin FROM wm WHERE pos <= _n - 7
)
SELECT doc_id, count(*) AS n_fingerprints, min(wmin) AS min_fp
FROM fps GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Arrow-pass twins: per-doc signatures with NO shuffle. The relational
# forms above are the cross-engine ORACLE contract (DuckDB must agree
# bit-for-bit), but they explode per-word / per-gram rows and shuffle
# ~1-5× the corpus text bytes through a groupBy/window — for work that
# has no cross-document dependency at all. These twins compute the
# identical signatures inside ONE mapInPandas pass (hashlib+numpy per
# Arrow batch, zero movement): the shape a 100-TB run wants. Equality
# with the relational forms is pinned in tests AND by sharing their
# DuckDB oracle SQL in the catalog.
# ---------------------------------------------------------------------------


def _md5_mod(strings, cache: dict) -> "np.ndarray":
    """int(md5(s)[:15 hex], 16) % (2^31-1) per string — the engine-exact
    hash recipe shared with the relational forms; memoized per batch."""
    import hashlib

    out = np.empty(len(strings), dtype=np.int64)
    for i, s in enumerate(strings):
        v = cache.get(s)
        if v is None:
            v = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16) % _MH_MOD
            cache[s] = v
        out[i] = v
    return out


def _minhash_sig_arrow_of(docs: DataFrame) -> DataFrame:
    """(doc_id, g0..g63) in ONE mapInPandas pass — the zero-shuffle twin
    of the relational :func:`_minhash_sig_of` (bit-identical values; the
    whole LSH/Jaccard/cluster pipeline consumes this form, so building
    signatures never explodes per-word rows through a shuffle)."""
    docs = docs.select("doc_id", "text")
    A = np.array(_MH_A, dtype=np.int64)
    B = np.array(_MH_B, dtype=np.int64)

    def compute(batches):
        for pdf in batches:
            cache: dict = {}
            ids, sigs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if not isinstance(text, str):
                    continue  # NULL text: relational form emits no row
                words = {w for w in text.split(" ") if w}
                if not words:
                    continue  # relational groupBy has no row either
                hm = _md5_mod(list(words), cache)
                ids.append(doc_id)
                sigs.append(
                    ((hm[:, None] * A[None, :] + B[None, :]) % _MH_MOD).min(
                        axis=0
                    )
                )
            mat = (
                np.stack(sigs)
                if sigs
                else np.zeros((0, _MINHASH_K), dtype=np.int64)
            )
            out = {"doc_id": ids}
            for i in range(_MINHASH_K):
                out[f"g{i}"] = mat[:, i]
            yield pd.DataFrame(out)

    schema = "doc_id long, " + ", ".join(
        f"g{i} long" for i in range(_MINHASH_K)
    )
    return docs.mapInPandas(compute, schema=schema)


def docs_minhash_arrow(spark, sf_dir):
    """MinHash signatures, Arrow-pass twin of :func:`docs_minhash`: the
    k=64 permutation minima computed per document in one vectorized
    numpy step (:func:`_minhash_sig_arrow_of`) — no explode, no shuffle,
    the signature never leaves the task that read the document."""
    sig = _minhash_sig_arrow_of(_t(spark, sf_dir, "documents"))
    parts = [F.col(f"g{i}").cast("string") for i in range(_MINHASH_K)]
    return sig.select(
        "doc_id", F.concat_ws("-", *parts).alias("sig")
    ).orderBy("doc_id")


def docs_winnow_fp_arrow(spark, sf_dir):
    """Winnowing fingerprints, Arrow-pass twin of :func:`docs_winnow_fp`:
    gram hashes + the 8-gram sliding-window minima computed per document
    with a numpy stride trick — where the relational form posexplodes
    every char 5-gram (~5× the text bytes) through a per-doc window
    shuffle, this moves nothing."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def compute(batches):
        for pdf in batches:
            cache: dict = {}
            ids, counts, mins = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if not isinstance(text, str):
                    continue  # NULL text: relational form emits no row
                n = len(text) - 4
                if n < 8:
                    continue  # no full 8-gram window → no relational rows
                grams = [text[i : i + 5] for i in range(n)]
                h = _md5_mod(grams, cache)
                wmins = np.lib.stride_tricks.sliding_window_view(h, 8).min(
                    axis=1
                )
                uniq = np.unique(wmins)
                ids.append(doc_id)
                counts.append(len(uniq))
                mins.append(int(uniq[0]))
            yield pd.DataFrame(
                {"doc_id": ids, "n_fingerprints": counts, "min_fp": mins}
            )

    return docs.mapInPandas(
        compute, schema="doc_id long, n_fingerprints long, min_fp long"
    ).orderBy("doc_id")


def docs_simhash_arrow(spark, sf_dir):
    """64-bit SimHash, Arrow-pass twin of :func:`docs_simhash`: each
    word's ±1 bit vector is derived once from its md5 nibbles (memoized)
    and scaled by its occurrence count — one vectorized accumulation per
    document, no explode and no 64-aggregate shuffle."""
    return _simhash_arrow_of(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    ).orderBy("doc_id")


def _simhash_arrow_of(docs: DataFrame) -> DataFrame:
    """Unordered (doc_id, simhash_lo, simhash_hi) via the zero-shuffle
    mapInPandas pass — composable form (no output sort)."""
    import hashlib
    from collections import Counter

    docs = docs.select("doc_id", "text")
    bit_pos = np.arange(4, dtype=np.int64)

    def compute(batches):
        for pdf in batches:
            cache: dict = {}
            ids, los, his = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if not isinstance(text, str):
                    continue  # NULL text: relational form emits no row
                counts = Counter(w for w in text.split(" ") if w)
                if not counts:
                    continue
                s = np.zeros(64, dtype=np.int64)
                for w, n in counts.items():
                    pm = cache.get(w)
                    if pm is None:
                        hx = hashlib.md5(w.encode("utf-8")).hexdigest()[:16]
                        nibs = np.array(
                            [int(c, 16) for c in hx], dtype=np.int64
                        )
                        bits = ((nibs[:, None] >> bit_pos) & 1).reshape(64)
                        pm = bits * 2 - 1  # ±1 per bit
                        cache[w] = pm
                    s += n * pm
                fp = s > 0
                lo = int(
                    (fp[:32].astype(np.int64) << np.arange(32)).sum()
                )
                hi = int(
                    (fp[32:].astype(np.int64) << np.arange(32)).sum()
                )
                ids.append(doc_id)
                los.append(lo)
                his.append(hi)
            yield pd.DataFrame(
                {"doc_id": ids, "simhash_lo": los, "simhash_hi": his}
            )

    return docs.mapInPandas(
        compute, schema="doc_id long, simhash_lo long, simhash_hi long"
    )


_STOPWORDS = ["the", "a", "join", "group", "order"]


def docs_lang_quality(spark, sf_dir):
    """Stopword-ratio quality score + threshold language flag — the
    deterministic heuristic both engines compute identically."""
    words = _words(spark, sf_dir)
    agg = words.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("w").isin(_STOPWORDS), F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias("n_stop"),
        F.count(F.lit(1)).alias("n_words"),
    )
    ratio = F.round(F.col("n_stop") / F.col("n_words"), 4)
    return (
        agg.withColumn("stop_ratio", ratio)
        .withColumn(
            "lang_guess",
            F.when(F.col("stop_ratio") > 0.05, F.lit("en")).otherwise(
                F.lit("other")
            ),
        )
        .orderBy("doc_id")
    )


LANG_SQL = """
WITH agg AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN w IN ('the','a','join','group','order')
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
         count(*) AS n_words
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> '' GROUP BY doc_id
)
SELECT doc_id, n_stop, n_words,
       round(n_stop * 1.0 / n_words, 4) AS stop_ratio,
       CASE WHEN round(n_stop * 1.0 / n_words, 4) > 0.05
            THEN 'en' ELSE 'other' END AS lang_guess
FROM agg ORDER BY doc_id
"""


def docs_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    h = F.md5(F.col("text").cast("binary"))
    return docs.select(
        "doc_id",
        h.alias("fp"),
        F.substring(h, 1, 2).alias("bucket"),
    ).orderBy("doc_id")


FP_SQL = """
SELECT doc_id, md5(text) AS fp, substr(md5(text), 1, 2) AS bucket
FROM documents ORDER BY doc_id
"""


def events_hourly_windows(spark, sf_dir):
    """Tumbling event-time windows: one-hour buckets per event type."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("window_start"),
            "event_type", "n", "total_value",
        )
        .orderBy("window_start", "event_type")
    )


HOURLY_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS window_start,
       event_type, count(*) AS n, round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2 ORDER BY window_start, event_type
"""


def media_metadata(spark, sf_dir):
    """Multimodal columns: a deterministic media table (binary blobs
    with REAL png/gif/wav headers, metadata a pure function of the
    index) sniffed by the engine's header parser
    (sparkcrawler.functions.media) — the oracle recomputes the expected
    metadata parametrically, so a parse bug is a hash mismatch."""
    from sparkcrawler.functions.media import sniff_media_udf, synth_media_rows

    rows = synth_media_rows(200)
    df = spark.createDataFrame(
        [(r["media_id"], r["blob"]) for r in rows],
        "media_id string, blob binary",
    )
    return (
        df.select("media_id", sniff_media_udf("blob").alias("m"))
        .select(
            "media_id", "m.format", "m.width", "m.height",
            "m.sample_rate", "m.byte_len",
        )
        .orderBy("media_id")
    )


MEDIA_SQL = """
SELECT printf('m%05d', i) AS media_id,
       CASE i % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' WHEN 2 THEN 'wav'
                  ELSE 'jpeg' END AS format,
       CASE i % 4 WHEN 0 THEN CAST(16 + i % 64 AS INTEGER)
                  WHEN 1 THEN CAST(32 + i % 16 AS INTEGER)
                  WHEN 3 THEN CAST(40 + i % 50 AS INTEGER)
                  ELSE NULL END AS width,
       CASE i % 4 WHEN 0 THEN CAST(9 + i % 32 AS INTEGER)
                  WHEN 1 THEN CAST(24 + i % 8 AS INTEGER)
                  WHEN 3 THEN CAST(30 + i % 20 AS INTEGER)
                  ELSE NULL END AS height,
       CASE i % 4 WHEN 2 THEN CAST(8000 + 100 * (i % 5) AS INTEGER)
                  ELSE NULL END AS sample_rate,
       CASE i % 4 WHEN 0 THEN 29 WHEN 1 THEN 13 WHEN 2 THEN 28
                  ELSE 44 END AS byte_len
FROM range(200) t(i) ORDER BY media_id
"""


# --------------------------------------------------------------------------
# Privacy / normalization / sampling / packing — the remaining
# curation stages of a training-data pipeline (beyond the reference's
# crawl surface, like the dedup + quality ops above). The testdata
# corpus carries no real PII or non-NFC text, so each op first injects
# a deterministic doc_id-derived payload IN THE QUERY on both engines
# — the detection/redaction/normalization logic then has real work to
# do and the oracle checks it byte-for-byte (md5 of the cleaned text).
# --------------------------------------------------------------------------

# RE2 (DuckDB) and java.util.regex (Spark) evaluate these identically:
# character classes + bounded/greedy quantifiers only, no lookarounds,
# no backreferences.
_PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
_PII_IP_RE = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
_PII_PHONE_RE = "555-[0-9]{4}"


def _pii_augmented(docs: DataFrame):
    """text + deterministic synthetic PII: every doc gets an email,
    even doc_ids an IPv4, doc_id%3==0 a phone — so per-doc counts vary
    and the redactor is exercised on 0/1/2/3-hit documents alike."""
    sid = F.col("doc_id").cast("string")
    return F.concat(
        F.col("text"),
        F.lit(" reach user"), sid, F.lit("@mail.example.com"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit(" from 10."), (F.col("doc_id") % 200).cast("string"),
                F.lit("."), ((F.col("doc_id") * 7) % 250).cast("string"),
                F.lit(".9"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" call 555-01"),
                F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            ),
        ).otherwise(F.lit("")),
    )


def docs_pii_scrub(spark, sf_dir):
    """PII detection + redaction (emails, IPv4s, phone numbers), the
    privacy-scrub stage every published web-text pipeline runs before
    training. Pure JVM builtins — regexp_count for detection,
    three chained regexp_replace for redaction — one scan, zero
    shuffle before the final sort; the oracle pins the redacted text
    byte-for-byte via md5."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    aug = docs.withColumn("t", _pii_augmented(docs))
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("t", _PII_EMAIL_RE, "<EMAIL>"),
            _PII_IP_RE, "<IP>"),
        _PII_PHONE_RE, "<PHONE>")
    return aug.select(
        "doc_id",
        "lang",
        F.regexp_count("t", F.lit(_PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count("t", F.lit(_PII_IP_RE)).cast("long").alias("n_ips"),
        F.regexp_count("t", F.lit(_PII_PHONE_RE)).cast("long").alias("n_phones"),
        F.length(clean).cast("long").alias("clean_len"),
        F.md5(clean.cast("binary")).alias("clean_md5"),
    ).orderBy("doc_id")


PII_SQL = f"""
WITH aug AS (
  SELECT doc_id, lang,
         text
         || ' reach user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
         || CASE WHEN doc_id % 2 = 0
                 THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.'
                      || CAST((doc_id * 7) % 250 AS VARCHAR) || '.9'
                 ELSE '' END
         || CASE WHEN doc_id % 3 = 0
                 THEN ' call 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                 ELSE '' END AS t
  FROM documents
),
scrub AS (
  SELECT doc_id, lang, t,
         regexp_replace(
           regexp_replace(
             regexp_replace(t, '{_PII_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_PII_IP_RE}', '<IP>', 'g'),
           '{_PII_PHONE_RE}', '<PHONE>', 'g') AS clean
  FROM aug
)
SELECT doc_id, lang,
       CAST(len(regexp_extract_all(t, '{_PII_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_PII_IP_RE}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(t, '{_PII_PHONE_RE}')) AS BIGINT) AS n_phones,
       length(clean) AS clean_len,
       md5(clean) AS clean_md5
FROM scrub ORDER BY doc_id
"""


# Combining marks appended so NFC has real compositions to perform:
# e+U+0301 -> é, u+U+0308 -> ü, o+U+0303 -> õ (all three compose, so
# len_raw - len_nfc == 3 exactly when the normalizer works).
_NFC_SUFFIX = " cafe\u0301 u\u0308ber no\u0303"  # DECOMPOSED (combining marks)


def docs_nfc_norm(spark, sf_dir):
    """Unicode NFC normalization — canonical-composition pass every
    multilingual corpus needs before tokenization (decomposed and
    precomposed spellings of the same word must hash/dedup together).
    Spark has no NFC builtin, so this is a mapInPandas Arrow pass over
    ``unicodedata.normalize`` (stdlib, same tables as DuckDB's utf8proc
    for these sequences); zero shuffle before the final sort. The
    oracle (DuckDB ``nfc_normalize``) pins the normalized bytes via
    md5."""
    import unicodedata

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def compute(batches):
        import hashlib

        for pdf in batches:
            ids, lraw, lnfc, ncomp, md5s = [], [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if not isinstance(text, str):
                    continue
                raw = text + _NFC_SUFFIX
                nfc = unicodedata.normalize("NFC", raw)
                ids.append(doc_id)
                lraw.append(len(raw))
                lnfc.append(len(nfc))
                ncomp.append(len(raw) - len(nfc))
                md5s.append(hashlib.md5(nfc.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {"doc_id": ids, "len_raw": lraw, "len_nfc": lnfc,
                 "n_composed": ncomp, "nfc_md5": md5s}
            )

    return docs.mapInPandas(
        compute,
        schema="doc_id long, len_raw long, len_nfc long, "
               "n_composed long, nfc_md5 string",
    ).orderBy("doc_id")


NFC_SQL = """
WITH aug AS (
  SELECT doc_id,
         text || ' cafe' || chr(769) || ' u' || chr(776) || 'ber no'
              || chr(771) AS raw
  FROM documents
  WHERE text IS NOT NULL  -- the Arrow pass emits no row for NULL text
)
SELECT doc_id,
       length(raw) AS len_raw,
       length(nfc_normalize(raw)) AS len_nfc,
       length(raw) - length(nfc_normalize(raw)) AS n_composed,
       md5(nfc_normalize(raw)) AS nfc_md5
FROM aug ORDER BY doc_id
"""


def docs_sample_hash(spark, sf_dir):
    """Deterministic hash-based stratified sampling: keep 10% of 'en'
    and 40% of every other language — the rebalancing step a
    multilingual training mix uses to up-weight low-resource
    languages. The sampling key is content-derived (md5-prefix of the
    text, the cross-engine-exact conv recipe from the MinHash ops), so
    the decision is reproducible across engines, runs, AND cluster
    sizes — no RNG, no per-partition state, embarrassingly parallel at
    100 TB (a pure filter: pushes below any downstream shuffle)."""
    docs = _t(spark, sf_dir, "documents", wide=False).select(
        "doc_id", "lang", "text")
    bucket = (
        F.conv(F.substring(F.md5(F.col("text").cast("binary")), 1, 7), 16, 10)
        .cast("long") % 100
    )
    rate = F.when(F.col("lang") == "en", F.lit(10)).otherwise(F.lit(40))
    return (
        docs.withColumn("bucket", bucket)
        .where(F.col("bucket") < rate)
        .select("doc_id", "lang", "bucket")
        .orderBy("doc_id")
    )


SAMPLE_SQL = """
SELECT doc_id, lang,
       ('0x' || substr(md5(text), 1, 7))::BIGINT % 100 AS bucket
FROM documents
WHERE ('0x' || substr(md5(text), 1, 7))::BIGINT % 100
      < CASE WHEN lang = 'en' THEN 10 ELSE 40 END
ORDER BY doc_id
"""

_PACK_BUDGET = 256  # tokens per packed training sequence


def docs_pack_sequences(spark, sf_dir):
    """GPT-style sequence packing: documents are concatenated in
    doc_id order into fixed-budget token sequences (budget 256) and
    each doc reports which packed sequences it lands in. Packing is
    PER SOURCE (the window partitions on ``source``), which is how a
    100-TB pipeline shards it — each shard packs independently, so the
    window never sees more than one shard's rows and no global sort or
    single-partition window exists. One shuffle (the window partition),
    then pure arithmetic."""
    docs = _t(spark, sf_dir, "documents", wide=False).select(
        "doc_id", "source", "text")
    n_tokens = F.size(
        F.filter(F.split("text", " "), lambda w: w != "")
    ).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = docs.select("doc_id", "source", n_tokens.alias("n_tokens"))
    cum = toks.withColumn(
        "start_tok", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return (
        cum.where(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.col("start_tok").cast("long").alias("start_tok"),
            F.floor(F.col("start_tok") / _PACK_BUDGET).alias("seq_first"),
            F.floor(
                (F.col("start_tok") + F.col("n_tokens") - 1) / _PACK_BUDGET
            ).alias("seq_last"),
        )
        .orderBy("doc_id")
    )


PACK_SQL = f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
              AS BIGINT) AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, source, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) - n_tokens
              AS BIGINT) AS start_tok
  FROM toks
)
SELECT doc_id, source, n_tokens, start_tok,
       start_tok // {_PACK_BUDGET} AS seq_first,
       (start_tok + n_tokens - 1) // {_PACK_BUDGET} AS seq_last
FROM cum WHERE n_tokens > 0 ORDER BY doc_id
"""


def docs_quality_classifier(spark, sf_dir):
    """Model-based quality filter: a fixed-weight logistic regression
    over cheap text features (log length, stopword ratio, mean word
    length, non-alpha penalty) — the fastText/CCNet-style "quality
    classifier" stage of a web-text pipeline, with the trained weights
    pinned as constants so the op is deterministic and cross-engine
    exact. Every feature is built from JVM builtins in one codegen'd
    Project (no UDF, no shuffle before the output sort); the sigmoid
    is plain IEEE double math both engines round to 6dp.

    Round 7 (guide §1.2 per-task work): the two costliest features now
    come from character arithmetic instead of a per-char regex and a
    per-word interpreted fold — ``sum_wlen`` = total chars minus the
    single-space separators (every non-space char belongs to exactly
    one word, empty words contribute 0 either way), and ``n_alpha`` =
    total chars minus the chars left after ``translate`` deletes
    [a-z] (codepoint-exact, same contract as the regex)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    words = F.filter(F.split("text", " "), lambda w: w != "")
    stop = F.filter(
        words, lambda w: w.isin("the", "a", "join", "group", "order")
    )
    n_tokens = F.size(words).cast("long")
    n_stop = F.size(stop).cast("long")
    sum_wlen = (
        F.length("text") - F.size(F.split("text", " ")) + F.lit(1)
    ).cast("long")
    n_alpha = F.length("text") - F.length(
        F.translate("text", "abcdefghijklmnopqrstuvwxyz", "")
    )
    feats = docs.select(
        "doc_id", "lang",
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stop"),
        sum_wlen.alias("sum_wlen"),
        n_alpha.cast("long").alias("n_alpha"),
        F.length("text").cast("long").alias("n_chars"),
    ).where(F.col("n_tokens") > 0)
    z = (
        F.lit(-6.0)
        + F.lit(1.1) * F.log(F.lit(1.0) + F.col("n_tokens"))
        + F.lit(8.0) * (F.col("n_stop").cast("double") / F.col("n_tokens"))
        + F.lit(0.35) * (F.col("sum_wlen").cast("double") / F.col("n_tokens"))
        - F.lit(2.5)
        * (F.lit(1.0) - F.col("n_alpha").cast("double") / F.col("n_chars"))
    )
    quality = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return feats.select(
        "doc_id", "lang", "n_tokens",
        F.round(quality, 6).alias("quality"),
        (quality >= 0.5).cast("long").alias("keep_flag"),
    ).orderBy("doc_id")


CLS_SQL = """
WITH feats AS (
  SELECT doc_id, lang,
    CAST(len(list_filter(string_split(text,' '), w -> w <> ''))
         AS BIGINT) AS n_tokens,
    CAST(len(list_filter(string_split(text,' '),
         w -> w IN ('the','a','join','group','order')))
         AS BIGINT) AS n_stop,
    CAST(list_sum(list_transform(
           list_filter(string_split(text,' '), w -> w <> ''),
           w -> length(w))) AS BIGINT) AS sum_wlen,
    length(regexp_replace(text, '[^a-z]', '', 'g')) AS n_alpha,
    length(text) AS n_chars
  FROM documents
),
scored AS (
  SELECT doc_id, lang, n_tokens,
    CAST(-6.0 AS DOUBLE)
    + CAST(1.1 AS DOUBLE) * ln(CAST(1 + n_tokens AS DOUBLE))
    + CAST(8.0 AS DOUBLE) * (CAST(n_stop AS DOUBLE) / n_tokens)
    + CAST(0.35 AS DOUBLE) * (CAST(sum_wlen AS DOUBLE) / n_tokens)
    - CAST(2.5 AS DOUBLE)
      * (CAST(1.0 AS DOUBLE) - CAST(n_alpha AS DOUBLE) / n_chars) AS z
  FROM feats WHERE n_tokens > 0
)
SELECT doc_id, lang, n_tokens,
       round(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-z)), 6)
         AS quality,
       CAST(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-z))
            >= CAST(0.5 AS DOUBLE) AS BIGINT) AS keep_flag
FROM scored ORDER BY doc_id
"""


def corpus_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage curve: rank words by corpus frequency and
    report each top-100 word's cumulative share of all tokens — the
    diagnostic a tokenizer-budget decision reads (how many vocab
    entries cover 90% of the stream). The heavy part (per-word counts)
    is ONE map-side-partial groupBy over the token stream; the ranking
    window then runs on the BOUNDED vocab table only (31 distinct
    words here; ≤ a few million at 100 TB — the standard bounded-dim
    single-partition window, same justification as
    :func:`docs_unigram_surprisal`), never on the token stream."""
    docs = _t(spark, sf_dir, "documents").select("text")
    words = F.filter(F.split("text", " "), lambda w: w != "")
    counts = (
        docs.select(F.explode(words).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_rank = Window.orderBy(F.desc("n"), F.asc("w"))
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    ranked = counts.select(
        F.row_number().over(w_rank).alias("rank"),
        F.col("w").alias("word"),
        "n",
        (
            F.sum("n").over(w_cum).cast("double")
            / F.sum("n").over(w_all)
        ).alias("share"),
    )
    return (
        ranked.where(F.col("rank") <= 100)
        .select("rank", "word", "n", F.round("share", 6).alias("cum_share"))
        .orderBy("rank")
    )


VOCAB_SQL = """
WITH words AS (
  SELECT unnest(list_filter(string_split(text,' '), w -> w <> '')) AS w
  FROM documents
),
counts AS (SELECT w, count(*) AS n FROM words GROUP BY w),
ranked AS (
  SELECT w, n,
         row_number() OVER (ORDER BY n DESC, w) AS rank,
         sum(n) OVER (ORDER BY n DESC, w ROWS UNBOUNDED PRECEDING) AS cum,
         sum(n) OVER () AS tot
  FROM counts
)
SELECT rank, w AS word, CAST(n AS BIGINT) AS n,
       round(CAST(cum AS DOUBLE) / tot, 6) AS cum_share
FROM ranked WHERE rank <= 100 ORDER BY rank
"""


def corpus_mix_weights(spark, sf_dir):
    """Data-mixing weights: per-source token tallies and the sampling
    weight that flattens the mix toward a uniform per-source token
    budget (weight = min(1, fair_share / actual)) — the knob a
    training-mix spec turns to stop one crawl source from dominating.
    One map-side-partial groupBy over the corpus; the share/weight
    arithmetic runs on the bounded source dim (20 rows) via a
    full-frame window, never touching the token stream again."""
    docs = _t(spark, sf_dir, "documents", wide=False).select("source", "text")
    n_tokens = F.size(
        F.filter(F.split("text", " "), lambda w: w != "")
    ).cast("long")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tokens).alias("n_tokens"),
    )
    w_all = Window.partitionBy()
    t = F.sum("n_tokens").over(w_all).cast("double")
    k = F.count(F.lit(1)).over(w_all).cast("double")
    return per_src.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens").cast("double") / t, 6).alias("token_share"),
        F.round(
            F.least(F.lit(1.0), (t / k) / F.col("n_tokens")), 6
        ).alias("sample_weight"),
    ).orderBy("source")


MIX_SQL = """
WITH toks AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(list_filter(string_split(text,' '), w -> w <> '')))
              AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT sum(n_tokens) AS t, count(*) AS k FROM toks)
SELECT source, n_docs, n_tokens,
       round(CAST(n_tokens AS DOUBLE) / tot.t, 6) AS token_share,
       round(least(CAST(1.0 AS DOUBLE),
             (CAST(tot.t AS DOUBLE) / tot.k) / n_tokens), 6)
         AS sample_weight
FROM toks, tot ORDER BY source
"""


def docs_dedup_incremental(spark, sf_dir):
    """Incremental ingest dedup: a new arrival batch is deduplicated
    WITHIN itself (first arrival per content hash wins) and AGAINST
    the existing corpus — the continuous-crawl form of exact dedup,
    where only the day's batch is reprocessed, never the 100-TB
    corpus (which contributes only its distinct hashes; in the crawl
    engine proper the same contract is the seen anti-join,
    operators/seen.py). Corpus = even doc_ids; arrivals = odd doc_ids
    plus deterministic re-tagged copies of corpus texts (doc_id%10==0)
    and within-batch duplicates (doc_id%20==1) so both suppression
    paths do real work. One shuffle each side on the content hash;
    the anti-join is hash-partitioned on the same key."""
    # (a hash-once _snapshot variant was measured here and rejected:
    # at bench scale the snapshot write+read costs more than the three
    # extra 6 MB scans it saves; at 100 TB the incremental contract
    # already guarantees only the BATCH is scanned, so the multi-scan
    # shape never touches the corpus anyway)
    docs = _t(spark, sf_dir, "documents", wide=False).select("doc_id", "text")
    corpus = (
        docs.where(F.col("doc_id") % 2 == 0)
        .select(F.md5(F.col("text").cast("binary")).alias("h"))
        .distinct()
    )
    arrivals = (
        docs.where(F.col("doc_id") % 2 == 1)
        .select(F.col("doc_id").alias("arrival_id"), "text")
        .unionAll(
            docs.where(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 100000).alias("arrival_id"), "text"
            )
        )
        .unionAll(
            docs.where(F.col("doc_id") % 20 == 1).select(
                (F.col("doc_id") + 200000).alias("arrival_id"), "text"
            )
        )
    )
    w = Window.partitionBy("h").orderBy("arrival_id")
    batch = (
        arrivals.select(
            "arrival_id", F.md5(F.col("text").cast("binary")).alias("h")
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    return (
        batch.join(corpus, "h", "left_anti")
        .select("arrival_id", F.col("h").alias("text_hash"))
        .orderBy("arrival_id")
    )


INC_DEDUP_SQL = """
WITH corpus AS (
  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0
),
arrivals AS (
  SELECT doc_id AS arrival_id, text FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 200000, text FROM documents WHERE doc_id % 20 = 1
),
batch AS (
  SELECT arrival_id, md5(text) AS h,
         row_number() OVER (PARTITION BY md5(text) ORDER BY arrival_id)
           AS rn
  FROM arrivals
)
SELECT b.arrival_id, b.h AS text_hash
FROM batch b LEFT JOIN corpus c ON b.h = c.h
WHERE b.rn = 1 AND c.h IS NULL
ORDER BY b.arrival_id
"""


def docs_snapshot_diff(spark, sf_dir):
    """Snapshot delta: which content entered, left, or persisted
    between two corpus snapshots (A = even doc_ids, B = doc_id%3!=0 —
    deterministic overlapping slices so all three statuses occur) —
    the audit query a recurring-crawl pipeline runs per snapshot pair.
    Each side collapses to (hash, min doc_id) with map-side partial
    aggs; the full-outer join runs hash-partitioned on the same key,
    so text crosses the wire exactly once per side."""
    docs = _t(spark, sf_dir, "documents", wide=False).select("doc_id", "text")

    def side(pred):
        return (
            docs.where(pred)
            .groupBy(F.md5(F.col("text").cast("binary")).alias("h"))
            .agg(F.min("doc_id").alias("rep"))
        )

    a = side(F.col("doc_id") % 2 == 0).withColumnRenamed("rep", "rep_a")
    b = side(F.col("doc_id") % 3 != 0).withColumnRenamed("rep", "rep_b")
    return (
        a.join(b, "h", "full_outer")
        .select(
            F.col("h").alias("text_hash"),
            F.when(F.col("rep_a").isNull(), "added")
            .when(F.col("rep_b").isNull(), "removed")
            .otherwise("kept")
            .alias("status"),
            F.coalesce("rep_b", "rep_a").alias("rep_doc_id"),
        )
        .orderBy("text_hash")
    )


SNAPSHOT_DIFF_SQL = """
WITH a AS (SELECT md5(text) AS h, min(doc_id) AS rep_a FROM documents
           WHERE doc_id % 2 = 0 GROUP BY md5(text)),
b AS (SELECT md5(text) AS h, min(doc_id) AS rep_b FROM documents
      WHERE doc_id % 3 != 0 GROUP BY md5(text))
SELECT coalesce(a.h, b.h) AS text_hash,
       CASE WHEN a.h IS NULL THEN 'added'
            WHEN b.h IS NULL THEN 'removed'
            ELSE 'kept' END AS status,
       coalesce(rep_b, rep_a) AS rep_doc_id
FROM a FULL OUTER JOIN b ON a.h = b.h
ORDER BY text_hash
"""


_SIMHASH_HAMMING_MAX = 5


def docs_simhash_neardup(spark, sf_dir):
    """SimHash near-duplicate pairs via 4×16-bit banding — the
    Manku/Jain/Sarma (WWW'07) web-scale simhash dedup join: any pair
    within Hamming distance 3 of a 64-bit simhash shares at least one
    of the 4 bands verbatim (pigeonhole), so exact-match band buckets
    generate the candidates (67× fewer than all-pairs here) and the
    exact `bit_count(xor)` distance is computed only on those. The
    signature comes from the zero-shuffle Arrow pass
    (:func:`docs_simhash_arrow` — value-identical to the relational
    form, both hash-verified); candidates self-join on (band, value),
    never on the corpus. Threshold 5 keeps recall past the pigeonhole
    guarantee; at 100 TB you re-probe with rotated band splits instead
    of raising the threshold."""
    # unordered signature pass (no orderBy: the catalog form's output
    # sort would force a global range-exchange under every join side),
    # materialized ONCE per invocation: the plan references the
    # signature table three times (band explode + both verify sides),
    # and without the snapshot Spark re-ran the whole Arrow pass per
    # subtree — 3× the corpus scan+hash work for a 16-byte/doc table
    # (guide §5 caching / §8 "decide with small rows")
    sh = _snapshot(_simhash_arrow_of(_t(spark, sf_dir, "documents")))
    bands = sh.selectExpr(
        "doc_id", "simhash_lo", "simhash_hi",
        "explode(array("
        "  struct(0 AS b, CAST(simhash_lo & 65535 AS BIGINT) AS bv),"
        "  struct(1 AS b, CAST(shiftright(simhash_lo, 16) & 65535 AS BIGINT) AS bv),"
        "  struct(2 AS b, CAST(simhash_hi & 65535 AS BIGINT) AS bv),"
        "  struct(3 AS b, CAST(shiftright(simhash_hi, 16) & 65535 AS BIGINT) AS bv)"
        ")) AS band",
    ).select("doc_id", "simhash_lo", "simhash_hi", "band.b", "band.bv")
    # Second pass: the band rows already carry both signature halves,
    # so the Hamming verify runs INLINE in the band join (2 xor +
    # bit_count per candidate — cheaper than shuffling the candidate)
    # and the pair-dedup `distinct` moves AFTER the filter: only TRUE
    # near-dup pairs (few) ever shuffle, where the previous shape
    # shuffled every candidate pair through `distinct` and then joined
    # the signatures back twice. A pair co-bucketed in k≤4 bands is
    # verified k times — duplicated cheap arithmetic for an avoided
    # exchange of the full candidate set (guide §2.2: shuffle fewer
    # bytes). A/B: 1.8→1.3s at sf0.1, 4.4→2.3 at sfgen-1.0, 30→9.7 at
    # sfgen-3.0 (near-dup-rich); rows identical at all three.
    a = bands.select(
        "b", "bv", F.col("doc_id").alias("id_a"),
        F.col("simhash_lo").alias("lo_a"), F.col("simhash_hi").alias("hi_a"),
    )
    c = bands.select(
        "b", "bv", F.col("doc_id").alias("id_b"),
        F.col("simhash_lo").alias("lo_b"), F.col("simhash_hi").alias("hi_b"),
    )
    return (
        a.join(F.broadcast(c), ["b", "bv"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.expr("lo_a ^ lo_b"))
            + F.bit_count(F.expr("hi_a ^ hi_b")),
        )
        .where(F.col("hamming") <= _SIMHASH_HAMMING_MAX)
        .select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))
        .distinct()
        .orderBy("id_a", "id_b")
    )


def _simhash_neardup_sql() -> str:
    base = SIMHASH_SQL.strip().rsplit("ORDER BY doc_id", 1)[0]
    return f"""
WITH sh AS ({base}),
bands AS (
  SELECT doc_id, simhash_lo, simhash_hi, b,
         CASE b
           WHEN 0 THEN simhash_lo & 65535
           WHEN 1 THEN (simhash_lo // 65536) & 65535
           WHEN 2 THEN simhash_hi & 65535
           ELSE (simhash_hi // 65536) & 65535
         END AS bv
  FROM sh, (SELECT unnest([0,1,2,3]) AS b)
),
cand AS (
  SELECT DISTINCT least(a.doc_id, c.doc_id) AS id_a,
                  greatest(a.doc_id, c.doc_id) AS id_b
  FROM bands a JOIN bands c ON a.b = c.b AND a.bv = c.bv
               AND a.doc_id < c.doc_id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(x.simhash_lo, y.simhash_lo))
            + bit_count(xor(x.simhash_hi, y.simhash_hi)) AS BIGINT)
         AS hamming
FROM cand JOIN sh x ON x.doc_id = id_a JOIN sh y ON y.doc_id = id_b
WHERE bit_count(xor(x.simhash_lo, y.simhash_lo))
      + bit_count(xor(x.simhash_hi, y.simhash_hi))
      <= {_SIMHASH_HAMMING_MAX}
ORDER BY id_a, id_b
"""


SIMHASH_NEARDUP_SQL = _simhash_neardup_sql()


def events_funnel(spark, sf_dir):
    """Ordered conversion funnel with per-stage time windows
    (signup → view within 4h → purchase within 4h of the view) — the
    sequence-analytics query every event pipeline runs. Each stage is
    one groupBy producing a per-user earliest qualifying timestamp,
    joined forward — stage N's table shrinks monotonically so the
    joins get cheaper down the funnel, and nothing is windowed over
    the raw event stream."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "t_signup"
        )
    )
    four_h = F.expr("INTERVAL 4 HOURS")
    v = (
        ev.where(F.col("event_type") == "view")
        .join(s.where(F.col("t_signup").isNotNull()), "user_id")
        .where(
            (F.col("ts") > F.col("t_signup"))
            & (F.col("ts") <= F.col("t_signup") + four_h)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .where(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + four_h)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )

    def stage(df, name, idx, col):
        return df.agg(
            F.lit(name).alias("stage"),
            F.lit(idx).alias("stage_idx"),
            F.count(col).cast("long").alias("n_users"),
        )

    return (
        stage(s, "signup", 1, "t_signup")
        .unionAll(stage(v, "view", 2, "t_view"))
        .unionAll(stage(p, "purchase", 3, "t_purchase"))
        .orderBy("stage_idx")
    )


FUNNEL_SQL = """
WITH s AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
  FROM events GROUP BY user_id
),
v AS (
  SELECT e.user_id, min(e.ts) AS t_view
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'view' AND s.t_signup IS NOT NULL
        AND e.ts > s.t_signup
        AND e.ts <= s.t_signup + INTERVAL 4 HOUR
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'purchase' AND e.ts > v.t_view
        AND e.ts <= v.t_view + INTERVAL 4 HOUR
  GROUP BY e.user_id
)
SELECT 'signup' AS stage, 1 AS stage_idx,
       CAST(count(t_signup) AS BIGINT) AS n_users FROM s
UNION ALL SELECT 'view', 2, CAST(count(*) AS BIGINT) FROM v
UNION ALL SELECT 'purchase', 3, CAST(count(*) AS BIGINT) FROM p
ORDER BY stage_idx
"""


def events_retention(spark, sf_dir):
    """Cohort retention: users grouped by first-activity day, share
    still active 1/7/14 days later — the other canonical event-stream
    analytic. Two groupBys (first-activity, per-cohort size) and one
    distinct over (user, day offset); cohort arithmetic happens on the
    bounded cohort×offset grid, not the event stream."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("cohort_day")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("ts").cast("date"), F.col("cohort_day")).alias(
                "day_n"
            ),
        )
        .distinct()
    )
    cohorts = firsts.groupBy("cohort_day").agg(
        F.count(F.lit(1)).cast("long").alias("n0")
    )
    return (
        activity.where(F.col("day_n").isin(1, 7, 14))
        .join(cohorts, "cohort_day")
        .groupBy("cohort_day", "day_n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_active"),
            F.max("n0").alias("cohort_size"),
            F.round(
                F.count(F.lit(1)).cast("double") / F.max("n0"), 4
            ).alias("retention"),
        )
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.col("day_n").cast("long").alias("day_n"),
            "n_active",
            "cohort_size",
            "retention",
        )
        .orderBy("cohort_day", "day_n")
    )


RETENTION_SQL = """
WITH firsts AS (
  SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id, f.cohort_day,
         datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_n
  FROM events e JOIN firsts f ON e.user_id = f.user_id
),
cohorts AS (SELECT cohort_day, count(*) AS n0 FROM firsts GROUP BY cohort_day)
SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(a.day_n AS BIGINT) AS day_n,
       CAST(count(*) AS BIGINT) AS n_active,
       CAST(max(c.n0) AS BIGINT) AS cohort_size,
       round(CAST(count(*) AS DOUBLE) / max(c.n0), 4) AS retention
FROM activity a JOIN cohorts c ON a.cohort_day = c.cohort_day
WHERE a.day_n IN (1, 7, 14)
GROUP BY c.cohort_day, a.day_n
ORDER BY cohort_day, day_n
"""


def docs_length_quantiles(spark, sf_dir):
    """Ordered statistics: exact per-language document-length quartiles
    + p95 (Spark ``percentile`` ≡ DuckDB ``quantile_cont``, both linear
    interpolation on sorted values) — the length-distribution profile a
    corpus report leads with. Exact percentile is a per-group sort; at
    100 TB swap in ``percentile_approx`` (t-digest, mergeable, one
    pass) — the query shape is unchanged, which is why the exact form
    is the oracle contract here."""
    docs = _t(spark, sf_dir, "documents", wide=False).select("lang", "n_chars")
    pc = lambda p: F.round(
        F.expr(f"percentile(CAST(n_chars AS DOUBLE), {p})"), 4
    )
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            pc(0.25).alias("p25"),
            pc(0.5).alias("p50"),
            pc(0.75).alias("p75"),
            pc(0.95).alias("p95"),
        )
        .orderBy("lang")
    )


QUANTILES_SQL = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(quantile_cont(CAST(n_chars AS DOUBLE), 0.25), 4) AS p25,
       round(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 4) AS p50,
       round(quantile_cont(CAST(n_chars AS DOUBLE), 0.75), 4) AS p75,
       round(quantile_cont(CAST(n_chars AS DOUBLE), 0.95), 4) AS p95
FROM documents GROUP BY lang ORDER BY lang
"""


def corpus_bigram_lm(spark, sf_dir):
    """Bigram language-model statistics: top-50 adjacent word pairs
    with conditional probability P(w2|w1) — the trainable artifact of
    a count-based LM and the context table a next-word quality signal
    reads. Pair construction is a HOF transform over each doc's token
    array (no self-join on position), counts are one map-side-partial
    groupBy, and the w1 marginal reuses the already-aggregated pair
    table. Guarded on size≥2 because ``sequence(1, 0)`` DESCENDS in
    Spark rather than producing an empty array."""
    docs = _t(spark, sf_dir, "documents").select("text")
    pairs = (
        docs.selectExpr(
            "filter(split(text, ' '), w -> w != '') AS ws"
        )
        .where("size(ws) >= 2")
        .selectExpr(
            "explode(transform(sequence(1, size(ws) - 1),"
            " i -> struct(ws[i-1] AS w1, ws[i] AS w2))) AS pr"
        )
        .select("pr.w1", "pr.w2")
    )
    counts = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    uni = counts.groupBy("w1").agg(F.sum("n").alias("n1"))
    return (
        counts.join(uni, "w1")
        .select(
            "w1", "w2", "n",
            F.round(F.col("n").cast("double") / F.col("n1"), 6).alias(
                "p_cond"
            ),
        )
        .orderBy(F.desc("n"), "w1", "w2")
        .limit(50)
    )


BIGRAM_SQL = """
WITH toks AS (
  SELECT list_filter(string_split(text,' '), w -> w <> '') AS ws
  FROM documents
),
pairs AS (
  SELECT unnest(list_zip(ws[1:len(ws)-1], ws[2:len(ws)])) AS pr FROM toks
  WHERE len(ws) >= 2
),
counts AS (
  SELECT pr[1] AS w1, pr[2] AS w2, count(*) AS n
  FROM pairs GROUP BY 1, 2
),
uni AS (SELECT w1, sum(n) AS n1 FROM counts GROUP BY w1)
SELECT c.w1, c.w2, CAST(c.n AS BIGINT) AS n,
       round(CAST(c.n AS DOUBLE) / u.n1, 6) AS p_cond
FROM counts c JOIN uni u USING (w1)
ORDER BY n DESC, w1, w2 LIMIT 50
"""


def corpus_bpe_merges(spark, sf_dir):
    """The core BPE tokenizer-induction step: rank adjacent symbol
    pairs inside words by corpus frequency — rank 1 is the first merge
    a BPE trainer would perform; the top-20 table is the merge
    frontier. Character pairs come from the same HOF-transform shape
    as the bigram op (chars of each ≥2-char word), one shuffle for the
    pair counts, ranking on the bounded pair dim."""
    docs = _t(spark, sf_dir, "documents").select("text")
    pairs = (
        docs.selectExpr("explode(filter(split(text, ' '), w -> w != '')) AS w")
        .where(F.length("w") >= 2)
        .selectExpr(
            "explode(transform(sequence(1, length(w) - 1),"
            " i -> concat(substring(w, i, 1), substring(w, i + 1, 1))))"
            " AS pair"
        )
    )
    counts = pairs.groupBy("pair").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.orderBy(F.desc("n"), "pair")
    return (
        counts.select(F.row_number().over(w).alias("rank"), "pair", "n")
        .where(F.col("rank") <= 20)
        .orderBy("rank")
    )


BPE_MERGES_SQL = """
WITH words AS (
  SELECT unnest(list_filter(string_split(text,' '), w -> w <> '')) AS w
  FROM documents
),
chars AS (
  SELECT string_split(w, '') AS cs FROM words WHERE length(w) >= 2
),
pairs AS (
  SELECT unnest(list_zip(cs[1:len(cs)-1], cs[2:len(cs)])) AS pr FROM chars
),
counts AS (
  SELECT pr[1] || pr[2] AS pair, count(*) AS n
  FROM pairs GROUP BY 1
)
SELECT row_number() OVER (ORDER BY n DESC, pair) AS rank,
       pair, CAST(n AS BIGINT) AS n
FROM counts ORDER BY rank LIMIT 20
"""


# --------------------------------------------------------------------------

CATALOG: dict[str, QuerySpec] = {
    "q1_pricing_summary": QuerySpec(q1_pricing_summary, Q1_SQL),
    "q3_shipping_priority": QuerySpec(q3_shipping_priority, Q3_SQL),
    "q4_order_priority": QuerySpec(q4_order_priority, Q4_SQL),
    "q5_region_revenue": QuerySpec(q5_region_revenue, Q5_SQL),
    "top3_customers_per_nation": QuerySpec(top3_customers_per_nation, TOP3_SQL),
    "customers_without_orders": QuerySpec(customers_without_orders, ANTI_SQL),
    "events_sessionized": QuerySpec(events_sessionized, SESSION_SQL),
    "events_daily": QuerySpec(events_daily, DAILY_SQL),
    "monthly_order_growth": QuerySpec(monthly_order_growth, MONTHLY_SQL),
    "events_hourly_windows": QuerySpec(events_hourly_windows, HOURLY_SQL),
    "part_brand_stats": QuerySpec(part_brand_stats, PART_SQL),
    "docs_dedup_exact": QuerySpec(docs_dedup_exact, DEDUP_SQL),
    "docs_minhash": QuerySpec(docs_minhash, MINHASH_SQL),
    "docs_lsh_buckets": QuerySpec(docs_lsh_buckets, LSH_SQL),
    "docs_jaccard_pairs": QuerySpec(docs_jaccard_pairs, JACCARD_SQL),
    "docs_ngram_jaccard": QuerySpec(docs_ngram_jaccard, NGRAM_JACCARD_SQL),
    "docs_simhash": QuerySpec(docs_simhash, SIMHASH_SQL),
    "docs_token_stats": QuerySpec(docs_token_stats, TOKENS_SQL),
    "docs_bpe_tokens": QuerySpec(docs_bpe_tokens, BPE_TOKENS_SQL),
    "docs_gopher_quality": QuerySpec(docs_gopher_quality, GOPHER_SQL),
    "docs_gopher_quality_arrow": QuerySpec(
        docs_gopher_quality_arrow, GOPHER_SQL),
    "corpus_top_terms": QuerySpec(corpus_top_terms, TOP_TERMS_SQL),
    "docs_decontaminate": QuerySpec(docs_decontaminate, DECON_SQL),
    "docs_unigram_surprisal": QuerySpec(
        docs_unigram_surprisal, SURPRISAL_SQL),
    "docs_tfidf_topk": QuerySpec(docs_tfidf_topk, TFIDF_SQL),
    "docs_dup_spans": QuerySpec(docs_dup_spans, DUPSPAN_SQL),
    "docs_winnow_fp": QuerySpec(docs_winnow_fp, WINNOW_SQL),
    # Arrow-pass twins: same results, zero-shuffle mapInPandas plans —
    # verified against the SAME DuckDB oracles as their relational forms
    "docs_minhash_arrow": QuerySpec(docs_minhash_arrow, MINHASH_SQL),
    "docs_winnow_fp_arrow": QuerySpec(docs_winnow_fp_arrow, WINNOW_SQL),
    "docs_simhash_arrow": QuerySpec(docs_simhash_arrow, SIMHASH_SQL),
    "docs_pii_scrub": QuerySpec(docs_pii_scrub, PII_SQL),
    "docs_nfc_norm": QuerySpec(docs_nfc_norm, NFC_SQL),
    "docs_sample_hash": QuerySpec(docs_sample_hash, SAMPLE_SQL),
    "docs_pack_sequences": QuerySpec(docs_pack_sequences, PACK_SQL),
    "docs_quality_classifier": QuerySpec(docs_quality_classifier, CLS_SQL),
    "corpus_vocab_coverage": QuerySpec(corpus_vocab_coverage, VOCAB_SQL),
    "corpus_mix_weights": QuerySpec(corpus_mix_weights, MIX_SQL),
    "docs_dedup_incremental": QuerySpec(docs_dedup_incremental, INC_DEDUP_SQL),
    "docs_snapshot_diff": QuerySpec(docs_snapshot_diff, SNAPSHOT_DIFF_SQL),
    "docs_simhash_neardup": QuerySpec(docs_simhash_neardup, SIMHASH_NEARDUP_SQL),
    "events_funnel": QuerySpec(events_funnel, FUNNEL_SQL),
    "events_retention": QuerySpec(events_retention, RETENTION_SQL),
    "docs_length_quantiles": QuerySpec(docs_length_quantiles, QUANTILES_SQL),
    "corpus_bigram_lm": QuerySpec(corpus_bigram_lm, BIGRAM_SQL),
    "corpus_bpe_merges": QuerySpec(corpus_bpe_merges, BPE_MERGES_SQL),
    "docs_lang_quality": QuerySpec(docs_lang_quality, LANG_SQL),
    "docs_fingerprint": QuerySpec(docs_fingerprint, FP_SQL),
    "media_metadata": QuerySpec(media_metadata, MEDIA_SQL),
}
