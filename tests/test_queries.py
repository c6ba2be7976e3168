"""Differential tests: every catalog query vs its DuckDB oracle —
row count, column names, and values must match (mimics the driver's
CORRECTNESS check). The catalog is the driver's crawl-output catalog
(``sparkcrawler.queries``) plus the test-only ``sparkcrawler.analytics``
catalog. Of their oracles, only ``robots_parse_dim``'s reads a testdata
table (sf0.01 ``nation``). The other four crawl-output oracles read
parquet the catalog writes itself: the demo crawl's output and the
pure-Python out-degree histogram. ``media_metadata``'s oracle builds
its rows from ``range(200)``."""

from __future__ import annotations

import math

import duckdb
import pytest

from sparkcrawler import analytics, queries

CATALOG = {**queries.CATALOG, **analytics.CATALOG}

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["nation"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{round(v, 6):.6f}"
    if isinstance(v, bool):
        return str(v)
    return str(v)


def _norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out)


SQL_QUERIES = sorted(CATALOG)


@pytest.fixture(autouse=True)
def no_persist_leak(request, spark):
    """Every catalog query must leave executor storage no fuller than it
    found it: whatever a query persists internally (the crawl demo
    build's round caches) must be unpersisted by the time its action
    returns — a long-lived session running the catalog repeatedly at
    scale must not accrete pinned blocks. Baseline-delta (not
    absolute-zero) plus gc.collect() so the check cannot race the
    ContextCleaner over RDDs released asynchronously by earlier test
    modules in the same session."""
    import gc

    gc.collect()
    baseline = spark.sparkContext._jsc.getPersistentRDDs().size()
    yield
    gc.collect()
    leaked = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert leaked <= baseline, (
        f"{request.node.name}: persisted RDDs grew {baseline} -> {leaked} "
        "after query"
    )


@pytest.mark.parametrize("name", SQL_QUERIES)
def test_query_matches_duckdb_oracle(spark, duck, name):
    spec = CATALOG[name]
    sdf = spec.spark(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    rel = duck.sql(spec.sql)
    dcols = rel.columns
    drows = rel.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), (
        f"{name}: row count {len(srows)} vs {len(drows)}"
    )
    got, want = _norm(srows, scols), _norm(drows, dcols)
    if got != want:
        diff = [(g, w) for g, w in zip(got, want) if g != w][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diff}")


def test_catalog_specs_are_well_formed():
    import __spark_entry__ as e

    for name, spec in CATALOG.items():
        assert callable(spec.spark), name
        # every spec carries its oracle: a non-empty SQL string
        assert isinstance(spec.sql, str) and spec.sql.strip(), name
    # the driver serves exactly the crawl-output catalog, oracle texts
    # verbatim; the test-only catalog shares none of its names
    assert not set(queries.CATALOG) & set(analytics.CATALOG)
    assert list(e.queries()) == list(queries.CATALOG)
    oracles = e.oracle_sql()
    assert list(oracles) == list(queries.CATALOG)
    for name, sql in oracles.items():
        assert sql == queries.CATALOG[name].sql.strip(), name
