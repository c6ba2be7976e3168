"""One crawl round as a declarative DataFrame plan.

Pipeline (SURVEY.md §3.1): frontier → [robots broadcast-join gate] →
[per-host politeness window] → [fetch = left join vs pages corpus] →
[Arrow UDF extract links+text] → same-host filter (JVM-side) →
crawl_log rows. Link discovery + seen dedup run over the *written*
crawl_log (plans/crawl.py) so the extract UDF executes exactly once per
round.

Status codes follow the reference enum (cache.py:13-21): a fetched page
is logged PARSED (download + parse happen in the same round), a robots
block is DISALLOWED/403 and never fetched (downloader.py:63-67), a URL
absent from the corpus is ERROR/404 (requests raise_for_status path,
downloader.py:71-82).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from sparkcrawler import schemas
from sparkcrawler.functions.extract import extract_page_udf
from sparkcrawler.operators.politeness import politeness_decided
from sparkcrawler.operators.robots import apply_robots_gate

FRONTIER_COLS = ["url", "url_hash", "host", "depth", "priority", "round", "attempt"]


def _sql_str(s: str) -> str:
    """A Spark-SQL string literal (escaped) — lets hot-path plans ship
    ONE expr string instead of one py4j round-trip per literal (a
    4096-URL ``Column.isin`` costs ~1s of driver latency PER ROUND in
    gateway chatter; the equivalent ``IN (...)`` string parses JVM-side
    in one call)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


import weakref

_UDF_SESSIONS: "weakref.WeakSet" = weakref.WeakSet()


def _ensure_extract_registered(spark) -> None:
    """Register the Arrow extract UDF for SQL-string plans (once per
    session; registration is what lets the whole extract+filter stage be
    one selectExpr parse instead of dozens of gateway calls). Keyed on a
    WeakSet of the session itself, not ``id(spark)`` — after a stopped
    session is GC'd a new one can reuse the same id, which would skip
    registration and break every ``sc_extract_page`` selectExpr (and an
    int-keyed set would leak an entry per session)."""
    if spark not in _UDF_SESSIONS:
        spark.udf.register("sc_extract_page", extract_page_udf)
        _UDF_SESSIONS.add(spark)

# On a 429, the reference sleeps 10s and multiplies its poll interval by
# 1.5 (reference main.py:80-84). The distributed analog: a host that
# emitted >=1 429 in k rounds gets effective crawl_delay
# max(crawl_delay, BACKOFF_BASE_DELAY) * BACKOFF_FACTOR^(k-1), shrinking
# its politeness budget each backoff round.
BACKOFF_BASE_DELAY = 10.0
BACKOFF_FACTOR = 1.5

def trim_order():
    """Deterministic total order used for the max_pages trim (SURVEY.md §7.3)."""
    return [F.col("depth"), F.col("priority"), F.col("url_hash"), F.col("url")]


@dataclass
class RoundPlan:
    """Lazy DataFrames for one round; caller persists/writes."""

    crawl_log: DataFrame   # terminal rows logged this round
    deferred: DataFrame    # politeness overflow + retryable errors → next frontier
    admitted: DataFrame    # what passed trim+robots+politeness (pre-fetch)
    decided: DataFrame     # politeness-tagged frontier — persist across the
                           # round's jobs so the windows compute once
    extracted: DataFrame   # fetched+extracted rows (FRONTIER_COLS + links +
                           # _text_len) — MUST be persisted by the caller:
                           # the crawl_log PARSED branch, the broadcast-mode
                           # missing-URL anti-join, and link discovery all
                           # derive from this exact DataFrame so Spark's
                           # cache substitution makes the extract UDF run
                           # once per round


def build_round(
    pages: DataFrame,
    robots: DataFrame,
    frontier: DataFrame,
    run_id: str,
    round_no: int,
    *,
    round_seconds: float = 60.0,
    salt_buckets: int = 16,
    max_admit: int | None = None,
    retries: int = 1,
    frontier_count: int | None = None,
    broadcast_frontier_limit: int = 2_000_000,
    frontier_buckets: list[int] | None = None,
    frontier_urls: list[str] | None = None,
    backoff: DataFrame | None = None,
) -> RoundPlan:
    f = frontier.select(*FRONTIER_COLS)

    # max_pages trim: the reference stops at completed_pages >= max_pages
    # (cache.py:57-59); we admit only the remaining budget, in a
    # deterministic total order, so the final visit set is reproducible.
    # At 10^10-frontier scale a global TakeOrdered over everything is
    # wasteful when the budget is tiny: trim_order's leading key is
    # depth, so a depth-histogram pre-filter (one cheap agg) bounds the
    # sort input to the depths that can possibly contain winners —
    # exact result, tiny sort.
    if max_admit is not None:
        if frontier_count is not None and frontier_count > 8 * max_admit:
            hist = sorted(
                (row["depth"], row["n"])
                for row in f.groupBy("depth")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            cum, cutoff = 0, hist[-1][0]
            for d, n in hist:
                cum += n
                if cum >= max_admit:
                    cutoff = d
                    break
            f = f.where(F.col("depth") <= F.lit(cutoff))
        f = f.orderBy(*trim_order()).limit(max_admit)

    gated = apply_robots_gate(f, robots)

    # 429 adaptive backoff: hosts with a 429 history (tiny broadcast dim
    # (host, delay_mult), maintained by the driver) get an inflated
    # effective crawl_delay before the politeness window.
    if backoff is not None:
        gated = gated.join(F.broadcast(backoff), "host", "left").withColumn(
            "crawl_delay",
            F.when(
                F.col("delay_mult").isNotNull(),
                F.greatest(
                    F.coalesce(F.col("crawl_delay"), F.lit(0.0)),
                    F.lit(BACKOFF_BASE_DELAY),
                )
                * F.col("delay_mult"),
            ).otherwise(F.col("crawl_delay")),
        ).drop("delay_mult")

    disallowed = gated.where(~F.col("allowed"))
    allowed = gated.where(F.col("allowed"))

    decided = politeness_decided(
        allowed, round_seconds=round_seconds, salt_buckets=salt_buckets
    )
    admitted = decided.where(F.col("_admitted")).drop("_admitted")
    deferred = decided.where(~F.col("_admitted")).drop("_admitted")

    # fetch = join into the corpus, pruned to (url, html) so the scan
    # reads only what the extract stage needs (column pruning).
    #
    # Join strategy is chosen driver-side from the carried frontier count.
    # A crawl frontier is tiny in bytes relative to the corpus, so when it
    # fits we BROADCAST it and stream the corpus past it. A single outer
    # join can't do this (BroadcastHashJoin cannot build the preserved
    # side of an outer join — Spark silently ignores the hint and falls
    # back to shuffling the corpus), so the left-join-from-admitted
    # semantics are split into two broadcastable shapes:
    #   ok      = corpus ⋈ broadcast(admitted)          (inner, BuildRight)
    #   missing = admitted ⋉̸ broadcast(extracted.url)    (anti, BuildRight)
    # Both build sides are ≤ frontier-sized; the corpus side never
    # shuffles or sorts. Past the threshold (deep-web rounds at 10^10
    # scale) we fall back to a shuffle join, which on a cluster runs
    # against a corpus bucketed by url so only the frontier side moves.
    # Partition pruning (Iceberg-bucket semantics): when the corpus is
    # stored partitioned by url_bucket = pmod(xxhash64(url), NB), a
    # round that only touches a few buckets scans only those partition
    # directories — late, small rounds stop paying for full corpus scans.
    corpus = pages
    if frontier_buckets is not None and "url_bucket" in pages.columns:
        corpus = corpus.where(F.expr(
            "url_bucket IN (%s)"
            % ",".join(str(int(b)) for b in frontier_buckets)
        ))
    if frontier_urls is not None:
        # IN-list pushdown: bucket pruning on a bucketed corpus table
        # plus parquet row-group min/max skipping (buckets are sorted by
        # url), so a tail round reads a sliver of the corpus. One expr
        # string, not Column.isin — see _sql_str.
        corpus = corpus.where(F.expr(
            "url IN (%s)" % ",".join(_sql_str(u) for u in frontier_urls)
        ))
    # optional status_code column (a WARC-derived corpus carries the
    # HTTP status): 200/NULL = fetched, 429 = rate-limited (backoff +
    # bounded retry), anything else = terminal error with that code.
    has_status = "status_code" in pages.columns
    corpus = corpus.select(
        "url", "html", *(["status_code"] if has_status else [])
    )
    broadcast_mode = (
        frontier_count is not None and frontier_count <= broadcast_frontier_limit
    )
    if broadcast_mode:
        ok = corpus.join(F.broadcast(admitted), "url").where(
            F.col("html").isNotNull()
        )
    else:
        fetched = admitted.join(corpus, "url", "left")
        ok = fetched.where(F.col("html").isNotNull())

    # ONE Arrow pass extracts links + text length; the same-host filter
    # is a builtin higher-order function over the canonical links
    # (reference parser.py:38-39 netloc equality), JVM-side. AUTHORITY
    # (host[:port]) rather than HOST so URLs on the same hostname but a
    # different explicit port are cross-host, matching the reference's
    # raw-netloc comparison (canonicalization already strips default
    # ports, so the common case is unchanged).
    _ensure_extract_registered(pages.sparkSession)
    extracted = (
        ok.selectExpr("*", "sc_extract_page(url, html) AS _page")
        .selectExpr(
            *FRONTIER_COLS,
            "filter(_page.links, x -> parse_url(x, 'AUTHORITY') = host) AS links",
            "_page.text_len AS _text_len",
            *(["status_code"] if has_status else []),
        )
    )

    if broadcast_mode:
        # extract is total (one output row per fetched row), so the
        # fetch-missed URLs are exactly admitted ∖ extracted.url. The
        # build side reads the persisted `extracted` cache — its first
        # materialization (the broadcast build) populates the cache the
        # PARSED branch and link discovery then reuse.
        missing = admitted.join(
            F.broadcast(extracted.select("url")), "url", "left_anti"
        )
    else:
        missing = fetched.where(F.col("html").isNull())

    def log_row(df, status, code, with_links: bool):
        # one selectExpr parse per branch (the Column-per-field form cost
        # ~15 gateway round-trips × 6 branches × every round). `code` is
        # an int literal or a column NAME ("status_code").
        code_sql = code if isinstance(code, str) else str(int(code))
        sel = [
            f"{_sql_str(run_id)} AS run_id",
            # the frontier's own round column (== round_no for every row)
            # keeps the plan literal-free → whole-stage codegen cache hits
            # across rounds instead of a recompile per round
            "CAST(round AS INT) AS round",
            "url",
            "url_hash",
            "host",
            "CAST(depth AS INT) AS depth",
            f"CAST({int(status)} AS INT) AS crawl_status",
            f"CAST({code_sql} AS INT) AS status_code",
        ]
        if with_links:
            sel += [
                "links",
                "CAST(size(links) AS INT) AS n_links",
                "CAST(_text_len AS BIGINT) AS text_len",
            ]
        else:
            sel += [
                "CAST(NULL AS ARRAY<STRING>) AS links",
                "CAST(NULL AS INT) AS n_links",
                "CAST(NULL AS BIGINT) AS text_len",
            ]
        return df.selectExpr(*sel)

    retryable = missing.where(F.col("attempt") + 1 < F.lit(retries))
    dead = missing.where(F.col("attempt") + 1 >= F.lit(retries))

    if has_status:
        st = F.col("status_code")
        parsed_rows = extracted.where(st.isNull() | (st == 200))
        rl = extracted.where(st == 429)
        rl_retry = rl.where(F.col("attempt") + 1 < F.lit(retries))
        rl_dead = rl.where(F.col("attempt") + 1 >= F.lit(retries))
        err_other = extracted.where(
            st.isNotNull() & (st != 200) & (st != 429)
        )
    else:
        parsed_rows = extracted
        rl_retry = None

    crawl_log = (
        log_row(parsed_rows, schemas.PARSED, 200, True)
        .unionByName(log_row(disallowed, schemas.DISALLOWED, 403, False))
        .unionByName(log_row(dead, schemas.ERROR, 404, False))
    )
    if has_status:
        crawl_log = (
            crawl_log
            # terminal 429 (retries exhausted) and other HTTP errors
            .unionByName(log_row(rl_dead, schemas.ERROR, 429, False))
            .unionByName(
                log_row(err_other, schemas.ERROR, "status_code", False)
            )
            # 429 OBSERVATION rows (non-terminal, crawl_status=FRONTIER):
            # the audit trail the driver's backoff reads; the URL is
            # re-enqueued below, so these do not count as visited.
            .unionByName(log_row(rl_retry, schemas.FRONTIER, 429, False))
        )

    defer_sel = [
        "url", "url_hash", "host", "depth", "priority",
        "CAST(round + 1 AS INT) AS round", "attempt",
    ]
    retry_sel = defer_sel[:-1] + ["CAST(attempt + 1 AS INT) AS attempt"]
    deferred_out = deferred.selectExpr(*defer_sel)
    if retries > 1:
        # attempt >= 0 always, so with retries == 1 the retryable set is
        # empty BY CONSTRUCTION — Catalyst can't see that (attempt is
        # data), and keeping the branch would drag the fetch-miss
        # anti-join's broadcast build into every frontier-write job
        deferred_out = deferred_out.unionByName(retryable.selectExpr(*retry_sel))
    if has_status and rl_retry is not None and retries > 1:
        # same construction argument: 429 re-enqueues need retries > 1
        deferred_out = deferred_out.unionByName(rl_retry.selectExpr(*retry_sel))

    return RoundPlan(
        crawl_log=crawl_log,
        deferred=deferred_out,
        admitted=admitted.select(*FRONTIER_COLS),
        decided=decided,
        extracted=extracted,
    )


def discovered_links(parsed: DataFrame, dedup: bool = True) -> DataFrame:
    """Explode parsed pages' same-host links into frontier candidates.

    ``parsed`` needs (links, depth, round) — either the persisted
    extracted cache (hot path: no crawl_log re-scan) or a crawl_log
    filtered to PARSED rows. Candidate identity (url_hash, host) is
    computed JVM-side (xxhash64 + parse_url); within-round dedup keeps
    one row per url_hash (depth is constant within a round).
    ``dedup=False`` leaves the within-round dedup to the caller
    (``ExactSeenShards.filter_new`` does its own).
    """
    if "crawl_status" in parsed.columns:
        parsed = parsed.where(F.col("crawl_status") == schemas.PARSED)
    if "status_code" in parsed.columns:
        # rate-limited / HTTP-error fetches are not parsed pages —
        # their links never enter discovery
        st = F.col("status_code")
        parsed = parsed.where(st.isNull() | (st == 200))
    exploded = parsed.selectExpr(
        "explode(links) AS url",
        "CAST(depth + 1 AS INT) AS depth",
        "CAST(round + 1 AS INT) AS round",
    ).selectExpr(
        "url",
        "xxhash64(url) AS url_hash",
        "coalesce(parse_url(url, 'AUTHORITY'), '') AS host",
        "depth",
        "CAST(1.0 AS DOUBLE) AS priority",
        "round",
        "CAST(0 AS INT) AS attempt",
    )
    # first-writer-wins across pages in the same round: keep one row per
    # url_hash (depth is constant within a round, so any row is the min).
    if not dedup:
        return exploded.select(*FRONTIER_COLS)
    return exploded.dropDuplicates(["url_hash"]).select(*FRONTIER_COLS)
