"""Driver loop: BFS crawl rounds with atomic snapshots + resume.

The reference's asyncio producer/consumer event loop (reference
simple_crawler/main.py:36-132) becomes a synchronous driver loop: one
BFS round per iteration, each round committed as an atomic snapshot
(crawl_log / frontier_{r+1} / lineage under ``r{N}`` dirs plus a
``_committed_r`` marker — Iceberg-snapshot semantics without Iceberg,
SURVEY.md §7.3). A killed run resumes from the max committed round and
reproduces the remaining rounds bit-for-bit, because every round's input
is exactly the previously committed parquet.

Job budget: a round submits TWO actions — the crawl_log write (the one
extract-UDF execution) and the next-frontier write (discovery + seen
dedup). Each runs as several Spark jobs, one per broadcast build plus
the write itself; ``crawl()`` runs without AQE, so no query stage runs
as a job of its own. ``plans.crawl.jobs_per_round`` in ``crawlbench``
measures 8 on ``bulk_crawl`` and 9.3 on ``polite_crawl``, whose corpus
carries a ``status_code`` column (15 and 21.3 with AQE on). A round with
a 429 history also broadcasts the backoff dimension in two plans; built
from Arrow, each build is a one-task JVM job, where a list-built frame
ran ``defaultParallelism`` Python tasks. Everything else the driver derives
from the just-written parquet files (row counts, per-file lineage
counters, run events): a Spark job costs seconds of
scheduling in local mode and driver round-trips on a cluster, while a
driver-side columnar read of a round's output is milliseconds. The
URL-seen table is not written at all — it is a VIEW over the committed
frontier snapshots (rows tagged ``is_new``), which the seen filter's
anti-join scans each round.

Driver-memory bounds (the 10^10-frontier design point):

- resume is O(rounds), not O(rows): each round's commit marker carries
  ``processed`` and ``hosts_429``, so a resumed run reconstructs the
  visited count and the 429 backoff multipliers from the tiny markers
  alone — no committed crawl_log file is ever re-read.
- per-round metrics read the ``is_new`` flag column only (1 bit/row);
  the driver never reads the ``url_hash`` column — the seen filter's
  anti-join reads it executor-side.
- all driver-side state I/O goes through :mod:`sparkcrawler.fs`
  (fsspec-shaped), so the loop is object-store-ready; Spark jobs speak
  to object stores natively.

Stop conditions mirror the reference: cumulative completed pages ≥
max_pages (cache.py:57-59 ``limit_reached``) or an empty frontier (the
25-empty-poll exit, main.py:60-64 — deterministic here: an empty
frontier IS the end).
"""

from __future__ import annotations

import datetime as dt
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from sparkcrawler import schemas
from sparkcrawler.fs import DEFAULT_FS, LocalFS
from sparkcrawler.functions.urlnorm import canonicalize, host_of
from sparkcrawler.operators.seen import ExactSeenShards
from sparkcrawler.oracle import url_hash64
from sparkcrawler.plans.round import FRONTIER_COLS, build_round, discovered_links


# frontier row count at or below which the frontier's URLs are
# collected and pushed into the corpus scan as an IN filter →
# bucket pruning + row-group min/max skipping on url-sorted buckets
FETCH_PUSHDOWN_LIMIT = 4096


@dataclass
class CrawlConfig:
    """The knobs a crawl's caller sets. Engine tuning constants live
    beside the code they tune (``FETCH_PUSHDOWN_LIMIT`` here,
    ``plans.round.BROADCAST_FRONTIER_LIMIT``,
    ``operators.politeness.SALT_BUCKETS``)."""

    max_pages: int = 10                # reference default MAX_PAGES=10
    retries: int = 1                   # corpus fetches are deterministic
    round_seconds: float = 60.0        # politeness budget window per round
    max_rounds: int = 1000
    # >0 and pages carries an url_bucket partition column → per-round
    # partition pruning of the fetch scan (Iceberg-bucket semantics)
    corpus_buckets: int = 0


@dataclass
class CrawlResult:
    run_id: str
    rounds: int
    visited: int
    out_dir: str
    wall_seconds: float
    round_stats: list[dict] = field(default_factory=list)


_SINK_POOL = None


def _sink_pool(spark):
    """Lazily-created single-worker driver thread pool for submitting a
    round's crawl_log write concurrently with its frontier write
    (guide §2.6: actions are only sequential because the driver calls
    them sequentially), so the frontier job's tasks back-fill executors
    freed by the crawl_log job's tail. Both jobs read the persisted
    politeness decision and extract-UDF output; Spark's per-block
    locking computes each cached partition once. The writes land in
    different dirs and the round marker commits strictly after both,
    so outputs and resume are the same as with sequential writes.
    One worker is enough — exactly two jobs are ever in flight. Under
    Py4J pinned-thread mode (the default since Spark 3.2) the pool
    thread owns its own JVM thread-locals, so job descriptions set
    inside it never leak to the main thread."""
    global _SINK_POOL
    if _SINK_POOL is None:
        from concurrent.futures import ThreadPoolExecutor

        _SINK_POOL = ThreadPoolExecutor(
            max_workers=1, thread_name_prefix="sc-sink"
        )
    return _SINK_POOL


def _marker(fs: LocalFS, out_dir: str, name: str) -> str:
    return fs.join(out_dir, f"_committed_{name}")


def _commit(fs: LocalFS, out_dir: str, name: str, payload: dict) -> None:
    fs.write_json_atomic(_marker(fs, out_dir, name), payload)


def _max_committed_round(fs: LocalFS, out_dir: str) -> int | None:
    """Highest committed round, or None if not even init committed."""
    if not fs.exists(_marker(fs, out_dir, "init")):
        return None
    r = -1
    while fs.exists(_marker(fs, out_dir, str(r + 1))):
        r += 1
    return r


def _committed_dirs(fs: LocalFS, out_dir: str, table: str, up_to: int) -> list[str]:
    """Existing round dirs r0..r{up_to} of a state table — an explicit
    list, so a torn, uncommitted r{k} dir from a killed attempt is never
    read (it gets overwritten when round k re-runs)."""
    paths = []
    for i in range(up_to + 1):
        d = fs.join(out_dir, table, f"r{i}")
        if fs.exists(d):
            paths.append(d)
    return paths


def _read_frontier(spark: SparkSession, *paths: str) -> DataFrame:
    """Frontier-snapshot read with the EXPLICIT on-disk schema — skips
    the per-call footer schema inference (a driver round-trip per round
    that never shrinks with cores)."""
    return spark.read.schema(schemas.FRONTIER_SNAPSHOT_SCHEMA).parquet(*paths)


# ----------------------------------------------------------- seed frontier --


def _seed_rows(seed_urls: list[str]) -> list[dict]:
    """Seeds → canonical round-0 frontier rows (priority 0 = crawled
    first). Pure driver-side: canonicalize/host_of/xxh64 are the same
    functions the Spark plans use (verified bit-equal in tests)."""
    rows, seen_local = [], set()
    for u in seed_urls:
        cu = canonicalize(None, u)
        if cu and cu not in seen_local:
            seen_local.add(cu)
            rows.append(
                {
                    "url": cu,
                    "url_hash": url_hash64(cu),
                    "host": host_of(cu),
                    "depth": 0,
                    "priority": 0.0,
                    "round": 0,
                    "attempt": 0,
                    "is_new": True,
                }
            )
    return rows


def seed_frontier(spark: SparkSession, seed_urls: list[str]) -> DataFrame:
    """Seeds as a frontier DataFrame (public helper; the crawl itself
    builds round 0 driver-side). Built from Arrow, so it plans as a
    ``LocalRelation`` (see :func:`schemas.local_frame`)."""
    table = _frontier0_table(_seed_rows(seed_urls)).drop_columns(["is_new"])
    return spark.createDataFrame(table, schemas.FRONTIER_SCHEMA)


def _frontier0_table(rows: list[dict]):
    import pyarrow as pa

    return pa.table(
        {
            "url": pa.array([r["url"] for r in rows], pa.string()),
            "url_hash": pa.array([r["url_hash"] for r in rows], pa.int64()),
            "host": pa.array([r["host"] for r in rows], pa.string()),
            "depth": pa.array([r["depth"] for r in rows], pa.int32()),
            "priority": pa.array([r["priority"] for r in rows], pa.float64()),
            "round": pa.array([r["round"] for r in rows], pa.int32()),
            "attempt": pa.array([r["attempt"] for r in rows], pa.int32()),
            "is_new": pa.array([True] * len(rows), pa.bool_()),
        }
    )


# ------------------------------------------------------------- run events --


def _append_run_event(fs, out_dir, run_id, seed_url, max_pages, event) -> None:
    """Run-event sink (reference data.py:117-140 start/complete_run).
    One tiny row — written driver-side, not as a Spark job."""
    import pyarrow as pa

    table = pa.table(
        {
            "run_id": pa.array([run_id], pa.string()),
            "seed_url": pa.array([seed_url], pa.string()),
            "max_pages": pa.array([max_pages], pa.int32()),
            "event": pa.array([event], pa.string()),
            "event_time": pa.array(
                [dt.datetime.now(dt.timezone.utc)], pa.timestamp("us", tz="UTC")
            ),
        }
    )
    fs.write_parquet(table, fs.join(out_dir, "runs"))


# ------------------------------------------- driver-side per-round metrics --


def _round_file_stats(fs: LocalFS, out_dir: str, r: int) -> dict:
    """Every counter the round needs, from the just-written parquet —
    per-FILE granularity (one written file == one output partition), no
    Spark job. Feeds the driver's loop decisions and the lineage table.

    Driver-memory bound: the frontier pass reads only the ``is_new``
    boolean column (per file, 1 bit/row); no ``url_hash`` ever reaches
    driver memory.
    """
    stats = {
        "processed": 0, "fetched": 0, "link_occurrences": 0,
        "newly_discovered": 0, "deferred": 0, "hosts_429": set(),
        "log_files": [], "frontier_files": [],
    }
    for f in fs.glob(fs.join(out_dir, "crawl_log", f"r{r}", "*.parquet")):
        t = fs.read_parquet(
            f, columns=["crawl_status", "n_links", "status_code", "host"]
        )
        status = t.column("crawl_status").to_numpy(zero_copy_only=False)
        n_links = t.column("n_links").to_pylist()
        fetched = int((status == schemas.PARSED).sum())
        links = int(sum(n for n in n_links if n is not None))
        # FRONTIER-status rows are 429 observations (re-enqueued, not
        # terminal) — they do not count toward visited pages
        terminal = int((status != schemas.FRONTIER).sum())
        codes = t.column("status_code").to_numpy(zero_copy_only=False)
        if (codes == 429).any():
            hosts = t.column("host").to_pylist()
            stats["hosts_429"].update(
                h for h, c in zip(hosts, codes) if c == 429
            )
        stats["log_files"].append(
            {"rows": t.num_rows, "fetched": fetched, "links": links}
        )
        stats["processed"] += terminal
        stats["fetched"] += fetched
        stats["link_occurrences"] += links
    for f in fs.glob(fs.join(out_dir, "frontier", f"r{r + 1}", "*.parquet")):
        t = fs.read_parquet(f, columns=["is_new"])
        is_new = t.column("is_new").to_numpy(zero_copy_only=False)
        n_new = int(is_new.sum())
        stats["frontier_files"].append({"rows": t.num_rows, "new": n_new})
        stats["newly_discovered"] += n_new
        stats["deferred"] += t.num_rows - n_new
    return stats


def _write_lineage_rows(fs, out_dir, run_id, r, stats: dict) -> None:
    """Per-partition lineage (north rule A6): one row per written file of
    this round's outputs — frontier_in/fetched from the crawl_log files,
    newly_discovered from the next-frontier files (merged by file index).
    ``deduped`` = same-host link occurrences that did NOT become new
    frontier rows (within-page + within-round + seen dedup combined); it
    is a cross-partition difference, so it lands exact on a single
    totals row (partition_id = -1) rather than being faked per-partition.
    """
    import pyarrow as pa

    per: dict[int, dict] = {}
    for i, lf in enumerate(stats["log_files"]):
        per.setdefault(i, {})["frontier_in"] = lf["rows"]
        per[i]["fetched"] = lf["fetched"]
    for j, ff in enumerate(stats["frontier_files"]):
        per.setdefault(j, {})["newly_discovered"] = ff["new"]
    deduped_total = max(
        stats["link_occurrences"] - stats["newly_discovered"], 0
    )
    pids = sorted(per) + [-1]
    rows = [per.get(p, {}) for p in sorted(per)] + [{"deduped": deduped_total}]
    table = pa.table(
        {
            "run_id": pa.array([run_id] * len(pids), pa.string()),
            "round": pa.array([r] * len(pids), pa.int32()),
            "partition_id": pa.array(pids, pa.int32()),
            "frontier_in": pa.array(
                [row.get("frontier_in", 0) for row in rows], pa.int64()
            ),
            "fetched": pa.array([row.get("fetched", 0) for row in rows], pa.int64()),
            "deduped": pa.array([row.get("deduped", 0) for row in rows], pa.int64()),
            "newly_discovered": pa.array(
                [row.get("newly_discovered", 0) for row in rows], pa.int64()
            ),
        }
    )
    fs.write_parquet(table, fs.join(out_dir, "lineage", f"r{r}"), "part-0.parquet")


# ------------------------------------------------------------------ crawl --


def _resume_state(
    fs: LocalFS, out_dir: str, resume_round: int
) -> tuple[int, dict[str, int]]:
    """(visited, backoff_k) for a resume — O(rounds) marker reads.

    Each committed round's marker carries ``processed`` and
    ``hosts_429`` (a tiny host list), so no committed crawl_log parquet
    is ever re-opened — at the 10^10 design point the marker path is
    KBs where a log re-scan would be TBs of driver I/O. A marker
    without those fields was written by an older engine and fails
    loudly, like :func:`_check_layout`.
    """
    visited = 0
    backoff_k: dict[str, int] = {}
    for i in range(resume_round + 1):
        mk = fs.read_json(_marker(fs, out_dir, str(i)))
        if "hosts_429" not in mk or "processed" not in mk:
            raise RuntimeError(
                f"incompatible on-disk layout at {out_dir}: commit marker "
                f"_committed_{i} lacks processed/hosts_429 (written by an "
                "older engine). Re-run the crawl into a fresh out_dir."
            )
        visited += mk["processed"]
        for h in mk["hosts_429"]:
            backoff_k[h] = backoff_k.get(h, 0) + 1
    return visited, backoff_k


def _check_layout(fs: LocalFS, out_dir: str) -> None:
    """Fail fast on a pre-``is_new`` on-disk layout: the seen table is a
    view over the frontier snapshots' ``is_new`` column; an out_dir
    written by an older engine (separate ``seen/`` tree, no ``is_new``)
    would otherwise die later with an opaque missing-column error — or
    silently ignore its old seen data."""
    files = fs.glob(fs.join(out_dir, "frontier", "r0", "*.parquet"))
    if files and "is_new" not in fs.parquet_column_names(files[0]):
        raise RuntimeError(
            f"incompatible on-disk layout at {out_dir}: frontier snapshots "
            "lack the is_new column (written by a pre-seen-view engine). "
            "Re-run the crawl into a fresh out_dir; the legacy seen/ tree "
            "is not readable by this version."
        )
    if fs.exists(fs.join(out_dir, "seen")):
        raise RuntimeError(
            f"incompatible on-disk layout at {out_dir}: found a legacy "
            "seen/ directory (this engine derives the seen set from "
            "frontier is_new rows). Re-run into a fresh out_dir."
        )


_AQE = "spark.sql.adaptive.enabled"


def crawl(
    spark: SparkSession,
    pages: DataFrame,
    robots: DataFrame,
    seed_urls: list[str],
    out_dir: str,
    run_id: str = "run_0",
    config: CrawlConfig | None = None,
    extra_frontier: DataFrame | None = None,
    fs: LocalFS | None = None,
) -> CrawlResult:
    """Run (or resume) a crawl. All state lives under ``out_dir``.

    ``robots`` is used as given and broadcast in both gate plans of
    every round (the persisted politeness decision and the disallowed
    branch of the crawl_log), so pass a cheap frame: a parquet read, an
    Arrow-built frame (:func:`schemas.local_frame`) or a persisted one.
    A frame built from a Python list, or an unpersisted parse of the
    corpus, re-runs its Python tasks in both plans every round.

    ``extra_frontier`` lets the sitemap priming loop inject additional
    round-0 URLs (reference main.py:26-33 prime_queue). Priming sets are
    tiny by construction (one sitemap tree per seed host), so they merge
    driver-side; seed-vs-sitemap duplicates resolve deterministically by
    (priority, url) — the seed's priority 0.0 wins.

    ``fs`` routes all driver-side state I/O (markers, metrics reads,
    lineage writes) — local disk by default, object-store backends are
    drop-in (:mod:`sparkcrawler.fs`).

    The call runs with AQE off (``spark.sql.adaptive.enabled=false``) and
    restores the caller's value on exit, whether it returns or raises.
    Each AQE query stage runs as a Spark job of its own, which is most of
    a small round's fixed cost, and AQE has little to adapt here: every
    crawl shuffle is keyed on a hash or a salted host, so skew-join
    splitting has nothing to split, and ``get_spark`` sizes the shuffle
    partitions to the core count. The setting is session-wide, so other
    queries run on the same session during the call run without AQE too.
    """
    aqe = spark.conf.get(_AQE)
    spark.conf.set(_AQE, "false")
    try:
        return _crawl(
            spark, pages, robots, seed_urls, out_dir, run_id, config,
            extra_frontier, fs,
        )
    finally:
        spark.conf.set(_AQE, aqe)


def _crawl(
    spark: SparkSession,
    pages: DataFrame,
    robots: DataFrame,
    seed_urls: list[str],
    out_dir: str,
    run_id: str,
    config: CrawlConfig | None,
    extra_frontier: DataFrame | None,
    fs: LocalFS | None,
) -> CrawlResult:
    cfg = config or CrawlConfig()
    fs = fs or DEFAULT_FS
    t0 = time.time()
    fs.makedirs(out_dir)

    # 429 adaptive backoff (reference main.py:80-84): host -> number of
    # rounds in which it emitted >=1 429; effective crawl_delay is
    # max(delay, BACKOFF_BASE_DELAY) * BACKOFF_FACTOR^(k-1). Rebuilt
    # from the commit markers on resume (bit-identical resumes).
    backoff_k: dict[str, int] = {}

    resume_round = _max_committed_round(fs, out_dir)
    if resume_round is None:
        # ---- fresh run: commit the seed snapshot ("init") ----
        if extra_frontier is None:
            # seeds only: a tiny driver-side pyarrow write (a Spark job
            # for a handful of rows costs seconds of scheduling)
            fs.write_parquet(
                _frontier0_table(_seed_rows(seed_urls)),
                fs.join(out_dir, "frontier", "r0"), "part-0.parquet",
            )
        else:
            # sitemap-primed: merge seeds ∪ primed URLs Spark-side — a
            # union + per-url_hash window keeping the deterministic
            # (priority, url) winner (the seed's priority 0.0 wins a
            # tie) — so no frontier row ever reaches the driver, at any
            # priming size. Written sorted in one partition, matching
            # the driver path's (url_hash, url) file order bit-for-bit.
            merged = seed_frontier(spark, seed_urls).unionByName(
                extra_frontier.select(*FRONTIER_COLS)
            )
            (
                merged.selectExpr(
                    "*",
                    "row_number() OVER (PARTITION BY url_hash "
                    "ORDER BY priority, url) AS _rn",
                )
                .where("_rn = 1")
                .drop("_rn")
                .selectExpr("*", "true AS is_new")
                .repartition(1)
                .sortWithinPartitions("url_hash", "url")
                .write.mode("overwrite")
                .parquet(fs.join(out_dir, "frontier", "r0"))
            )
        _append_run_event(
            fs, out_dir, run_id,
            seed_urls[0] if seed_urls else None, cfg.max_pages, "start_run",
        )
        _commit(fs, out_dir, "init", {"run_id": run_id})
        next_round = 0
        visited = 0
    else:
        _check_layout(fs, out_dir)
        next_round = resume_round + 1
        # O(rounds) resume: visited + backoff from the commit markers
        # alone — no committed crawl_log parquet is re-opened.
        visited, backoff_k = _resume_state(fs, out_dir, resume_round)
        _append_run_event(
            fs, out_dir, run_id, seed_urls[0] if seed_urls else None,
            cfg.max_pages, "resume_run",
        )

    trace = bool(__import__("os").environ.get("SPARKCRAWLER_TRACE"))

    def _tr(label: str, t_start: float) -> None:
        if trace:
            print(f"[round-trace] {label}: {time.time() - t_start:.2f}s",
                  file=__import__('sys').stderr)

    stats: list[dict] = []
    r = next_round
    # frontier size is carried between rounds (deferred + newly discovered)
    # so the loop never spends a count() job on it; on entry (fresh or
    # resume) it is unknown → None means "count it once".
    frontier_count: int | None = None
    while r < cfg.max_rounds and visited < cfg.max_pages:
        frontier_path = fs.join(out_dir, "frontier", f"r{r}")
        if not fs.exists(frontier_path):
            break
        frontier = _read_frontier(spark, frontier_path)
        if frontier_count is None:
            # footer row counts via the fs shim — no Spark count job
            frontier_count = sum(
                fs.parquet_num_rows(f)
                for f in fs.glob(fs.join(frontier_path, "*.parquet"))
            )
        if frontier_count == 0:
            break

        remaining = cfg.max_pages - visited
        max_admit = remaining if frontier_count > remaining else None

        t_round = time.time()
        # small frontier → ONE tiny driver-side columnar read powers
        # both prunings: the url IN-list pushed into the corpus scan,
        # and (for a url_bucket-partitioned corpus) the partition-dir
        # set derived from the same urls via the pure-Python xxh64.
        # pyarrow over the just-written snapshot, NOT a Spark collect —
        # a per-round Spark job is ~0.2s of pure driver latency that
        # never shrinks with cores (same fs-shim read the round metrics
        # already do).
        frontier_buckets = None
        frontier_urls = None
        if frontier_count <= FETCH_PUSHDOWN_LIMIT:
            frontier_urls = sorted(
                u
                for f in fs.glob(fs.join(frontier_path, "*.parquet"))
                for u in fs.read_parquet(f, columns=["url"])
                .column("url")
                .to_pylist()
            )
            if cfg.corpus_buckets:
                frontier_buckets = sorted(
                    {url_hash64(u) % cfg.corpus_buckets for u in frontier_urls}
                )
            _tr(f"r{r} frontier probe ({len(frontier_urls)} urls)", t_round)
        elif cfg.corpus_buckets and frontier_count < 4 * cfg.corpus_buckets:
            frontier_buckets = [
                row[0]
                for row in frontier.select(
                    F.pmod(F.col("url_hash"), F.lit(cfg.corpus_buckets))
                ).distinct().collect()
            ]
            _tr(f"r{r} bucket probe ({len(frontier_buckets)} buckets)", t_round)
        backoff_df = None
        if backoff_k:
            from sparkcrawler.plans.round import BACKOFF_FACTOR

            # from Arrow: a list-built frame would run Python tasks in
            # both plans that scan it, every round with a 429 history
            backoff_df = schemas.local_frame(
                spark,
                [(h, float(BACKOFF_FACTOR ** (k - 1))) for h, k in
                 sorted(backoff_k.items())],
                "host string, delay_mult double",
            )
        plan = build_round(
            pages, robots, frontier, run_id, r,
            round_seconds=cfg.round_seconds,
            max_admit=max_admit,
            retries=cfg.retries,
            frontier_count=frontier_count,
            frontier_buckets=frontier_buckets,
            frontier_urls=frontier_urls,
            backoff=backoff_df,
        )
        # windows compute once: both the crawl_log job and the
        # next-frontier job read the politeness decision from cache;
        # the extract UDF output is shared the same way
        plan.decided.persist()
        plan.extracted.persist()
        _tr(f"r{r} plan build", t_round)

        # ---- job 1 (heavy): the round's crawl_log — one UDF execution ----
        par = spark.sparkContext.defaultParallelism
        t1 = time.time()

        # coalesce to the core count: a union of three branches would
        # otherwise emit 100+ tiny files whose later scans cost a task each
        def _write_crawl_log() -> None:
            spark.sparkContext.setJobDescription(f"crawl r{r}: crawl_log")
            plan.crawl_log.coalesce(par).write.mode("overwrite").parquet(
                fs.join(out_dir, "crawl_log", f"r{r}")
            )

        # FIFO scheduling gives the (heavier, first-submitted) crawl_log
        # job priority; the frontier job below back-fills its tail
        # (guide §2.6). Submitted first so it also drives population of
        # the shared decided/extracted cache.
        log_future = _sink_pool(spark).submit(_write_crawl_log)

        # ---- job 2: next frontier = politeness-deferred ∪ (discovered ∖ seen)
        # Discovery reads the cached extract output, so the UDF never
        # re-runs; the `is_new` tag makes the written frontier double as
        # the seen-set delta (no separate seen write — the seen table IS
        # the union of is_new rows across committed frontier snapshots).
        seen_all = _read_frontier(
            spark, *_committed_dirs(fs, out_dir, "frontier", r)
        ).where(F.col("is_new"))
        # within-round dedup + one exact anti-join against the seen
        # view — rebuilt from the committed snapshots every round, so a
        # resumed crawl needs no seen-state rebuild
        new_links = ExactSeenShards().filter_new(
            discovered_links(plan.extracted), seen_all
        )
        next_frontier = plan.deferred.withColumn(
            "is_new", F.lit(False)
        ).unionByName(
            new_links.select(*FRONTIER_COLS).withColumn("is_new", F.lit(True))
        )
        try:
            spark.sparkContext.setJobDescription(f"crawl r{r}: frontier")
            next_frontier.coalesce(par).write.mode("overwrite").parquet(
                fs.join(out_dir, "frontier", f"r{r + 1}")
            )
            spark.sparkContext.setJobDescription(None)
        finally:
            # strict barrier before any metric read / marker commit:
            # the round is only committed once BOTH sinks are on disk,
            # and a frontier-side failure must still await (and
            # surface) the in-flight crawl_log job
            log_future.result()
            _tr(f"r{r} crawl_log+frontier overlapped writes", t1)

        # ---- driver-side: metrics, lineage (no Spark jobs) ----
        t3 = time.time()
        m = _round_file_stats(fs, out_dir, r)
        processed = m["processed"]
        n_new = m["newly_discovered"]
        n_deferred = m["deferred"]
        for h in m["hosts_429"]:
            backoff_k[h] = backoff_k.get(h, 0) + 1
        _write_lineage_rows(fs, out_dir, run_id, r, m)
        _tr(f"r{r} driver metrics+lineage", t3)

        _commit(fs, out_dir, str(r), {
            "processed": processed, "new": n_new,
            "hosts_429": sorted(m["hosts_429"]),
        })
        visited += processed
        stats.append({
            "round": r, "frontier_in": frontier_count, "processed": processed,
            "new": n_new, "deferred": n_deferred,
            "wall": round(time.time() - t_round, 3),
        })
        plan.decided.unpersist()
        plan.extracted.unpersist()
        frontier_count = n_new + n_deferred
        _tr(f"r{r} TOTAL", t_round)
        r += 1

    _append_run_event(
        fs, out_dir, run_id, seed_urls[0] if seed_urls else None,
        cfg.max_pages, "complete_run",
    )
    return CrawlResult(
        run_id=run_id,
        rounds=r - next_round,
        visited=visited,
        out_dir=out_dir,
        wall_seconds=time.time() - t0,
        round_stats=stats,
    )


# ------------------------------------------------------------- read side --


def _read_committed(
    spark: SparkSession, out_dir: str, table: str, schema, ahead: int = 0
) -> DataFrame:
    """The round dirs of ``table`` that belong to committed rounds:
    r0..r{K+ahead}, where K is the highest round with a
    ``_committed_<K>`` marker. A round exists once its marker does, so
    the dirs of a round killed between its writes and its marker are
    never read. No committed dir → an empty frame of ``schema``."""
    k = _max_committed_round(DEFAULT_FS, out_dir)
    paths = [] if k is None else _committed_dirs(
        DEFAULT_FS, out_dir, table, k + ahead
    )
    if not paths:
        return schemas.local_frame(spark, [], schema)
    return spark.read.parquet(*paths)


def read_crawl_log(spark: SparkSession, out_dir: str) -> DataFrame:
    return _read_committed(
        spark, out_dir, "crawl_log", schemas.CRAWL_LOG_SCHEMA
    )


def read_seen(spark: SparkSession, out_dir: str) -> DataFrame:
    """URL-seen set (url_hash, url, round_added) — a view over the
    committed frontier snapshots' ``is_new`` rows; nothing is stored
    twice. Round K writes and commits ``frontier/r{K+1}``, so the view
    reads one snapshot past the last committed round. The reference's
    Redis SADD set (cache.py:91-97) analog."""
    return (
        _read_committed(
            spark, out_dir, "frontier", schemas.FRONTIER_SNAPSHOT_SCHEMA, 1
        )
        .where(F.col("is_new"))
        .select(
            "url_hash", "url", F.col("round").cast("int").alias("round_added")
        )
    )


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    return _read_committed(spark, out_dir, "lineage", schemas.LINEAGE_SCHEMA)


def read_crawl_pages(
    spark: SparkSession, out_dir: str, pages: DataFrame
) -> DataFrame:
    """Analytical read-side parity with the reference's
    ``SELECT * FROM urls`` including the content BLOB (reference
    data_conn.py:11-16, config/sqlite.yml:44-46): the crawl outcome per
    URL joined back to the corpus row, so the fetched page's text is
    recoverable per crawled URL without re-fetching."""
    log = read_crawl_log(spark, out_dir)
    return log.join(
        pages.select("url", "text", "lang", "warc_ts"), "url", "left"
    )
