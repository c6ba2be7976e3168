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
dedup). Each runs as several Spark jobs (broadcast builds and AQE query
stages): ``plans.crawl.jobs_per_round`` in ``crawlbench`` measures
about 15 on ``bulk_crawl`` and 21–22 on ``polite_crawl``, whose corpus
carries a ``status_code`` column. Everything else the driver derives
from the just-written parquet files (row counts, per-file lineage
counters, Bloom delta hashes, run events): a Spark job costs seconds of
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
  the 8-byte ``url_hash`` column is read lazily, and only when the
  round's new-URL count is small enough that the Bloom delta will be
  folded driver-side (``bloom_driver_update_limit``). A huge round
  never materializes hashes on the driver — the distributed Bloom
  build reads them executor-side.
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
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from sparkcrawler import schemas
from sparkcrawler.fs import DEFAULT_FS, LocalFS
from sparkcrawler.functions.urlnorm import canonicalize, host_of
from sparkcrawler.operators.seen import (
    DistributedBloom,
    ExactSeenShards,
    PartitionedBloom,
    dedup_against_seen,
)
from sparkcrawler.oracle import url_hash64
from sparkcrawler.plans.round import FRONTIER_COLS, build_round, discovered_links


@dataclass
class CrawlConfig:
    max_pages: int = 10                # reference default MAX_PAGES=10
    retries: int = 1                   # corpus fetches are deterministic
    round_seconds: float = 60.0        # politeness budget window per round
    salt_buckets: int = 16
    max_rounds: int = 1000
    use_bloom: bool = True
    bloom_shards: int = 16
    bloom_bits_per_shard: int = 1 << 22
    lineage: bool = True
    # >0 and pages carries an url_bucket partition column → per-round
    # partition pruning of the fetch scan (Iceberg-bucket semantics)
    corpus_buckets: int = 0
    # frontier row count at or below which the round broadcasts the
    # frontier side of the fetch join; above it, a shuffle join runs
    # (against a bucketed corpus table only the frontier side moves)
    broadcast_frontier_limit: int = 2_000_000
    # frontier row count at or below which the frontier's URLs are
    # collected and pushed into the corpus scan as an IN filter →
    # bucket pruning + row-group min/max skipping on url-sorted buckets
    fetch_pushdown_limit: int = 4096
    # skip the Bloom update for small new-URL batches (Bloom regimes
    # only): the filter only pays off when candidate volume is large,
    # and a stale (smaller) bloom is still correct — unseen suspects
    # just take the exact anti-join. Keeps tail rounds from paying a
    # fixed build cost.
    bloom_update_min_batch: int = 1
    # new-URL batch size at or below which the Bloom delta is folded in
    # driver-side (numpy over the written frontier's url_hash column —
    # no Spark job); above it, the distributed applyInPandas build runs
    # AND the driver never reads the hash column at all.
    bloom_driver_update_limit: int = 5_000_000
    # The seen filter is one exact JVM anti-join per round against a
    # scan of the committed seen view (operators/seen.py
    # ExactSeenShards). A Bloom prefilter in front of that join is built
    # only when use_bloom is on AND bloom_mode="distributed" or
    # hot_hosts>0. "distributed": bitmaps live as a persisted DataFrame
    # consulted shard-locally via cogroup (the 10^10-URL path where a
    # filter is too big for a driver or broadcast). "broadcast":
    # driver-held shard bitmaps shipped to executors, under the
    # hot-host filters below.
    bloom_mode: str = "broadcast"
    # >0: the top-K hosts by cumulative new-URL volume get per-host
    # cuckoo filters (operators/cuckoo.py) consulted INSTEAD of the
    # shared Bloom — near-exact membership for exactly the hosts that
    # generate most duplicate candidates. Filters stay complete per host
    # (built from the committed seen snapshots at promotion, fed every
    # round's delta) so a cuckoo miss is a definite miss. They follow
    # the Bloom's regime: driver-resident + broadcast for small rounds
    # under a PartitionedBloom, executor-side host-keyed state rows
    # (DistributedHotHostFilter) under a DistributedBloom or once any
    # round outgrows bloom_driver_update_limit (migration, not demotion).
    hot_hosts: int = 0
    # cumulative new-URL count a host needs before promotion
    hot_host_min_new: int = 256
    # submit the round's two sink jobs (crawl_log write, next-frontier
    # write) from two driver threads so the frontier job's tasks
    # back-fill executors freed by the crawl_log job's tail instead of
    # waiting for the full barrier (guide §2.6 overlap). Both jobs read
    # the politeness decision and extract-UDF output through the same
    # persisted DataFrames; Spark's per-block locking makes concurrent
    # cache population compute each partition once. Writes land in
    # different dirs and the round marker still commits strictly after
    # both, so resume semantics and outputs are bit-identical.
    overlap_sinks: bool = True


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
    them sequentially). One worker is enough — exactly two jobs are
    ever in flight, and FIFO scheduling lets the second back-fill the
    first's straggler tail. Under Py4J pinned-thread mode (the default
    since Spark 3.2) the pool thread owns its own JVM thread-locals,
    so job descriptions set inside it never leak to the main thread."""
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
    builds round 0 driver-side)."""
    rows = [
        (r["url"], r["url_hash"], r["host"], r["depth"], r["priority"],
         r["round"], r["attempt"])
        for r in _seed_rows(seed_urls)
    ]
    return spark.createDataFrame(rows, schemas.FRONTIER_SCHEMA)


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


def _round_file_stats(
    fs: LocalFS, out_dir: str, r: int, hash_limit: int = -1,
    want_hosts: bool = False,
) -> dict:
    """Every counter the round needs, from the just-written parquet —
    per-FILE granularity (one written file == one output partition), no
    Spark job. Feeds the driver's loop decisions, the lineage table, and
    the Bloom delta.

    Driver-memory bound: the frontier pass first reads only the
    ``is_new`` boolean column (per file, 1 bit/row). The ``url_hash``
    column is read in a second, LAZY pass only when the round's total
    new-URL count is in (0, hash_limit] — i.e. only when the Bloom
    delta will actually be folded driver-side. ``new_hashes`` is None
    otherwise, and a 10^8-new-URLs round never puts hashes in driver
    memory.
    """
    stats = {
        "processed": 0, "fetched": 0, "link_occurrences": 0,
        "newly_discovered": 0, "deferred": 0, "hosts_429": set(),
        "log_files": [], "frontier_files": [], "new_hashes": None,
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
    per_file_new: list[tuple[str, int]] = []
    for f in fs.glob(fs.join(out_dir, "frontier", f"r{r + 1}", "*.parquet")):
        t = fs.read_parquet(f, columns=["is_new"])
        is_new = t.column("is_new").to_numpy(zero_copy_only=False)
        n_new = int(is_new.sum())
        per_file_new.append((f, n_new))
        stats["frontier_files"].append({"rows": t.num_rows, "new": n_new})
        stats["newly_discovered"] += n_new
        stats["deferred"] += t.num_rows - n_new
    if 0 < stats["newly_discovered"] <= hash_limit:
        stats["new_hashes"] = []
        if want_hosts:
            stats["new_hosts"] = []
        cols = ["is_new", "url_hash"] + (["host"] if want_hosts else [])
        for f, n_new in per_file_new:
            if n_new:
                t = fs.read_parquet(f, columns=cols)
                is_new = t.column("is_new").to_numpy(zero_copy_only=False)
                hashes = t.column("url_hash").to_numpy(zero_copy_only=False)
                stats["new_hashes"].append(hashes[is_new])
                if want_hosts:
                    hosts = t.column("host").to_numpy(zero_copy_only=False)
                    stats["new_hosts"].append(hosts[is_new])
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
) -> tuple[int, dict[str, int], dict[str, int], str | None]:
    """(visited, backoff_k, host_tally, hot_mode) for a resume —
    O(rounds) marker reads.

    ``hot_mode`` is the hot-filter regime the crawl was in at its last
    committed round ("driver" / "distributed" / None for pre-hot or
    hot-disabled markers): a crawl that migrated its per-host filters
    executor-side must RE-ENTER the distributed regime on resume —
    rebuilding driver-resident filters would pull every hot host's full
    url_hash set onto the driver, exactly the memory blowup the
    migration exists to avoid.

    Each committed round's marker carries ``processed`` and
    ``hosts_429`` (a tiny host list), so no committed crawl_log parquet
    is ever re-opened — at the 10^10 design point the marker path is
    KBs where a log re-scan would be TBs of driver I/O. ``hot_tally``
    (top hosts by new-URL count, present when hot-host filters are on)
    resumes the promotion bookkeeping the same way; it is a truncated
    heavy-hitter tally, which only influences WHICH hosts get a cuckoo
    filter, never correctness. Markers written before the
    ``hosts_429`` field existed fall back to the legacy crawl_log
    column scan (still driver-side, still no Spark job).
    """
    markers = [
        fs.read_json(_marker(fs, out_dir, str(i)))
        for i in range(resume_round + 1)
    ]
    if all("hosts_429" in mk and "processed" in mk for mk in markers):
        visited = sum(mk["processed"] for mk in markers)
        backoff_k: dict[str, int] = {}
        host_tally: dict[str, int] = {}
        for mk in markers:
            for h in mk["hosts_429"]:
                backoff_k[h] = backoff_k.get(h, 0) + 1
            for h, n in mk.get("hot_tally", {}).items():
                host_tally[h] = host_tally.get(h, 0) + n
        return visited, backoff_k, host_tally, markers[-1].get("hot_mode")
    # legacy markers (pre-hosts_429): recount from the committed log
    visited = 0
    backoff_k = {}
    for d in _committed_dirs(fs, out_dir, "crawl_log", resume_round):
        round_429_hosts: set[str] = set()
        for f in fs.glob(fs.join(d, "*.parquet")):
            t = fs.read_parquet(f, columns=["crawl_status", "status_code", "host"])
            status = t.column("crawl_status").to_numpy(zero_copy_only=False)
            visited += int((status != schemas.FRONTIER).sum())
            codes = t.column("status_code").to_numpy(zero_copy_only=False)
            if (codes == 429).any():
                hosts = t.column("host").to_pylist()
                round_429_hosts.update(
                    h for h, c in zip(hosts, codes) if c == 429
                )
        for h in round_429_hosts:
            backoff_k[h] = backoff_k.get(h, 0) + 1
    return visited, backoff_k, {}, None


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

    ``extra_frontier`` lets the sitemap priming loop inject additional
    round-0 URLs (reference main.py:26-33 prime_queue). Priming sets are
    tiny by construction (one sitemap tree per seed host), so they merge
    driver-side; seed-vs-sitemap duplicates resolve deterministically by
    (priority, url) — the seed's priority 0.0 wins.

    ``fs`` routes all driver-side state I/O (markers, metrics reads,
    lineage writes) — local disk by default, object-store backends are
    drop-in (:mod:`sparkcrawler.fs`).
    """
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
        host_tally = {}
        resumed_hot_mode: str | None = None
    else:
        _check_layout(fs, out_dir)
        next_round = resume_round + 1
        # O(rounds) resume: visited + backoff + hot-host tally from the
        # commit markers alone — no committed crawl_log parquet is
        # re-opened.
        visited, backoff_k, host_tally, resumed_hot_mode = _resume_state(
            fs, out_dir, resume_round
        )
        _append_run_event(
            fs, out_dir, run_id, seed_urls[0] if seed_urls else None,
            cfg.max_pages, "resume_run",
        )

    # Bloom filter over everything ever seen — only in the regimes that
    # need one (see CrawlConfig.bloom_mode); otherwise the exact
    # anti-join alone filters the seen set. The seen set is a view over
    # the committed frontier snapshots (is_new rows), so the rebuild
    # scans those. Filters only skip definite-misses.
    bloom = None
    bloom_covered = next_round  # bloom holds seen rows with round_added <= this
    use_join_bloom = cfg.use_bloom and (
        cfg.bloom_mode == "distributed" or cfg.hot_hosts > 0
    )
    if use_join_bloom and cfg.bloom_mode == "distributed":
        bloom = DistributedBloom(
            spark, cfg.bloom_shards, cfg.bloom_bits_per_shard
        )
        dirs = _committed_dirs(fs, out_dir, "frontier", next_round)
        if dirs:
            bloom.update_from_df(
                _read_frontier(spark, *dirs).where(F.col("is_new"))
            )
    elif use_join_bloom:
        bloom = PartitionedBloom(cfg.bloom_shards, cfg.bloom_bits_per_shard)
        files = [
            f
            for d in _committed_dirs(fs, out_dir, "frontier", next_round)
            for f in fs.glob(fs.join(d, "*.parquet"))
        ]
        # footer row counts only — no column data read for the decision
        total = sum(fs.parquet_num_rows(f) for f in files)
        if 0 < total <= cfg.bloom_driver_update_limit:
            import numpy as np

            for f in files:
                t = fs.read_parquet(f, columns=["is_new", "url_hash"])
                is_new = t.column("is_new").to_numpy(zero_copy_only=False)
                hashes = t.column("url_hash").to_numpy(zero_copy_only=False)
                bloom.add_hashes(np.asarray(hashes[is_new], dtype=np.int64))
        elif total:
            bloom.update_from_df(
                _read_frontier(
                    spark, *_committed_dirs(fs, out_dir, "frontier", next_round)
                ).where(F.col("is_new"))
            )

    # the driver touches url_hash only when a broadcast-mode Bloom will
    # fold the delta in-process; distributed mode (and no-bloom runs)
    # never read the hash column driver-side
    hash_limit = (
        cfg.bloom_driver_update_limit
        if (use_join_bloom and cfg.bloom_mode != "distributed")
        else -1
    )

    # per-host cuckoo filters for hot hosts. Two regimes, matching the
    # Bloom's: driver-resident tables broadcast each round (small rounds
    # under a PartitionedBloom), or executor-side host-keyed state rows
    # consulted/updated via cogroup (DistributedBloom mode, and any
    # broadcast-mode crawl once a round outgrows the driver fold — the
    # filters MIGRATE executor-side instead of demoting, so the hot-host
    # layer operates in exactly the big-round regime it exists for).
    hot_enabled = cfg.hot_hosts > 0 and bloom is not None
    use_hot_dist = hot_enabled and not isinstance(bloom, PartitionedBloom)
    hot_filters: dict = {}
    hot_bc_filter = None  # persistent wrapper (reclaims its broadcast each round)
    hot_dist = None       # executor-side tables (DistributedHotHostFilter)

    def _seen_new(up_to: int):
        """Seen-set view (is_new frontier rows) over committed rounds —
        executor-side input for hot-filter builds/rebuilds."""
        return _read_frontier(
            spark, *_committed_dirs(fs, out_dir, "frontier", up_to)
        ).where(F.col("is_new"))

    def _build_host_filter(host: str, up_to: int):
        """Exact per-host filter from the committed seen snapshots —
        the one-off promotion cost (columnar host+hash read)."""
        import numpy as np

        from sparkcrawler.operators.cuckoo import CuckooFilter

        parts = []
        for d in _committed_dirs(fs, out_dir, "frontier", up_to):
            for f in fs.glob(fs.join(d, "*.parquet")):
                t = fs.read_parquet(f, columns=["is_new", "host", "url_hash"])
                is_new = t.column("is_new").to_numpy(zero_copy_only=False)
                hosts = t.column("host").to_numpy(zero_copy_only=False)
                hashes = t.column("url_hash").to_numpy(zero_copy_only=False)
                mask = is_new & (hosts == host)
                if mask.any():
                    parts.append(hashes[mask])
        hs = (
            np.concatenate(parts).astype(np.int64)
            if parts
            else np.zeros(0, dtype=np.int64)
        )
        return CuckooFilter.from_hashes(hs)

    def _hot_set(tally: dict) -> list[str]:
        eligible = [
            (n, h) for h, n in tally.items() if n >= cfg.hot_host_min_new
        ]
        return [h for _, h in sorted(eligible, reverse=True)[: cfg.hot_hosts]]

    if hot_enabled and resumed_hot_mode == "distributed" and not use_hot_dist:
        # The pre-crash crawl had MIGRATED its hot filters executor-side
        # (recorded in the round marker): re-enter that regime directly.
        # Instantiating the executor-side filter now keeps every later
        # round out of the driver_fold branch, so resume never rebuilds
        # driver-resident filters via _build_host_filter — which would
        # pull every hot host's full url_hash set onto the driver, the
        # memory blowup the migration existed to avoid.
        from sparkcrawler.operators.cuckoo import DistributedHotHostFilter

        hot_dist = DistributedHotHostFilter(spark, bloom)
    if hot_enabled and host_tally:
        want = _hot_set(host_tally)
        if (use_hot_dist or hot_dist is not None) and want:
            from sparkcrawler.operators.cuckoo import DistributedHotHostFilter

            if hot_dist is None:
                hot_dist = DistributedHotHostFilter(spark, bloom)
            hot_dist.ensure_hosts(want, _seen_new(next_round))
        elif hot_dist is None:
            for h in want:
                hot_filters[h] = _build_host_filter(h, next_round)

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
        if frontier_count <= cfg.fetch_pushdown_limit:
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

            backoff_df = spark.createDataFrame(
                [(h, float(BACKOFF_FACTOR ** (k - 1))) for h, k in
                 sorted(backoff_k.items())],
                "host string, delay_mult double",
            )
        plan = build_round(
            pages, robots, frontier, run_id, r,
            round_seconds=cfg.round_seconds,
            salt_buckets=cfg.salt_buckets,
            max_admit=max_admit,
            retries=cfg.retries,
            frontier_count=frontier_count,
            frontier_buckets=frontier_buckets,
            frontier_urls=frontier_urls,
            broadcast_frontier_limit=cfg.broadcast_frontier_limit,
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

        log_future = None
        if cfg.overlap_sinks:
            # FIFO scheduling gives the (heavier, first-submitted)
            # crawl_log job priority; the frontier job below back-fills
            # its tail (guide §2.6). Submitted first so it also drives
            # population of the shared decided/extracted cache.
            log_future = _sink_pool(spark).submit(_write_crawl_log)
        else:
            _write_crawl_log()
            _tr(f"r{r} crawl_log write", t1)

        # ---- job 2: next frontier = politeness-deferred ∪ (discovered ∖ seen)
        # Discovery reads the cached extract output, so the UDF never
        # re-runs; the `is_new` tag makes the written frontier double as
        # the seen-set delta (no separate seen write — the seen table IS
        # the union of is_new rows across committed frontier snapshots).
        seen_all = _read_frontier(
            spark, *_committed_dirs(fs, out_dir, "frontier", r)
        ).where(F.col("is_new"))
        if bloom is None:
            # within-round dedup + one exact anti-join against the seen
            # view — rebuilt from the committed snapshots every round,
            # so a resumed crawl needs no seen-state rebuild
            new_links = ExactSeenShards().filter_new(
                discovered_links(plan.extracted, dedup=False), seen_all
            )
        else:
            discovered = discovered_links(plan.extracted)
            seen_uncovered = (
                seen_all.where(F.col("round") > F.lit(bloom_covered))
                if bloom_covered < r
                else None
            )
            if hot_dist is not None and hot_dist.hosts:
                seen_filter = hot_dist
            elif hot_enabled and hot_filters:
                from sparkcrawler.operators.cuckoo import HotHostSeenFilter

                if hot_bc_filter is None:
                    # ONE wrapper for the whole crawl: it reclaims the
                    # previous round's broadcast before shipping the next
                    # (hot_filters is mutated in place, never rebound)
                    hot_bc_filter = HotHostSeenFilter(bloom, hot_filters)
                seen_filter = hot_bc_filter
            else:
                seen_filter = bloom
            new_links = dedup_against_seen(
                discovered, seen_all, seen_filter, spark, seen_uncovered
            )
        next_frontier = plan.deferred.withColumn(
            "is_new", F.lit(False)
        ).unionByName(
            new_links.select(*FRONTIER_COLS).withColumn("is_new", F.lit(True))
        )
        t2 = time.time()
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
            if log_future is not None:
                log_future.result()
                _tr(f"r{r} crawl_log+frontier overlapped writes", t1)
        if log_future is None:
            _tr(f"r{r} frontier write", t2)

        # ---- driver-side: metrics, lineage, bloom delta (no Spark jobs) ----
        t3 = time.time()
        m = _round_file_stats(
            fs, out_dir, r, hash_limit=hash_limit,
            want_hosts=hot_enabled and hot_dist is None and not use_hot_dist,
        )
        processed = m["processed"]
        n_new = m["newly_discovered"]
        n_deferred = m["deferred"]
        for h in m["hosts_429"]:
            backoff_k[h] = backoff_k.get(h, 0) + 1
        if cfg.lineage:
            _write_lineage_rows(fs, out_dir, run_id, r, m)

        if bloom is not None and n_new >= cfg.bloom_update_min_batch:
            # fold in EVERY round not yet covered — this round's delta
            # plus any round previously skipped by the batching
            # threshold (otherwise bloom_covered would overclaim and
            # skipped-round URLs could be re-admitted as definite-new).
            uncovered_dirs = [
                fs.join(out_dir, "frontier", f"r{i}")
                for i in range(bloom_covered + 1, r + 2)
                if fs.exists(fs.join(out_dir, "frontier", f"r{i}"))
            ]
            if isinstance(bloom, DistributedBloom):
                bloom.update_from_df(
                    _read_frontier(spark, *uncovered_dirs).where(F.col("is_new")),
                    n_rows=None if bloom_covered < r else n_new,
                )
            elif (
                m["new_hashes"] is not None and bloom_covered == r
            ):
                # common case: nothing skipped — fold this round's delta
                # from the lazily-read url_hash arrays (no Spark job)
                import numpy as np

                for arr in m["new_hashes"]:
                    bloom.add_hashes(np.asarray(arr, dtype=np.int64))
            elif n_new <= cfg.bloom_driver_update_limit:
                # skipped rounds to catch up on, still small: fold all
                # uncovered deltas driver-side from the written files
                import numpy as np

                for d in uncovered_dirs:
                    for f in fs.glob(fs.join(d, "*.parquet")):
                        t = fs.read_parquet(f, columns=["is_new", "url_hash"])
                        is_new = t.column("is_new").to_numpy(zero_copy_only=False)
                        hashes = t.column("url_hash").to_numpy(zero_copy_only=False)
                        bloom.add_hashes(np.asarray(hashes[is_new], dtype=np.int64))
            else:
                # huge delta → distributed build over the written files;
                # the driver never saw the hash column (new_hashes=None)
                bloom.update_from_df(
                    _read_frontier(spark, *uncovered_dirs).where(F.col("is_new"))
                )
            bloom_covered = r + 1

        # ---- hot-host cuckoo maintenance ----
        round_host_tally: dict[str, int] = {}
        if hot_enabled:
            driver_fold = (
                hot_dist is None
                and not use_hot_dist
                and m["new_hashes"] is not None
            )
            if driver_fold:
                import numpy as np

                for hosts_arr, hash_arr in zip(
                    m.get("new_hosts", []), m["new_hashes"]
                ):
                    uniq, counts = np.unique(hosts_arr, return_counts=True)
                    for h, n in zip(uniq.tolist(), counts.tolist()):
                        round_host_tally[h] = round_host_tally.get(h, 0) + int(n)
                    for h in list(hot_filters):
                        mask = hosts_arr == h
                        if mask.any() and not hot_filters[h].insert_many(
                            np.asarray(hash_arr[mask], dtype=np.int64)
                        ):
                            # filter full → exact rebuild, re-sized for
                            # the host's full current seen set
                            hot_filters[h] = _build_host_filter(h, r + 1)
                for h, n in round_host_tally.items():
                    host_tally[h] = host_tally.get(h, 0) + n
                for h in _hot_set(host_tally):
                    if h not in hot_filters:
                        hot_filters[h] = _build_host_filter(h, r + 1)
            elif n_new > 0:
                # executor-side regime (distributed Bloom, or a round too
                # big for the driver fold): the tally comes from one
                # capped aggregation job (≤64 (host, n) rows ever reach
                # the driver), and the tables update/promote via
                # host-local cogroup tasks — no url_hash column is ever
                # read driver-side, and nothing demotes.
                from sparkcrawler.operators.cuckoo import (
                    DistributedHotHostFilter,
                )

                new_df = _read_frontier(
                    spark, fs.join(out_dir, "frontier", f"r{r + 1}")
                ).where(F.col("is_new"))
                for row in (
                    new_df.groupBy("host")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .orderBy(F.desc("n"), "host")
                    .limit(64)
                    .collect()
                ):
                    round_host_tally[row["host"]] = int(row["n"])
                for h, n in round_host_tally.items():
                    host_tally[h] = host_tally.get(h, 0) + n
                if hot_dist is None:
                    hot_dist = DistributedHotHostFilter(spark, bloom)
                    if hot_filters:
                        # migrate driver-resident filters executor-side
                        # (exact rebuild from the committed snapshots,
                        # this round included) instead of demoting
                        hot_dist.hosts_migrating = set(hot_filters)
                        hot_filters.clear()
                        if hot_bc_filter is not None:
                            hot_bc_filter.release()
                want = set(_hot_set(host_tally)) | hot_dist.hosts_migrating
                if hot_dist.hosts or want:
                    seen_now = _seen_new(r + 1)
                    hot_dist.update_from_df(new_df, seen_now)
                    hot_dist.ensure_hosts(want, seen_now)
                    hot_dist.hosts_migrating = set()
        _tr(f"r{r} driver metrics+lineage+bloom", t3)

        payload = {
            "processed": processed, "new": n_new,
            "hosts_429": sorted(m["hosts_429"]),
        }
        if hot_enabled:
            payload["hot_tally"] = dict(
                sorted(round_host_tally.items(), key=lambda kv: -kv[1])[:64]
            )
            # regime at commit time — resume re-enters it directly
            # instead of rebuilding driver-side (see _resume_state)
            payload["hot_mode"] = (
                "distributed" if hot_dist is not None else "driver"
            )
        _commit(fs, out_dir, str(r), payload)
        visited += processed
        entry = {
            "round": r, "frontier_in": frontier_count, "processed": processed,
            "new": n_new, "deferred": n_deferred,
            "wall": round(time.time() - t_round, 3),
        }
        if hot_enabled:
            entry["hot_active"] = (
                len(hot_dist.hosts) if hot_dist is not None else len(hot_filters)
            )
            entry["hot_mode"] = "distributed" if hot_dist is not None else "driver"
        stats.append(entry)
        plan.decided.unpersist()
        plan.extracted.unpersist()
        frontier_count = n_new + n_deferred
        _tr(f"r{r} TOTAL", t_round)
        r += 1

    if hot_bc_filter is not None:
        hot_bc_filter.release()
    if hot_dist is not None:
        hot_dist.release()
    if bloom is not None:
        bloom.release()
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


def _read_tree(spark: SparkSession, path: str) -> DataFrame:
    """Read all round subdirs (r0, r1, ...) under a state table dir."""
    return spark.read.option("recursiveFileLookup", "true").parquet(path)


def read_crawl_log(spark: SparkSession, out_dir: str) -> DataFrame:
    return _read_tree(spark, f"{out_dir}/crawl_log")


def read_seen(spark: SparkSession, out_dir: str) -> DataFrame:
    """URL-seen set (url_hash, url, round_added) — a view over the
    committed frontier snapshots' ``is_new`` rows; nothing is stored
    twice. The reference's Redis SADD set (cache.py:91-97) analog."""
    return (
        _read_tree(spark, f"{out_dir}/frontier")
        .where(F.col("is_new"))
        .select(
            "url_hash", "url", F.col("round").cast("int").alias("round_added")
        )
    )


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    return _read_tree(spark, f"{out_dir}/lineage")


def read_runs(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/runs")


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
