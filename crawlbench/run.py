#!/usr/bin/env python3
"""Crawl benchmark: one workload and one seed in, one JSON result line out.

    python3 crawlbench/run.py --workload bulk_crawl --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. It generates the workload's
corpus from the seed (cached under ``crawlbench/.work``), sets up a
Spark session with ``sparkcrawler.session.get_spark`` at ``local[N]``
(N = usable cores), and crawls the corpus through the public
``sparkcrawler.plans.crawl.crawl()`` in up to three calls on one output
directory: the first stops after a fixed number of rounds, the second
resumes for exactly one round, the third (if anything is left)
finishes. Every call's output
is checked against the generator's expectation. Crawls repeat on fresh
output directories until ``--seconds`` have passed; metrics are medians
over them.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer ones (see README.md). The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; a line before it
records the run's metadata.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, ROOT)

from crawlbench.corpus import DISALLOWED, FRONTIER, Shape, load_or_generate, page_url  # noqa: E402
from crawlbench import check  # noqa: E402


@dataclass(frozen=True)
class Workload:
    shape: Shape
    round_seconds: float   # politeness window of one round
    retries: int
    stop_after: int        # rounds the first crawl() call commits
    exact_depth: bool      # no round defers, so depths are pure BFS


WORKLOADS = {
    "bulk_crawl": Workload(
        Shape(n_pages=3_000, n_hosts=40, fanout=32, nav_links=96,
              extra_links=4, paras=(20, 40), buckets=32),
        round_seconds=1e6, retries=1, stop_after=2, exact_depth=True,
    ),
    "polite_crawl": Workload(
        Shape(n_pages=500, n_hosts=40, fanout=16, nav_links=250,
              extra_links=4, paras=(1, 3), buckets=32, status_errors=True),
        round_seconds=240.0, retries=2, stop_after=2, exact_depth=False,
    ),
}

# warm-up crawl of every set-up (one round), and the check's self-test
# input: its seeds add a robots-disallowed URL so round 0 logs a 403
WARMUP = Workload(
    Shape(n_pages=120, n_hosts=3, fanout=6, nav_links=6, extra_links=1,
          paras=(1, 2), buckets=4),
    round_seconds=1e6, retries=1, stop_after=1, exact_depth=False,
)
WARMUP_SEEDS_EXTRA = [page_url(0, 7)]

# set-ups per run; setup_s is their median (here: their mean). The
# first starts the JVM and Spark cold, the second runs on the warm
# session, as a set-up in a long-lived driver would.
SETUP_REPS = 2
# driver JVM heap: the program's 8g default lets the heap of a crawl this
# size grow to 8 GB of resident memory on a shared 16 GB host
DRIVER_MEM = "2g"
CACHED_SEEDS = 4  # corpora kept per workload; older ones are evicted
EVENT_LOG_CONF = {"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false"}


def cores() -> int:
    return len(os.sched_getaffinity(0))


# --------------------------------------------------------------- metadata --


def run_metadata(seed: int) -> dict:
    import pyarrow
    import pyspark

    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, env=env, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "seed": seed, "nproc": cores(), "cpu_count": os.cpu_count(), "N": cores(),
        "git_commit": commit,
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "python": platform.python_version(), "load1_before": os.getloadavg()[0],
    }


# -------------------------------------------------------- process-tree RSS --


class PeakRss:
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and its Python workers) over a ``with`` block: each
    process's kernel high-water mark (VmHWM) is reset on entry and read
    on exit, so nothing samples while the crawl runs. The sum of
    per-process peaks can exceed the peak of the sum; a worker that
    exits inside the block is not counted."""

    def __init__(self) -> None:
        self.peak = 0

    @staticmethod
    def _tree() -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(d))
        pids, stack = [], [os.getpid()]
        while stack:
            pid = stack.pop()
            pids.append(pid)
            stack.extend(children.get(pid, []))
        return pids

    def __enter__(self) -> "PeakRss":
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")  # reset the peak-RSS high-water mark
            except OSError:
                pass
        return self

    def __exit__(self, *exc) -> None:
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1]) * 1024
            except (OSError, ValueError):
                pass
        self.peak = total


# ----------------------------------------------------------------- session --


def start_session(event_log_dir: str | None = None):
    from sparkcrawler.session import get_spark

    conf = None
    if event_log_dir:
        conf = dict(EVENT_LOG_CONF, **{"spark.eventLog.dir": "file://" + event_log_dir})
    return get_spark("crawlbench", master=f"local[{cores()}]", extra_conf=conf)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit.
    The workers are the JVM's children: once it is gone they are no
    longer ours to wait for, so they are listed first and killed if
    they outlive it by a few seconds."""
    from pyspark import SparkContext

    others = [pid for pid in PeakRss._tree() if pid != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 5
    for pid in others:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def load_tables(spark, corpus):
    pages = spark.read.parquet(corpus.pages_dir)
    robots = spark.read.parquet(corpus.robots_dir)
    return pages, robots


def cached_corpus(spark, name: str, wl: Workload, seed: int):
    cache = os.path.join(WORK, "cache")
    corpus = load_or_generate(spark, wl.shape, seed, cache, name)
    # bound the cache: keep the most recently used seeds of this workload
    parent = os.path.dirname(corpus.root)
    os.utime(corpus.root)
    kept = sorted(
        (os.path.join(parent, d) for d in os.listdir(parent) if d.startswith("seed")),
        key=os.path.getmtime, reverse=True,
    )
    for old in kept[CACHED_SEEDS:]:
        shutil.rmtree(old, ignore_errors=True)
    return corpus


# ------------------------------------------------------------------- crawl --


def crawl_config(wl: Workload, max_rounds: int | None):
    from sparkcrawler.plans.crawl import CrawlConfig

    kw = {} if max_rounds is None else {"max_rounds": max_rounds}
    return CrawlConfig(
        max_pages=4 * wl.shape.n_pages, round_seconds=wl.round_seconds,
        retries=wl.retries, corpus_buckets=wl.shape.buckets, **kw,
    )


def read_output(spark, out_dir: str):
    from sparkcrawler.plans.crawl import read_seen

    log = check.read_log(out_dir)
    seen = [r[0] for r in read_seen(spark, out_dir).select("url").collect()]
    return log, seen


def committed_rounds(out_dir: str) -> int:
    r = 0
    while os.path.exists(os.path.join(out_dir, f"_committed_{r}")):
        r += 1
    return r


def check_output(spark, out_dir, wl, expect, robots_rows, partial) -> list[str]:
    log, seen = read_output(spark, out_dir)
    pending = check.read_pending(out_dir, committed_rounds(out_dir)) if partial else None
    return check.check_crawl(
        log, seen, expect, robots_rows, wl.round_seconds, wl.exact_depth, pending
    )


def crawl_rep(spark, wl: Workload, corpus, tables, out_dir: str, fs=None) -> dict:
    """Stop, resume one round, finish: up to three crawl() calls, each checked."""
    from sparkcrawler.plans.crawl import crawl

    shutil.rmtree(out_dir, ignore_errors=True)
    pages, robots = tables
    seeds = corpus.seeds()
    expect = corpus.expect().to_pylist()
    robots_rows = corpus.robots_rows()
    rep = {"attempted": 0, "failed": 0, "walls": [], "windows": [], "epoch_windows": []}
    calls = [wl.stop_after, wl.stop_after + 1, None]
    peak = 0
    for i, max_rounds in enumerate(calls):
        if i == 2 and not check.read_pending(out_dir, committed_rounds(out_dir)):
            break  # the resumed round finished the crawl
        rep["attempted"] += 1
        t_epoch, t0 = time.time(), time.perf_counter()
        try:
            with PeakRss() as rss:
                res = crawl(spark, pages, robots, seeds, out_dir, run_id="bench",
                            config=crawl_config(wl, max_rounds), fs=fs)
        except Exception:
            traceback.print_exc()
            rep["failed"] += 1
            break
        t1 = time.perf_counter()
        peak = max(peak, rss.peak)
        rep["walls"].append(t1 - t0)
        rep["windows"].append((t0, t1))
        rep["epoch_windows"].append((t_epoch * 1000, time.time() * 1000))
        errors = check_output(spark, out_dir, wl, expect, robots_rows,
                              partial=max_rounds is not None)
        want_rounds = {0: wl.stop_after, 1: 1}.get(i)
        if want_rounds is not None and res.rounds != want_rounds:
            errors.append(f"call {i + 1} committed {res.rounds} rounds, not {want_rounds}")
        if errors:
            rep["failed"] += 1
            print(f"check failed after call {i + 1}: " + "; ".join(errors), file=sys.stderr)
    rep["peak_rss_mb"] = peak / 2**20
    if rep["failed"]:
        return rep
    log = check.read_log(out_dir)
    rep["terminal"] = sum(1 for r in log if r["crawl_status"] != FRONTIER)
    rep["urls_per_s"] = rep["terminal"] / sum(rep["walls"])
    rep["restart_round_s"] = rep["walls"][1]
    r = committed_rounds(out_dir)
    marks = [os.stat(os.path.join(out_dir, f"_committed_{i}")).st_mtime for i in range(r)]
    rep["rounds"] = r
    # the time between two calls (this benchmark's output check) is not
    # the crawl's: take it out of the marker interval that spans it
    gaps = [(a[1] / 1000, b[0] / 1000)
            for a, b in zip(rep["epoch_windows"], rep["epoch_windows"][1:])]
    rep["round_p50_s"] = statistics.median(
        (b - a) - sum(max(0.0, min(b, g1) - max(a, g0)) for g0, g1 in gaps)
        for a, b in zip(marks, marks[1:])
    )
    rep["log"] = log
    return rep


# ------------------------------------------------------------------ set-up --


def self_test(spark, corpus, out_dir) -> list[str]:
    """The check must accept the warm-up crawl and reject each doctored
    copy of its output."""
    log, seen = read_output(spark, out_dir)
    expect = corpus.expect().to_pylist()
    robots_rows = corpus.robots_rows()
    pending = check.read_pending(out_dir, committed_rounds(out_dir))

    def run(rows):
        return check.check_crawl(rows, seen, expect, robots_rows,
                                 WARMUP.round_seconds, WARMUP.exact_depth, pending)

    problems = [f"correct warm-up output rejected: {e}" for e in run(log)]
    for name, rows in check.doctored(log).items():
        if not run(rows):
            problems.append(f"doctored output accepted: {name}")
    return problems


def setup(name: str, wl: Workload, seed: int, reps: int, event_log_dir: str | None = None):
    """Session start, warm-up crawl, corpus generation or cache load.
    Repeated ``reps`` times; returns the last repetition's session and
    tables, each repetition's time, and the self-test's findings."""
    from sparkcrawler.plans.crawl import crawl

    times, spark, problems = [], None, []
    warm_out = os.path.join(WORK, "out", "warmup")
    for i in range(reps):
        t0 = time.perf_counter()
        spark = start_session(event_log_dir)
        warm = cached_corpus(spark, "warmup", WARMUP, seed)
        shutil.rmtree(warm_out, ignore_errors=True)
        crawl(spark, *load_tables(spark, warm), warm.seeds() + WARMUP_SEEDS_EXTRA,
              warm_out, run_id="warmup", config=crawl_config(WARMUP, 1))
        corpus = cached_corpus(spark, name, wl, seed)
        tables = load_tables(spark, corpus)
        times.append(time.perf_counter() - t0)
        if i == 0:
            problems = self_test(spark, warm, warm_out)
    shutil.rmtree(warm_out, ignore_errors=True)
    return spark, corpus, tables, times, problems


# ------------------------------------------------------------- per-layer --


def layer_metrics(spark_trace: dict, rep: dict, spans, out_dir: str, untraced_ups: float) -> dict:
    import pyarrow.dataset as pds

    wall = sum(rep["walls"])
    windows = rep["windows"]

    def in_calls(prefix):
        return sum(spans.total(prefix, w) for w in windows)

    # time inside the round's two write jobs, overlap counted once
    sinks = sum(spans.total(("sink.crawl_log", "sink.frontier"), w) for w in windows)
    log = rep["log"]
    parsed = [r for r in log if r["crawl_status"] == check.PARSED]
    fetched = sum(1 for r in log if r["crawl_status"] != DISALLOWED)
    frontier = pds.dataset(os.path.join(out_dir, "frontier"), format="parquet").to_table(
        columns=["is_new", "round"]).to_pydict()
    new = sum(1 for n, r in zip(frontier["is_new"], frontier["round"]) if n and r > 0)
    deferred = sum(1 for n in frontier["is_new"] if not n)
    candidates = sum(r["n_links"] or 0 for r in parsed)
    folds = [(a, b) for lbl, a, b in spans.items if lbl == "operators.seen.update_from_df"]
    resume = windows[1]
    rebuild = sorted((a, b) for a, b in folds if resume[0] <= a <= resume[1])
    written = sum(
        os.path.getsize(os.path.join(d, f))
        for t in ("crawl_log", "frontier")
        for d, _, fs in os.walk(os.path.join(out_dir, t)) for f in fs
        if f.endswith(".parquet")
    )
    covered = sum(spans.covered(w) for w in windows)
    rounds = rep["rounds"]
    scan_rows = spark_trace["fetch.scan_rows"]
    m = {
        "plans.crawl.rounds": (rounds, "count"),
        "plans.crawl.driver_s": (wall - sinks, "s"),
        "plans.crawl.driver_share": ((wall - sinks) / wall, "ratio"),
        "plans.crawl.jobs_per_round": (spark_trace["jobs"] / rounds, "count"),
        "plans.round.build_s": (in_calls("plans.round.build"), "s"),
        "plans.round.fetch_scan_rows": (scan_rows, "count"),
        "plans.round.fetch_scan_bytes": (spark_trace["fetch.scan_bytes"], "bytes"),
        "plans.round.fetch_hit_ratio": (fetched / scan_rows if scan_rows else 0.0, "ratio"),
        "functions.extract.rows": (spark_trace["extract.rows"], "count"),
        "functions.extract.links_out": (candidates, "count"),
        "functions.extract.bytes_to_python": (spark_trace["extract.bytes_to_python"], "bytes"),
        "functions.extract.task_s": (spark_trace["extract.task_s"], "s"),
        "operators.robots.disallowed": (len(log) - fetched, "count"),
        "operators.politeness.admitted": (fetched, "count"),
        "operators.politeness.deferred": (deferred, "count"),
        "operators.politeness.shuffle_bytes": (spark_trace["politeness.shuffle_bytes"], "bytes"),
        "operators.politeness.build_s": (in_calls("operators.politeness.build"), "s"),
        "operators.seen.candidates": (candidates, "count"),
        "operators.seen.new": (new, "count"),
        "operators.seen.new_ratio": (new / candidates if candidates else 0.0, "ratio"),
        "operators.seen.shuffle_bytes": (spark_trace["seen.shuffle_bytes"], "bytes"),
        "operators.seen.folds": (len(folds), "count"),
        "operators.seen.fold_s": (in_calls("operators.seen.update_from_df"), "s"),
        "operators.seen.rebuild_s": (rebuild[0][1] - rebuild[0][0] if rebuild else 0.0, "s"),
        "sink.crawl_log_s": (in_calls("sink.crawl_log"), "s"),
        "sink.frontier_s": (in_calls("sink.frontier"), "s"),
        "sink.bytes_written": (written, "bytes"),
        "fs.calls": (spans.count("fs."), "count"),
        "fs.s": (in_calls("fs."), "s"),
        "spark.task_s": (spark_trace["spark.task_s"], "s"),
        "spark.gc_s": (spark_trace["spark.gc_s"], "s"),
        "spark.spill_bytes": (spark_trace["spark.spill_bytes"], "bytes"),
        "spark.task_skew": (spark_trace["spark.task_skew"], "ratio"),
        "trace.coverage": (covered / wall, "ratio"),
        "trace.overhead": (1 - rep["urls_per_s"] / untraced_ups, "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


# -------------------------------------------------------------------- main --


def prepare_env() -> None:
    """Keep every file Spark, the JVM and the Python workers write
    inside the checkout, and let the workers import the checkout."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARKCRAWLER_SCRATCH"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARKCRAWLER_TRACE", None)


T_START = time.perf_counter()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sparkcrawler", "plans", "crawl.py")):
        print(f"no sparkcrawler package under {ROOT}: run from a source checkout",
              file=sys.stderr)
        return 2
    prepare_env()
    import sparkcrawler

    if not os.path.abspath(sparkcrawler.__file__).startswith(ROOT + os.sep):
        print(f"sparkcrawler imported from {sparkcrawler.__file__}, not {ROOT}",
              file=sys.stderr)
        return 2

    wl = WORKLOADS[args.workload]
    meta = run_metadata(args.seed)
    out_dir = os.path.join(WORK, "out", args.workload)
    spark, corpus, tables, setup_times, problems = setup(args.workload, wl, args.seed, SETUP_REPS)
    setup_s = statistics.median(setup_times)
    for p in problems:
        print(f"self-test: {p}", file=sys.stderr)

    reps = []
    t0 = time.perf_counter()
    while not reps or time.perf_counter() - t0 < args.seconds:
        reps.append(crawl_rep(spark, wl, corpus, tables, out_dir))
        if reps[-1]["failed"]:
            break
    attempted = sum(r["attempted"] for r in reps)
    failed = sum(r["failed"] for r in reps)
    ok = [r for r in reps if not r["failed"]]

    def med(key):
        return statistics.median(r[key] for r in ok) if ok else 0.0

    if args.trace:
        metrics = trace_run(spark, args.workload, wl, args.seed, out_dir, med("urls_per_s"))
        spark = None
        attempted += metrics.pop("_attempted")
        failed += metrics.pop("_failed")
        metrics["failed_ratio"] = {"value": failed / attempted, "unit": "ratio"}
    else:
        metrics = {
            "urls_per_s": {"value": med("urls_per_s"), "unit": "URL/s"},
            "round_p50_s": {"value": med("round_p50_s"), "unit": "s"},
            "restart_round_s": {"value": med("restart_round_s"), "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": med("peak_rss_mb"), "unit": "MB"},
        }
    if spark is not None:
        shutdown(spark)
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)

    meta.update(load1_after=os.getloadavg()[0], reps=len(reps),
                rounds=ok[0]["rounds"] if ok else None,
                terminal_urls=ok[0]["terminal"] if ok else None,
                setup_reps_s=setup_times, crawl_calls_s=[r["walls"] for r in reps],
                run_s=time.perf_counter() - T_START)
    print(json.dumps({"meta": meta}))
    print(json.dumps({
        "correct": failed == 0 and not problems, "attempted": attempted,
        "failed": failed, "metrics": metrics,
    }))
    return 0


def trace_run(spark, name: str, wl: Workload, seed: int, out_dir: str, untraced_ups: float) -> dict:
    """A fresh session with Spark's event log on, one traced crawl."""
    from crawlbench import trace

    log_dir = os.path.join(WORK, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    spark.stop()
    spark, corpus, tables, _, _ = setup(name, wl, seed, 1, event_log_dir=log_dir)
    spans = trace.Spans()
    uninstall = trace.install(spans, out_dir)
    try:
        rep = crawl_rep(spark, wl, corpus, tables, out_dir, fs=trace.TimingFS(spans))
    finally:
        uninstall()
    shutdown(spark)
    if rep["failed"]:
        return {"_attempted": rep["attempted"], "_failed": rep["failed"]}
    spark_trace = trace.read_event_log(log_dir, rep["epoch_windows"])
    metrics = layer_metrics(spark_trace, rep, spans, out_dir, untraced_ups)
    shutil.rmtree(log_dir, ignore_errors=True)
    metrics["_attempted"], metrics["_failed"] = rep["attempted"], rep["failed"]
    return metrics


if __name__ == "__main__":
    sys.exit(main())
