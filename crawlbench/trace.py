"""Per-layer tracing of one crawl, measured from outside the program.

Two sources:

- driver spans: wrappers around the public functions ``crawl()`` calls
  (patched where the caller looks the name up), around the
  ``DataFrameWriter.parquet`` / ``DataFrameReader.parquet`` calls, and
  a timing ``LocalFS`` subclass passed through ``crawl(fs=...)``;
- executor metrics: Spark's own event log, grouped by the job
  descriptions the crawl sets (``crawl r<r>: crawl_log`` / ``frontier``)
  and attributed to layers by the physical plan node whose SQL metrics
  a task updated.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import threading
import time
from collections import defaultdict

from sparkcrawler.fs import LocalFS


class Spans:
    """(label, start, end) intervals recorded from any thread."""

    def __init__(self) -> None:
        self.items: list[tuple[str, float, float]] = []
        self._lock = threading.Lock()

    def add(self, label: str, t0: float, t1: float) -> None:
        with self._lock:
            self.items.append((label, t0, t1))

    def total(self, prefix, window: tuple[float, float] | None = None) -> float:
        """Union of the spans whose label starts with ``prefix`` (a
        string or a tuple of them), clipped to ``window``."""
        return _union(
            [(a, b) for lbl, a, b in self.items if lbl.startswith(prefix)], window
        )

    def count(self, prefix: str) -> int:
        return sum(1 for lbl, _, _ in self.items if lbl.startswith(prefix))

    def covered(self, window: tuple[float, float]) -> float:
        return _union([(a, b) for _, a, b in self.items], window)


def _union(intervals, window=None) -> float:
    """Length of the union of intervals, clipped to ``window``."""
    if window:
        intervals = [(max(a, window[0]), min(b, window[1])) for a, b in intervals]
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class TimingFS(LocalFS):
    """LocalFS whose every call is recorded as an ``fs.<verb>`` span."""

    def __init__(self, spans: Spans) -> None:
        self._spans = spans


def _timed(label: str, fn, spans: Spans):
    def wrapper(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            spans.add(label, t0, time.perf_counter())

    wrapper.__wrapped__ = fn
    return wrapper


def _fs_method(name: str):
    base = getattr(LocalFS, name)

    def method(self, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return base(self, *args, **kwargs)
        finally:
            self._spans.add(f"fs.{name}", t0, time.perf_counter())

    return method


for _name in ("exists", "makedirs", "glob", "write_json_atomic", "read_json",
              "write_text", "read_parquet", "parquet_num_rows",
              "parquet_column_names", "write_parquet"):
    setattr(TimingFS, _name, _fs_method(_name))


def install(spans: Spans, out_dir: str):
    """Patch the crawl's call sites to record spans; returns the undo."""
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    import sparkcrawler.plans.crawl as crawl_mod
    import sparkcrawler.plans.round as round_mod
    from sparkcrawler.operators.seen import ExactSeenShards

    undo = []

    def patch(owner, name, label):
        orig = getattr(owner, name)
        setattr(owner, name, _timed(label, orig, spans))
        undo.append((owner, name, orig))

    patch(crawl_mod, "build_round", "plans.round.build")
    patch(crawl_mod, "discovered_links", "plans.round.discovered_links")
    patch(round_mod, "apply_robots_gate", "operators.robots.build")
    patch(round_mod, "politeness_decided", "operators.politeness.build")
    for m in ("update_from_df", "filter_new", "reap", "release"):
        patch(ExactSeenShards, m, f"operators.seen.{m}")

    write_orig = DataFrameWriter.parquet
    read_orig = DataFrameReader.parquet
    log_dir = os.path.join(out_dir, "crawl_log")
    frontier_dir = os.path.join(out_dir, "frontier")

    def write_parquet(self, path, *args, **kwargs):
        p = str(path)
        label = ("sink.crawl_log" if p.startswith(log_dir)
                 else "sink.frontier" if p.startswith(frontier_dir)
                 else "sink.other")
        t0 = time.perf_counter()
        try:
            return write_orig(self, path, *args, **kwargs)
        finally:
            spans.add(label, t0, time.perf_counter())

    def read_parquet(self, *paths, **kwargs):
        t0 = time.perf_counter()
        try:
            return read_orig(self, *paths, **kwargs)
        finally:
            spans.add("read.parquet", t0, time.perf_counter())

    DataFrameWriter.parquet = write_parquet
    DataFrameReader.parquet = read_parquet
    undo.append((DataFrameWriter, "parquet", write_orig))
    undo.append((DataFrameReader, "parquet", read_orig))

    def uninstall() -> None:
        for owner, name, orig in reversed(undo):
            setattr(owner, name, orig)

    return uninstall


# ----------------------------------------------------------- event log --

# plan node → layer; an Exchange is charged to the layer node it feeds
_NODE_LAYER = [
    ("ArrowEvalPython", "extract"),
    ("FlatMapCoGroupsInPandas", "seen.probe"),
    ("Window", "politeness"),
]


# the corpus is the only table with an html column
_PAGES_SCAN = re.compile(r"^FileScan parquet \[(?:[^\]]*,)?html#")


def _walk(info: dict, feeding: str | None, out: dict) -> None:
    name = info.get("nodeName", "")
    layer = next((lay for pre, lay in _NODE_LAYER if name.startswith(pre)), None)
    tag = layer
    if _PAGES_SCAN.match(info.get("simpleString", "")):
        tag = "fetch.scan"
    elif name.startswith("Exchange") and feeding:
        tag = f"{feeding}.exchange"
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (tag, m["name"])
    # an Exchange ends the stretch of plan that feeds a layer node
    child_feeding = layer or (None if name.startswith("Exchange") else feeding)
    for child in info.get("children", []):
        _walk(child, child_feeding, out)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _events(files):
    for f in files:
        with open(f) as fh:
            for line in fh:
                yield json.loads(line)


def read_event_log(log_dir: str, windows_ms: list[tuple[float, float]]) -> dict:
    """Executor metrics of the jobs submitted inside ``windows_ms``."""
    # one application per log dir; a rolling log is a dir of numbered parts
    files = sorted(
        (f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
         if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")),
        key=lambda f: int(os.path.basename(f).split("_")[1])
        if os.path.basename(f).startswith("events_") else 0,
    )
    if not files:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    acc: dict[int, tuple] = {}
    stage_desc: dict[int, str] = {}
    n_jobs = 0
    tasks = []
    for ev in _events(files):
        kind = ev.get("Event", "")
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _walk(ev["sparkPlanInfo"], None, acc)
        elif kind == "SparkListenerJobStart":
            if not any(a <= ev["Submission Time"] <= b for a, b in windows_ms):
                continue
            n_jobs += 1
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            for sid in ev["Stage IDs"]:
                stage_desc[sid] = desc
        elif kind == "SparkListenerTaskEnd":
            if ev["Stage ID"] in stage_desc and ev.get("Task Metrics"):
                tasks.append(ev)
    m = defaultdict(float)
    log_task_s = defaultdict(list)  # crawl_log stage -> task durations
    for ev in tasks:
        tm = ev["Task Metrics"]
        run_s = tm.get("Executor Run Time", 0) / 1000.0
        m["spark.task_s"] += run_s
        m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
        m["spark.spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        if stage_desc[ev["Stage ID"]].endswith("crawl_log"):
            info = ev["Task Info"]
            log_task_s[ev["Stage ID"]].append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
        layers = set()
        for a in ev["Task Info"].get("Accumulables", []):
            tag, name = acc.get(a.get("ID"), (None, None))
            if not tag:
                continue
            layers.add(tag)
            m[(tag, name)] += _num(a.get("Update"))
        if "extract" in layers:
            m["extract.task_s"] += run_s
        if "fetch.scan" in layers:
            m["fetch.scan_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
    # skew within a stage (its tasks run side by side), median over stages
    skews = [max(d) / statistics.median(d) for d in log_task_s.values()
             if len(d) > 1 and statistics.median(d) > 0]
    return {
        "jobs": n_jobs,
        "spark.task_s": m["spark.task_s"],
        "spark.gc_s": m["spark.gc_s"],
        "spark.spill_bytes": m["spark.spill_bytes"],
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
        "extract.rows": m[("extract", "number of output rows")],
        "extract.bytes_to_python": m[("extract", "data sent to Python workers")],
        "extract.task_s": m["extract.task_s"],
        "fetch.scan_rows": m[("fetch.scan", "number of output rows")],
        "fetch.scan_bytes": m["fetch.scan_bytes"],
        "politeness.shuffle_bytes": m[("politeness.exchange", "shuffle bytes written")],
        "seen.shuffle_bytes": m[("seen.probe.exchange", "shuffle bytes written")],
    }
