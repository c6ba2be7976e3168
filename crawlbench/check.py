"""Output check of one crawl against the generator's expectation.

Every rule reads only the crawl's written output (``crawl_log`` rows and
the seen set) and the generator's ``expect`` table:

- the visited set (URLs with a terminal row) and the seen set both
  equal the generator's reachable set;
- exactly one terminal ``crawl_log`` row per URL;
- every URL under a robots disallow is logged 403 and never fetched;
- per round and per host, the admitted URLs never exceed the host's
  politeness budget, 429 backoff included;
- each URL's terminal status matches, and so does ``text_len`` of every
  parsed row (the byte-identical text contract);
- with ``exact_depth``, each URL's depth equals its BFS depth (only
  when no round defers, so discovery order is pure BFS).

A ``partial`` check reads a crawl stopped before its end: every rule
holds for what was written, and in place of completeness, every seen URL
is either logged or still pending in the next frontier snapshot.
"""

from __future__ import annotations

import math
import os
from collections import Counter, defaultdict

import pyarrow.dataset as pds

from crawlbench.corpus import DISALLOWED, FRONTIER, PARSED

# the crawl's 429 backoff rule: a host that answered 429 in k earlier
# rounds has its delay raised to max(delay, BASE) * FACTOR^(k-1)
BACKOFF_BASE_DELAY = 10.0
BACKOFF_FACTOR = 1.5

LOG_COLUMNS = [
    "round", "url", "host", "depth", "crawl_status", "status_code", "text_len", "n_links",
]


def read_log(out_dir: str) -> list[dict]:
    """All crawl_log rows of a crawl directory (every round)."""
    ds = pds.dataset(os.path.join(out_dir, "crawl_log"), format="parquet")
    return ds.to_table(columns=LOG_COLUMNS).to_pylist()


def read_pending(out_dir: str, rounds: int) -> list[str]:
    """URLs of the frontier snapshot the next round would crawl."""
    path = os.path.join(out_dir, "frontier", f"r{rounds}")
    if not os.path.isdir(path):
        return []
    return pds.dataset(path, format="parquet").to_table(columns=["url"]).column("url").to_pylist()


def _budget(delay: float | None, k: int, round_seconds: float) -> float:
    if k:
        delay = max(delay or 0.0, BACKOFF_BASE_DELAY) * BACKOFF_FACTOR ** (k - 1)
    if not delay or delay <= 0:
        return math.inf
    return max(math.floor(round_seconds / delay), 1)


def _first(items, n: int = 3) -> str:
    items = sorted(items)
    more = f" (+{len(items) - n} more)" if len(items) > n else ""
    return ", ".join(map(str, items[:n])) + more


def check_crawl(
    log: list[dict],
    seen_urls: list[str],
    expect: list[dict],
    robots: list[dict],
    round_seconds: float,
    exact_depth: bool,
    pending: list[str] | None = None,
) -> list[str]:
    """Violations found (empty = the crawl is correct). ``pending``
    (URLs of the next frontier snapshot) makes the check partial."""
    partial = pending is not None
    errors: list[str] = []
    exp = {e["url"]: e for e in expect}
    terminal = [r for r in log if r["crawl_status"] != FRONTIER]

    counts = Counter(r["url"] for r in terminal)
    twice = [u for u, c in counts.items() if c > 1]
    if twice:
        errors.append(f"{len(twice)} URLs have more than one terminal row: {_first(twice)}")
    missing = exp.keys() - counts.keys()
    if missing and not partial:
        errors.append(f"{len(missing)} reachable URLs never logged: {_first(missing)}")
    extra = counts.keys() - exp.keys()
    if extra:
        errors.append(f"{len(extra)} unreachable URLs logged: {_first(extra)}")

    wrong_status, wrong_len, wrong_depth = [], [], []
    for r in terminal:
        e = exp.get(r["url"])
        if e is None:
            continue
        if (r["crawl_status"], r["status_code"]) != (e["crawl_status"], e["status_code"]):
            wrong_status.append(r["url"])
        elif r["crawl_status"] == PARSED and r["text_len"] != e["text_len"]:
            wrong_len.append(r["url"])
        if exact_depth and r["depth"] != e["depth"]:
            wrong_depth.append(r["url"])
    if wrong_status:
        errors.append(f"{len(wrong_status)} URLs with a wrong status: {_first(wrong_status)}")
    if wrong_len:
        errors.append(f"{len(wrong_len)} parsed rows with a wrong text_len: {_first(wrong_len)}")
    if wrong_depth:
        errors.append(f"{len(wrong_depth)} URLs with a non-BFS depth: {_first(wrong_depth)}")

    disallowed = {u for u, e in exp.items() if e["crawl_status"] == DISALLOWED}
    fetched = [
        r["url"] for r in log
        if r["url"] in disallowed
        and (r["crawl_status"], r["status_code"]) != (DISALLOWED, 403)
    ]
    if fetched:
        errors.append(f"{len(fetched)} robots-disallowed URLs fetched: {_first(fetched)}")

    seen_counts = Counter(seen_urls)
    seen_twice = [u for u, c in seen_counts.items() if c > 1]
    if seen_twice:
        errors.append(f"{len(seen_twice)} URLs seen twice: {_first(seen_twice)}")
    diff = seen_counts.keys() - exp.keys() if partial else seen_counts.keys() ^ exp.keys()
    if diff:
        errors.append(f"seen set differs from the reachable set on {len(diff)} URLs: {_first(diff)}")
    if partial:
        lost = seen_counts.keys() - counts.keys() - set(pending)
        if lost:
            errors.append(f"{len(lost)} seen URLs neither logged nor pending: {_first(lost)}")

    errors.extend(_check_budgets(log, robots, round_seconds))
    return errors


def _check_budgets(log: list[dict], robots: list[dict], round_seconds: float) -> list[str]:
    delays = {r["host"]: r["crawl_delay"] for r in robots}
    admitted: Counter = Counter()
    hosts_429: dict[int, set] = defaultdict(set)
    for r in log:
        if r["crawl_status"] != DISALLOWED:
            admitted[(r["round"], r["host"])] += 1
        if r["status_code"] == 429:
            hosts_429[r["round"]].add(r["host"])
    over = []
    backoff: Counter = Counter()
    for rnd in sorted({k[0] for k in admitted} | set(hosts_429)):
        for (r, host), n in admitted.items():
            if r == rnd and n > _budget(delays.get(host), backoff[host], round_seconds):
                over.append(f"r{rnd}/{host}={n}")
        for host in hosts_429[rnd]:
            backoff[host] += 1
    if over:
        return [f"{len(over)} (round, host) pairs over the politeness budget: {_first(over)}"]
    return []


def doctored(log: list[dict]) -> dict[str, list[dict]]:
    """Three corruptions of a correct log that check_crawl must reject."""
    term = [i for i, r in enumerate(log) if r["crawl_status"] != FRONTIER]
    dis = [i for i, r in enumerate(log) if r["crawl_status"] == DISALLOWED]
    if not term or not dis:
        raise ValueError("self-test log needs a terminal and a disallowed row")
    dropped = log[:term[0]] + log[term[0] + 1:]
    twice = log + [dict(log[term[-1]])]
    fetched = [dict(r) for r in log]
    fetched[dis[0]].update(crawl_status=PARSED, status_code=200, text_len=1)
    return {
        "row dropped": dropped,
        "URL logged twice": twice,
        "disallowed URL fetched": fetched,
    }
