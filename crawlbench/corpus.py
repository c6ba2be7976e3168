"""Seeded web-corpus generator owned by the benchmark.

It shares no code with the program's synthetic corpus, so a change to
the program cannot change a workload. From one (shape, seed) it writes,
under one cache directory:

- ``pages/``: ``pages(url, warc_ts, html, text, lang[, status_code])``
  partitioned by ``url_bucket = pmod(xxhash64(url), buckets)``, rows
  sorted by url inside each bucket;
- ``robots/``: the robots dimension ``(host, disallow_prefixes,
  crawl_delay, request_rate, sitemap_urls)``;
- ``seeds.json``: the seed list, with non-canonical duplicates;
- ``expect.parquet``: what an exhaustive crawl must log for every
  reachable URL (terminal crawl_status and status_code, text length of
  parsed pages, BFS depth), computed from the generator's own link graph.

Corpus shape: one mega-host holds half the pages, the other hosts are
Zipf-sized. Every page links a navigation block its whole host repeats,
``fanout`` tree children and a few seeded random pages, in four href
spellings that canonicalize to the same URL, plus an off-host, a
``javascript:`` and a ``mailto:`` link. A page also links the tree children
of the run of never-expanded pages (disallowed, or an error status)
that follows it, so the BFS depth of every page, and with it the number
of rounds, does not depend on the seed. The last tenth of each host is
never linked. On the mega-host every 29th page sits under ``/private/``,
which robots.txt disallows, and robots.txt sets a crawl-delay.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pds
import pyarrow.parquet as pq

# bump on any change to what generate() writes: it keys the cache
GEN_VERSION = 3

# crawl_status values of the crawl_log contract
PARSED, DISALLOWED, ERROR, FRONTIER = 2, -1, -2, 0

_EPOCH = dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc)
_LANGS = ["en", "de", "fr", "ja"]
_VOCAB = (
    "crawl frontier politeness robots sitemap shard bucket window seen "
    "bloom cuckoo round commit marker resume lineage parquet arrow "
    "straße über café naïve coöperate façade élan 日本 東京 数据 "
    "Ωmega δelta λambda host fetch parse index token page link"
).split()
_POOL = 256  # distinct paragraphs per corpus
MEGA_DELAY = 2.0  # robots.txt crawl-delay of the mega-host


@dataclass(frozen=True)
class Shape:
    n_pages: int
    n_hosts: int
    fanout: int                 # tree children linked per page
    nav_links: int              # navigation block, same on every page of a host
    extra_links: int            # seeded uniform in-host links per page
    paras: tuple[int, int]      # paragraphs per page, inclusive range
    buckets: int                # url_bucket partitions of the pages table
    status_errors: bool = False  # status_code column: 404s + one 429 host


@dataclass(frozen=True)
class Corpus:
    root: str
    shape: Shape
    seed: int

    @property
    def pages_dir(self) -> str:
        return os.path.join(self.root, "pages")

    @property
    def robots_dir(self) -> str:
        return os.path.join(self.root, "robots")

    def seeds(self) -> list[str]:
        with open(os.path.join(self.root, "seeds.json")) as fh:
            return json.load(fh)

    def expect(self) -> pa.Table:
        return pq.read_table(os.path.join(self.root, "expect.parquet"))

    def robots_rows(self) -> list[dict]:
        return pq.read_table(self.robots_dir).to_pylist()


def host_name(h: int) -> str:
    return f"site{h}.example"


def host_sizes(shape: Shape) -> list[int]:
    """Mega-host = half the pages; the rest Zipf (weight 1/i)."""
    mega = shape.n_pages // 2
    rest = shape.n_pages - mega
    weights = [1.0 / i for i in range(1, shape.n_hosts)]
    total = sum(weights)
    sizes = [mega] + [max(4, int(rest * w / total)) for w in weights]
    sizes[1] += shape.n_pages - sum(sizes)
    return sizes


def rate_limited_host(shape: Shape) -> int | None:
    """The one small host whose every 5th page answers 429: the
    smallest host with at least 10 pages."""
    if not shape.status_errors:
        return None
    return max(h for h, size in enumerate(host_sizes(shape)) if size >= 10)


def _is_private(h: int, j: int) -> bool:
    return h == 0 and j % 29 == 7


def page_path(h: int, j: int) -> str:
    return f"/private/{j}" if _is_private(h, j) else f"/page/{j}"


def page_url(h: int, j: int) -> str:
    return f"https://{host_name(h)}{page_path(h, j)}"


def _href(h: int, t: int, form: int) -> str:
    """Four spellings of one target; all canonicalize to page_url."""
    path = page_path(h, t)
    if form == 0:
        return path
    if form == 1:
        return f"https://{host_name(h)}{path}"
    if form == 2:
        return f"{path}#s{t % 7}"
    return f"https://{host_name(h)}:443{path}"


def _paragraph_pool(rng: np.random.Generator) -> list[str]:
    pool = []
    for _ in range(_POOL):
        words = rng.choice(len(_VOCAB), size=int(rng.integers(10, 21)))
        pool.append(" ".join(_VOCAB[w] for w in words))
    return pool


def _host_pages(shape: Shape, seed: int, h: int, size: int, pool: list[str]):
    """Rows, link targets and statuses for one host's pages."""
    rng = np.random.default_rng([GEN_VERSION, seed, h])
    reach = size - max(1, size // 10)
    nav = list(range(min(shape.nav_links, reach)))
    extras = rng.integers(0, reach, size=(size, shape.extra_links))
    n_paras = rng.integers(shape.paras[0], shape.paras[1] + 1, size=size)
    langs = rng.integers(0, len(_LANGS), size=size)
    status = np.full(size, 200, dtype=np.int32)
    limited = rate_limited_host(shape)
    if shape.status_errors:
        status[(rng.random(size) < 0.02) & (np.arange(size) > 0)] = 404
        if h == limited:
            status[np.arange(size) % 5 == 3] = 429
    other = host_name((h + 1) % shape.n_hosts)

    def children(j):
        return [t for t in range(shape.fanout * j + 1, shape.fanout * j + shape.fanout + 1)
                if t < reach]

    rows, targets = [], []
    for j in range(size):
        tree = children(j)
        k = j + 1
        while k < size and (_is_private(h, k) or status[k] != 200):
            tree += children(k)
            k += 1
        extra = [int(t) for t in extras[j]]
        links = nav + tree + extra
        targets.append(links)
        title = f"Page {j} of {host_name(h)}"
        heading = f"Section {j % 97} notes"
        nav_a = [f'<a href="{_href(h, t, 1)}">nav{t}</a>' for t in nav]
        body_a = [f'<a href="{_href(h, t, (j + t) % 4)}">p{t}</a>' for t in tree + extra]
        foot = [
            (f"https://{other}/page/0", "elsewhere"),
            ("javascript:void(0)", "menu"),
            ("mailto:ops@example.org", "mail"),
        ]
        paras = [pool[int(p)] for p in rng.integers(0, _POOL, size=n_paras[j])]
        html = (
            f"<!doctype html><html><head><title>{title}</title>"
            f"<script>var page = {j};</script></head><body>"
            f"<nav>{''.join(nav_a)}</nav><h1>{heading}</h1>"
            + "".join(f"<p>{p}</p>" for p in paras)
            + "<ul>" + "".join(f"<li>{a}</li>" for a in body_a) + "</ul>"
            + "<footer>" + "".join(f'<a href="{u}">{lbl}</a>' for u, lbl in foot)
            + "</footer></body></html>"
        )
        # character data in document order, script excluded: the text
        # contract the crawl's extractor must reproduce exactly
        text = (
            title
            + "".join(f"nav{t}" for t in nav)
            + heading
            + "".join(paras)
            + "".join(f"p{t}" for t in tree + extra)
            + "".join(lbl for _, lbl in foot)
        )
        rows.append((page_url(h, j), html.encode("utf-8"), text,
                     _LANGS[langs[j]], int(status[j])))
    return rows, targets, status


def _expected(shape: Shape, sizes, targets, statuses, texts) -> pa.Table:
    """Exhaustive BFS over the link graph: only parsed (200, allowed)
    pages expand; every reached URL gets exactly one terminal outcome."""
    urls, crawl_status, codes, text_len, depth = [], [], [], [], []
    for h, size in enumerate(sizes):
        dist = {0: 0}
        frontier = [0]
        d = 0
        while frontier:
            nxt = []
            for j in frontier:
                if _is_private(h, j) or statuses[h][j] != 200:
                    continue
                for t in targets[h][j]:
                    if t not in dist:
                        dist[t] = d + 1
                        nxt.append(t)
            frontier = nxt
            d += 1
        for j, dj in sorted(dist.items()):
            urls.append(page_url(h, j))
            depth.append(dj)
            if _is_private(h, j):
                crawl_status.append(DISALLOWED)
                codes.append(403)
                text_len.append(None)
            elif statuses[h][j] != 200:
                crawl_status.append(ERROR)
                codes.append(int(statuses[h][j]))
                text_len.append(None)
            else:
                crawl_status.append(PARSED)
                codes.append(200)
                text_len.append(len(texts[h][j]))
    return pa.table({
        "url": pa.array(urls, pa.string()),
        "crawl_status": pa.array(crawl_status, pa.int32()),
        "status_code": pa.array(codes, pa.int32()),
        "text_len": pa.array(text_len, pa.int64()),
        "depth": pa.array(depth, pa.int32()),
    })


def _robots_table(shape: Shape) -> pa.Table:
    hosts = list(range(shape.n_hosts - 1))  # last host: no robots entry
    return pa.table({
        "host": pa.array([host_name(h) for h in hosts], pa.string()),
        "disallow_prefixes": pa.array(
            [["/private/"] if h == 0 else [] for h in hosts], pa.list_(pa.string())
        ),
        "crawl_delay": pa.array(
            [MEGA_DELAY if h == 0 else None for h in hosts], pa.float64()
        ),
        "request_rate": pa.array([None] * len(hosts), pa.float64()),
        "sitemap_urls": pa.array([[] for _ in hosts], pa.list_(pa.string())),
    })


def _seed_list(shape: Shape) -> list[str]:
    seeds = [page_url(h, 0) for h in range(shape.n_hosts)]
    # non-canonical spellings of two seeds: the crawl must dedup them
    seeds.append(f"HTTPS://{host_name(1).upper()}:443/page/0#top")
    seeds.append(f"https://{host_name(2)}/page/0#intro")
    return seeds


def _buckets(spark, urls: list[str], buckets: int) -> list[int]:
    """``url_bucket`` of each URL, computed by Spark's own
    ``pmod(xxhash64(url), buckets)``: the layout the crawl prunes by."""
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "i int, url string")
    rows = df.selectExpr("i", f"CAST(pmod(xxhash64(url), {buckets}) AS INT) AS b").collect()
    out = [0] * len(urls)
    for i, b in rows:
        out[i] = b
    return out


def generate(spark, shape: Shape, seed: int, root: str) -> None:
    """Write the corpus for (shape, seed) into ``root`` (must not exist)."""
    sizes = host_sizes(shape)
    pool = _paragraph_pool(np.random.default_rng([GEN_VERSION, seed, 1 << 20]))
    cols: dict[str, list] = {k: [] for k in
                             ("url", "html", "text", "lang", "status_code")}
    targets, statuses, texts = [], [], []
    for h, size in enumerate(sizes):
        rows, tg, st = _host_pages(shape, seed, h, size, pool)
        targets.append(tg)
        statuses.append(st)
        texts.append([r[2] for r in rows])
        for r in rows:
            for k, v in zip(cols, r):
                cols[k].append(v)
    n = len(cols["url"])
    data = {
        "url": pa.array(cols["url"], pa.string()),
        "warc_ts": pa.array(
            [_EPOCH + dt.timedelta(seconds=i) for i in range(n)],
            pa.timestamp("us", tz="UTC"),
        ),
        "html": pa.array(cols["html"], pa.binary()),
        "text": pa.array(cols["text"], pa.string()),
        "lang": pa.array(cols["lang"], pa.string()),
    }
    if shape.status_errors:
        data["status_code"] = pa.array(cols["status_code"], pa.int32())
    data["url_bucket"] = pa.array(_buckets(spark, cols["url"], shape.buckets), pa.int32())
    pages = pa.table(data).sort_by([("url_bucket", "ascending"), ("url", "ascending")])

    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pds.write_dataset(
        pages, os.path.join(tmp, "pages"), format="parquet",
        partitioning=pds.partitioning(
            pa.schema([("url_bucket", pa.int32())]), flavor="hive"
        ),
        basename_template="part-{i}.parquet",
    )
    os.makedirs(os.path.join(tmp, "robots"))
    pq.write_table(_robots_table(shape), os.path.join(tmp, "robots", "part-0.parquet"))
    pq.write_table(
        _expected(shape, sizes, targets, statuses, texts),
        os.path.join(tmp, "expect.parquet"),
    )
    with open(os.path.join(tmp, "seeds.json"), "w") as fh:
        json.dump(_seed_list(shape), fh)
    with open(os.path.join(tmp, "shape.json"), "w") as fh:
        json.dump({"gen_version": GEN_VERSION, "seed": seed, **asdict(shape)}, fh)
    os.replace(tmp, root)


def _read_json(path: str):
    with open(path) as fh:
        return json.load(fh)


def load_or_generate(spark, shape: Shape, seed: int, cache_dir: str, name: str) -> Corpus:
    """Corpus from the cache keyed by (generator version, workload, seed)."""
    root = os.path.join(cache_dir, f"v{GEN_VERSION}", name, f"seed{seed}")
    key = {"gen_version": GEN_VERSION, "seed": seed, **asdict(shape)}
    meta = os.path.join(root, "shape.json")
    if not os.path.exists(meta) or _read_json(meta) != json.loads(json.dumps(key)):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(os.path.dirname(root), exist_ok=True)
        generate(spark, shape, seed, root)
    return Corpus(root, shape, seed)
