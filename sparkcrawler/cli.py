"""CLI entry point (reference simple_crawler/cli.py:10-25 parity).

The reference CLI takes a seed URL plus ``--max-pages`` / ``--retries``
/ ``--check_every`` and runs the crawl. Ours takes the same knobs plus
a corpus location (no live network in this engine: fetch = join into a
``pages`` table; ``--synth N`` generates the deterministic corpus).

    python -m sparkcrawler.cli https://host0.example/p/0 \
        --synth 500 --max-pages 25 --out /tmp/crawl_out

``--check_every`` maps to the per-host politeness budget window
(reference polls every N seconds; here a round represents
``--round-seconds`` of wall time for crawl_delay budgeting).
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser("sparkcrawler")
    p.add_argument("url", help="seed URL")
    p.add_argument("--max-pages", type=int, default=10)   # reference default
    p.add_argument("--retries", type=int, default=3)      # reference default
    p.add_argument("--round-seconds", type=float, default=60.0)
    p.add_argument("--out", required=True, help="crawl state output dir")
    p.add_argument("--corpus", help="pages parquet path (url,warc_ts,html,text,lang)")
    p.add_argument("--synth", type=int, default=0,
                   help="generate a deterministic synthetic corpus of N pages")
    p.add_argument("--hosts", type=int, default=10)
    p.add_argument("--master", default=None)
    p.add_argument("--no-sitemap", action="store_true",
                   help="skip sitemap priming (reference primes by default)")
    p.add_argument("--run-id", default="cli_run")
    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    from sparkcrawler.plans.crawl import CrawlConfig, crawl
    from sparkcrawler.plans.sitemap import crawl_with_priming
    from sparkcrawler.session import get_spark
    from sparkcrawler.sources.synth import robots_df, synth_pages_df

    spark = get_spark("sparkcrawler-cli", master=args.master)
    if args.synth:
        layout, pages = synth_pages_df(spark, args.synth, args.hosts)
        robots = robots_df(spark, layout)
    elif args.corpus:
        pages = spark.read.parquet(args.corpus)
        from sparkcrawler.schemas import ROBOTS_SCHEMA, local_frame

        robots = local_frame(spark, [], ROBOTS_SCHEMA)  # allow-all default
    else:
        print("need --corpus or --synth", file=sys.stderr)
        return 2

    cfg = CrawlConfig(
        max_pages=args.max_pages,
        retries=args.retries,
        round_seconds=args.round_seconds,
    )
    if args.no_sitemap:
        res = crawl(spark, pages, robots, [args.url], args.out,
                    run_id=args.run_id, config=cfg)
    else:
        res = crawl_with_priming(spark, pages, robots, args.url, args.out,
                                 run_id=args.run_id, config=cfg)
    print(json.dumps({
        "run_id": res.run_id, "visited": res.visited, "rounds": res.rounds,
        "out": res.out_dir, "wall_seconds": round(res.wall_seconds, 2),
        "round_stats": res.round_stats,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
