"""Per-host politeness scheduler.

The reference reads ``crawl_delay`` but never enforces it
(reference simple_crawler/downloader.py:36-44 returns it; nothing
consumes) and self-throttles with a global 0.5s poll
(main.py:91). The north rule requires real enforcement: per crawl
round, a host with ``crawl_delay=d`` may be fetched at most
``floor(round_seconds / d)`` times; the overflow stays in the frontier
for the next round.

Skew design: a ``Window.partitionBy(host)`` puts a mega-host's entire
frontier in ONE task. We therefore only window the rows whose host has
a finite budget (hosts without a crawl_delay bypass the shuffle
entirely), and within the budgeted subset we pre-trim per salted
sub-partition first — each (host, salt) group keeps at most ``budget``
rows, an upper bound of the true winners — then run the exact per-host
window on the much smaller survivor set. The mega-host's rows never
all meet in one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# salted sub-partitions per budgeted host in the pre-trim: a host's rows
# spread over this many tasks, and the exact per-host window then ranks
# at most SALT_BUCKETS × budget survivors per host
SALT_BUCKETS = 16


def politeness_decided(
    frontier: DataFrame,
    round_seconds: float = 60.0,
) -> DataFrame:
    """Tag each frontier row with ``_admitted`` under per-host budgets.

    ``frontier`` must already carry ``crawl_delay`` (from the robots
    gate). Hosts with NULL/0 delay have no budget — admitted without
    any shuffle. Returning ONE tagged DataFrame (instead of two plans)
    lets the caller persist it so the admitted and deferred branches
    share the window computation across the round's jobs.
    """
    # SQL-string plan construction throughout: each stage is ONE
    # selectExpr/where parse instead of dozens of py4j gateway
    # round-trips — this function runs every round, and plan-build
    # latency is pure driver fixed cost that does not shrink with cores.
    cols = [c for c in frontier.columns]
    has_budget = "crawl_delay IS NOT NULL AND crawl_delay > 0"
    order_sql = "ORDER BY depth, priority, url_hash, url"

    free = frontier.where(f"NOT ({has_budget})").selectExpr(
        "*", "true AS _admitted"
    )
    budgeted = frontier.where(has_budget).selectExpr(
        "*",
        "CAST(greatest(floor(CAST(%s AS DOUBLE) / crawl_delay), 1) AS INT)"
        " AS _budget" % float(round_seconds),
    )

    # phase 1: salted pre-trim — keep ≤ budget rows per (host, salt);
    # superset of the true per-host top-budget, but no single giant task.
    pre = budgeted.selectExpr(
        "*",
        "row_number() OVER (PARTITION BY host, pmod(url_hash, %d) %s) AS _rs"
        % (SALT_BUCKETS, order_sql),
    )
    survivors = pre.where("_rs <= _budget").drop("_rs")
    pre_deferred = pre.where("_rs > _budget").selectExpr(
        *cols, "false AS _admitted"
    )

    # phase 2: exact per-host rank on ≤ SALT_BUCKETS×budget rows per host.
    ranked = survivors.selectExpr(
        "*",
        "row_number() OVER (PARTITION BY host %s) AS _rn" % order_sql,
    ).selectExpr(*cols, "_rn <= _budget AS _admitted")
    return free.unionByName(ranked).unionByName(pre_deferred)

