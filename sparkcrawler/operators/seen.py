"""URL-seen set: one exact anti-join.

The reference's URL-seen set is a Redis ``SADD download_requests`` —
first writer wins, each URL enters the frontier once
(reference simple_crawler/cache.py:91-97). The distributed equivalent
is a ``seen(url_hash, ...)`` table and a left ANTI-JOIN
(:func:`anti_join_seen`, applied each round by
:class:`ExactSeenShards`). There is no probabilistic prefilter in front
of it: about 99% of a round's link candidates are already seen, so a
Bloom or cuckoo filter's definite-miss shortcut would let only about 1%
of them skip the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def anti_join_seen(candidates: DataFrame, seen: DataFrame) -> DataFrame:
    """Rows of ``candidates`` whose ``url_hash`` is NOT in ``seen`` — the
    one exact membership test: a JVM left-anti join on ``url_hash``
    (the planner broadcasts ``seen`` while its file-size estimate is
    under ``spark.sql.autoBroadcastJoinThreshold``, else shuffles both)."""
    return candidates.join(seen.select("url_hash"), "url_hash", "left_anti")


class ExactSeenShards:
    """EXACT url-seen filter: within-round dedup + one JVM anti-join.

    The crawl's seen path. Each round the candidates are
    de-duplicated on ``url_hash`` and :func:`anti_join_seen`-ed against
    one scan of the committed frontier snapshots' ``is_new`` rows (the
    ``read_seen`` view the crawl already writes). Nothing is persisted,
    packed or rebuilt on resume: about 1% of candidates are new, so a
    membership structure in front of the join would let few of them
    skip it. The seen scan grows with the crawl; the planner picks a
    broadcast or a shuffle join for it from the scan's file sizes.

    :meth:`update_from_df` adds rows to a lazily-unioned seen set for
    callers that hold one themselves; the crawl passes its seen view
    to :meth:`filter_new` instead.
    """

    def __init__(self) -> None:
        self.seen: DataFrame | None = None
        self.n_added = 0

    def update_from_df(self, df: DataFrame, n_rows: int | None = None) -> None:
        """Add ``df``'s ``url_hash`` rows to the seen set (a lazy union,
        no job); ``n_rows``, when the caller knows it, saves a count."""
        hashes = df.select("url_hash")
        self.seen = hashes if self.seen is None else self.seen.unionByName(hashes)
        self.n_added += int(n_rows) if n_rows is not None else df.count()

    def filter_new(
        self, candidates: DataFrame, seen: DataFrame | None = None
    ) -> DataFrame:
        """Candidates, one row per ``url_hash``, that are in neither the
        held seen set nor ``seen``. Rows sharing a hash within a round
        are identical up to that hash (same url → same derived cols), so
        keeping any one of them is exact."""
        new = candidates.dropDuplicates(["url_hash"])
        for held in (self.seen, seen):
            if held is not None:
                new = anti_join_seen(new, held)
        return new

    def reap(self) -> None:
        """No-op: the filter holds no cached state to release."""

    def release(self) -> None:
        self.seen = None
