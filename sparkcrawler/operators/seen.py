"""URL-seen set: exact anti-join, with an optional Bloom pre-filter.

The reference's URL-seen set is a Redis ``SADD download_requests`` —
first writer wins, each URL enters the frontier once
(reference simple_crawler/cache.py:91-97). The distributed equivalent
is a ``seen(url_hash, ...)`` table and a left ANTI-JOIN
(:func:`anti_join_seen`, the crawl's default via
:class:`ExactSeenShards`). Where most candidates are *new*, a sharded
Bloom filter in front pays: candidates the filter has definitely never
seen skip the join entirely; only "maybe seen" suspects take the exact
anti-join. No false negatives → correctness is unchanged (verified in
tests by comparing against the plain anti-join).

Sharding: ``url_hash pmod num_shards`` picks a shard bitmap. In the
sandbox the shard set is small enough to broadcast whole; at cluster
scale the same layout maps to one bitmap per seen-table partition,
each built and consulted partition-locally (build is already
distributed via ``applyInPandas``; only the OR-reduce happens on the
driver).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import BooleanType

_MIX1 = np.uint64(0x9E3779B97F4A7C15)
_MIX2 = np.uint64(0xBF58476D1CE4E5B9)
_MIX3 = np.uint64(0x94D049BB133111EB)


def _positions(hashes: np.ndarray, k: int, m_bits: int) -> list[np.ndarray]:
    """k deterministic bit positions per 64-bit hash (splitmix64 remix)."""
    out = []
    with np.errstate(over="ignore"):  # uint64 wraparound is the point
        base = hashes.astype(np.int64).astype(np.uint64)
        for i in range(k):
            v = base + _MIX1 * np.uint64(i + 1)
            v = (v ^ (v >> np.uint64(30))) * _MIX2
            v = (v ^ (v >> np.uint64(27))) * _MIX3
            v = v ^ (v >> np.uint64(31))
            out.append((v % np.uint64(m_bits)).astype(np.int64))
    return out


class PartitionedBloom:
    """Sharded Bloom filter over 64-bit url hashes."""

    def __init__(self, num_shards: int = 16, bits_per_shard: int = 1 << 23, k: int = 5):
        self.num_shards = num_shards
        self.bits_per_shard = bits_per_shard
        self.k = k
        self.bitmaps = np.zeros((num_shards, bits_per_shard // 8), dtype=np.uint8)
        self.n_added = 0
        self._bc = None  # last bitmap broadcast (reclaimed on refresh)

    # ------------------------------------------------------------- build --

    def update_from_df(self, df: DataFrame) -> None:
        """Distributed build: per-shard bitmaps via applyInPandas, OR-reduced
        on the driver. ``df`` needs a ``url_hash`` column."""
        P, m, k = self.num_shards, self.bits_per_shard, self.k

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            shard = int(pdf["_shard"].iloc[0])
            bitmap = np.zeros(m // 8, dtype=np.uint8)
            hs = pdf["url_hash"].to_numpy(dtype=np.int64)
            for pos in _positions(hs, k, m):
                np.bitwise_or.at(bitmap, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
            return pd.DataFrame(
                {"shard": [shard], "n": [len(hs)], "bitmap": [bitmap.tobytes()]}
            )

        rows = (
            df.select("url_hash")
            .withColumn("_shard", F.pmod(F.col("url_hash"), F.lit(P)))
            .groupBy("_shard")
            .applyInPandas(build, schema="shard int, n long, bitmap binary")
            .collect()
        )
        for r in rows:
            self.bitmaps[r["shard"]] |= np.frombuffer(r["bitmap"], dtype=np.uint8)
            self.n_added += int(r["n"])

    def add_hashes(self, hs: np.ndarray) -> None:
        """Vectorized driver-local add of an int64 hash array (used to
        fold per-round deltas read straight from the written frontier
        parquet — numpy only, no Spark job, ~µs per thousand hashes)."""
        if hs.size == 0:
            return
        with np.errstate(over="ignore"):
            shard = np.mod(hs, self.num_shards).astype(np.int64)
        flat = self.bitmaps.reshape(-1)
        row_off = shard * (self.bits_per_shard // 8)
        for pos in _positions(hs, self.k, self.bits_per_shard):
            np.bitwise_or.at(
                flat, row_off + (pos >> 3),
                (np.uint8(1) << (pos & 7).astype(np.uint8)),
            )
        self.n_added += int(hs.size)

    def update_local(self, hashes) -> None:
        """Driver-local add (tiny seed sets)."""
        self.add_hashes(np.asarray(list(hashes), dtype=np.int64))

    # ------------------------------------------------------------- query --

    def maybe_seen_udf(self, spark: SparkSession):
        """Pandas UDF: True iff the hash MIGHT be in the seen set."""
        # reclaim the previous round's bitmap broadcast (its actions are
        # complete once the next round plans) — a long crawl must not
        # accrete one bitmap-array broadcast per round
        if self._bc is not None:
            self._bc.unpersist(blocking=False)
        bc = spark.sparkContext.broadcast(self.bitmaps)
        self._bc = bc
        P, m, k = self.num_shards, self.bits_per_shard, self.k

        @F.pandas_udf(BooleanType())
        def maybe(hs: pd.Series) -> pd.Series:
            arr = hs.to_numpy(dtype=np.int64)
            shard = arr % P
            bitmaps = bc.value
            hit = np.ones(arr.shape[0], dtype=bool)
            for pos in _positions(arr, k, m):
                byte = bitmaps[shard, pos >> 3]
                hit &= (byte >> (pos & 7).astype(np.uint8)) & 1 == 1
            return pd.Series(hit)

        return maybe

    def tag_maybe(self, candidates: DataFrame, spark: SparkSession) -> DataFrame:
        """Candidates + ``_maybe: boolean`` (broadcast-bitmap consult)."""
        return candidates.withColumn(
            "_maybe", self.maybe_seen_udf(spark)(F.col("url_hash"))
        )

    def release(self) -> None:
        """Reclaim the last bitmap broadcast (call after the final
        action that consults the filter)."""
        if self._bc is not None:
            self._bc.unpersist(blocking=False)
            self._bc = None


class DistributedBloom:
    """Bloom filter whose shard bitmaps NEVER leave the executors.

    The broadcast :class:`PartitionedBloom` OR-reduces every shard on
    the driver and ships the whole array to each executor — fine in the
    sandbox, but a ~10-15 GB driver/broadcast bottleneck at the
    10^10-URL design point. Here the bitmaps live as a persisted
    ``(shard, n, bitmap)`` DataFrame co-partitioned with candidates by
    ``pmod(url_hash, num_shards)``:

    - **build/update**: per-shard delta bitmaps via ``applyInPandas``,
      OR-merged with the previous state by a second grouped pass —
      all shuffles move only bitmap-sized rows (one per shard).
    - **consult**: ``cogroup(...).applyInPandas`` pairs each shard's
      candidate rows with that shard's single bitmap row inside one
      task — each executor only ever materializes the shards it owns.

    Same bit layout as :class:`PartitionedBloom` (asserted in tests),
    so correctness (no false negatives) is inherited.
    """

    def __init__(
        self,
        spark: SparkSession,
        num_shards: int = 16,
        bits_per_shard: int = 1 << 22,
        k: int = 5,
    ):
        self.spark = spark
        self.num_shards = num_shards
        self.bits_per_shard = bits_per_shard
        self.k = k
        self.bitmaps_df: DataFrame | None = None  # (shard, n, bitmap) persisted
        self.n_added = 0

    def _delta_bitmaps(self, df: DataFrame) -> DataFrame:
        P, m, k = self.num_shards, self.bits_per_shard, self.k

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            shard = int(pdf["_shard"].iloc[0])
            bitmap = np.zeros(m // 8, dtype=np.uint8)
            hs = pdf["url_hash"].to_numpy(dtype=np.int64)
            for pos in _positions(hs, k, m):
                np.bitwise_or.at(
                    bitmap, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8)
                )
            return pd.DataFrame(
                {"shard": [shard], "n": [len(hs)], "bitmap": [bitmap.tobytes()]}
            )

        return (
            df.select("url_hash")
            .withColumn("_shard", F.pmod(F.col("url_hash"), F.lit(P)))
            .groupBy("_shard")
            .applyInPandas(build, schema="shard int, n long, bitmap binary")
        )

    def update_from_df(self, df: DataFrame, n_rows: int | None = None) -> None:
        """Fold a delta in. One distributed pass; only per-shard bitmap
        rows shuffle. ``n_rows`` (if the caller already knows it) avoids
        a count job for the n_added bookkeeping."""

        def merge(pdf: pd.DataFrame) -> pd.DataFrame:
            acc = np.frombuffer(pdf["bitmap"].iloc[0], dtype=np.uint8).copy()
            for b in pdf["bitmap"].iloc[1:]:
                acc |= np.frombuffer(b, dtype=np.uint8)
            return pd.DataFrame(
                {
                    "shard": [int(pdf["shard"].iloc[0])],
                    "n": [int(pdf["n"].sum())],
                    "bitmap": [acc.tobytes()],
                }
            )

        delta = self._delta_bitmaps(df)
        new = (
            delta
            if self.bitmaps_df is None
            else self.bitmaps_df.unionByName(delta)
            .groupBy("shard")
            .applyInPandas(merge, schema="shard int, n long, bitmap binary")
        )
        new = new.persist()
        new.count()  # materialize before dropping the previous state
        if self.bitmaps_df is not None:
            self.bitmaps_df.unpersist()
        self.bitmaps_df = new
        self.n_added += int(n_rows) if n_rows is not None else df.count()

    def tag_maybe(self, candidates: DataFrame, spark: SparkSession) -> DataFrame:
        """Candidates + ``_maybe`` via shard-local cogroup — no bitmap
        ever reaches the driver or a broadcast."""
        if self.bitmaps_df is None:
            return candidates.withColumn("_maybe", F.lit(False))
        P, m, k = self.num_shards, self.bits_per_shard, self.k
        cols = candidates.columns
        out_schema = candidates.withColumn("_maybe", F.lit(True)).schema

        def check(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            left = left.drop(columns=["_shard"])
            if left.empty:
                return left.assign(_maybe=pd.Series([], dtype=bool))
            if right.empty:
                return left.assign(_maybe=False)
            bitmap = np.frombuffer(right["bitmap"].iloc[0], dtype=np.uint8)
            hs = left["url_hash"].to_numpy(dtype=np.int64)
            hit = np.ones(hs.shape[0], dtype=bool)
            for pos in _positions(hs, k, m):
                hit &= (bitmap[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1 == 1
            return left.assign(_maybe=hit)

        tagged = (
            candidates.withColumn(
                # MUST be int to match the state rows' `shard int`:
                # cogroup co-partitions each side by the HASH of its own
                # grouping expression, and hash(3L) != hash(3) — with
                # mismatched key types most (shard, bitmap) pairs never
                # meet their candidates, which silently turns into Bloom
                # false negatives (seen URLs re-admitted). Regression
                # test: test_seen.py shard-count > partitions case.
                "_shard",
                F.pmod(F.col("url_hash"), F.lit(P)).cast("int"),
            )
            .groupBy("_shard")
            .cogroup(self.bitmaps_df.groupBy("shard"))
            .applyInPandas(check, schema=out_schema)
        )
        return tagged.select(*cols, "_maybe")

    def release(self) -> None:
        """Unpersist the executor-side shard bitmaps (call once the
        crawl's final action has run — nothing stays pinned in
        executor storage after the loop ends)."""
        if self.bitmaps_df is not None:
            self.bitmaps_df.unpersist()
            self.bitmaps_df = None


def anti_join_seen(candidates: DataFrame, seen: DataFrame) -> DataFrame:
    """Rows of ``candidates`` whose ``url_hash`` is NOT in ``seen`` — the
    one exact membership test: a JVM left-anti join on ``url_hash``
    (AQE broadcasts the smaller side or shuffles both)."""
    return candidates.join(seen.select("url_hash"), "url_hash", "left_anti")


def dedup_against_seen(
    candidates: DataFrame,
    seen: DataFrame,
    bloom: "PartitionedBloom | DistributedBloom | None" = None,
    spark: SparkSession | None = None,
    seen_uncovered: DataFrame | None = None,
) -> DataFrame:
    """Rows of ``candidates`` whose url_hash is NOT in ``seen``.

    With a Bloom filter (broadcast or distributed — anything exposing
    ``tag_maybe``), definite-misses bypass the big anti-join; only
    suspects are joined against the full seen set. Exactly equivalent
    to the plain anti-join.

    ``seen_uncovered`` = seen rows added AFTER the bloom's last update
    (the bloom+delta design: updates may be batched, but definite-new
    rows must still be checked against the small uncovered delta —
    otherwise a stale bloom would re-admit recently seen URLs).
    """
    if bloom is None or bloom.n_added == 0:
        return anti_join_seen(candidates, seen)
    flagged = bloom.tag_maybe(candidates, spark or candidates.sparkSession)
    definite_new = flagged.where(~F.col("_maybe")).drop("_maybe")
    if seen_uncovered is not None:
        definite_new = anti_join_seen(definite_new, seen_uncovered)
    suspects = anti_join_seen(
        flagged.where(F.col("_maybe")).drop("_maybe"), seen
    )
    return definite_new.unionByName(suspects)


class ExactSeenShards:
    """EXACT url-seen filter: within-round dedup + one JVM anti-join.

    The crawl's default seen path. Each round the candidates are
    de-duplicated on ``url_hash`` and :func:`anti_join_seen`-ed against
    one scan of the committed frontier snapshots' ``is_new`` rows (the
    ``read_seen`` view the crawl already writes). Nothing is persisted,
    packed or rebuilt on resume: about 1% of candidates are new, so a
    membership structure in front of the join would let few of them
    skip it. The seen scan grows with the crawl; AQE picks a broadcast
    or a shuffle join for it.

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
