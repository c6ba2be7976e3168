"""Tests for the near-dup text helpers in ``analytics.py``: the LSH
hot-bucket cap of the Jaccard pair search, and the zero-shuffle
mapInPandas twins of the MinHash, winnowing and SimHash queries, which
must reproduce their relational forms exactly."""

from __future__ import annotations


def test_jaccard_hot_bucket_cap(spark):
    """max_bucket skips oversized LSH buckets before pairing: capped
    pairs are a subset of uncapped, a huge cap is a no-op, and the cap
    actually bites on the synthetic near-complete component."""
    from sparkcrawler.analytics import _jaccard_pairs_of

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    key = lambda df: {
        (r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()
    }
    uncapped = key(_jaccard_pairs_of(docs, 0.9))
    capped = key(_jaccard_pairs_of(docs, 0.9, max_bucket=10))
    nocap = key(_jaccard_pairs_of(docs, 0.9, max_bucket=10**6))
    assert capped < uncapped  # strict subset: the cap bites
    assert nocap == uncapped


def test_arrow_twins_equal_relational(spark):
    """The zero-shuffle mapInPandas twins must reproduce the relational
    (oracle-contract) results exactly — same rows, same values."""
    from sparkcrawler.analytics import (
        docs_minhash, docs_minhash_arrow,
        docs_simhash, docs_simhash_arrow,
        docs_winnow_fp, docs_winnow_fp_arrow,
    )

    sf = "/root/testdata/sf0.001"
    for rel, twin in (
        (docs_minhash, docs_minhash_arrow),
        (docs_winnow_fp, docs_winnow_fp_arrow),
        (docs_simhash, docs_simhash_arrow),
    ):
        a = sorted(tuple(r) for r in rel(spark, sf).collect())
        b = sorted(tuple(r) for r in twin(spark, sf).collect())
        assert a == b
        assert len(a) > 0


def test_arrow_twins_null_text(spark, tmp_path):
    """NULL / empty text must yield no row from the twins (the
    relational forms emit none either) — not a TypeError inside the
    Arrow batch loop."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkcrawler.analytics import (
        docs_minhash_arrow, docs_simhash_arrow, docs_winnow_fp_arrow,
    )

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2, 3, 4], pa.int64()),
                "text": ["alpha beta gamma delta epsilon zeta", None, "",
                         "the quick brown fox jumps over the lazy dog"],
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    for twin in (docs_minhash_arrow, docs_winnow_fp_arrow,
                 docs_simhash_arrow):
        ids = [r["doc_id"] for r in twin(spark, str(tmp_path)).collect()]
        assert ids == [1, 4], twin.__name__
