"""Test-only analytics catalog: one media query.

No crawl calls this module and the driver contract does not serve it:
``__spark_entry__`` serves the crawl-output catalog in
:mod:`sparkcrawler.queries`. ``tests/test_queries.py`` still checks
:data:`CATALOG`'s one entry, ``media_metadata``, against its DuckDB
oracle until the media stage deletes it and, with it, this module.
The query reads no testdata table: the Spark side sniffs 200 synthetic
blobs and the oracle computes their metadata from the row index.
"""

from __future__ import annotations

from sparkcrawler.queries import QuerySpec


def media_metadata(spark, sf_dir):
    """Multimodal columns: a deterministic media table (binary blobs
    with REAL png/gif/wav headers, metadata a pure function of the
    index) sniffed by the engine's header parser
    (sparkcrawler.functions.media) — the oracle recomputes the expected
    metadata parametrically, so a parse bug is a hash mismatch."""
    from sparkcrawler.functions.media import sniff_media_udf, synth_media_rows

    rows = synth_media_rows(200)
    df = spark.createDataFrame(
        [(r["media_id"], r["blob"]) for r in rows],
        "media_id string, blob binary",
    )
    return (
        df.select("media_id", sniff_media_udf("blob").alias("m"))
        .select(
            "media_id", "m.format", "m.width", "m.height",
            "m.sample_rate", "m.byte_len",
        )
        .orderBy("media_id")
    )


MEDIA_SQL = """
SELECT printf('m%05d', i) AS media_id,
       CASE i % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' WHEN 2 THEN 'wav'
                  ELSE 'jpeg' END AS format,
       CASE i % 4 WHEN 0 THEN CAST(16 + i % 64 AS INTEGER)
                  WHEN 1 THEN CAST(32 + i % 16 AS INTEGER)
                  WHEN 3 THEN CAST(40 + i % 50 AS INTEGER)
                  ELSE NULL END AS width,
       CASE i % 4 WHEN 0 THEN CAST(9 + i % 32 AS INTEGER)
                  WHEN 1 THEN CAST(24 + i % 8 AS INTEGER)
                  WHEN 3 THEN CAST(30 + i % 20 AS INTEGER)
                  ELSE NULL END AS height,
       CASE i % 4 WHEN 2 THEN CAST(8000 + 100 * (i % 5) AS INTEGER)
                  ELSE NULL END AS sample_rate,
       CASE i % 4 WHEN 0 THEN 29 WHEN 1 THEN 13 WHEN 2 THEN 28
                  ELSE 44 END AS byte_len
FROM range(200) t(i) ORDER BY media_id
"""


CATALOG: dict[str, QuerySpec] = {
    "media_metadata": QuerySpec(media_metadata, MEDIA_SQL),
}
