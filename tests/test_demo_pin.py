"""The demo-crawl/outdeg dirs' PUBLIC names are pinned: the DuckDB
oracle texts embed those paths verbatim and an external fingerprint of
``oracle_sql()`` treats any text change as a changed oracle. Freshness
must therefore travel via the in-dir _VERSION marker, never the name.
"""

import os

from sparkcrawler import queries as A

PINNED = "b34fdeb6b9"


def test_public_demo_paths_are_pinned_literals():
    assert A.DEMO_DIR.endswith(f"crawl_{PINNED}")
    assert A._OUTDEG_DIR.endswith(f"outdeg_{PINNED}")


def test_oracle_texts_embed_only_the_pinned_name():
    import __spark_entry__ as e

    for name, sql in e.oracle_sql().items():
        if "/tmp/sparkcrawler_demo/" in sql:
            for frag in sql.split("/tmp/sparkcrawler_demo/")[1:]:
                dirname = frag.split("/", 1)[0]
                assert dirname in (f"crawl_{PINNED}", f"outdeg_{PINNED}"), (
                    name, dirname)


def test_demo_stale_detects_missing_and_mismatched_version(tmp_path):
    d = str(tmp_path / "demo")
    assert A._demo_stale(d)  # missing entirely
    os.makedirs(d)
    open(os.path.join(d, "_READY"), "w").close()
    assert A._demo_stale(d)  # no _VERSION marker
    with open(os.path.join(d, "_VERSION"), "w") as fh:
        fh.write("not-the-current-version")
    assert A._demo_stale(d)  # wrong version
    with open(os.path.join(d, "_VERSION"), "w") as fh:
        fh.write(A._demo_version())
    assert not A._demo_stale(d)  # fresh
