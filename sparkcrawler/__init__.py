"""sparkcrawler — a PySpark-native crawl-analytics engine.

A from-scratch reimplementation of the capabilities of
``wischmcj/simple-crawler`` (reference at /root/reference, see SURVEY.md)
as a batched DataFrame pipeline:

- the Redis frontier list becomes a per-round ``frontier`` table,
- the ``download_requests`` URL-seen set becomes a ``seen`` view over
  the committed frontier snapshots, probed by one exact left anti-join,
- robots.txt politeness becomes a broadcast dimension join,
- link/text extraction run as Arrow-batched pandas UDFs over the
  ``html: binary`` column of a Common-Crawl-style ``pages`` corpus,
- each crawl round commits an atomic snapshot (crawl_log / frontier /
  lineage; the seen set is a view over the frontier snapshots) so a
  killed run resumes bit-for-bit.

No code is copied from the reference; behavior contracts come from its
test suite (see SURVEY.md §5) and are re-verified in ``tests/``.
"""

from sparkcrawler.session import get_spark  # noqa: F401

__version__ = "0.1.0"
