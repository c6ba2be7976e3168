"""URL canonicalization (north-rule contract) + host extraction.

The reference absolutizes hrefs with ``urljoin`` and filters on raw
``urlparse(...).netloc`` equality (reference: simple_crawler/parser.py:33-39,
simple_crawler/utils.py:12-15). The north rule extends this to full
canonicalization: lowercase scheme+host, strip fragments, strip default
ports, sort query params. The same function runs in the synthetic corpus
generator, the pandas UDFs, and the BFS oracle, so the visit/seen sets
compare exactly.

Deviation from the reference (documented): the same-host filter compares
*canonical* (lowercased) hosts, so ``HTTPS://EXAMPLE.COM/x`` matches
``example.com``; the reference's raw-netloc comparison would not. All
test fixtures use consistent casing, so the pinned contracts
(tests/test_parser.py:16-34, :104-110 in the reference) are unaffected.
"""

from __future__ import annotations

from urllib.parse import parse_qsl, urlencode, urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

_DEFAULT_PORTS = {"http": "80", "https": "443"}


def canonicalize(base: str | None, href: str) -> str | None:
    """Absolutize ``href`` against ``base`` and canonicalize.

    Returns None when the result is unusable as a crawl target (empty,
    or urljoin itself fails). Non-http(s) absolute URLs (``javascript:``,
    ``mailto:``) canonicalize to themselves; they are dropped later by
    the same-host filter because their netloc is empty — mirroring the
    reference's behavior (its netloc test excludes them, reference
    tests/test_parser.py:104-110).
    """
    if href is None:
        return None
    try:
        absolute = urljoin(base, href) if base else href
        parts = urlsplit(absolute)
    except ValueError:
        # reference parser returns an empty set on urljoin errors
        # (parser.py:31-36); per-link we map that to "no link".
        return None
    if not absolute:
        return None
    scheme = parts.scheme.lower()
    netloc = parts.netloc.lower()
    # strip default port
    if "@" in netloc:
        userinfo, _, hostport = netloc.rpartition("@")
        userinfo += "@"
    else:
        userinfo, hostport = "", netloc
    if ":" in hostport:
        host, _, port = hostport.rpartition(":")
        if port == _DEFAULT_PORTS.get(scheme, ""):
            hostport = host
    netloc = userinfo + hostport
    path = parts.path
    if netloc and not path:
        path = "/"
    # sort query params for a stable canonical form
    query = parts.query
    if query:
        pairs = parse_qsl(query, keep_blank_values=True)
        query = urlencode(sorted(pairs))
    # fragment always stripped
    return urlunsplit((scheme, netloc, path, query, ""))


def host_of(url: str | None) -> str:
    """Canonical (lowercased, port-stripped-if-default) host of a URL."""
    if not url:
        return ""
    try:
        parts = urlsplit(url)
    except ValueError:
        return ""
    netloc = parts.netloc.lower()
    if ":" in netloc and not netloc.endswith("]"):
        host, _, port = netloc.rpartition(":")
        if port == _DEFAULT_PORTS.get(parts.scheme.lower(), ""):
            return host
    return netloc


# ---------------------------------------------------------------- UDFs --


@F.pandas_udf(StringType())
def canonicalize_udf(base: pd.Series, href: pd.Series) -> pd.Series:
    """Vectorized canonicalization: Arrow-batched, no per-row Spark dispatch."""
    return pd.Series(
        [canonicalize(b, h) for b, h in zip(base, href)], dtype="object"
    )

