"""HTML link + text extraction as Arrow-batched pandas UDFs.

The reference extracts ``<a href>`` links with BeautifulSoup's
"html.parser" backend and stores raw HTML (reference:
simple_crawler/parser.py:22-41). bs4's "html.parser" backend is a thin
wrapper over stdlib :class:`html.parser.HTMLParser`; we drive the stdlib
tokenizer directly (bs4 is not vendored here), preserving the pinned
behaviors:

- every ``<a>`` tag with an ``href`` attribute yields a candidate link,
  absolutized against the page URL (reference tests/test_parser.py:16-34);
- ``javascript:void(0)``-style hrefs survive absolutization but die at
  the same-host filter because their netloc is empty
  (reference tests/test_parser.py:104-110);
- within-page dedup (the reference collects into a ``set``,
  parser.py:25); we keep first-occurrence document order for
  determinism.

Text extraction (north-rule addition; the reference stores raw HTML
only) is the concatenation of character data in document order — the
same routine generates the corpus ``text`` column, so the UDF output is
byte-identical by construction and verified byte-for-byte in tests.

The crawl's UDF path (:func:`extract_page_py`) canonicalizes through a
per-worker memo: pages repeat the same hrefs, so each distinct href is
canonicalized once per Python worker instead of once per occurrence.
:func:`extract_links_py` and the oracle call :func:`canonicalize`
directly and stay the memo-free reference.
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import Iterable
from urllib.parse import urlsplit

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from sparkcrawler.functions.urlnorm import canonicalize


class _LinkParser(HTMLParser):
    """Collect href attributes of <a> tags in document order."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.hrefs: list[str] = []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "a":
            for name, value in attrs:
                if name == "href" and value is not None:
                    self.hrefs.append(value)
                    break


class _TextParser(HTMLParser):
    """Collect character data in document order (script/style excluded)."""

    _SKIP = {"script", "style"}

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.chunks: list[str] = []
        self._skip_depth = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in self._SKIP:
            self._skip_depth += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in self._SKIP and self._skip_depth > 0:
            self._skip_depth -= 1

    def handle_data(self, data: str) -> None:
        if self._skip_depth == 0:
            self.chunks.append(data)


class _PageParser(HTMLParser):
    """One tokenizer pass collecting BOTH hrefs and text chunks — the
    crawl hot path; must agree exactly with _LinkParser + _TextParser
    (asserted in tests)."""

    _SKIP = {"script", "style"}

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.hrefs: list[str] = []
        self.chunks: list[str] = []
        self._skip_depth = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "a":
            for name, value in attrs:
                if name == "href" and value is not None:
                    self.hrefs.append(value)
                    break
        if tag in self._SKIP:
            self._skip_depth += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in self._SKIP and self._skip_depth > 0:
            self._skip_depth -= 1

    def handle_data(self, data: str) -> None:
        if self._skip_depth == 0:
            self.chunks.append(data)


def _as_str(html) -> str:
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray, memoryview)):
        return bytes(html).decode("utf-8", errors="replace")
    return str(html)


def extract_links_py(url: str, html) -> list[str]:
    """Canonical out-links of a page, first-occurrence order, deduped.

    ALL hosts are returned; the same-host filter runs JVM-side after
    ``explode`` (builtin ``parse_url``) so it stays in codegen.
    On a parse error the reference returns an empty set
    (parser.py:31-36) — we do the same.
    """
    content = _as_str(html)
    if not content:
        return []
    parser = _LinkParser()
    try:
        parser.feed(content)
        parser.close()
    except Exception:
        return []
    seen: set[str] = set()
    out: list[str] = []
    for href in parser.hrefs:
        link = canonicalize(url, href)
        if link and link not in seen:
            seen.add(link)
            out.append(link)
    return out


def extract_text_py(html) -> str:
    """Deterministic text extraction (the byte-identical contract)."""
    content = _as_str(html)
    if not content:
        return ""
    parser = _TextParser()
    try:
        parser.feed(content)
        parser.close()
    except Exception:
        return ""
    return "".join(parser.chunks)


# canonicalize memo of extract_page_py; module-level, so it lives as long
# as the Python worker (across tasks and rounds when workers are reused)
_CANON_MEMO: dict[tuple[str, str], str | None] = {}
# a worker may serve a whole crawl: clearing at the cap bounds its memory
# (tens of MB) however many distinct hrefs the corpus holds
_CANON_MEMO_CAP = 1 << 16
_MISS = object()


def _canonicalize_memo(url: str, scheme: str | None, href: str) -> str | None:
    """``canonicalize(url, href)`` through the worker memo. ``urljoin``
    resolves an href that has a netloc (``https://h/p``, ``//h/p``)
    against the page only through the page's ``scheme``, so such hrefs
    are keyed on (scheme, href) and shared by every page of that scheme.
    Any other href (relative, root-relative, ``http:g``, empty) is keyed
    on (page URL, href). ``scheme`` None bypasses the memo."""
    if scheme is None:
        return canonicalize(url, href)
    try:
        key = (scheme, href) if urlsplit(href).netloc else (url, href)
    except ValueError:
        return canonicalize(url, href)
    link = _CANON_MEMO.get(key, _MISS)
    if link is _MISS:
        if len(_CANON_MEMO) >= _CANON_MEMO_CAP:
            _CANON_MEMO.clear()
        link = _CANON_MEMO[key] = canonicalize(url, href)
    return link


def extract_page_py(url: str, html) -> tuple[list[str], str]:
    """(canonical links all-hosts, extracted text) in ONE tokenizer pass."""
    content = _as_str(html)
    if not content:
        return [], ""
    parser = _PageParser()
    try:
        parser.feed(content)
        parser.close()
    except Exception:
        return [], ""
    scheme = None
    if url:  # a falsy page URL leaves hrefs unresolved: no memo
        try:
            scheme = urlsplit(url).scheme
        except ValueError:
            pass
    seen: set[str] = set()
    out: list[str] = []
    for href in parser.hrefs:
        link = _canonicalize_memo(url, scheme, href)
        if link and link not in seen:
            seen.add(link)
            out.append(link)
    return out, "".join(parser.chunks)


# ---------------------------------------------------------------- UDFs --

_PAGE_SCHEMA = StructType(
    [
        StructField("links", ArrayType(StringType())),
        StructField("text_len", LongType()),
    ]
)


@F.pandas_udf(_PAGE_SCHEMA)
def extract_page_udf(url: pd.Series, html: pd.Series) -> pd.DataFrame:
    """Hot-path UDF: links + text length in one Arrow batch, one parse."""
    links, tlen = [], []
    for u, h in zip(url, html):
        ls, text = extract_page_py(u, h)
        links.append(ls)
        tlen.append(len(text))
    return pd.DataFrame({"links": links, "text_len": tlen})


@F.pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return pd.Series([extract_text_py(h) for h in html], dtype="object")


def oracle_links(url: str, html, same_host_only: bool = True) -> list[str]:
    """Reference-shaped link set for the pure-Python oracle: canonical,
    same-host-filtered — exactly what the Spark plan computes after
    explode + host filter."""
    from sparkcrawler.functions.urlnorm import host_of

    links = extract_links_py(url, html)
    if not same_host_only:
        return links
    base_host = host_of(url)
    return [link for link in links if host_of(link) == base_host]
