"""Property-based tests (hypothesis) over the pure-Python cores.

These pin INVARIANTS rather than examples: URL canonicalization must be
a fixed point (re-canonicalizing canonical output changes nothing — the
crawl's dedup identity depends on it), must never emit fragments, and
must be insensitive to query-parameter order.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from sparkcrawler.functions.urlnorm import canonicalize, host_of

# --- URL strategies: hosts/paths/queries from URL-legal alphabets ------

_host = st.from_regex(r"[a-z]([a-z0-9-]{0,10}[a-z0-9])?(\.[a-z]{2,5}){1,2}",
                      fullmatch=True)
_port = st.one_of(st.none(), st.integers(1, 65535))
_pathseg = st.text("abcdefghijklmnopqrstuvwxyz0123456789._~-", min_size=0,
                   max_size=8)
_path = st.lists(_pathseg, min_size=0, max_size=4).map(
    lambda segs: "/" + "/".join(segs) if segs else ""
)
_key = st.text("abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=5)
_val = st.text("abcdefghijklmnopqrstuvwxyz0123456789", min_size=0,
               max_size=5)
_query = st.lists(st.tuples(_key, _val), min_size=0, max_size=4)
_frag = st.one_of(st.none(), st.text("abcdef0123456789", max_size=6))


@st.composite
def http_urls(draw):
    scheme = draw(st.sampled_from(["http", "https", "HTTP", "Https"]))
    host = draw(_host)
    port = draw(_port)
    path = draw(_path)
    q = draw(_query)
    frag = draw(_frag)
    url = f"{scheme}://{host}"
    if port is not None:
        url += f":{port}"
    url += path
    if q:
        url += "?" + "&".join(f"{k}={v}" for k, v in q)
    if frag is not None:
        url += "#" + frag
    return url


@settings(max_examples=300, deadline=None)
@given(http_urls())
def test_canonicalize_is_a_fixed_point(url):
    c1 = canonicalize(None, url)
    assert c1 is not None
    c2 = canonicalize(None, c1)
    assert c2 == c1
    # canonical form never carries a fragment
    assert "#" not in c1


@settings(max_examples=200, deadline=None)
@given(_host, _path, _query)
def test_canonicalize_query_order_insensitive(host, path, q):
    def mk(pairs):
        u = f"http://{host}{path}"
        if pairs:
            u += "?" + "&".join(f"{k}={v}" for k, v in pairs)
        return u

    assert canonicalize(None, mk(q)) == canonicalize(None, mk(q[::-1]))


@settings(max_examples=200, deadline=None)
@given(http_urls())
def test_host_of_canonical_is_lowercase_and_stable(url):
    c = canonicalize(None, url)
    h = host_of(c)
    assert h == h.lower()
    assert host_of(c) == host_of(canonicalize(None, c))


@settings(max_examples=100, deadline=None)
@given(http_urls())
def test_default_port_stripped_iff_default(url):
    c = canonicalize(None, url)
    h = host_of(c)
    scheme = c.split(":", 1)[0]
    if ":" in h:
        port = h.rsplit(":", 1)[1]
        default = {"http": "80", "https": "443"}[scheme]
        assert port != default


# --- Extractor: one-pass parser ≡ dedicated parsers, never raises ------

from sparkcrawler.functions.extract import (  # noqa: E402
    extract_links_py,
    extract_page_py,
    extract_text_py,
)

_html_soup = st.text(
    alphabet="<>/ab c\"'=&;#!-\n\tz0髦é𝄞",
    min_size=0, max_size=200,
)


@settings(max_examples=300, deadline=None)
@given(_html_soup)
def test_extract_one_pass_equals_dedicated_parsers_on_fuzz(soup):
    url = "http://fuzz.example/p"
    links, text = extract_page_py(url, soup)
    assert links == extract_links_py(url, soup)
    assert text == extract_text_py(soup)
    # first-occurrence dedup invariant
    assert len(links) == len(set(links))


_paths = st.lists(
    st.text("abcdefghij0123456789", min_size=1, max_size=6),
    min_size=0, max_size=8,
)


@settings(max_examples=200, deadline=None)
@given(_paths, _html_soup)
def test_extract_wellformed_anchors_in_order(paths, noise):
    from sparkcrawler.functions.urlnorm import canonicalize

    url = "http://site.example/base"
    body = "".join(
        f'<p>{i}</p><a href="/{p}">x</a>' for i, p in enumerate(paths)
    )
    # noise OUTSIDE tags must not disturb anchor extraction; escape
    # tag-significant chars so it stays character data
    safe_noise = (
        noise.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )
    html = f"<html><body>{safe_noise}{body}</body></html>"
    got = extract_page_py(url, html)[0]
    want = []
    seen = set()
    for p in paths:
        c = canonicalize(url, "/" + p)
        if c and c not in seen:
            seen.add(c)
            want.append(c)
    assert got == want


# --- robots.txt: engine evaluator ≡ independent longest-match oracle ---

from sparkcrawler.operators.robots import can_fetch_py, parse_robots_py  # noqa: E402

_rule = st.tuples(
    st.text("abcdefg/", min_size=1, max_size=8).map(lambda s: "/" + s),
    st.booleans(),  # allow?
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_rule, min_size=0, max_size=8),
       st.text("abcdefg/", min_size=0, max_size=10).map(lambda s: "/" + s))
def test_robots_matches_longest_match_oracle(rules, path):
    body = "User-agent: *\n" + "\n".join(
        f"{'Allow' if allow else 'Disallow'}: {pat}" for pat, allow in rules
    )
    parsed = parse_robots_py(body)
    got = can_fetch_py(parsed, path)
    # independent oracle: Google/Protego precedence — longest matching
    # pattern wins; on equal length Allow beats Disallow; no match →
    # allowed (simple prefixes only: no * or $ generated)
    matches = [(pat, allow) for pat, allow in rules if path.startswith(pat)]
    want = max(matches, key=lambda r: (len(r[0]), r[1]))[1] if matches else True
    assert got == want
