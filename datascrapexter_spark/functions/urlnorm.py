"""URL canonicalization with exact parity to the reference's Go semantics.

Reference: /root/reference/internal/utils/utils.go
  - NormalizeURL   utils.go:256-288  (lowercase scheme/host, strip default
    ports, strip trailing slash unless path == "/", clean+sort query params,
    drop fragment)
  - cleanQueryParams utils.go:291-314 (drop utm_*/fbclid/gclid/ref/source,
    case-insensitive keys; Encode() == sort by key, Go QueryEscape)
  - ExtractDomain  utils.go:316-331  (hostname, no port, lowercase)
  - ResolveURL     utils.go:176-200  (RFC 3986 resolve, passthrough on error)
  - IsValidURL     utils.go:216-240  (http/https + non-empty host)

The pure-Python functions here are the single source of truth; the Spark
surface wraps them in Arrow-batched pandas UDFs (one Python call per Arrow
batch — no per-row Python). Used both by the crawl engine and by the
sequential oracle simulator in tests, so the frontier's seen-set/order
fixtures compare like-for-like.

Go/Python parity notes:
  - Go url.Values.Encode() escapes with QueryEscape: space->'+', unescaped
    set = [A-Za-z0-9-_.~]. Python's quote_plus has the identical safe set.
  - Go TrimSuffix(path, "/") removes at most ONE trailing slash.
"""

from __future__ import annotations

import re
from functools import lru_cache
from urllib.parse import quote, quote_plus, urljoin, urlsplit

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType, StructField, StructType

TRACKING_PARAMS = frozenset(
    {"utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
     "fbclid", "gclid", "ref", "source"}
)

_SCHEME_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*$")

# Fast-path identity checks (pure optimization, exact semantics preserved):
# unquote_plus(s) == s when s has no '%' and no '+'; quote_plus(s, safe='')
# == s when every char is unreserved; quote(path, _PATH_SAFE) == path when
# every char is in the safe+unreserved set.
_NO_UNESCAPE_RE = re.compile(r"^[^%+]*$")
_QP_IDENTITY_RE = re.compile(r"^[A-Za-z0-9\-_.~]*$")
_PATH_SAFE = "/%:@!$&'()*+,;=~-._"
_PATH_IDENTITY_RE = re.compile(r"^[A-Za-z0-9/%:@!$&'()*+,;=~\-._]*$")


def _parse_query_pairs(raw_query: str) -> list[tuple[str, str]]:
    """Parse a raw query string into (key, value) pairs like Go url.Query().

    Go's ParseQuery splits on '&', then on first '='; '+' and %XX decode.
    Keys with empty names are kept by Go only if non-empty key; Go skips
    empty components.
    """
    pairs: list[tuple[str, str]] = []
    for comp in raw_query.split("&"):
        if not comp:
            continue
        if "=" in comp:
            k, v = comp.split("=", 1)
        else:
            k, v = comp, ""
        pairs.append((_unescape_query(k), _unescape_query(v)))
    return pairs


def _unescape_query(s: str) -> str:
    # query unescape: '+' means space, %XX decoded. The identity check is
    # two C-level containment scans (faster than the old regex match for
    # the short components this sees).
    if "%" not in s and "+" not in s:
        return s
    from urllib.parse import unquote_plus

    return unquote_plus(s, errors="replace")


def _quote_plus_fast(s: str) -> str:
    return s if _QP_IDENTITY_RE.match(s) else quote_plus(s, safe="")


def _encode_query(pairs: list[tuple[str, str]]) -> str:
    """Go url.Values.Encode(): sort keys, preserve value order per key.

    A STABLE sort on the key alone is exactly "sort keys, keep per-key
    value order" — same output as the v1 dict-of-lists build without the
    dict/list allocations (this is the frontier's per-URL hot loop)."""
    pairs = sorted(pairs, key=_pair_key)
    return "&".join(
        f"{_quote_plus_fast(k)}={_quote_plus_fast(v)}" for k, v in pairs)


def _pair_key(p: tuple[str, str]) -> str:
    return p[0]


@lru_cache(maxsize=65536)
def _canon_query(query: str) -> str:
    """Canonical (tracking-stripped, key-sorted, re-encoded) form of one
    raw query string, memoized: crawl frontiers see the same few query
    SHAPES (tracking-param templates) millions of times per round, so
    the parse/sort/encode collapses to a dict hit. Pure function of the
    string — deterministic memoization, not result caching."""
    pairs = [(k, v) for k, v in _parse_query_pairs(query)
             if k.lower() not in TRACKING_PARAMS]
    return _encode_query(pairs)


def normalize_url(raw_url: str) -> str:
    """Exact port of NormalizeURL (utils.go:256-288)."""
    if raw_url is None:
        return None
    return _normalize_split(raw_url)[0]


# r06 fast split: for the overwhelmingly common URL shape
# scheme://netloc[path][?query][#fragment] with no control/whitespace
# characters and no IPv6 brackets, this regex produces EXACTLY urlsplit's
# four components (netloc = run up to the first '/', '?' or '#'; path up
# to '?' or '#'; query up to '#') at ~5x less per-call cost than the
# stdlib parser. Anything else — whitespace/controls (urlsplit strips
# them), brackets (urlsplit validates IPv6), missing '//' — falls back to
# urlsplit itself, so semantics are bit-identical on every input
# (differential-fuzzed in tests/test_urlnorm.py).
_FAST_SPLIT_RE = re.compile(
    r"^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#\[\]\x00-\x20\x7f]*)(?=[/?#]|$)"
    r"([^?#\x00-\x20\x7f]*)(?:\?([^#\x00-\x20\x7f]*))?"
    r"(?:#[^\x00-\x20\x7f]*)?$"
)


def _normalize_split(raw_url: str) -> tuple[str, str | None]:
    """(canonical url, final lowercased netloc) with ONE split; netloc is
    None exactly when parsing failed (raw passthrough, NormalizeURL's
    error branch) — the fused fast path canonicalize_parts builds host/
    domain from the returned netloc instead of re-parsing the canon."""
    m = _FAST_SPLIT_RE.match(raw_url)
    if m is not None:
        scheme, netloc, path, query = m.groups()
        scheme = scheme.lower()
        netloc = netloc.lower()
        if query is None:
            query = ""
        return _normalize_parts(scheme, netloc, path, query), netloc
    try:
        u = urlsplit(raw_url)
    except ValueError:
        return raw_url, None

    scheme = u.scheme.lower()
    # netloc: lowercase host; Go lowercases the whole Host (incl. port text)
    netloc = u.netloc.lower()
    return _normalize_parts(scheme, netloc, u.path, u.query), netloc


def _normalize_parts(scheme: str, netloc: str, path: str,
                     query: str) -> str:
    """Canonical URL from already-lowercased (scheme, netloc) + raw
    (path, query) — the shared tail of both split paths."""
    # Remove default ports (Go: HasSuffix check, then cut at last ':')
    if (scheme == "http" and netloc.endswith(":80")) or (
        scheme == "https" and netloc.endswith(":443")
    ):
        netloc = netloc[: netloc.rfind(":")]

    if path != "/" and path.endswith("/"):
        path = path[:-1]  # TrimSuffix: at most one

    if query != "":
        query = _canon_query(query)

    # Reassemble like Go URL.String(): scheme://host/path?query (no fragment)
    out = ""
    if scheme:
        out += scheme + ":"
    if netloc or scheme in ("http", "https"):
        out += "//" + netloc
    # Go re-escapes the path minimally; our fixture URLs use path-safe chars.
    out += path if _PATH_IDENTITY_RE.match(path) else quote(path, safe=_PATH_SAFE)
    if query:
        out += "?" + query
    return out


def extract_domain(raw_url: str) -> str:
    """ExtractDomain (utils.go:316-331): hostname without port, lowercased."""
    if not raw_url:
        return ""
    try:
        u = urlsplit(raw_url)
    except ValueError:
        return ""
    host = u.hostname or ""
    return host.lower()


# Minimal embedded multi-label public suffixes (common cases). The crawl
# engine groups politeness budgets by *registered* domain; a full public
# suffix list is a deployment-time data file — this built-in subset keeps
# the behavior deterministic in the sandbox.
_MULTI_SUFFIXES = frozenset(
    {"co.uk", "org.uk", "ac.uk", "gov.uk", "co.jp", "ne.jp", "or.jp",
     "com.au", "net.au", "org.au", "com.br", "com.cn", "com.mx", "co.in",
     "co.kr", "com.tw", "com.sg", "co.nz", "com.ar", "co.za"}
)


def registered_domain(host: str) -> str:
    """eTLD+1 for politeness grouping (deterministic built-in suffix set)."""
    if not host:
        return ""
    labels = host.lower().rstrip(".").split(".")
    if len(labels) <= 2:
        return ".".join(labels)
    if ".".join(labels[-2:]) in _MULTI_SUFFIXES:
        return ".".join(labels[-3:])
    return ".".join(labels[-2:])


def resolve_url(base_url: str, relative_url: str) -> str:
    """ResolveURL (utils.go:176-200)."""
    if not base_url:
        return relative_url
    if not relative_url:
        return base_url
    try:
        return urljoin(base_url, relative_url)
    except ValueError:
        return relative_url


def is_valid_url(s: str) -> bool:
    """IsValidURL (utils.go:216-240): http/https scheme + non-empty host."""
    if not s:
        return False
    try:
        u = urlsplit(s)
    except ValueError:
        return False
    return u.scheme in ("http", "https") and bool(u.netloc)


# ---------------------------------------------------------------------------
# Spark surface: Arrow-batched pandas UDFs + native-Column helpers
# ---------------------------------------------------------------------------

@pandas_udf(StringType())
def normalize_url_udf(urls: pd.Series) -> pd.Series:
    return pd.Series(
        [normalize_url(s) if s is not None else None for s in urls.tolist()],
        dtype="object",
    )


@pandas_udf(StringType())
def extract_domain_udf(urls: pd.Series) -> pd.Series:
    return pd.Series(
        [extract_domain(s) if s is not None else None for s in urls.tolist()],
        dtype="object",
    )


@pandas_udf(StringType())
def registered_domain_udf(hosts: pd.Series) -> pd.Series:
    return pd.Series(
        [registered_domain(s) if s is not None else None for s in hosts.tolist()],
        dtype="object",
    )


@pandas_udf(StringType())
def resolve_url_udf(base: pd.Series, rel: pd.Series) -> pd.Series:
    return pd.Series(
        [resolve_url(b, r) for b, r in zip(base, rel)], dtype="object"
    )


_PORT_SUFFIX_RE = re.compile(r":\d*$")


def _hostname_from_netloc(netloc: str) -> str:
    """hostname (no userinfo/port/brackets) from an already-lowercased
    netloc — same result as urlsplit().hostname without a reparse."""
    if "@" in netloc:
        netloc = netloc.rsplit("@", 1)[1]
    if netloc.startswith("["):
        end = netloc.find("]")
        return netloc[1:end] if end != -1 else netloc[1:]
    return _PORT_SUFFIX_RE.sub("", netloc)


@lru_cache(maxsize=65536)
def _host_domain_from_netloc(netloc: str) -> tuple[str, str]:
    """(host, registered_domain) of a lowercased netloc, memoized: a
    crawl frontier revisits the same hosts millions of times per round,
    so the per-URL suffix-list walk collapses to a dict hit. Pure
    function of the netloc string — the LRU is deterministic memoization,
    not result caching."""
    host = _hostname_from_netloc(netloc)
    return host, registered_domain(host)


def canonicalize_parts(raw_url: str) -> tuple[str, str, str]:
    """(url_canon, host, registered_domain) with ONE parse — the fused
    frontier fast path (identical results to normalize_url + extract_domain
    + registered_domain composed; asserted by tests). The netloc comes
    straight from _normalize_split, so each URL is urlsplit exactly once."""
    if raw_url is None:
        return None, None, None
    canon, netloc = _normalize_split(raw_url)
    if netloc is None:  # parse failure: NormalizeURL passthrough branch
        return canon, "", ""
    host, domain = _host_domain_from_netloc(netloc)
    return canon, host, domain


CANON_STRUCT_SCHEMA = StructType([
    StructField("url_canon", StringType()),
    StructField("host", StringType()),
    StructField("domain", StringType()),
])


@pandas_udf(CANON_STRUCT_SCHEMA)
def canonicalize_struct_udf(urls: pd.Series) -> pd.DataFrame:
    # column-wise build: three plain lists -> DataFrame-from-dict is one
    # block per column, vs pandas row-tuple inference over the whole batch
    canon, hosts, domains = [], [], []
    for s in urls.tolist():
        if s is None:
            canon.append(None), hosts.append(None), domains.append(None)
            continue
        c, h, d = canonicalize_parts(s)
        canon.append(c), hosts.append(h), domains.append(d)
    return pd.DataFrame(
        {"url_canon": canon, "host": hosts, "domain": domains}, copy=False)


def canonicalize_arrow_df(df, url_col: str = "url"):
    """(url_canon, host, domain) via ONE Arrow-native crossing
    (mapInArrow): the per-batch path goes pyarrow -> Python lists ->
    pyarrow with no pandas Series/DataFrame layer on either side —
    measurably cheaper per URL than the pandas_udf at frontier volumes.
    Identical values to canonicalize_struct_udf (same core function);
    projects the input to the single URL column first (guide §4: opaque
    functions defeat column pruning, so prune explicitly)."""
    import pyarrow as pa

    def fn(batches):
        for batch in batches:
            urls = batch.column(0).to_numpy(zero_copy_only=False).tolist()
            canon: list = []
            hosts: list = []
            doms: list = []
            for s in urls:
                if s is None:
                    canon.append(None), hosts.append(None), doms.append(None)
                    continue
                c, h, d = canonicalize_parts(s)
                canon.append(c), hosts.append(h), doms.append(d)
            yield pa.RecordBatch.from_arrays(
                [pa.array(canon, pa.string()), pa.array(hosts, pa.string()),
                 pa.array(doms, pa.string())],
                names=["url_canon", "host", "domain"])

    return df.select(F.col(url_col).alias("url")).mapInArrow(
        fn, "url_canon string, host string, domain string")


def is_valid_url_col(col):
    """Native-Column variant of IsValidURL — stays in codegen."""
    return col.rlike("^https?://") & F.parse_url(col, F.lit("HOST")).isNotNull()


def host_col(url_canon):
    """Host of an ALREADY-CANONICAL URL, JVM-side (codegen; no Python).

    Canonical URLs have a lowercased netloc and stripped default ports, so
    parse_url(HOST) (which drops userinfo and any remaining explicit port)
    equals extract_domain(). Only valid on canonicalize() output — raw URLs
    still need the Python parity path."""
    c = F.col(url_canon) if isinstance(url_canon, str) else url_canon
    return F.lower(F.parse_url(c, F.lit("HOST")))


def registered_domain_col(host):
    """eTLD+1 as a Column expression over the same built-in suffix set as
    registered_domain() (kept in lockstep by tests)."""
    h = F.col(host) if isinstance(host, str) else host
    labels = F.split(F.regexp_replace(F.lower(h), "\\.$", ""), "\\.")
    n = F.size(labels)
    last2 = F.array_join(F.slice(labels, n - 1, 2), ".")
    last3 = F.array_join(F.slice(labels, F.greatest(n - 2, F.lit(1)), 3), ".")
    suffixes = F.array(*[F.lit(s) for s in sorted(_MULTI_SUFFIXES)])
    return (
        F.when(h.isNull(), None)
        .when(n <= 2, F.array_join(labels, "."))
        .when(F.array_contains(suffixes, last2), last3)
        .otherwise(last2)
    )


def url_hash_col(col):
    """north_rule hash: xxhash64 of the canonical URL (JVM-side, seed 42)."""
    return F.xxhash64(col)
