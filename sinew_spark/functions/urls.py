"""URL canonicalization + request identity — the crawl dedup contract.

Reimplements the cache-identity semantics of the reference
(/root/reference/lib/sinew/base.rb:108-122 and httpdisk behavior proven by
/root/reference/test/test_base.rb:28-41,87-103):

- identity = (method, canonical url, request body)
- ``ignore_params`` are stripped from the canonical url before hashing
  (test_base.rb:28-34: ?b=1 and ?b=2 collapse to one fetch)
- default params / url_prefix are folded in before canonicalization
  (test_base.rb:37-41)
- GET vs POST distinct; same URL + different body distinct

Engine key = ``xxhash64(method, canonical_url, body)`` via the built-in
Catalyst ``xxhash64`` (JVM-side, whole-stage codegen) — no Python in the
hot path. The canonicalizer itself is a vectorized pandas UDF (urllib
parsing is not expressible in Catalyst); its output is cached in the
frontier table so each URL is canonicalized once per lifetime.
"""

from __future__ import annotations

import re
from urllib.parse import parse_qsl, urlencode, urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import Column, functions as F, types as T

DEFAULT_PORTS = {"http": "80", "https": "443"}


def canonicalize_url_str(
    url: str,
    base: str | None = None,
    default_params: dict | None = None,
    ignore_params: frozenset | None = None,
) -> str | None:
    """Canonicalize one URL. Deterministic, idempotent.

    scheme/host lowercased, default port dropped, dot-segments resolved,
    query params merged with defaults then sorted, ignore_params removed,
    fragment dropped, empty path -> '/'.
    """
    if url is None or url == "":
        return None
    if base:
        url = urljoin(base, url)
    parts = urlsplit(url.strip())
    scheme = parts.scheme.lower()
    host = parts.hostname.lower() if parts.hostname else ""
    port = parts.port
    netloc = host
    if port is not None and str(port) != DEFAULT_PORTS.get(scheme):
        netloc = f"{host}:{port}"
    if parts.username:
        cred = parts.username + (f":{parts.password}" if parts.password else "")
        netloc = f"{cred}@{netloc}"
    path = parts.path or "/"
    # resolve /./ and /../ segments
    segs: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if len(segs) > 1:
                segs.pop()
            continue
        segs.append(seg)
    path = "/".join(segs) or "/"
    q = parse_qsl(parts.query, keep_blank_values=True)
    if default_params:
        have = {k for k, _ in q}
        q += [(k, str(v)) for k, v in default_params.items() if k not in have]
    if ignore_params:
        q = [(k, v) for k, v in q if k not in ignore_params]
    q.sort()
    return urlunsplit((scheme, netloc, path, urlencode(q), ""))


# Already-canonical grammar: absolute http(s), lowercase host (no port /
# userinfo / credentials), non-empty path, no query/fragment/whitespace
# (``\Z``, not ``$``: ``$`` also matches before a final newline).
# Such URLs are fixpoints of canonicalize_url_str *provided* the path has
# no '.'/'..' segments (second regex) — so they can skip per-row urllib
# entirely. Real frontiers are dominated by these (links already pass
# through the canonicalizer once before re-entering the frontier).
_FAST_CANONICAL_RE = re.compile(r"^https?://[a-z0-9](?:[a-z0-9.-]*[a-z0-9])?/[^?#\s]*\Z")
_DOT_SEGMENT_RE = re.compile(r"/\.\.?(?:/|$)")


def make_canonicalize_udf(
    url_prefix: str | None = None,
    default_params: dict | None = None,
    ignore_params=(),
):
    """Build a vectorized canonicalize pandas UDF with crawl options baked in
    (mirrors sinew options url_prefix/params/ignore_params,
    /root/reference/lib/sinew/base.rb:40,188-196).

    Vectorized fast path: rows matching the already-canonical grammar are
    returned unchanged after two C-speed pandas regex scans; only the messy
    residue pays the per-row urllib cost. ``url_prefix`` does not disable
    the fast path (urljoin with an absolute URL is the identity);
    ``default_params`` does (they must be appended to every URL);
    ``ignore_params`` only affect URLs with a query string, which the fast
    grammar excludes."""
    ig = frozenset(ignore_params or ())
    dp = dict(default_params or {})
    prefix = url_prefix

    def slow_one(u):
        if u is None:
            return None
        return canonicalize_url_str(u, base=prefix, default_params=dp, ignore_params=ig)

    @F.pandas_udf(T.StringType())
    def canonicalize(urls: pd.Series) -> pd.Series:
        if not dp:
            fast = urls.str.match(_FAST_CANONICAL_RE, na=False) & ~urls.str.contains(
                _DOT_SEGMENT_RE, na=False
            )
            if fast.all():
                return urls
            out = urls.copy()
            out[~fast] = urls[~fast].map(slow_one)
            return out
        return urls.map(slow_one)

    return canonicalize


@F.pandas_udf(T.StringType())
def urljoin_udf(base: pd.Series, ref: pd.Series) -> pd.Series:
    """Vectorized RFC-3986 reference resolution: urljoin(base, ref) per row.
    Used for DataFrame-native recipe chaining (`url_join` steps resolve the
    next step's URLs against the previous step's final_url without any
    driver round-trip — reference semantics: Ruby's `response.url + ref`,
    /root/reference/test/recipes/url.sinew:5, URI#+ == urljoin)."""
    from urllib.parse import urljoin

    return pd.Series(
        [None if b is None else urljoin(b, r or "") for b, r in zip(base, ref)],
        dtype="object",
    )


def host_expr(url: Column) -> Column:
    """Extract lowercase host from a canonical URL — pure Catalyst."""
    return F.lower(F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)", 1))


def path_expr(url: Column) -> Column:
    """Extract path (with leading /) from a canonical URL — pure Catalyst."""
    p = F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)?", 1)
    return F.when(p == "", F.lit("/")).otherwise(p)


def surt_key_expr(url: Column) -> Column:
    """CDX/SURT-style index key for a canonical URL — pure Catalyst.

    Sort-friendly crawl-index ordering (the CommonCrawl CDXJ layout):
    reverse the host labels and drop the scheme, so every URL of a
    registrable domain is CONTIGUOUS in sorted order —
    ``http://news.example.com/a?x=1`` -> ``com,example,news)/a?x=1``.
    Sorting/bucketing a crawl index by this key turns host- and
    domain-prefix lookups into partition-prunable range scans (parquet
    min/max column stats line up with the prefix), where raw-URL order
    scatters one domain across the keyspace by subdomain. Port and
    userinfo are dropped (index identity, not fetch identity — the
    request key keeps them via the canonical URL)."""
    rev = F.array_join(F.reverse(F.split(host_expr(url), r"\.")), ",")
    query = F.regexp_extract(url, r"\?([^#]*)", 1)
    return F.concat(
        rev,
        F.lit(")"),
        path_expr(url),
        F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), query)),
    )


def request_key_expr(method: Column, canonical_url: Column, body: Column) -> Column:
    """Request identity hash: xxhash64(method, canonical_url, body).

    JVM-side 64-bit hash (Catalyst built-in). Identity semantics per
    /root/reference/lib/sinew/base.rb:108-122: body '' and NULL coalesce."""
    return F.xxhash64(
        F.upper(F.coalesce(method, F.lit("GET"))),
        canonical_url,
        F.coalesce(body, F.lit("")),
    )


def request_key_md5_expr(method: Column, canonical_url: Column, body: Column) -> Column:
    """Oracle-checkable variant of the identity key (md5 exists in both Spark
    and DuckDB; xxhash64 does not exist in DuckDB). Same identity semantics."""
    return F.md5(
        F.concat_ws(
            "",
            F.upper(F.coalesce(method, F.lit("GET"))),
            canonical_url,
            F.coalesce(body, F.lit("")),
        )
    )
