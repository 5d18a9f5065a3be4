"""Distributed fetch stage — per-host grouped, politeness-paced, retrying.

Replaces the reference's single-threaded Faraday middleware stack
(/root/reference/lib/sinew/base.rb:198-240) with one Arrow-native fused
fetch+parse loop, run as a per-host ``applyInArrow`` stage when paced and
as a shuffle-free ``mapInArrow`` stage when not:

- paced frontier rows are hash-partitioned by host; each host group is
  fetched sequentially inside one task => per-host politeness is exact while
  hosts proceed in parallel (the reference's rate limiter is global because
  it is single-threaded; per-host is the distributed generalization,
  README.md:153)
- retry with backoff on 5xx/error, max ``retries`` extra attempts, backoff
  capped at rate_limit (base.rb:232-239 "negates Retry-After: 86400")
- redirects followed in-stage; every hop is recorded so each hop can be
  cached as its own seen entry (base.rb:209-211)
- per-transfer timeout (base.rb:30)
- proxy rotation: deterministic pseudo-random proxy per request
  (base.rb:62-64,178-184) — derived from the key hash so replay is stable

The engine makes one transport call per request hop,
``Fetcher.resolve_validated``; a transport that needs no cookies, proxy
or validators implements ``resolve`` alone and inherits the default. The
fetched bodies are parsed in the same pass by the one span builder,
``operators/parse.span_arrays``.

Skew control: per-host round caps (operators/frontier.py) bound group size
before this stage; a hot host never exceeds ``per_host_cap`` rows per round.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sinew_spark.operators.parse import LINKS_TYPE, SPAN_TYPE, span_arrays

MAX_REDIRECT_HOPS = 10

FETCHED_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("canonical_url", T.StringType()),
        T.StructField("method", T.StringType()),
        T.StructField("body", T.StringType()),
        T.StructField("priority", T.DoubleType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("seq", T.LongType()),
        T.StructField("attempt", T.IntegerType()),
        T.StructField("host", T.StringType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("resp_body", T.StringType()),
        T.StructField("final_url", T.StringType()),
        T.StructField("n_attempts", T.IntegerType()),
        T.StructField("hops", T.ArrayType(T.StringType())),
        T.StructField("error", T.StringType()),
        T.StructField("fetched_at", T.DoubleType()),
        T.StructField("proxy", T.StringType()),
        T.StructField("cookies", T.StringType()),  # JSON jar state after this request (C11)
        # HTTP validators from the response (conditional revalidation):
        # status == 304 marks a not-modified revisit (body not re-transferred)
        T.StructField("etag", T.StringType()),
        T.StructField("last_modified", T.StringType()),
        # wall-clock of the request incl. retry attempts and redirect hops
        # but NOT the retry backoff sleeps (the AIMD backoff already
        # answers errors; counting its own sleeps would double it), for
        # latency-adaptive politeness (CrawlOptions.adaptive_politeness
        # -> scheduler.adaptive_host_delay). Observational, not replayed
        # by oracles (like fetched_at).
        T.StructField("latency_ms", T.LongType()),
    ]
)


# the frontier-side input columns (prefix of FETCHED_SCHEMA)
FRONTIER_ORDER = FETCHED_SCHEMA.fields[:10]


class Fetcher:
    """Transport interface. The engine calls ``resolve_validated`` once per
    request hop and nothing else. A simple transport implements only
    ``resolve``; the default ``resolve_validated`` wraps it with no cookie,
    proxy or validator support. Both must be pure functions of their
    arguments for deterministic replay."""

    def resolve(self, url: str, method: str, body: str, attempt: int) -> tuple:
        """-> (status:int, content_type:str, body:str|None, redirect_to:str|None)"""
        raise NotImplementedError

    def resolve_validated(
        self, url: str, method: str, body: str, attempt: int, cookies: dict,
        proxy: str | None = None, etag: str | None = None,
        last_modified: str | None = None,
    ) -> tuple:
        """One request hop.

        ``cookies`` is the flat name→value view the ENGINE computed for this
        request (C11 — the reference's faraday cookie_jar, base.rb:204; RFC
        6265 scoping lives in functions/cookies.py, not in transports); the
        returned ``cookies_after`` is the transport's post-request view —
        new or changed names are Set-Cookies (dict values carry
        domain/path/max_age attributes), missing sent names are deletions.
        ``proxy`` is the rotation-selected proxy URL for this request (C10,
        reference base.rb:178-184) — network transports MUST route through
        it; fixture transports may ignore it. ``etag`` / ``last_modified``
        are the validators the engine stored from a prior fetch of this URL;
        a supporting transport sends them as If-None-Match /
        If-Modified-Since and may answer (304, ct, None, None, ...) when the
        origin says not-modified — the recrawl-scale bandwidth saver (an
        unchanged page costs ~200 bytes, no body transfer, no re-parse). The
        last two return slots are the validators of THIS response (None if
        the origin sent none).

        Default: ``resolve`` with the cookies passed through unchanged, no
        proxy and no validators (never 304s).
        -> (status, content_type, body, redirect_to, cookies_after,
            etag_out, last_modified_out)."""
        return (*self.resolve(url, method, body, attempt), cookies, None, None)


class FixtureFetcher(Fetcher):
    """Fetch from the synthetic web (sources/web_fixture.py). ``flaky`` maps
    host -> k: return 500 for the first k-1 attempts then succeed (models
    webmock retry tests, /root/reference/test/test_base.rb:57-61)."""

    def __init__(self, seed: int = 42, extra_pages: dict | None = None, flaky: dict | None = None, synthetic: bool = False, synthetic_links: int = 8, synthetic_hosts: int = 1000, synthetic_epoch: int = 0, synthetic_change_frac: float = 0.0):
        self.seed = seed
        self.extra_pages = extra_pages or {}
        self.flaky = flaky or {}
        self.synthetic = synthetic
        self.synthetic_links = synthetic_links
        self.synthetic_hosts = synthetic_hosts
        # deterministic content churn for recrawl benchmarks: at epoch e>0
        # a stable change_frac of URLs (keyed on sha256(url)) serve a body
        # generated from a different seed — the origin "changed" exactly
        # that fraction of its pages since epoch 0
        self.synthetic_epoch = synthetic_epoch
        self.synthetic_change_frac = synthetic_change_frac
        self._web = None  # built lazily on the executor

    def _ensure(self):
        if self._web is None:
            from sinew_spark.sources.web_fixture import SyntheticWeb

            self._web = SyntheticWeb(self.seed, self.extra_pages)

    def resolve(self, url, method, body, attempt):
        from urllib.parse import urlsplit

        self._ensure()
        host = urlsplit(url).hostname or ""
        if host in self.flaky and attempt < self.flaky[host] - 1:
            return (500, "text/plain", "flaky", None)
        if self.synthetic:
            import hashlib as _h

            from sinew_spark.sources.web_fixture import synthetic_body

            seed = self.seed
            if self.synthetic_epoch and self.synthetic_change_frac > 0:
                hv = int(_h.sha256(f"chg|{url}".encode()).hexdigest()[:8], 16)
                if hv % 10000 < int(self.synthetic_change_frac * 10000):
                    seed = self.seed + 1000003 * self.synthetic_epoch
            return (
                200,
                "text/html",
                synthetic_body(url, seed, self.synthetic_links, self.synthetic_hosts),
                None,
            )
        return self._web.resolve(url, method, body)

    def resolve_validated(
        self, url, method, body, attempt, cookies, proxy=None, etag=None,
        last_modified=None,
    ):
        """``resolve`` plus httpbin-style cookie endpoints for C11 tests and
        deterministic revalidation.

        /cookies/set?k=v adds cookies (attribute params
        __domain/__path/__max_age apply to the cookies set in that request)
        and redirects to /cookies, which echoes the request's applicable
        cookies as JSON; /cookies/setnr sets without the redirect;
        /cookies/del?name=k drops k from the visible jar. Everything else is
        cookie-oblivious.

        Every 200 response carries a strong ETag = md5(body) (a pure
        function of the page, so replay-stable); a request presenting that
        ETag gets 304 with no body — exactly the origin-side behavior a
        validator-aware recrawl exploits."""
        import hashlib as _h
        import json as _json
        from urllib.parse import parse_qsl, urlsplit

        parts = urlsplit(url)
        q = dict(parse_qsl(parts.query, keep_blank_values=True))
        after = cookies
        if parts.path == "/cookies/setnr":
            # set without redirecting (302-free cookie traffic — lets the
            # bench isolate jar cost from redirect-commit cost)
            after = {**cookies, **q}
            r = (200, "application/json", _json.dumps({"cookies": after}, sort_keys=True), None)
        elif parts.path == "/cookies/set":
            attrs = {}
            for a in ("domain", "path", "max_age"):
                if f"__{a}" in q:
                    attrs[a] = q.pop(f"__{a}")
            if "max_age" in attrs:
                attrs["max_age"] = float(attrs["max_age"])
            after = dict(cookies)
            for k, v in q.items():
                after[k] = {"v": v, **attrs} if attrs else v
            r = (302, "text/html", "", f"{parts.scheme}://{parts.netloc}/cookies")
        elif parts.path == "/cookies/del":
            gone = set((q.get("name") or "").split(","))
            after = {k: v for k, v in cookies.items() if k not in gone}
            r = (200, "application/json", _json.dumps({"cookies": after}, sort_keys=True), None)
        elif parts.path == "/cookies":
            r = (200, "application/json", _json.dumps({"cookies": cookies}, sort_keys=True), None)
        else:
            r = self.resolve(url, method, body, attempt)
        status, ct, resp_body = r[:3]
        if status != 200 or resp_body is None:
            return (*r, after, None, None)
        cur = '"' + _h.md5(resp_body.encode("utf-8", "replace")).hexdigest() + '"'
        if etag is not None and etag == cur:
            return (304, ct, None, None, after, cur, None)
        return (*r, after, cur, None)


class HttpFetcher(Fetcher):
    """Real-network transport via urllib (used only outside tests/bench; the
    sandbox has no network). Decodes per charset with invalid bytes -> '?'
    like the reference's utf8 option (base.rb:2, response.rb:12-15).

    ``headers`` = default headers on every request; ``insecure`` skips SSL
    verification (reference runtime options ``headers``/``insecure``,
    /root/reference/README.md:147-155); ``utf8=False`` opts out of charset
    transcoding entirely (reference base.rb:50): the body keeps its wire
    bytes 1:1 through a total ISO-8859-1 view — no sniff, no U+FFFD."""

    def __init__(
        self, timeout: float = 30.0, headers: dict | None = None,
        insecure: bool = False, utf8: bool = True,
    ):
        self.timeout = timeout
        self.headers = headers or {}
        self.insecure = insecure
        self.utf8 = utf8

    def resolve_validated(
        self, url, method, body, attempt, cookies, proxy=None, etag=None,
        last_modified=None,
    ):
        """Real-network request. The engine's applicable cookie view goes
        out as a Cookie header; Set-Cookie response headers come back as
        attribute-carrying dict entries per the transport contract (the
        engine's RFC 6265 jar does the scoping/expiry). The rotation-
        selected ``proxy`` routes the request (C10, base.rb:178-184).
        Prior validators go out as If-None-Match / If-Modified-Since; the
        origin's 304 comes back as status 304 with no body, and the
        response's ETag / Last-Modified headers are returned for the engine
        to store for the NEXT revalidation (RFC 9110 §13.1; the recrawl
        analog of httpdisk's cache, which the reference can't do because it
        never revalidates)."""
        import time as _t

        from sinew_spark.functions.cookies import (
            cookie_header,
            parse_set_cookie_header,
        )

        hdr = cookie_header(cookies) if cookies else None
        status, ct, text, redirect, set_cookies, etag_out, lm_out = self._request(
            url, method, body, hdr, proxy=proxy, etag=etag,
            last_modified=last_modified,
        )
        after = dict(cookies)
        now = _t.time()
        for sc in set_cookies:
            parsed = parse_set_cookie_header(sc, now=now)
            if parsed is not None:
                after[parsed[0]] = parsed[1]
        return (status, ct, text, redirect, after, etag_out, lm_out)

    @staticmethod
    def _decode_body(raw: bytes, headers) -> bytes:
        """Undo Content-Encoding (gzip/deflate) like the reference's
        faraday-encoding middleware (base.rb:2, Gemfile). Tolerant:
        a body that fails to decompress passes through unchanged."""
        enc = (headers.get("Content-Encoding") or "").lower().strip()
        try:
            if enc == "gzip" or enc == "x-gzip":
                import gzip as _gz

                return _gz.decompress(raw)
            if enc == "deflate":
                import zlib as _z

                try:
                    return _z.decompress(raw)  # zlib-wrapped (RFC 2616 sense)
                except _z.error:
                    return _z.decompress(raw, -_z.MAX_WBITS)  # raw deflate
        except Exception:
            return raw
        return raw

    def _request(self, url, method, body, cookie_hdr, proxy=None, etag=None,
                 last_modified=None):
        import urllib.error
        import urllib.request

        headers = dict(self.headers)
        if cookie_hdr:
            headers["Cookie"] = cookie_hdr
        if etag:
            headers["If-None-Match"] = etag
        if last_modified:
            headers["If-Modified-Since"] = last_modified
        # negotiate compression unless the caller pinned their own value
        # (faraday-encoding parity — the reference stack decompresses
        # transparently; identity-only costs full transfer bytes)
        if not any(h.lower() == "accept-encoding" for h in headers):
            headers["Accept-Encoding"] = "gzip, deflate"
        req = urllib.request.Request(
            url, data=body.encode() if body else None, method=method, headers=headers
        )

        class _NoRedirect(urllib.request.HTTPRedirectHandler):
            def redirect_request(self, *a, **k):
                return None

        handlers = [_NoRedirect]
        if proxy:
            # C10: actually route through the rotation-selected proxy
            # (reference base.rb:178-184 — "proxy: one or more proxies";
            # before round 4 the pick was recorded but never applied).
            handlers.append(
                urllib.request.ProxyHandler({"http": proxy, "https": proxy})
            )
        if self.insecure:
            import ssl

            ctx = ssl.create_default_context()
            ctx.check_hostname = False
            ctx.verify_mode = ssl.CERT_NONE
            handlers.append(urllib.request.HTTPSHandler(context=ctx))
        opener = urllib.request.build_opener(*handlers)
        try:
            with opener.open(req, timeout=self.timeout) as resp:
                ct = resp.headers.get("Content-Type", "")
                raw = self._decode_body(resp.read(), resp.headers)
                if not self.utf8:
                    # utf8: false (reference base.rb:50) — no transcoding:
                    # ISO-8859-1 maps every byte 1:1, so the wire bytes
                    # survive exactly (text.encode('iso-8859-1') == raw)
                    text = raw.decode("iso-8859-1")
                else:
                    # browser-order charset pick: BOM > header param >
                    # in-body <meta>/XML declaration > utf-8
                    # (functions/charset.py) — header-less pages no
                    # longer decode blind
                    from sinew_spark.functions.charset import (
                        decode_text,
                        sniff_charset,
                    )

                    charset = sniff_charset(raw, resp.headers.get_content_charset())
                    # decode_text: BOM stripped, unknown labels fall back,
                    # malformed -> U+FFFD -> '?' (reference parity)
                    text = decode_text(raw, charset).replace("�", "?")
                return (
                    resp.status, ct, text, None,
                    resp.headers.get_all("Set-Cookie") or [],
                    resp.headers.get("ETag"), resp.headers.get("Last-Modified"),
                )
        except urllib.error.HTTPError as e:
            set_c = e.headers.get_all("Set-Cookie") or [] if e.headers else []
            e_tag = e.headers.get("ETag") if e.headers else None
            e_lm = e.headers.get("Last-Modified") if e.headers else None
            if e.code == 304:
                # not modified: no body came over the wire; the validators
                # (if re-sent by the origin) refresh the stored ones
                return (304, "", None, None, set_c, e_tag, e_lm)
            if e.code in (301, 302, 303, 307, 308):
                return (e.code, "", "", e.headers.get("Location"), set_c, e_tag, e_lm)
            return (e.code, "", "", None, set_c, e_tag, e_lm)
        except Exception as e:  # timeout, conn refused, ...
            return (-1, "", str(e), None, [], None, None)


def _fetch_one(
    fetcher: Fetcher, url, method, body, retries, rate_limit, backoff_base=0.01,
    cookies=None, proxy=None, etag=None, last_modified=None,
):
    """One request: retry loop around a redirect-following loop; the cookie
    jar threads through hops and attempts (C11, base.rb:204-211) with RFC
    6265 scoping — each hop's Cookie view is recomputed for ITS host/path
    (a cross-host redirect never leaks the origin's host-only cookies;
    Secure cookies are withheld from non-https hops) and the transport's
    response cookies fold back with domain/path/expiry semantics
    (functions/cookies.py). ``cookies`` is a normalized scoped jar
    ({(domain, path, name): record}); returns it updated. Every hop is one
    ``fetcher.resolve_validated`` call, the only transport entry the engine
    uses; ``proxy`` is the rotation-selected proxy for this request (C10).
    ``etag``/``last_modified``
    are prior validators for the SEED url — sent on the first hop of each
    attempt only (a redirect target is a different resource). A 304
    answer is success.
    Returns (status, content_type, resp_body, final_url, n_attempts, hops,
    error, jar_after, jar_changed, etag_out, lm_out, backoff_s) —
    jar_changed marks rows that actually set/deleted cookies (the only
    rows that re-persist the jar); etag_out/lm_out are the FINAL
    response's validators, for the next revalidation; backoff_s is the
    time slept between retry attempts, which callers leave out of
    ``latency_ms``."""
    from urllib.parse import urljoin, urlsplit

    from sinew_spark.functions.cookies import apply_response_cookies, cookies_for

    n_attempts = 0
    hops: list[str] = []
    jar = cookies if cookies is not None else {}
    jar_changed = False
    status, ct, resp_body, final_url, error = None, None, None, url, None
    etag_out, lm_out = None, None
    backoff_s = 0.0

    def _do(cur, m, b, attempt, first_hop):
        nonlocal jar_changed, etag_out, lm_out
        parts = urlsplit(cur)
        host = (parts.hostname or "").lower()
        req_path = parts.path or "/"
        now = time.time()
        sent = cookies_for(
            jar, host, req_path, now, secure=(parts.scheme or "").lower() == "https"
        )
        status, ct, resp_body, redirect, after, e_out, l_out = fetcher.resolve_validated(
            cur, m, b, attempt, sent, proxy=proxy,
            etag=etag if first_hop else None,
            last_modified=last_modified if first_hop else None,
        )
        etag_out, lm_out = e_out, l_out
        jar_changed |= apply_response_cookies(
            jar, sent, after, host, req_path, now,
            secure=(parts.scheme or "").lower() == "https",
        )
        return status, ct, resp_body, redirect

    for attempt in range(retries + 1):
        n_attempts += 1
        cur, cur_method, cur_body = url, method, body
        hops = []
        status, ct, resp_body, redirect = _do(cur, cur_method, cur_body, attempt, True)
        hop_count = 0
        while redirect is not None and hop_count < MAX_REDIRECT_HOPS:
            hops.append(cur)
            cur = urljoin(cur, redirect)
            if status not in (307, 308):
                # 301/302/303 => GET, like faraday follow_redirects;
                # 307/308 preserve method AND body per RFC 9110 (faraday
                # does too) — rewriting them breaks POST endpoints that
                # redirect to their canonical host
                cur_method, cur_body = "GET", ""
            hop_count += 1
            status, ct, resp_body, redirect = _do(cur, cur_method, cur_body, attempt, False)
        final_url = cur
        if redirect is not None:
            # redirect limit exhausted (loop, or an over-long chain): the
            # page was never retrieved. Recording the trailing 3xx as a
            # success would commit an empty body and mark the URL seen
            # forever; stamp the transport-failure status (-1, the same
            # bucket as DNS/timeout — error-class, so force_errors can
            # retry it) and stop: the chain is deterministic, in-attempt
            # retries would replay it identically.
            status = -1
            error = f"redirect limit ({MAX_REDIRECT_HOPS} hops) exceeded at {cur}"
            break
        if status is not None and (200 <= status < 500):
            error = None
            break
        error = f"status {status}"
        if attempt < retries:
            # backoff capped at the politeness window (reference
            # base.rb:233 caps at rate_limit) — but the engine's default
            # is UNPACED (rate_limit=0, the reference defaults to 1 rps),
            # where a zero cap would retry a failing origin back-to-back
            # with no delay at all; floor the cap at 1s there so the
            # documented exponential backoff actually happens
            cap = rate_limit if rate_limit > 0 else 1.0
            t_sleep = time.perf_counter()
            time.sleep(min(cap, backoff_base * (2**attempt)))
            backoff_s += time.perf_counter() - t_sleep
    return (status, ct, resp_body, final_url, n_attempts, hops, error, jar,
            jar_changed, etag_out, lm_out, backoff_s)


FETCH_PARSED_SCHEMA = T.StructType(
    FETCHED_SCHEMA.fields
    + [T.StructField("spans", SPAN_TYPE), T.StructField("links", LINKS_TYPE)]
)


def _fetch_arrow(data, fetcher: Fetcher, retries: int, proxies: list[str],
                 pace: float, arrow_schema) -> list:
    """The fetch loop and typed-array builder behind both fetch plans.

    ``data`` is a RecordBatch or Table of frontier rows (plus the optional
    host_cookies / prior_etag / prior_last_modified columns) in fetch
    order. ``pace`` > 0 sleeps that long between consecutive requests and
    caps their retry backoff. Returns the columns of ``arrow_schema``:
    the ten frontier columns passed through, then the fetch results as
    typed pyarrow arrays, then the spans and links ``span_arrays`` parses
    from the fetched bodies."""
    import pyarrow as pa

    from sinew_spark.functions.cookies import dump_jar, normalize_jar, own_records

    n = data.num_rows
    names = data.schema.names

    def col(c):
        return data.column(c).to_pylist() if c in names else [None] * n

    keys, urls, methods, bodies = col("key"), col("url"), col("method"), col("body")
    hosts, host_cookies = col("host"), col("host_cookies")
    prior_etag, prior_lm = col("prior_etag"), col("prior_last_modified")
    jars: dict = {}  # C11: one jar per host, threaded through its rows
    rows = []
    for i in range(n):
        if i and pace > 0:
            time.sleep(pace)  # politeness window within the host
        url = urls[i]
        host = (hosts[i] or "").lower()
        if host not in jars:
            jars[host] = normalize_jar(host_cookies[i], host)
        # deterministic proxy rotation (replayable, unlike reference's rand)
        proxy = proxies[keys[i] % len(proxies)] if proxies else None
        t_req = time.perf_counter()
        (status, ct, body, final_url, n_att, hops, error, jar, jar_chg,
         e_out, lm_out, backoff_s) = _fetch_one(
            fetcher, url, methods[i] or "GET", bodies[i] or "", retries, pace,
            cookies=jars[host], proxy=proxy, etag=prior_etag[i],
            last_modified=prior_lm[i],
        )
        latency_ms = int((time.perf_counter() - t_req - backoff_s) * 1000)
        jars[host] = jar
        rows.append((
            status, ct, body, final_url, n_att, hops, error, time.time(), proxy,
            dump_jar(own_records(jar, host)) if jar_chg else None,
            e_out, lm_out, latency_ms,
        ))
    out_fields = list(arrow_schema)[len(FRONTIER_ORDER):-2]
    out = list(zip(*rows)) or [()] * len(out_fields)
    return (
        [data.column(f.name) for f in FRONTIER_ORDER]
        + [pa.array(vals, type=f.type) for f, vals in zip(out_fields, out)]
        # status, content_type, resp_body, final_url
        + list(span_arrays(*out[:4]))
    )


def _arrow_schema():
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(FETCH_PARSED_SCHEMA)


def make_fetch_arrow_fn(fetcher: Fetcher, retries: int, proxies: list[str] | None = None):
    """Unpaced fused fetch+parse for mapInArrow: each input batch is
    fetched in the order it arrives, with no sleep."""
    import pyarrow as pa

    proxies = proxies or []
    arrow_schema = _arrow_schema()

    def fetch_batches(it):
        for rb in it:
            cols = _fetch_arrow(rb, fetcher, retries, proxies, 0.0, arrow_schema)
            yield pa.RecordBatch.from_arrays(cols, schema=arrow_schema)

    return fetch_batches


def make_fetch_host_fn(
    fetcher: Fetcher,
    rate_limit: float,
    retries: int,
    proxies: list[str] | None = None,
):
    """Paced fused fetch+parse for groupBy("host").applyInArrow: one
    host's rows in (priority, seq) order, nulls last, one request every
    max(rate_limit, host_delay) seconds — a robots Crawl-delay or
    throttle ask only ever tightens the global limit."""
    import pyarrow as pa

    proxies = proxies or []
    arrow_schema = _arrow_schema()

    def fetch_group(table):
        table = table.sort_by(
            [("priority", "ascending"), ("seq", "ascending")], null_placement="at_end"
        )
        pace = rate_limit
        if "host_delay" in table.column_names:
            hd = table.column("host_delay")[0].as_py()
            if hd is not None:
                pace = max(rate_limit, hd)
        cols = _fetch_arrow(table, fetcher, retries, proxies, pace, arrow_schema)
        return pa.Table.from_arrays(cols, schema=arrow_schema)

    return fetch_group


def partition_by_host(df: DataFrame) -> DataFrame:
    """The paced fetch's partitioning: hash by host into 2x the default
    parallelism. A stage already partitioned this way reaches the fetch
    with no further host exchange."""
    return df.repartition(2 * df.sparkSession.sparkContext.defaultParallelism, "host")


def fetch_rows(
    frontier: DataFrame,
    fetcher: Fetcher,
    rate_limit: float = 0.0,
    retries: int = 2,
    proxies: list[str] | None = None,
    host_delays: DataFrame | None = None,
    validators: DataFrame | None = None,
) -> DataFrame:
    """Run the fetch stage, with each fetched body parsed in the same pass.

    rate_limit > 0: hash-partition by host, fetch each host group in one
    task — per-host pacing is exact, hosts run in parallel. The explicit
    repartition to 2x the default parallelism is what keeps them parallel:
    AQE sizes shuffle partitions by bytes, and a few slim frontier rows per
    host would otherwise coalesce every host into one task.

    rate_limit == 0: the politeness window imposes no ordering constraint,
    so the host shuffle (and the hot-host serialization it forces) is
    pure waste — fetch runs as shuffle-free mapInArrow at full partition
    parallelism. Same output, strictly better plan; this is the bench/replay
    fast path (the reference likewise zeroes the limiter under SINEW_TEST,
    base.rb:21).

    host_delays: optional (host, crawl_delay) table from robots
    ``Crawl-delay`` directives (functions/robots.py robots_crawl_delays).
    Broadcast-joined onto the frontier; each host group paces at
    max(rate_limit, its crawl_delay), so politeness only tightens. Forces
    the grouped path (delayed hosts need in-task serialization even when
    the global limit is 0).

    validators: optional (key, etag, last_modified) table of prior-fetch
    HTTP validators (conditional revalidation). Equi-joined on key — the
    same hash partitioning the frontier already has, so in the unpaced
    path the join co-locates with the dedup shuffle; a small validator
    side broadcasts under AQE. Rows with a validator send If-None-Match /
    If-Modified-Since; a 304 answer costs no body transfer and no parse.

    Input columns: key, url, canonical_url, method, body, priority, depth,
    seq, attempt, host. Output: FETCH_PARSED_SCHEMA (FETCHED_SCHEMA plus
    spans and links).
    """
    if host_delays is not None:
        frontier = frontier.join(
            F.broadcast(
                host_delays.select("host", F.col("crawl_delay").alias("host_delay"))
            ),
            "host",
            "left",
        )
    if validators is not None:
        frontier = frontier.join(
            validators.select(
                "key",
                F.col("etag").alias("prior_etag"),
                F.col("last_modified").alias("prior_last_modified"),
            ),
            "key",
            "left",
        )
    extra = ("host_cookies", "host_delay", "prior_etag", "prior_last_modified")
    frontier = frontier.select(
        [f.name for f in FRONTIER_ORDER] + [c for c in extra if c in frontier.columns]
    )
    if rate_limit > 0 or host_delays is not None:
        fn = make_fetch_host_fn(fetcher, rate_limit, retries, proxies)
        return partition_by_host(frontier).groupBy("host").applyInArrow(fn, FETCH_PARSED_SCHEMA)
    afn = make_fetch_arrow_fn(fetcher, retries, proxies)
    return frontier.mapInArrow(afn, FETCH_PARSED_SCHEMA)
