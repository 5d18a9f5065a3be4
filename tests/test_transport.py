"""Real-transport behaviors of HttpFetcher against a loopback server —
no external network. Covers round-4 parity items:

- C10 proxy rotation actually ROUTES the request (reference
  /root/reference/lib/sinew/base.rb:62-64,178-184 and
  test/test_main.rb:45-49): before round 4 the engine picked and
  recorded a proxy but never installed it in the opener.
- gzip/deflate negotiation + transparent decode (reference's
  faraday-encoding stack, base.rb:2 + Gemfile).
- Secure cookies withheld from plain-http requests (RFC 6265 §5.4
  step 1; the reference's http-cookie jar does the same).

It also pins the fetch stage's single paths: every request hop is one
``resolve_validated`` call, and one span builder serves the fetch stage and
``parse_documents``.
"""

from __future__ import annotations

import gzip
import http.server
import json
import threading
import zlib

import pytest
from pyspark.sql import functions as F

from sinew_spark.sources.fetch import HttpFetcher, _fetch_one


class _Recorder(http.server.BaseHTTPRequestHandler):
    """Records request lines/headers; serves canned routes. Acting as an
    HTTP proxy is just serving absolute-form request targets."""

    protocol_version = "HTTP/1.1"
    seen: list[dict] = []  # replaced per-server in _serve()

    def log_message(self, *a):  # noqa: D102 - silence
        pass

    def _record(self):
        self.seen.append(
            {
                "requestline": self.requestline,
                "path": self.path,
                "headers": {k.lower(): v for k, v in self.headers.items()},
            }
        )

    def do_GET(self):
        self._record()
        if self.path.startswith("http://") or "/proxied" in self.path:
            body = b"via-proxy"
            self.send_response(200)
            self.send_header("Content-Type", "text/plain; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        elif self.path == "/gz":
            body = gzip.compress("hello gzip é".encode("utf-8"))
            self.send_response(200)
            self.send_header("Content-Type", "text/plain; charset=utf-8")
            self.send_header("Content-Encoding", "gzip")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        elif self.path == "/deflate":
            body = zlib.compress(b"hello deflate")
            self.send_response(200)
            self.send_header("Content-Type", "text/plain")
            self.send_header("Content-Encoding", "deflate")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        elif self.path == "/etag":
            # conditional GET: strong validator; 304 when it matches
            if self.headers.get("If-None-Match") == '"v1"':
                self.send_response(304)
                self.send_header("ETag", '"v1"')
                self.end_headers()
                return
            body = b"fresh content"
            self.send_response(200)
            self.send_header("Content-Type", "text/plain")
            self.send_header("ETag", '"v1"')
            self.send_header("Last-Modified", "Mon, 01 Jan 2024 00:00:00 GMT")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        elif self.path == "/setsecure":
            body = b"set"
            self.send_response(200)
            self.send_header("Content-Type", "text/plain")
            # Secure cookie arriving over (nominal) https; loopback test
            # exercises the JAR side, scheme comes from the request URL
            self.send_header("Set-Cookie", "sid=s3cret; Secure; Max-Age=60")
            self.send_header("Set-Cookie", "plain=ok; Max-Age=60")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        elif self.path == "/latin1meta":
            # no charset in the header; declaration only in the body
            body = "<meta charset=latin1><p>caf\xe9</p>".encode("iso-8859-1")
            self.send_response(200)
            self.send_header("Content-Type", "text/html")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        elif self.path == "/utf8bom":
            body = b"\xef\xbb\xbf" + "bom caf\xe9".encode("utf-8")
            self.send_response(200)
            self.send_header("Content-Type", "text/plain")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        elif self.path == "/mislabeled":
            # deliberately WRONG label: header says utf-8, bytes are
            # iso-8859-1 — the utf8:false parity case (base.rb:50)
            body = "caf\xe9 br\xfbl\xe9".encode("iso-8859-1")
            self.send_response(200)
            self.send_header("Content-Type", "text/plain; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        else:
            body = b"plain"
            self.send_response(200)
            self.send_header("Content-Type", "text/plain")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)


@pytest.fixture
def loopback():
    seen: list[dict] = []
    handler = type("H", (_Recorder,), {"seen": seen})
    srv = http.server.HTTPServer(("127.0.0.1", 0), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{srv.server_port}", seen
    finally:
        srv.shutdown()
        srv.server_close()


def test_proxy_is_actually_routed(loopback):
    """With a proxy configured, the request must reach the PROXY (in
    absolute-form), not the origin — the origin here is an unresolvable
    host, so only real ProxyHandler routing can succeed."""
    proxy_url, seen = loopback
    f = HttpFetcher(timeout=5.0)
    status, ct, text, redirect, _sc, _e, _lm = f._request(
        "http://origin-that-does-not-resolve.invalid/proxied",
        "GET", "", None, proxy=proxy_url,
    )
    assert status == 200 and text == "via-proxy"
    assert len(seen) == 1
    # absolute-form request target = the request went through the proxy
    assert seen[0]["requestline"].startswith(
        "GET http://origin-that-does-not-resolve.invalid/proxied"
    )


def test_no_proxy_goes_direct(loopback):
    base, seen = loopback
    f = HttpFetcher(timeout=5.0)
    status, _ct, text, _r, _sc, _e, _lm = f._request(base + "/direct", "GET", "", None)
    assert status == 200 and text == "plain"
    assert seen[0]["path"] == "/direct"  # origin-form: no proxy in the path


def test_fetch_one_threads_proxy_to_transport(loopback):
    """The crawl path (_fetch_one) hands the rotation-selected proxy to
    the transport — end-to-end through resolve_validated."""
    proxy_url, seen = loopback
    f = HttpFetcher(timeout=5.0)
    status, ct, body, final_url, n_att, hops, err, jar, chg, _e, _lm, _b = _fetch_one(
        f, "http://unresolvable-origin.invalid/proxied", "GET", "", 0, 0.0,
        proxy=proxy_url,
    )
    assert status == 200 and body == "via-proxy" and err is None
    assert seen[0]["requestline"].startswith("GET http://unresolvable-origin.invalid/proxied")


def test_gzip_negotiated_and_decoded(loopback):
    base, seen = loopback
    f = HttpFetcher(timeout=5.0)
    status, _ct, text, _r, _sc, _e, _lm = f._request(base + "/gz", "GET", "", None)
    assert status == 200 and text == "hello gzip é"
    assert "gzip" in seen[0]["headers"].get("accept-encoding", "")


def test_deflate_decoded(loopback):
    base, _seen = loopback
    f = HttpFetcher(timeout=5.0)
    status, _ct, text, _r, _sc, _e, _lm = f._request(base + "/deflate", "GET", "", None)
    assert status == 200 and text == "hello deflate"


def test_caller_pinned_accept_encoding_wins(loopback):
    base, seen = loopback
    f = HttpFetcher(timeout=5.0, headers={"Accept-Encoding": "identity"})
    status, _ct, _text, _r, _sc, _e, _lm = f._request(base + "/direct", "GET", "", None)
    assert status == 200
    assert seen[0]["headers"]["accept-encoding"] == "identity"


def test_decode_body_passthrough_on_garbage():
    import email

    hdrs = email.message_from_string("Content-Encoding: gzip\n\n")
    assert HttpFetcher._decode_body(b"not-gzip", hdrs) == b"not-gzip"
    hdrs2 = email.message_from_string("\n")
    assert HttpFetcher._decode_body(b"raw", hdrs2) == b"raw"


def test_secure_cookie_not_replayed_over_http(loopback):
    """A Secure Set-Cookie is stored but withheld from subsequent
    plain-http requests (ADVICE r3: previously the flag was dropped at
    parse and the cookie leaked onto http)."""
    base, seen = loopback
    f = HttpFetcher(timeout=5.0)
    jar: dict = {}
    # receive Secure+plain cookies (request itself is http on loopback;
    # the jar stores both — the SEND side is what must gate on scheme)
    _fetch_one(f, base + "/setsecure", "GET", "", 0, 0.0, cookies=jar)
    recs = {r["n"]: r for r in jar.values()}
    assert recs["sid"].get("sec") is True and "sec" not in recs["plain"]
    # next plain-http request to the same host: only the plain cookie goes
    seen.clear()
    _fetch_one(f, base + "/direct", "GET", "", 0, 0.0, cookies=jar)
    sent = seen[0]["headers"].get("cookie", "")
    assert "plain=ok" in sent and "sid" not in sent


def test_conditional_get_roundtrip(loopback):
    """Real-network revalidation: first fetch stores the validators; a
    refetch presenting them gets 304 with no body transfer (RFC 9110
    §13.1) — the recrawl-scale bandwidth saver."""
    base, seen = loopback
    f = HttpFetcher(timeout=5.0)
    (status, _ct, body, _fu, _n, _h, err, _jar, _chg, etag, lm, _b) = _fetch_one(
        f, base + "/etag", "GET", "", 0, 0.0
    )
    assert status == 200 and body == "fresh content" and err is None
    assert etag == '"v1"' and lm == "Mon, 01 Jan 2024 00:00:00 GMT"
    assert "if-none-match" not in seen[0]["headers"]

    seen.clear()
    (status, _ct, body, _fu, _n, _h, err, _jar, _chg, etag2, _lm2, _b2) = _fetch_one(
        f, base + "/etag", "GET", "", 0, 0.0, etag=etag, last_modified=lm
    )
    assert status == 304 and body is None and err is None
    assert etag2 == '"v1"'  # origin re-sent it; stored for next time
    assert seen[0]["headers"]["if-none-match"] == '"v1"'
    assert seen[0]["headers"]["if-modified-since"] == lm


def test_conditional_get_mismatch_refetches(loopback):
    """A stale validator (content changed) falls through to a full 200."""
    base, seen = loopback
    f = HttpFetcher(timeout=5.0)
    (status, _ct, body, *_rest) = _fetch_one(
        f, base + "/etag", "GET", "", 0, 0.0, etag='"stale"'
    )
    assert status == 200 and body == "fresh content"
    assert seen[0]["headers"]["if-none-match"] == '"stale"'


def test_fixture_fetcher_304_on_matching_etag():
    """FixtureFetcher's deterministic validator: ETag = md5(body); a
    matching conditional request answers 304 with no body."""
    import hashlib

    from sinew_spark.sources.fetch import FixtureFetcher

    f = FixtureFetcher(seed=42, synthetic=True, synthetic_links=2)
    url = "http://h0.synth.test/p/1"
    (status, _ct, body, _fu, _n, _h, err, _jar, _chg, etag, _lm, _b) = _fetch_one(
        f, url, "GET", "", 0, 0.0
    )
    assert status == 200 and err is None
    assert etag == '"' + hashlib.md5(body.encode()).hexdigest() + '"'
    (status2, _ct2, body2, _fu2, _n2, _h2, _e2, _j2, _c2, etag2, _lm2, _b2) = _fetch_one(
        f, url, "GET", "", 0, 0.0, etag=etag
    )
    assert status2 == 304 and body2 is None and etag2 == etag
    # different validator -> full response again
    (status3, _ct3, body3, *_r3) = _fetch_one(f, url, "GET", "", 0, 0.0, etag='"x"')
    assert status3 == 200 and body3 == body


def test_cookies_for_secure_gate_unit():
    from sinew_spark.functions.cookies import cookies_for, set_cookie

    jar: dict = {}
    assert set_cookie(jar, "s", {"v": "1", "secure": True}, "ex.test", "/", 0.0)
    assert set_cookie(jar, "p", "2", "ex.test", "/", 0.0)
    assert cookies_for(jar, "ex.test", "/", 1.0, secure=True) == {"s": "1", "p": "2"}
    assert cookies_for(jar, "ex.test", "/", 1.0, secure=False) == {"p": "2"}


def test_etld_supercookie_rejected():
    """Domain=co.uk from shop.example.co.uk is a public-suffix supercookie
    — rejected like single-label Domain=com (ADVICE r3 / RFC 6265 §5.3)."""
    from sinew_spark.functions.cookies import set_cookie

    jar: dict = {}
    assert not set_cookie(jar, "x", {"v": "1", "domain": "co.uk"}, "shop.example.co.uk", "/", 0.0)
    assert not set_cookie(jar, "x", {"v": "1", "domain": ".co.uk"}, "shop.example.co.uk", "/", 0.0)
    assert jar == {}
    # the registrable domain itself is fine
    assert set_cookie(jar, "x", {"v": "1", "domain": "example.co.uk"}, "shop.example.co.uk", "/", 0.0)
    assert ("example.co.uk", "/", "x") in jar


def test_meta_charset_sniffed_when_header_silent(loopback):
    """Header-less charset: the transport sniffs the in-body <meta>
    declaration (browser order) instead of decoding blind as utf-8."""
    base, _seen = loopback
    f = HttpFetcher(timeout=5.0)
    status, _ct, text, _r, _sc, _e, _lm = f._request(base + "/latin1meta", "GET", "", None)
    assert status == 200 and text == "<meta charset=latin1><p>caf\xe9</p>"


def test_bom_stripped_and_wins(loopback):
    base, _seen = loopback
    f = HttpFetcher(timeout=5.0)
    status, _ct, text, _r, _sc, _e, _lm = f._request(base + "/utf8bom", "GET", "", None)
    assert status == 200 and text == "bom caf\xe9"


def test_utf8_false_survives_untranscoded(loopback):
    """`utf8: false` parity (reference base.rb:50): a body whose header
    LIES about its charset must survive byte-for-byte — no sniff, no
    U+FFFD -> '?' substitution. The default (utf8=True) transcodes and
    replaces the malformed bytes."""
    base, _seen = loopback
    raw = "caf\xe9 br\xfbl\xe9".encode("iso-8859-1")

    f_raw = HttpFetcher(timeout=5.0, utf8=False)
    status, _ct, text, _r, _sc, _e, _lm = f_raw._request(
        base + "/mislabeled", "GET", "", None
    )
    assert status == 200
    assert text.encode("iso-8859-1") == raw  # wire bytes, exactly

    f_utf8 = HttpFetcher(timeout=5.0)
    status2, _ct2, text2, _r2, _sc2, _e2, _lm2 = f_utf8._request(
        base + "/mislabeled", "GET", "", None
    )
    assert status2 == 200 and "?" in text2 and text2 != text


class _ScriptedFetcher:
    """Minimal Fetcher subclass scripting (status, redirect) per URL and
    recording every (url, method, body) the transport issues."""

    def __init__(self, script):
        from sinew_spark.sources.fetch import Fetcher

        self.script = script
        self.calls = []
        self._base = Fetcher

    def resolve(self, url, method, body, attempt):
        self.calls.append((url, method, body))
        status, redirect = self.script.get(url, (200, None))
        return (status, "text/html", f"body:{url}", redirect)


def _as_fetcher(scripted):
    from sinew_spark.sources.fetch import Fetcher

    class _F(Fetcher):
        resolve = staticmethod(scripted.resolve)

    return _F()


def test_redirect_loop_fails_instead_of_succeeding():
    """A redirect loop (A->B->A...) exhausts MAX_REDIRECT_HOPS: the fetch
    must come back as an ERROR (status -1, error set) — not as a
    'successful' 302 with an empty body that marks the URL seen forever."""
    from sinew_spark.sources.fetch import MAX_REDIRECT_HOPS, _fetch_one

    s = _ScriptedFetcher({
        "http://l.test/a": (302, "/b"),
        "http://l.test/b": (302, "/a"),
    })
    status, _ct, _body, final_url, n_att, hops, err, *_ = _fetch_one(
        _as_fetcher(s), "http://l.test/a", "GET", "", retries=2, rate_limit=0.0
    )
    assert status == -1
    assert err is not None and "redirect limit" in err
    assert n_att == 1  # deterministic chain: no in-attempt retries
    assert len(hops) == MAX_REDIRECT_HOPS


def test_307_preserves_method_and_body():
    """307/308 hops re-issue the ORIGINAL method and body (RFC 9110,
    faraday parity); 301/302/303 downgrade to GET with an empty body."""
    from sinew_spark.sources.fetch import _fetch_one

    s = _ScriptedFetcher({
        "http://m.test/post": (307, "/moved"),
        "http://m.test/moved": (200, None),
    })
    status, *_ = _fetch_one(
        _as_fetcher(s), "http://m.test/post", "POST", "a=1", retries=0, rate_limit=0.0
    )
    assert status == 200
    assert s.calls == [
        ("http://m.test/post", "POST", "a=1"),
        ("http://m.test/moved", "POST", "a=1"),
    ]

    s2 = _ScriptedFetcher({
        "http://m.test/post": (302, "/moved"),
        "http://m.test/moved": (200, None),
    })
    _fetch_one(
        _as_fetcher(s2), "http://m.test/post", "POST", "a=1", retries=0, rate_limit=0.0
    )
    assert s2.calls == [
        ("http://m.test/post", "POST", "a=1"),
        ("http://m.test/moved", "GET", ""),
    ]


# --- one transport call, one span builder ------------------------------------


def _recording_fetcher(path, **kwargs):
    """A FixtureFetcher subclass that overrides resolve_validated and calls
    super() (the shape of a tracing transport), appending each requested
    URL to ``path``: the fetch runs in Python workers, so the driver reads
    the calls back from disk. Defined locally so that cloudpickle ships the
    class to the workers by value."""
    from sinew_spark.sources.fetch import FixtureFetcher

    class Recording(FixtureFetcher):
        def resolve_validated(self, url, method, body, attempt, cookies,
                              proxy=None, etag=None, last_modified=None):
            with open(path, "a") as f:
                f.write(url + "\n")
            return super().resolve_validated(
                url, method, body, attempt, cookies, proxy=proxy, etag=etag,
                last_modified=last_modified,
            )

    return Recording(**kwargs)


def test_resolve_validated_override_sees_every_request_of_a_round(spark, tmpdir_path):
    """Every hop of a crawl round is one resolve_validated call, cookie
    endpoints and their redirects included, so a subclass that wraps it
    sees each request once."""
    from sinew_spark.crawl import Crawler, CrawlOptions

    calls = tmpdir_path + "/calls.txt"
    c = Crawler(
        spark, tmpdir_path + "/c", _recording_fetcher(calls, seed=42),
        CrawlOptions(retries=0),
    )
    c.seed([
        "http://ck.test/cookies/set?a=1",
        "http://httpbingo.org/redirect/2",
        "http://httpbingo.org/html",
    ])
    assert c.run_round()["fetched"] == 3
    with open(calls) as f:
        got = sorted(f.read().split())
    assert got == sorted([
        "http://ck.test/cookies/set?a=1",
        "http://ck.test/cookies",
        "http://httpbingo.org/redirect/2",
        "http://httpbingo.org/redirect/1",
        "http://httpbingo.org/get",
        "http://httpbingo.org/html",
    ])
    # the cookie endpoint ran inside the overridden call: /cookies echoed
    # the jar its redirect set
    body = c.fetched_t.read().where("url = 'http://ck.test/cookies/set?a=1'").first().resp_body
    assert json.loads(body) == {"cookies": {"a": "1"}}


def test_span_builder_parses_each_document_once(monkeypatch):
    """span_arrays looks extract_spans_and_links up on its module at call
    time and calls it once per parseable row (status 200-399 and a
    non-empty body); every other row gets empty spans and links."""
    from sinew_spark.functions import htmlparse
    from sinew_spark.operators.parse import span_arrays

    orig = htmlparse.extract_spans_and_links
    seen = []

    def counting(body, ct, base):
        seen.append(base)
        return orig(body, ct, base)

    monkeypatch.setattr(htmlparse, "extract_spans_and_links", counting)
    page = '<p>hi</p><a href="/next">n</a>'
    rows = [
        (200, "text/html", page, "http://s.test/a"),
        (301, None, page, "http://s.test/b"),
        (200, "application/json", '{"k": 1}', "http://s.test/c"),
        (404, "text/html", page, "http://s.test/d"),
        (304, "text/html", None, "http://s.test/e"),
        (200, "text/html", "", "http://s.test/f"),
        (None, None, page, "http://s.test/g"),
        (-1, "", "timeout", "http://s.test/h"),
    ]
    spans, links = span_arrays(*zip(*rows))
    assert seen == ["http://s.test/a", "http://s.test/b", "http://s.test/c"]
    assert links.to_pylist() == [
        ["http://s.test/next"], ["http://s.test/next"], [], [], [], [], [], [],
    ]
    want = orig(page, "text/html", "http://s.test/a")[0]
    assert [tuple(s.values()) for s in spans.to_pylist()[0]] == want
    assert [len(s) for s in spans.to_pylist()[2:]] == [1, 0, 0, 0, 0, 0]


def test_parse_documents_and_fetch_rows_build_the_same_spans(spark):
    """The fetch stage and parse_documents share one span builder: a 200
    page, a 404, a 304 with a null body and a row with a null final_url
    (parse_documents falls back to canonical_url) get equal spans and
    links both ways."""
    from sinew_spark.functions.urls import make_canonicalize_udf
    from sinew_spark.operators.frontier import prepare_frontier
    from sinew_spark.operators.parse import parse_documents
    from sinew_spark.sources.fetch import FETCH_PARSED_SCHEMA, FixtureFetcher, fetch_rows

    page, missing, cached = "http://sp.test/", "http://sp.test/gone", "http://sp.test/same"
    f = FixtureFetcher(seed=42, extra_pages={
        page: '<h1>t</h1><a href="/x">x</a><img src="i.png" alt="a">',
        missing: (404, "text/html", "<p>not found</p>", None),
        cached: '<p>unchanged</p><a href="/y">y</a>',
    })
    etag = f.resolve_validated(cached, "GET", "", 0, {})[5]
    frontier = prepare_frontier(
        spark.createDataFrame(
            [(u, "GET", "", 0.0, 0, i, 0) for i, u in enumerate((page, missing, cached))],
            "url string, method string, body string, priority double, depth int, seq long, attempt int",
        ),
        make_canonicalize_udf(),
    )
    validators = frontier.where(F.col("url") == cached).select(
        "key", F.lit(etag).alias("etag"), F.lit(None).cast("string").alias("last_modified")
    )
    fetched = fetch_rows(frontier, f, retries=0, validators=validators).collect()
    by_seq = {r.seq: r for r in fetched}
    assert [by_seq[i].status for i in range(3)] == [200, 404, 304]
    assert by_seq[2].resp_body is None
    # the 200 page again, with a null final_url
    no_final = by_seq[0].asDict() | {"seq": 3, "final_url": None}
    docs = parse_documents(
        spark.createDataFrame([r.asDict() for r in fetched] + [no_final], FETCH_PARSED_SCHEMA)
    ).collect()
    parsed = {d.seq: (d.spans, d.links) for d in docs}
    assert {s: (r.spans, r.links) for s, r in by_seq.items()} == {s: parsed[s] for s in range(3)}
    assert parsed[3] == parsed[0]
    assert parsed[0][1] == ["http://sp.test/x"] and len(parsed[0][0]) == 3
    assert parsed[1] == parsed[2] == ([], [])
