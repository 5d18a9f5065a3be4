"""C11 cookie sessions: jar threads through redirects within a round and
persists per host across rounds via the host_state table (the distributed
generalization of the reference's process-wide faraday cookie_jar,
/root/reference/lib/sinew/base.rb:204) — with RFC 6265 domain/path
scoping and expiry (functions/cookies.py)."""

import json

from sinew_spark.crawl import Crawler, CrawlOptions
from sinew_spark.functions.cookies import cookies_for, normalize_jar
from sinew_spark.sources.fetch import FixtureFetcher


def _body(c, url):
    df = c.fetched_t.read()
    rows = df.where(df.canonical_url == url).collect()
    assert len(rows) == 1, rows
    return rows[0].resp_body


def _visible(jar_json, host, path="/", now=0.0):
    """name->value view a request to (host, path) would send."""
    return cookies_for(normalize_jar(jar_json, host), host, path, now)


def test_cookie_set_and_echo_same_round(spark, tmpdir_path):
    """/cookies/set redirects to /cookies which must see the jar — the jar
    threads through the redirect hop inside one request."""
    c = Crawler(spark, tmpdir_path, FixtureFetcher(seed=1), CrawlOptions(rate_limit=0, retries=0))
    c.seed(["http://a.test/cookies/set?tok=abc"])
    c.run(1)
    fetched = c.fetched_t.read().collect()
    assert len(fetched) == 1
    echo = json.loads(fetched[0].resp_body)
    assert echo["cookies"] == {"tok": "abc"}
    # jar recorded on the row and in host_state (scoped v2 records; the
    # default path of a cookie set at /cookies/set is /cookies, RFC §5.1.4)
    assert _visible(fetched[0].cookies, "a.test", "/cookies") == {"tok": "abc"}
    assert _visible(fetched[0].cookies, "a.test", "/elsewhere") == {}
    rec = json.loads(fetched[0].cookies)["c"][0]
    assert (rec["n"], rec["v"], rec["d"], rec["ho"], rec["p"]) == (
        "tok", "abc", "a.test", True, "/cookies",
    )
    hs = {r.host: r.cookies for r in c.host_state_t.read().collect()}
    assert list(hs) == ["a.test"]
    assert _visible(hs["a.test"], "a.test", "/cookies") == {"tok": "abc"}


def test_cookie_persists_across_rounds(spark, tmpdir_path):
    """Round 0 sets the cookie; a LATER round's /cookies echo on the same
    host sees it via host_state (state survives between rounds + restarts)."""
    f = FixtureFetcher(seed=2)
    c = Crawler(spark, tmpdir_path, f, CrawlOptions(rate_limit=0, retries=0))
    c.seed(["http://b.test/cookies/set?sid=42"])
    c.run(1)
    # fresh Crawler over the same workdir (restart) — host_state persisted
    # distinct probe URL — the bare /cookies redirect target is already
    # seen (each hop/final is cached as its own entry, base.rb:209-211)
    c2 = Crawler(spark, tmpdir_path, f, CrawlOptions(rate_limit=0, retries=0))
    c2.seed(["http://b.test/cookies?probe=2"])
    c2.run(1)
    echo = json.loads(_body(c2, "http://b.test/cookies?probe=2"))
    assert echo["cookies"] == {"sid": "42"}


def test_cookie_jar_is_per_host(spark, tmpdir_path):
    """Host jars are independent: a.test's cookie never leaks to b.test."""
    f = FixtureFetcher(seed=3)
    c = Crawler(spark, tmpdir_path, f, CrawlOptions(rate_limit=0, retries=0))
    c.seed(["http://a.test/cookies/set?who=a"])
    c.run(1)
    c2 = Crawler(spark, tmpdir_path, f, CrawlOptions(rate_limit=0, retries=0))
    c2.seed(["http://a.test/cookies?p=1", "http://b.test/cookies?p=1"])
    c2.run(1)
    assert json.loads(_body(c2, "http://a.test/cookies?p=1"))["cookies"] == {"who": "a"}
    assert json.loads(_body(c2, "http://b.test/cookies?p=1"))["cookies"] == {}


def test_cookie_paced_path(spark, tmpdir_path):
    """rate_limit > 0 takes the per-host applyInArrow path; the jar threads
    across sequential requests within the host group."""
    f = FixtureFetcher(seed=4)
    c = Crawler(
        spark, tmpdir_path, f, CrawlOptions(rate_limit=0.01, retries=0)
    )
    c.seed(["http://p.test/cookies/set?k=v", "http://p.test/cookies?probe=1"])
    c.run(1)
    echo = json.loads(_body(c, "http://p.test/cookies?probe=1"))
    assert echo["cookies"] == {"k": "v"}


def test_domain_cookie_crosses_sibling_subdomains(spark, tmpdir_path):
    """A Domain=shop-wide cookie set on www reaches a sibling subdomain
    next round (the faraday cookie_jar behavior the flat per-host jar
    missed); a host-only cookie set in the same request does not."""
    f = FixtureFetcher(seed=6)
    c = Crawler(spark, tmpdir_path, f, CrawlOptions(rate_limit=0, retries=0))
    c.seed(["http://www.shop.test/cookies/set?sid=w1&__domain=shop.test"])
    c.run(1)
    c.seed(["http://www.shop.test/cookies/set?local=only"])
    c.run(1)
    c2 = Crawler(spark, tmpdir_path, f, CrawlOptions(rate_limit=0, retries=0))
    c2.seed(
        ["http://api.shop.test/cookies?p=1", "http://www.shop.test/cookies?p=1"]
    )
    c2.run(1)
    # sibling sees the domain cookie but NOT www's host-only cookie
    assert json.loads(_body(c2, "http://api.shop.test/cookies?p=1"))["cookies"] == {
        "sid": "w1"
    }
    # origin host sees both
    assert json.loads(_body(c2, "http://www.shop.test/cookies?p=1"))["cookies"] == {
        "sid": "w1",
        "local": "only",
    }


def test_domain_cookie_rejected_for_foreign_domain(spark, tmpdir_path):
    """Setting Domain=other.test from a.test is rejected (RFC 6265 §5.3)."""
    f = FixtureFetcher(seed=7)
    c = Crawler(spark, tmpdir_path, f, CrawlOptions(rate_limit=0, retries=0))
    c.seed(["http://a.test/cookies/set?evil=1&__domain=other.test"])
    c.run(1)
    c2 = Crawler(spark, tmpdir_path, f, CrawlOptions(rate_limit=0, retries=0))
    c2.seed(["http://a.test/cookies?p=1"])
    c2.run(1)
    assert json.loads(_body(c2, "http://a.test/cookies?p=1"))["cookies"] == {}


def test_path_scoping(spark, tmpdir_path):
    """A Path=/cookies cookie is sent to /cookies but a Path=/other one
    is not (RFC 6265 §5.1.4)."""
    f = FixtureFetcher(seed=8)
    c = Crawler(spark, tmpdir_path, f, CrawlOptions(rate_limit=0, retries=0))
    c.seed(
        [
            "http://p2.test/cookies/set?inpath=1&__path=/cookies",
            "http://p2.test/cookies/set?outpath=1&__path=/other",
        ]
    )
    c.run(1)
    c2 = Crawler(spark, tmpdir_path, f, CrawlOptions(rate_limit=0, retries=0))
    c2.seed(["http://p2.test/cookies?p=1"])
    c2.run(1)
    assert json.loads(_body(c2, "http://p2.test/cookies?p=1"))["cookies"] == {
        "inpath": "1"
    }


def test_max_age_expiry_and_delete(spark, tmpdir_path):
    """max_age=0 deletes immediately; a tiny max_age expires before the
    next round's request; /cookies/del removes a visible cookie."""
    f = FixtureFetcher(seed=9)
    c = Crawler(spark, tmpdir_path, f, CrawlOptions(rate_limit=0, retries=0))
    c.seed(
        [
            "http://e.test/cookies/set?keep=1",
            "http://e.test/cookies/set?brief=1&__max_age=0.05",
        ]
    )
    c.run(1)
    import time as _t

    _t.sleep(0.2)
    c2 = Crawler(spark, tmpdir_path, f, CrawlOptions(rate_limit=0, retries=0))
    c2.seed(["http://e.test/cookies?p=1"])
    c2.run(1)
    assert json.loads(_body(c2, "http://e.test/cookies?p=1"))["cookies"] == {
        "keep": "1"
    }
    c3 = Crawler(spark, tmpdir_path, f, CrawlOptions(rate_limit=0, retries=0))
    c3.seed(["http://e.test/cookies/del?name=keep"])
    c3.run(1)
    c4 = Crawler(spark, tmpdir_path, f, CrawlOptions(rate_limit=0, retries=0))
    c4.seed(["http://e.test/cookies?p=2"])
    c4.run(1)
    assert json.loads(_body(c4, "http://e.test/cookies?p=2"))["cookies"] == {}


def test_site_key_expr_matches_python(spark):
    from pyspark.sql import functions as F

    from sinew_spark.functions.cookies import site_key, site_key_expr

    hosts = [
        "www.example.com", "example.com", "a.b.example.com", "x.test",
        "shop.example.co.uk", "example.co.uk", "192.168.0.1", "localhost",
        "a.co.jp", "b.a.com.au", "deep.sub.domain.org",
    ]
    df = spark.createDataFrame([(h,) for h in hosts], ["host"])
    got = [r[0] for r in df.select(site_key_expr(F.col("host"))).collect()]
    assert got == [site_key(h) for h in hosts]


def test_record_merge_tombstone_beats_stale_copy():
    """Pure-function pin of the cross-row merge rule: a delete observed on
    one row (tombstone, higher modification stamp) beats an untouched
    live copy carried by a later-ordered row; concurrent independent sets
    union."""
    import json as _j

    from sinew_spark.functions.cookies import (
        apply_response_cookies,
        dump_jar,
        merge_host_jars,
        normalize_jar,
    )

    base = normalize_jar({"keep": "1", "tok": "x"}, "h.test")
    # row A: delete 'keep' (transport dropped it from the response view)
    a = {k: dict(v) for k, v in base.items()}
    apply_response_cookies(a, {"keep": "1", "tok": "x"}, {"tok": "x"}, "h.test", "/", 0)
    # row B: untouched copy, but later row order + a new cookie
    b = {k: dict(v) for k, v in base.items()}
    apply_response_cookies(b, {"keep": "1", "tok": "x"}, {"keep": "1", "tok": "x", "new": "n"}, "h.test", "/", 0)
    merged = merge_host_jars([(0, "h.test", dump_jar(a)), (1, "h.test", dump_jar(b))])
    recs = {r["n"]: r for r in _j.loads(merged)["c"]}
    assert recs["keep"].get("tomb") is True  # delete survived
    assert recs["new"]["v"] == "n"  # concurrent set survived
    assert recs["tok"]["v"] == "x"


def test_cookie_header_ordering_rfc_5_4():
    """Longer path first; same name resolved to the most specific path."""
    from sinew_spark.functions.cookies import cookies_for, set_cookie

    jar = {}
    set_cookie(jar, "x", {"v": "root", "path": "/"}, "h.test", "/", 0)
    set_cookie(jar, "x", {"v": "deep", "path": "/a/b"}, "h.test", "/", 0)
    set_cookie(jar, "y", "only", "h.test", "/", 0)
    assert cookies_for(jar, "h.test", "/a/b/c", 0) == {"x": "deep", "y": "only"}
    assert cookies_for(jar, "h.test", "/", 0) == {"x": "root", "y": "only"}


def test_domain_and_path_match_edges():
    from sinew_spark.functions.cookies import (
        default_path,
        domain_match,
        path_match,
    )

    assert domain_match("a.b.com", "b.com")
    assert domain_match("b.com", "b.com")
    assert not domain_match("ab.com", "b.com")  # no label boundary
    assert not domain_match("b.com", "a.b.com")  # parent never matches child
    assert path_match("/a/b", "/a")
    assert path_match("/a/", "/a/")
    assert not path_match("/ab", "/a")  # no segment boundary
    assert default_path("/a/b/c") == "/a/b"
    assert default_path("/a") == "/"
    assert default_path("") == "/"


def test_set_cookie_rejection_and_expiry_rules():
    from sinew_spark.functions.cookies import cookies_for, set_cookie

    jar = {}
    # foreign domain rejected, returns False
    assert set_cookie(jar, "e", {"v": "1", "domain": "other.test"}, "a.test", "/", 0) is False
    assert jar == {}
    # bare-TLD domain rejected (public-suffix guard)
    assert set_cookie(jar, "e", {"v": "1", "domain": "test"}, "a.test", "/", 0) is False
    # max_age expiry honored against the supplied clock
    assert set_cookie(jar, "t", {"v": "1", "max_age": 10}, "a.test", "/", 100.0) is True
    assert cookies_for(jar, "a.test", "/", 105.0) == {"t": "1"}
    assert cookies_for(jar, "a.test", "/", 110.0) == {}
    # re-set after expiry revives it
    assert set_cookie(jar, "t", "2", "a.test", "/", 120.0) is True
    assert cookies_for(jar, "a.test", "/", 121.0) == {"t": "2"}


def test_merge_host_jars_permutation_invariant():
    """The per-record merge sorts rows internally, so host_state row
    arrival order never changes the merged jar (replay determinism)."""
    import itertools

    from sinew_spark.functions.cookies import dump_jar, merge_host_jars, set_cookie

    jars = []
    for i, host in enumerate(["a.x.test", "b.x.test", "c.x.test"]):
        j = {}
        set_cookie(j, "s", {"v": f"v{i}", "domain": "x.test"}, host, "/", 0)
        set_cookie(j, f"h{i}", "local", host, "/", 0)
        jars.append((i, host, dump_jar(j)))
    expect = merge_host_jars(jars)
    for perm in itertools.permutations(jars):
        assert merge_host_jars(list(perm)) == expect


def test_cookie_seeding_join_is_broadcast(spark, tmpdir_path):
    """The site-merged host_state seeding join must broadcast the state
    side — the frontier never shuffles to pick up cookies."""
    f = FixtureFetcher(seed=11)
    c = Crawler(spark, tmpdir_path, f, CrawlOptions(rate_limit=0, retries=0))
    c.seed(["http://w.plan.test/cookies/set?k=v"])
    c.run(1)
    # reconstruct the seeding join the round loop builds
    from pyspark.sql import functions as F

    from sinew_spark.functions.cookies import site_key_expr

    frontier = c.frontier_t.read()
    merged = (
        c.host_state_t.read()
        .withColumn("site", site_key_expr(F.col("host")))
        .select("site", "round", "host", "cookies")
        .groupBy("site")
        .agg(F.max_by("cookies", "round").alias("host_cookies"))
    )
    joined = (
        frontier.withColumn("site", site_key_expr(F.col("host")))
        .join(F.broadcast(merged), "site", "left_outer")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_parse_set_cookie_header():
    from sinew_spark.functions.cookies import cookie_header, parse_set_cookie_header

    n, a = parse_set_cookie_header("sid=abc; Domain=.example.com; Path=/a; Max-Age=60")
    assert n == "sid" and a == {"v": "abc", "domain": ".example.com", "path": "/a", "max_age": 60.0}
    n, a = parse_set_cookie_header('q="quoted value"; HttpOnly; Secure')
    assert n == "q" and a["v"] == "quoted value"
    # Expires converts to relative max_age against the supplied clock
    n, a = parse_set_cookie_header(
        "t=1; Expires=Thu, 01 Jan 1970 00:01:40 GMT", now=40.0
    )
    assert a["max_age"] == 60.0
    # Max-Age wins over Expires
    n, a = parse_set_cookie_header(
        "t=1; Max-Age=5; Expires=Thu, 01 Jan 1970 00:01:40 GMT", now=0.0
    )
    assert a["max_age"] == 5.0
    assert parse_set_cookie_header("malformed-no-equals") is None
    assert parse_set_cookie_header("=bare") is None
    assert cookie_header({"a": "1", "b": "2"}) == "a=1; b=2"


def test_http_fetcher_cookie_round_trip_no_network():
    """HttpFetcher's cookie plumbing without sockets: stub _request and
    assert the Cookie header goes out and Set-Cookie folds back with
    attributes through the transport contract."""
    from sinew_spark.sources.fetch import HttpFetcher

    seen = {}

    class Stub(HttpFetcher):
        def _request(self, url, method, body, cookie_hdr, proxy=None,
                     etag=None, last_modified=None):
            seen["cookie_hdr"] = cookie_hdr
            return (200, "text/html", "ok", None,
                    ["fresh=1; Domain=ex.test; Max-Age=60", "bad"], None, None)

    f = Stub()
    status, ct, text, redirect, after, _etag, _lm = f.resolve_validated(
        "http://www.ex.test/p", "GET", "", 0, {"old": "x"}
    )
    assert status == 200 and seen["cookie_hdr"] == "old=x"
    assert after["old"] == "x"
    assert after["fresh"]["v"] == "1" and after["fresh"]["domain"] == "ex.test"
    # an empty jar sends no Cookie header
    assert f.resolve_validated("http://www.ex.test/p", "GET", "", 0, {})[0] == 200
    assert seen["cookie_hdr"] is None


def test_deletion_by_absence_tombstones_only_the_supplier():
    """Deletion-by-absence must tombstone exactly the record whose value
    was SENT (the §5.4 longest-path winner) — a same-named cookie on a
    shorter path is a different RFC 6265 cookie the server never saw,
    and a Secure record withheld from an http request likewise."""
    from sinew_spark.functions.cookies import (
        apply_response_cookies,
        cookies_for,
        set_cookie,
    )

    jar = {}
    set_cookie(jar, "sess", "root", "example.com", "/", now=0.0)
    # default-path for a Set-Cookie on /app/x is /app (RFC 6265 §5.1.4)
    set_cookie(jar, "sess", "app", "example.com", "/app/x", now=0.0)
    sent = cookies_for(jar, "example.com", "/app/x", now=1.0)
    assert sent == {"sess": "app"}  # longest path wins
    # server deletes its 'sess' (absent from the response view)
    apply_response_cookies(jar, sent, {}, "example.com", "/app/x", 1.0)
    assert jar[("example.com", "/app", "sess")].get("tomb") is True
    assert not jar[("example.com", "/", "sess")].get("tomb")  # untouched

    # Secure record on an http request: never sent, never deleted
    jar2 = {}
    set_cookie(jar2, "tok", {"v": "s", "secure": True}, "example.com", "/", now=0.0)
    sent2 = cookies_for(jar2, "example.com", "/", now=1.0, secure=False)
    assert sent2 == {}
    apply_response_cookies(jar2, {"tok": "s"}, {}, "example.com", "/", 1.0,
                           secure=False)
    assert not jar2[("example.com", "/", "tok")].get("tomb")


def test_tzless_expires_parsed_as_utc():
    """A tz-less Expires date (common in the wild) is GMT per RFC 6265 —
    max_age must not depend on the executor's local timezone."""
    import calendar

    from sinew_spark.functions.cookies import parse_set_cookie_header

    name, attrs = parse_set_cookie_header(
        "a=b; Expires=Wed, 21 Oct 2026 07:28:00", now=0.0
    )
    want = calendar.timegm((2026, 10, 21, 7, 28, 0))
    assert name == "a" and attrs["max_age"] == want
