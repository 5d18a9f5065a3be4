"""URL canonicalization + request identity tests.

Cache-identity semantics from /root/reference/test/test_base.rb:28-41,87-103.
"""

from pyspark.sql import functions as F

from sinew_spark.functions.urls import (
    canonicalize_url_str,
    host_expr,
    make_canonicalize_udf,
    path_expr,
    request_key_expr,
)


def test_canonicalize_basic():
    assert (
        canonicalize_url_str("HTTP://ExAmPle.COM:80/a/./b/../c?z=1&a=2#frag")
        == "http://example.com/a/c?a=2&z=1"
    )
    assert canonicalize_url_str("http://x.com") == "http://x.com/"
    # idempotent
    u = canonicalize_url_str("http://x.com/p?b=2&a=1")
    assert canonicalize_url_str(u) == u


def test_ignore_params():
    # test_base.rb:28-34 — ?b=1 and ?b=2 collapse when b in ignore_params
    a = canonicalize_url_str("http://x.com/?a=1&b=1", ignore_params=frozenset({"b"}))
    b = canonicalize_url_str("http://x.com/?a=1&b=2", ignore_params=frozenset({"b"}))
    assert a == b == "http://x.com/?a=1"


def test_default_params_and_prefix():
    # test_base.rb:37-41 — defaults merged, existing params win
    u = canonicalize_url_str(
        "get?a=1", base="http://httpbingo.org/", default_params={"b": "2"}
    )
    assert u == "http://httpbingo.org/get?a=1&b=2"
    u2 = canonicalize_url_str(
        "get?b=9", base="http://httpbingo.org/", default_params={"b": "2"}
    )
    assert u2 == "http://httpbingo.org/get?b=9"


def test_identity_spark(spark):
    # (method, url, body) identity: same url different body -> different key
    # (test_base.rb:87-103); GET vs POST distinct
    rows = [
        ("GET", "http://x.com/a", ""),
        ("POST", "http://x.com/a", ""),
        ("POST", "http://x.com/a", "b=1"),
        ("POST", "http://x.com/a", "b=1"),
        ("get", "http://x.com/a", None),
    ]
    df = spark.createDataFrame(rows, ["method", "url", "body"])
    keys = [
        r[0]
        for r in df.select(
            request_key_expr(F.col("method"), F.col("url"), F.col("body"))
        ).collect()
    ]
    assert keys[0] != keys[1] != keys[2]
    assert keys[2] == keys[3]
    assert keys[0] == keys[4]  # method case-insensitive, NULL body == ''


def test_host_path_expr(spark):
    df = spark.createDataFrame(
        [
            ("http://user@example.com:8080/a/b?q=1",),
            ("https://example.org",),
        ],
        ["url"],
    )
    got = df.select(
        host_expr(F.col("url")).alias("h"), path_expr(F.col("url")).alias("p")
    ).collect()
    assert (got[0].h, got[0].p) == ("example.com", "/a/b")
    assert (got[1].h, got[1].p) == ("example.org", "/")


def test_canonicalize_udf(spark):
    udf = make_canonicalize_udf(ignore_params=("junk",))
    df = spark.createDataFrame(
        [("HTTP://X.com/p?junk=9&a=1",), (None,)], ["url"]
    )
    got = [r[0] for r in df.select(udf("url")).collect()]
    assert got == ["http://x.com/p?a=1", None]


def test_trailing_newline_one_canonical_key(spark):
    """The fast path strips a trailing newline as the slow path does, so
    ``http://h.test/p\n`` and ``http://h.test/p`` are one page with one
    key, in an all-fast batch and in a batch that also needs the slow
    path (coalesce(1): both URLs in the same Arrow batch)."""
    from sinew_spark.operators.frontier import prepare_frontier

    assert canonicalize_url_str("http://h.test/p\n") == "http://h.test/p"
    udf = make_canonicalize_udf()
    for extra in ([], ["HTTP://H.test/q"]):
        urls = ["http://h.test/p\n", "http://h.test/p"] + extra
        df = spark.createDataFrame(
            [(u, "GET", "", 0.0, 0, i, 0) for i, u in enumerate(urls)],
            "url string, method string, body string, priority double, depth int, seq long, attempt int",
        ).coalesce(1)
        got = prepare_frontier(df, udf).orderBy("seq").collect()
        assert got[0].canonical_url == got[1].canonical_url == "http://h.test/p"
        assert got[0].key == got[1].key


def test_surt_key_expr(spark):
    from sinew_spark.functions.urls import surt_key_expr

    df = spark.createDataFrame(
        [
            ("http://news.example.com/a/b?x=1&y=2",),
            ("https://user:pw@News.Example.COM:8443/a/b",),
            ("http://localhost/",),
            ("http://example.org",),
            ("http://a.b.c.example.net/p?q=#frag",),
        ],
        ["url"],
    )
    got = [r[0] for r in df.select(surt_key_expr(F.col("url"))).collect()]
    assert got[0] == "com,example,news)/a/b?x=1&y=2"
    # port + userinfo dropped, host case-folded, no query -> no '?'
    assert got[1] == "com,example,news)/a/b"
    assert got[2] == "localhost)/"
    assert got[3] == "org,example)/"
    # fragment excluded; the (empty-valued) query param is kept
    assert got[4] == "net,example,c,b,a)/p?q="


def test_surt_key_domain_contiguity(spark):
    from sinew_spark.functions.urls import surt_key_expr

    urls = [
        "http://www.alpha.test/x",
        "http://img.alpha.test/y",
        "http://www.beta.test/x",
        "http://alpha.test/z",
    ]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    keys = sorted(r[0] for r in df.select(surt_key_expr(F.col("url"))).collect())
    # all alpha.test URLs (any subdomain) sort contiguously before beta.test
    assert [k.split(")")[0] for k in keys] == [
        "test,alpha",
        "test,alpha,img",
        "test,alpha,www",
        "test,beta,www",
    ]


def test_local_hash_twins_match_spark(spark):
    """Pin JVM parity of the driver-side hash twins (functions/localhash.py)
    that back the O(1) probe path: xxhash64 chaining over strings and
    Murmur3 hashLong, across every tail length 0..40, unicode, and null
    chaining."""
    import random
    import string

    from pyspark.sql import functions as F

    from sinew_spark.functions.localhash import (
        murmur3_hash_long,
        request_key_local,
        shard_of_key,
        xxhash64_cols,
    )
    from sinew_spark.functions.urls import request_key_expr

    rng = random.Random(7)
    cases = ["".join(rng.choice(string.printable) for _ in range(n)) for n in range(41)]
    cases += [
        "".join(rng.choice("abcdefé中\U0001F600|/:?=&") for _ in range(rng.randrange(100)))
        for _ in range(40)
    ]
    rows = [(c, "GET", c[::-1] or None) for c in cases] + [("x", None, "y")]
    df = spark.createDataFrame(rows, "a string, b string, c string")
    got = df.select(
        F.xxhash64("a", "b", "c").alias("x"),
        F.hash(F.xxhash64("a", "b", "c")).alias("h"),
    ).collect()
    for (a, b, c), r in zip(rows, got):
        assert xxhash64_cols(a, b, c) == r.x
        assert murmur3_hash_long(xxhash64_cols(a, b, c)) == r.h

    # request_key_local == request_key_expr on real request identities
    reqs = [
        ("GET", "http://example.com/a?x=1", ""),
        ("post", "http://example.com/a", "a=1&b=2"),
        ("GET", "http://example.com/café", None),
    ]
    rdf = spark.createDataFrame(reqs, "m string, u string, b string")
    keys = [
        r[0]
        for r in rdf.select(
            request_key_expr(F.col("m"), F.col("u"), F.col("b"))
        ).collect()
    ]
    for (m, u, b), k in zip(reqs, keys):
        assert request_key_local(m, u, b) == k
        assert 0 <= shard_of_key(k, 64) < 64

    # shard routing twin == pmod(hash(key), n)
    kdf = spark.createDataFrame([(k,) for k in keys], "key long")
    shards = [
        r[0]
        for r in kdf.select(F.pmod(F.hash(F.col("key")), F.lit(64))).collect()
    ]
    assert [shard_of_key(k, 64) for k in keys] == shards
