"""End-to-end crawl loop: exactly-once, redirects, retries, politeness,
robots, resume. Cache-semantic assertions ported from
/root/reference/test/test_base.rb (:13-26, :57-61, :87-103)."""

import json
import time

import pytest
from pyspark.sql import functions as F

from sinew_spark.crawl import Crawler, CrawlOptions
from sinew_spark.sources.fetch import FixtureFetcher


def make_crawler(spark, tmpdir_path, **opts):
    o = CrawlOptions(**opts)
    return Crawler(spark, tmpdir_path + "/crawl", FixtureFetcher(seed=42), o)


def test_basic_fetch_and_parse(spark, tmpdir_path):
    c = make_crawler(spark, tmpdir_path)
    c.seed(["http://httpbingo.org/html", "http://httpbingo.org/xml"])
    stats = c.run()
    assert stats[0]["selected"] == 2
    assert stats[-1]["done"]

    docs = c.documents_t.read().orderBy("seq").collect()
    assert [d.doc_id for d in docs] == [
        "http://httpbingo.org/html",
        "http://httpbingo.org/xml",
    ]
    spans = docs[0].spans
    assert spans[0].kind == "title"
    assert spans[0].text == "Herman Melville - Moby-Dick"


def test_exactly_once(spark, tmpdir_path):
    c = make_crawler(spark, tmpdir_path)
    c.seed(["http://httpbingo.org/get", "http://httpbingo.org/get", "http://httpbingo.org/get?x=1"])
    c.run()
    assert c.seen_t.read().count() == 2  # dup seed collapsed within round

    # re-seed the same URLs -> nothing selected (seen across runs)
    c.seed(["http://httpbingo.org/get", "http://httpbingo.org/get?x=1"])
    stats = c.run()
    assert stats[0]["selected"] == 0
    assert c.fetched_t.read().count() == 2


def test_identity_method_body(spark, tmpdir_path):
    # same url, different body -> distinct fetches (test_base.rb:87-103)
    c = make_crawler(spark, tmpdir_path)
    c.seed(
        [
            ("http://httpbingo.org/post", "POST", "a=1"),
            ("http://httpbingo.org/post", "POST", "a=2"),
            ("http://httpbingo.org/post", "GET", ""),
        ]
    )
    c.run()
    assert c.seen_t.read().count() == 3


def test_ignore_params(spark, tmpdir_path):
    # ?b=1 vs ?b=2 collapse when b ignored (test_base.rb:28-34)
    c = make_crawler(spark, tmpdir_path, ignore_params=("b",))
    c.seed(["http://httpbingo.org/get?a=1&b=1", "http://httpbingo.org/get?a=1&b=2"])
    c.run()
    assert c.fetched_t.read().count() == 1


def test_redirect_chain(spark, tmpdir_path):
    # /redirect/2 -> /redirect/1 -> /get; each hop seen (base.rb:209-211)
    c = make_crawler(spark, tmpdir_path)
    c.seed(["http://httpbingo.org/redirect/2"])
    c.run()
    fetched = c.fetched_t.read().collect()
    assert len(fetched) == 1
    assert fetched[0].final_url == "http://httpbingo.org/get"
    seen_urls = {r.url for r in c.seen_t.read().collect()}
    assert seen_urls == {
        "http://httpbingo.org/redirect/2",
        "http://httpbingo.org/redirect/1",
        "http://httpbingo.org/get",
    }
    # final url now cached: fetching it again is a no-op
    c.seed(["http://httpbingo.org/get"])
    stats = c.run()
    assert stats[0]["selected"] == 0


def test_retry_amplification(spark, tmpdir_path):
    # 5xx retried `retries` times -> retries+1 attempts (test_base.rb:57-61)
    o = CrawlOptions(retries=4)
    c = Crawler(spark, tmpdir_path + "/c", FixtureFetcher(seed=42), o)
    c.seed(["http://error/boom"])
    c.run()
    f = c.fetched_t.read().collect()[0]
    assert f.status == 500
    assert f.n_attempts == 5
    # errors are cached too (README.md:115): refetch is blocked
    c.seed(["http://error/boom"])
    assert c.run()[0]["selected"] == 0


def test_flaky_retry_succeeds(spark, tmpdir_path):
    fetcher = FixtureFetcher(seed=42, flaky={"flaky": 3})
    c = Crawler(spark, tmpdir_path + "/c", fetcher, CrawlOptions(retries=2))
    c.seed(["http://flaky/x"])
    c.run()
    f = c.fetched_t.read().collect()[0]
    assert f.status == 200
    assert f.n_attempts == 3


@pytest.mark.parametrize("paced", [False, True])
def test_latency_excludes_retry_backoff(spark, tmpdir_path, paced):
    """latency_ms times the request's attempts, not the backoff slept
    between them (adaptive politeness applies its own error backoff on
    top). Two failed attempts sleep 10 + 20 ms of backoff; both fetch
    plans — unpaced mapInArrow, and per-host applyInArrow (a robots
    Crawl-delay row forces it) — must report less than that."""
    fetcher = FixtureFetcher(seed=42, flaky={"flaky": 3})
    delays = spark.createDataFrame([("flaky", 0.0)], "host string, crawl_delay double")
    c = Crawler(
        spark, tmpdir_path + "/c", fetcher, CrawlOptions(retries=2, rate_limit=0),
        crawl_delays=delays if paced else None,
    )
    c.seed(["http://flaky/x"])
    c.run()
    f = c.fetched_t.read().collect()[0]
    assert f.status == 200 and f.n_attempts == 3
    assert 0 <= f.latency_ms < 30


def test_force_refetch(spark, tmpdir_path):
    # force bypasses the seen check (test_main.rb:28-36); deterministic rand
    # sentinel proves an actual refetch happened vs a cache hit
    c = make_crawler(spark, tmpdir_path)
    c.seed(["http://httpbingo.org/anything?q=1"])
    c.run()
    c2 = Crawler(
        spark, tmpdir_path + "/crawl", FixtureFetcher(seed=42), CrawlOptions(force=True)
    )
    c2.seed(["http://httpbingo.org/anything?q=1"])
    stats = c2.run()
    assert stats[0]["selected"] == 1
    assert c2.fetched_t.read().count() == 2


def test_expires_ttl(spark, tmpdir_path):
    # entries older than expires are misses (test_base.rb:13-20)
    c = make_crawler(spark, tmpdir_path)
    c.seed(["http://httpbingo.org/ttl"])
    c.run()
    time.sleep(0.2)
    c2 = Crawler(
        spark, tmpdir_path + "/crawl", FixtureFetcher(seed=42), CrawlOptions(expires=0.05)
    )
    c2.seed(["http://httpbingo.org/ttl"])
    assert c2.run()[0]["selected"] == 1
    c3 = Crawler(
        spark, tmpdir_path + "/crawl", FixtureFetcher(seed=42), CrawlOptions(expires=3600)
    )
    c3.seed(["http://httpbingo.org/ttl"])
    assert c3.run()[0]["selected"] == 0


def test_status_cached_uncache(spark, tmpdir_path):
    c = make_crawler(spark, tmpdir_path)
    url = "http://httpbingo.org/probe"
    assert c.status(url)["status"] == "miss"
    assert not c.cached(url)
    c.seed([url])
    c.run()
    assert c.status(url)["status"] == 200
    assert c.cached(url)
    c.uncache(url)
    assert not c.cached(url)
    # after uncache, refetch works
    c.seed([url])
    assert c.run()[0]["selected"] == 1


def test_probe_driver_local_when_shards_warm(spark, tmpdir_path):
    # interactive probes must not launch a Spark job when the exact
    # seen-key shards are warm (VERDICT r2 #7): misses and cached() answer
    # via local canonicalize + hash twin + shard binary search
    c = make_crawler(spark, tmpdir_path, exact_shards=True)
    c.seed(["http://httpbingo.org/html", "http://httpbingo.org/get?q=1"])
    c.run()
    assert c._seen_keys.in_sync_with(c.seen_t)
    sc = spark.sparkContext
    sc.setJobGroup("o1probe", "driver-local probe check")
    try:
        assert c.cached("http://httpbingo.org/html")
        assert c.cached("http://httpbingo.org/get?q=1")
        assert not c.cached("http://httpbingo.org/never-fetched")
        assert c.status("http://httpbingo.org/nope")["status"] == "miss"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert tuple(sc.statusTracker().getJobIdsForGroup("o1probe")) == ()
    # hit-path status() still returns the row's status code (1 Spark job)
    assert c.status("http://httpbingo.org/html")["status"] == 200


def test_probe_falls_back_when_shards_cold(spark, tmpdir_path):
    # anti-join configuration (exact_shards=False): key store never syncs,
    # probes must still answer correctly via the Spark path
    c = make_crawler(spark, tmpdir_path, exact_shards=False)
    url = "http://httpbingo.org/cold"
    c.seed([url])
    c.run()
    assert c._seen_keys.snapshot_id is None
    assert c.cached(url)
    assert not c.cached("http://httpbingo.org/absent")
    assert c.status(url)["status"] == 200


def test_robots_gating(spark, tmpdir_path):
    robots = None

    def run(urls, rules):
        r = spark.createDataFrame(rules, "host string, disallow_prefix string")
        c = Crawler(
            spark, tmpdir_path + f"/r{len(rules)}", FixtureFetcher(seed=42),
            CrawlOptions(), robots=r,
        )
        c.seed(urls)
        c.run()
        return {x.url for x in c.seen_t.read().collect()}

    seen = run(
        ["http://a.test/private/x", "http://a.test/public/y", "http://b.test/private/z"],
        [("a.test", "/private")],
    )
    assert seen == {"http://a.test/public/y", "http://b.test/private/z"}


def test_per_host_cap_and_rounds(spark, tmpdir_path):
    c = make_crawler(spark, tmpdir_path, per_host_cap=2, max_rounds=5)
    c.seed([f"http://hot.test/p{i}" for i in range(5)] + ["http://cold.test/x"])
    stats = c.run()
    # round 1: 2 hot + 1 cold; round 2: 2 hot; round 3: 1 hot; round 4: done
    assert [s["selected"] for s in stats] == [3, 2, 1, 0]
    assert c.seen_t.read().count() == 6


def test_priority_order(spark, tmpdir_path):
    c = make_crawler(spark, tmpdir_path, per_host_cap=1, max_rounds=3)
    c.seed(["http://h.test/low"])
    # manually add a high-priority row via a second seed batch — seeds get
    # priority 0; emulate priority by direct frontier write
    from sinew_spark.operators.frontier import prepare_frontier

    df = spark.createDataFrame(
        [
            ("http://h.test/low", "GET", "", 5.0, 0, 10, 0),
            ("http://h.test/high", "GET", "", 1.0, 0, 11, 0),
        ],
        "url string, method string, body string, priority double, depth int, seq long, attempt int",
    )
    c.frontier_t.overwrite(prepare_frontier(df, c.canonicalize))
    c.run()
    fetched = c.fetched_t.read().orderBy("round").collect()
    assert fetched[0].url == "http://h.test/high"  # lower priority value first


def test_politeness_pacing(spark, tmpdir_path):
    c = make_crawler(spark, tmpdir_path, rate_limit=0.15)
    c.seed([f"http://slow.test/{i}" for i in range(3)])
    t0 = time.time()
    c.run()
    # 3 urls on one host, 0.15s between -> >= 0.3s wall
    assert time.time() - t0 >= 0.3


def test_paced_host_group_fetches_in_priority_seq_order(spark, tmpdir_path):
    """Within one paced host group, rows are fetched in (priority, seq)
    order whatever order they arrive in, and the host's cookie jar threads
    from the first request into the later ones."""
    from sinew_spark.operators.frontier import prepare_frontier

    c = make_crawler(spark, tmpdir_path, rate_limit=0.01, retries=0)
    rows = [  # arrival order shuffled against (priority, seq)
        ("http://o.test/cookies?probe=c", 2.0, 1),
        ("http://o.test/cookies/set?k=v", 0.0, 7),
        ("http://o.test/cookies?probe=b", 1.0, 5),
        ("http://o.test/cookies?probe=a", 1.0, 3),
    ]
    df = spark.createDataFrame(
        [(u, "GET", "", p, 0, s, 0) for u, p, s in rows],
        "url string, method string, body string, priority double, depth int, seq long, attempt int",
    )
    c.frontier_t.overwrite(prepare_frontier(df, c.canonicalize))
    c.run(1)
    fetched = c.fetched_t.read().collect()
    assert len(fetched) == 4
    by_time = [r.url for r in sorted(fetched, key=lambda r: r.fetched_at)]
    assert by_time == [u for u, _p, _s in sorted(rows, key=lambda r: (r[1], r[2]))]
    for r in fetched:
        if "probe=" in r.url:
            assert json.loads(r.resp_body)["cookies"] == {"k": "v"}, r.url


def test_paced_fetch_keeps_hosts_parallel(spark):
    """AQE sizes shuffle partitions by bytes; a few slim rows per host must
    still land in more than one task so paced hosts run in parallel."""
    from sinew_spark.functions.urls import make_canonicalize_udf
    from sinew_spark.operators.frontier import prepare_frontier
    from sinew_spark.sources.fetch import fetch_rows

    df = spark.createDataFrame(
        [(f"http://h{h}.test/p{i}", "GET", "", 0.0, 0, 10 * h + i, 0)
         for h in range(8) for i in range(2)],
        "url string, method string, body string, priority double, depth int, seq long, attempt int",
    )
    out = fetch_rows(
        prepare_frontier(df, make_canonicalize_udf()), FixtureFetcher(seed=42),
        rate_limit=0.01,
    )
    assert out.rdd.getNumPartitions() > 1


def test_delayed_capped_round_shuffles_once_for_the_fetch(spark, tmpdir_path, monkeypatch):
    """A robots-delayed round with a per-host cap fetches on the grouped
    path: no round-robin repartition runs in front of it, and the cap
    window's host partitioning is the fetch's, so one host exchange
    serves both."""
    import sinew_spark.crawl as crawl_mod

    plans = []
    orig = crawl_mod.fetch_rows

    def spy(*a, **k):
        out = orig(*a, **k)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(crawl_mod, "fetch_rows", spy)
    delays = spark.createDataFrame([("slow.test", 0.0)], "host string, crawl_delay double")
    c = Crawler(
        spark, tmpdir_path + "/c", FixtureFetcher(seed=42),
        CrawlOptions(rate_limit=0.0, retries=0, per_host_cap=2),
        crawl_delays=delays,
    )
    c.seed([f"http://slow.test/p{i}" for i in range(3)] + ["http://fast.test/p0"])
    assert c.run_round()["fetched"] == 3
    (plan,) = plans
    assert "RoundRobinPartitioning" not in plan, plan
    assert plan.count("Exchange hashpartitioning(host") == 1, plan


def test_resume_from_checkpoint(spark, tmpdir_path):
    # run 1 round of a 3-round crawl, "crash", resume from snapshots:
    # seen + ordering must match an uninterrupted run (north rule)
    def crawl(workdir, rounds):
        c = Crawler(
            spark, workdir, FixtureFetcher(seed=42),
            CrawlOptions(per_host_cap=1, max_rounds=rounds),
        )
        return c

    urls = [f"http://site.test/p{i}" for i in range(3)]

    a = crawl(tmpdir_path + "/a", 5)
    a.seed(urls)
    a.run()

    b = crawl(tmpdir_path + "/b", 1)
    b.seed(urls)
    b.run_round()  # round 0 only, then "crash"
    b2 = crawl(tmpdir_path + "/b", 5)  # fresh Crawler over same workdir
    b2.run()

    sa = sorted((r.key, r.url, r.round) for r in a.seen_t.read().collect())
    sb = sorted((r.key, r.url, r.round) for r in b2.seen_t.read().collect())
    assert sa == sb
    fa = [r.url for r in a.fetched_t.read().orderBy("round", "seq").collect()]
    fb = [r.url for r in b2.fetched_t.read().orderBy("round", "seq").collect()]
    assert fa == fb


def test_follow_links_bfs(spark, tmpdir_path):
    pages = {
        "http://w.test/": '<a href="/a">a</a> <a href="/b">b</a>',
        "http://w.test/a": '<a href="/b">b</a> <a href="/c">c</a>',
        "http://w.test/b": "leaf",
        "http://w.test/c": "leaf",
    }
    fetcher = FixtureFetcher(seed=42, extra_pages=pages)
    c = Crawler(
        spark, tmpdir_path + "/c", fetcher,
        CrawlOptions(follow_links=True, max_depth=2, max_rounds=5),
    )
    c.seed(["http://w.test/"])
    c.run()
    seen = {r.url for r in c.seen_t.read().collect()}
    assert seen == set(pages)
    # depth recorded correctly
    docs = {d.doc_id: d.depth for d in c.documents_t.read().collect()}
    assert docs["http://w.test/"] == 0
    assert docs["http://w.test/a"] == 1
    assert docs["http://w.test/c"] == 2


def test_deterministic_rand_sentinel(spark, tmpdir_path):
    # the echo endpoint's rand is deterministic per identity (fixture model
    # of test_helper.rb:65-76) — two crawls see the same body
    c1 = make_crawler(spark, tmpdir_path + "/1")
    c1.seed(["http://httpbingo.org/echo?z=9"])
    c1.run()
    c2 = make_crawler(spark, tmpdir_path + "/2")
    c2.seed(["http://httpbingo.org/echo?z=9"])
    c2.run()
    b1 = c1.fetched_t.read().collect()[0].resp_body
    b2 = c2.fetched_t.read().collect()[0].resp_body
    assert b1 == b2
    assert json.loads(b1)["args"] == {"z": "9"}


def test_full_replay_determinism(spark, tmpdir_path):
    """Two independent runs of the same multi-round link-following crawl
    produce identical seen sets, fetch ordering, and span sequences (north
    rule: replay identically under the same seed list + politeness budget)."""
    def run(workdir):
        c = Crawler(
            spark, workdir,
            FixtureFetcher(seed=9, synthetic=True, synthetic_links=3, synthetic_hosts=4),
            CrawlOptions(rate_limit=0, retries=0, follow_links=True, max_depth=1, max_rounds=3),
        )
        c.seed([f"http://host{i % 4}.test/p/{i}" for i in range(12)])
        c.run()
        seen = sorted((r.key, r.url, r.round) for r in c.seen_t.read().collect())
        docs = [
            (d.doc_id, tuple((s.kind, s.text, s.media_ref, s.offset) for s in d.spans))
            for d in c.documents_t.read().orderBy("round", "seq").collect()
        ]
        return seen, docs

    seen_a, docs_a = run(tmpdir_path + "/a")
    seen_b, docs_b = run(tmpdir_path + "/b")
    assert seen_a == seen_b
    assert docs_a == docs_b
    assert len(docs_a) > 12  # links were followed


def test_post_json_convenience(spark, tmpdir_path):
    """S3: post_json JSON-encodes the body Ruby-to_json-style and the
    encoded body is part of the identity key (base.rb:77-81) — equal
    objects are one fetch, different objects are distinct entries."""
    import json

    c = Crawler(spark, tmpdir_path, FixtureFetcher(seed=42), CrawlOptions(retries=0))
    r1 = Crawler.post_json("http://api.test/things", {"a": 1, "b": [2, 3]})
    r2 = Crawler.post_json("http://api.test/things", {"a": 1, "b": [2, 3]})
    r3 = Crawler.post_json("http://api.test/things", {"a": 2})
    assert r1 == ("http://api.test/things", "POST", '{"a":1,"b":[2,3]}')
    assert r1 == r2
    c.seed([r1, r2, r3])
    c.run(max_rounds=1)
    fetched = c.fetched_t.read().collect()
    assert len(fetched) == 2  # r1/r2 collapse to one identity
    echo = {r.body: json.loads(r.resp_body) for r in fetched}
    assert echo['{"a":1,"b":[2,3]}']["body"] == '{"a":1,"b":[2,3]}'
    assert all(v["method"] == "POST" for v in echo.values())
    st = c.status("http://api.test/things", "POST", '{"a":1,"b":[2,3]}')
    assert st["status"] == 200 and st["diskpath"].endswith("fetched")


def test_exact_shards_path_equals_anti_join_path(spark, tmpdir_path):
    """The zero-shuffle shard probe and the exact anti-join are the same
    filter: a 2-round link-following crawl produces identical seen tables
    under exact_shards=True and False (auto picks by seen size)."""
    def run(mode, sub):
        c = Crawler(
            spark, f"{tmpdir_path}/{sub}",
            FixtureFetcher(seed=42, synthetic=True, synthetic_links=3, synthetic_hosts=11),
            CrawlOptions(rate_limit=0, retries=0, max_rounds=2, follow_links=True,
                         exact_shards=mode),
        )
        c.seed([f"http://h{i % 11}.synth.test/p/{i}" for i in range(30)])
        c.run()
        return sorted(
            (r.url, r.status, r.round) for r in c.seen_t.read().collect()
        )

    assert run(True, "shards") == run(False, "join")


def test_resume_with_exact_shards(spark, tmpdir_path):
    """Crash-resume under the shard-probe path: a crawl killed after its
    seen commit (shards potentially behind) must resume to the same seen
    table and fetch order as an uninterrupted run — sync-on-round-start
    repairs the shard lag before any probe."""
    import shutil

    def crawl(workdir, rounds):
        return Crawler(
            spark, workdir,
            FixtureFetcher(seed=42, synthetic=True, synthetic_links=3, synthetic_hosts=7),
            CrawlOptions(rate_limit=0, retries=0, max_rounds=rounds,
                         follow_links=True, exact_shards=True),
        )

    urls = [f"http://h{i % 7}.synth.test/p/{i}" for i in range(12)]

    a = crawl(tmpdir_path + "/a", 3)
    a.seed(urls)
    a.run()

    b = crawl(tmpdir_path + "/b", 1)
    b.seed(urls)
    b.run_round()
    # crash model: the key-shard sidecar is LOST entirely (worse than lag)
    shutil.rmtree(tmpdir_path + "/b/seen.keys.d", ignore_errors=True)
    b2 = crawl(tmpdir_path + "/b", 2)  # rounds 1-2 (max_rounds is per run())
    b2.run()

    sa = sorted((r.key, r.url, r.round) for r in a.seen_t.read().collect())
    sb = sorted((r.key, r.url, r.round) for r in b2.seen_t.read().collect())
    assert sa == sb
    fa = [r.url for r in a.fetched_t.read().orderBy("round", "seq").collect()]
    fb = [r.url for r in b2.fetched_t.read().orderBy("round", "seq").collect()]
    assert fa == fb


def test_semantic_shards_path_equals_anti_join_path(spark, tmpdir_path):
    """The seen index's semantic probe (SeenKeyShardStore) and the exact
    semantic anti-join are the same filter: force_errors and TTL recrawls select
    identical row sets under exact_shards=True and False. Hosts h0-h2 are
    persistently flaky, so the first crawl seeds a mix of ok and error
    entries for force_errors to discriminate."""
    def run(mode, sub):
        urls = [f"http://h{i % 9}.synth.test/p/{i}" for i in range(40)]
        flaky = {f"h{i}.synth.test": 99 for i in range(3)}

        def mk(opts):
            return Crawler(
                spark, f"{tmpdir_path}/{sub}",
                FixtureFetcher(seed=7, synthetic=True, synthetic_hosts=9, flaky=flaky),
                opts,
            )

        c = mk(CrawlOptions(rate_limit=0, retries=0, max_rounds=1, exact_shards=mode))
        c.seed(urls)
        c.run()
        # force_errors: exactly the error rows refetch
        c2 = mk(CrawlOptions(rate_limit=0, retries=0, max_rounds=1,
                             force_errors=True, exact_shards=mode))
        c2.seed(urls)
        n_err = c2.run()[0]["selected"]
        # TTL not yet expired: nothing refetches
        c3 = mk(CrawlOptions(rate_limit=0, retries=0, max_rounds=1,
                             expires=3600, exact_shards=mode))
        c3.seed(urls)
        n_fresh = c3.run()[0]["selected"]
        # TTL long expired: everything refetches
        c4 = mk(CrawlOptions(rate_limit=0, retries=0, max_rounds=1,
                             expires=1e-6, exact_shards=mode))
        c4.seed(urls)
        n_stale = c4.run()[0]["selected"]
        fetched = sorted((r.url, r.status, r.round) for r in c4.fetched_t.read().collect())
        return (n_err, n_fresh, n_stale, fetched)

    a = run(True, "shards")
    b = run(False, "join")
    assert a == b
    n_err, n_fresh, n_stale, _ = a
    assert (n_err, n_fresh, n_stale) == (15, 0, 40)  # 15 urls land on h0-h2


def test_host_state_append_joined_on_tail_failure(spark, tmpdir_path):
    """ADVICE r3: if a tail stage (links/next-frontier) raises, the
    background host_state append must be JOINED before run_round exits —
    otherwise a retried round races a live append through SnapshotTable's
    unsynchronized manifest read-modify-write and can drop a snapshot.
    The failed round is then rolled back, which must come after the
    append landed."""
    import threading

    c = make_crawler(spark, tmpdir_path)
    c.seed(["http://httpbingo.org/cookies/setnr?tok=abc"])

    before = {t.ident for t in threading.enumerate()}
    boom = RuntimeError("injected tail failure")
    orig = c.frontier_t.overwrite
    c.frontier_t.overwrite = lambda *a, **k: (_ for _ in ()).throw(boom)
    try:
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="injected tail failure"):
            c.run_round()
    finally:
        c.frontier_t.overwrite = orig
    # no appender thread leaked past the exception
    leaked = [
        t for t in threading.enumerate()
        if t.ident not in before and t.is_alive() and "append" in (t.name or "").lower()
    ]
    assert not leaked
    # the round's cookie state was committed before run_round exited (the
    # join happened), and the crashed round's rollback came after it
    landed = [s["id"] for s in c.host_state_t.snapshots()]
    assert landed and c.host_state_t.current_snapshot() is None
    rows = c.host_state_t.read(landed[-1]).collect()
    assert any("tok" in (r.cookies or "") for r in rows)


def test_force_refetches_rediscovered_links(spark, tmpdir_path):
    """force + follow_links + a workdir with prior seen state: a link
    DISCOVERED this run whose target was crawled in a previous run must
    be refetched (anti_join_seen force semantics) — the next-frontier
    filter may only drop keys attempted THIS run, or the rediscovered
    target is evicted before any round-start filter sees it. Drain is
    preserved: each key is fetched at most once per run. exact_shards
    forces the valued-shard probe path (the anti-join fallback path is
    covered by the force_errors test below)."""
    pages = {
        "http://fw.test/": '<a href="/leaf">leaf</a>',
        "http://fw.test/leaf": "leaf",
    }
    opts = dict(
        follow_links=True, max_depth=2, max_rounds=5, retries=0,
        exact_shards=True,
    )
    c = Crawler(
        spark, tmpdir_path + "/c", FixtureFetcher(seed=42, extra_pages=pages),
        CrawlOptions(**opts),
    )
    c.seed(["http://fw.test/"])
    c.run()
    assert c.fetched_t.read().count() == 2  # root + leaf

    # run 2, force: only the root is seeded; the leaf re-enters ONLY via
    # link discovery, and force must refetch it exactly once
    c2 = Crawler(
        spark, tmpdir_path + "/c", FixtureFetcher(seed=42, extra_pages=pages),
        CrawlOptions(force=True, **opts),
    )
    c2.seed(["http://fw.test/"])
    stats = c2.run()
    per_url = (
        c2.fetched_t.read().groupBy("url").count().orderBy("url").collect()
    )
    assert {r.url: r["count"] for r in per_url} == {
        "http://fw.test/": 2,
        "http://fw.test/leaf": 2,
    }
    # drain: the run terminated by emptying the frontier, not max_rounds
    assert len(stats) < 5


def test_force_errors_refetches_rediscovered_error_link(spark, tmpdir_path):
    """force_errors + follow_links: a rediscovered link whose target
    ERRORED in a previous run is refetched; an OK target is not; and an
    always-erroring target is attempted at most once per run (drain)."""
    pages = {
        "http://fe.test/": '<a href="http://error/boom">b</a> <a href="/ok">ok</a>',
        "http://fe.test/ok": "fine",
    }
    opts = dict(follow_links=True, max_depth=2, max_rounds=6, retries=0)
    c = Crawler(
        spark, tmpdir_path + "/c", FixtureFetcher(seed=42, extra_pages=pages),
        CrawlOptions(**opts),
    )
    c.seed(["http://fe.test/"])
    c.run()
    first = {r.url: r.status for r in c.fetched_t.read().collect()}
    assert first["http://error/boom"] >= 500 and first["http://fe.test/ok"] == 200

    # run 2 seeds a NEW page that links to both targets: the rediscovered
    # error link must be refetched, the rediscovered OK link must not
    pages2 = dict(pages)
    pages2["http://fe.test/new"] = (
        '<a href="http://error/boom">b</a> <a href="/ok">ok</a>'
    )
    c2 = Crawler(
        spark, tmpdir_path + "/c", FixtureFetcher(seed=42, extra_pages=pages2),
        CrawlOptions(force_errors=True, **opts),
    )
    c2.seed(["http://fe.test/new"])
    stats = c2.run()
    counts = {
        r.url: r["count"]
        for r in c2.fetched_t.read().groupBy("url").count().collect()
    }
    assert counts["http://error/boom"] == 2  # errored before -> refetched once
    assert counts["http://fe.test/ok"] == 1  # OK before -> not refetched
    assert counts["http://fe.test/new"] == 1  # new seed fetched once
    # drain: the always-erroring key was attempted once this run, then
    # left the frontier — the loop emptied before max_rounds
    assert len(stats) < 6


def test_outlink_cap_keeps_seq_in_parent_slot(spark, tmpdir_path):
    """A page with more outlinks than LINK_STRIDE-1 keeps only the first
    LINK_STRIDE-1 in document order: link seqs stay inside the parent's
    slot, so they can never collide with the next parent's slot (the
    invariant the within-round dedup and budget selection sort on)."""
    from sinew_spark.crawl import LINK_STRIDE

    n_links = LINK_STRIDE + 5
    body = " ".join(f'<a href="/l{i}">x</a>' for i in range(n_links))
    pages = {"http://big.test/": body}
    pages.update({f"http://big.test/l{i}": "leaf" for i in range(n_links)})
    c = Crawler(
        spark, tmpdir_path + "/c", FixtureFetcher(seed=42, extra_pages=pages),
        CrawlOptions(follow_links=True, max_depth=1, max_rounds=1, retries=0),
    )
    c.seed(["http://big.test/"])
    stats = c.run()
    assert stats[0]["new_links"] == LINK_STRIDE - 1
    fr = c.frontier_t.read().select("url", "seq").collect()
    seed_seq = 0  # single seed
    for r in fr:
        assert seed_seq * LINK_STRIDE < r.seq < (seed_seq + 1) * LINK_STRIDE
    # the kept links are the FIRST in document order
    kept = {r.url for r in fr}
    assert "http://big.test/l0" in kept
    assert f"http://big.test/l{n_links - 1}" not in kept


def test_probe_driver_local_in_semantic_crawls(spark, tmpdir_path):
    """TTL (expires) runs keep the one seen index in sync — the
    interactive miss/cached probes must use it and stay driver-local
    (zero Spark jobs), not fall through to a per-probe Spark lookup."""
    c = make_crawler(spark, tmpdir_path, exact_shards=True, expires=3600)
    c.seed(["http://httpbingo.org/sem1", "http://httpbingo.org/sem2"])
    c.run()
    assert c._seen_keys.in_sync_with(c.seen_t)  # the one index is in sync
    sc = spark.sparkContext
    sc.setJobGroup("semprobe", "driver-local probe check")
    try:
        assert c.cached("http://httpbingo.org/sem1")
        assert not c.cached("http://httpbingo.org/never")
        assert c.status("http://httpbingo.org/nope")["status"] == "miss"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert tuple(sc.statusTracker().getJobIdsForGroup("semprobe")) == ()


def test_pre_merge_key_sidecar_is_rebuilt_not_trusted(spark, tmpdir_path):
    """A seen.keys.d written by the key-only store (keys- .npy runs, meta
    without the layout marker) recording the CURRENT seen snapshot must
    not be probed as in sync: it holds no per-key statistics, so trusting
    it would report every key as new and refetch the whole seen set."""
    import os

    import numpy as np

    from sinew_spark.functions.localhash import shard_of_key

    seen_urls = [f"http://httpbingo.org/get?m={i}" for i in range(5)]
    c = make_crawler(spark, tmpdir_path, exact_shards=True)
    c.seed(seen_urls)
    c.run()
    keys = [r.key for r in c.seen_t.read().select("key").collect()]
    assert len(keys) == 5

    side = os.path.join(tmpdir_path, "crawl", "seen.keys.d")
    for name in os.listdir(side):
        os.unlink(os.path.join(side, name))
    n_shards = c.opts.bloom_shards
    for shard in range(n_shards):
        run = np.array(sorted(k for k in keys if shard_of_key(k, n_shards) == shard), dtype=np.int64)
        np.save(os.path.join(side, f"keys-{shard:05d}.r000001.npy"), run)
    with open(os.path.join(side, "meta.json"), "w") as f:
        json.dump(
            {"n_shards": n_shards, "snapshot_id": c.seen_t.current_snapshot(), "n_keys": -1}, f
        )

    c2 = make_crawler(spark, tmpdir_path, exact_shards=True)
    assert not c2._seen_keys.in_sync_with(c2.seen_t)
    assert c2.cached(seen_urls[0])  # answered by the Spark path, not the old runs
    c2.seed(seen_urls + ["http://httpbingo.org/get?m=new"])
    assert c2.run_round()["selected"] == 1
    fetched = [r.key for r in c2.fetched_t.read().select("key").collect()]
    assert len(fetched) == len(set(fetched)) == 6  # no seen key fetched again
    assert c2._seen_keys.in_sync_with(c2.seen_t)
    assert c2.cached(seen_urls[0])


def _aggregate_round(c):
    """The next round by aggregate over the metrics table."""
    r = c.metrics_t.read().agg(F.max("round").alias("r")).collect()[0].r
    return (r if r is not None else -1) + 1


def test_drained_round_runs_no_job_and_commits_nothing(spark, tmpdir_path):
    c = make_crawler(spark, tmpdir_path)
    c.seed(["http://httpbingo.org/html"])
    assert not c.run_round()["done"]
    tables = {
        "fetched": c.fetched_t, "seen": c.seen_t,
        "frontier": c.frontier_t, "metrics": c.metrics_t,
    }
    before = {n: len(t.snapshots()) for n, t in tables.items()}
    sc = spark.sparkContext
    group = "test_drained_round_runs_no_job"
    sc.setJobGroup(group, group)
    try:
        stats = c.run_round()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert stats == {"round": 1, "selected": 0, "done": True}
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert {n: len(t.snapshots()) for n, t in tables.items()} == before


def test_current_round_matches_metrics_aggregate(spark, tmpdir_path):
    """current_round() from the metrics manifest equals the aggregate over
    the metrics table: fresh, after 3 rounds, on resume with a new Crawler,
    after a metrics rollback, and after a compaction drops the meta."""
    wd = tmpdir_path + "/crawl"

    def crawler():
        return Crawler(
            spark, wd, FixtureFetcher(seed=42), CrawlOptions(per_host_cap=1)
        )

    c = crawler()
    assert c.current_round() == _aggregate_round(c) == 0
    c.seed([f"http://site.test/p{i}" for i in range(4)])
    for _ in range(3):
        c.run_round()
    assert c.current_round() == _aggregate_round(c) == 3
    resumed = crawler()
    assert resumed.current_round() == _aggregate_round(resumed) == 3
    first = resumed.metrics_t.snapshots()[0]["id"]
    resumed.metrics_t.rollback_to(first)
    rolled = crawler()
    assert rolled.current_round() == _aggregate_round(rolled) == 1
    rolled.metrics_t.compact()
    compacted = crawler()
    assert compacted.current_round() == _aggregate_round(compacted) == 1
