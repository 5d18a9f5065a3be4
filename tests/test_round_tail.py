"""The round tail: stats observed on the fetched write, the next frontier
(held-back rows stay, rows that can never be fetched leave), and the
Spark-job cost of a round whose next frontier is empty."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sinew_spark.crawl import Crawler, CrawlOptions
from sinew_spark.operators.frontier import (
    anti_join_seen,
    apply_robots,
    apply_url_scope,
    prepare_frontier,
)
from sinew_spark.sources.fetch import FixtureFetcher


def test_redirect_round_stats_match_seen_delta(spark, tmpdir_path):
    """A round with redirect hops, a moved final_url and an error: the
    returned tallies and the metrics row equal an aggregate over the
    committed seen delta's direct rows."""
    c = Crawler(
        spark, tmpdir_path + "/c", FixtureFetcher(seed=42), CrawlOptions(retries=0)
    )
    c.seed([
        "http://httpbingo.org/redirect/2",
        "http://httpbingo.org/html",
        "http://error/boom",
    ])
    stats = c.run_round()
    delta = c.seen_t.read_delta(c.seen_t.current_snapshot())
    assert delta.where(F.col("hop_of").isNotNull()).count() == 2  # hop + final
    direct = delta.where(F.col("hop_of").isNull())
    err = (F.col("status") >= 500) | (F.col("status") < 0)
    want = direct.agg(
        F.count(F.lit(1)).alias("selected"),
        F.sum(err.cast("long")).alias("errors"),
        F.sum((F.col("status") == 304).cast("long")).alias("not_modified"),
    ).collect()[0].asDict()
    assert want == {"selected": 3, "errors": 1, "not_modified": 0}
    assert {k: stats[k] for k in want} == want
    m = c.metrics_t.read().collect()[0]
    assert {k: m[k] for k in want} == want
    assert (m.candidates, m.fetched) == (3, 3)


def test_capped_round_reports_true_candidates(spark, tmpdir_path):
    """per_host_cap=1 over three URLs on one host: the metrics row says 3
    candidates, 1 selected; the two held-back URLs stay in the frontier and
    the next two rounds fetch them."""
    c = Crawler(
        spark, tmpdir_path + "/c", FixtureFetcher(seed=42),
        CrawlOptions(retries=0, per_host_cap=1),
    )
    urls = [f"http://one.test/p{i}" for i in range(3)]
    c.seed(urls)
    s0 = c.run_round()
    assert (s0["candidates"], s0["selected"]) == (3, 1)
    m = c.metrics_t.read().collect()[0]
    assert (m.candidates, m.selected) == (3, 1)
    assert sorted(r.canonical_url for r in c.frontier_t.read().collect()) == urls[1:]
    s1, s2 = c.run_round(), c.run_round()
    assert [(s["candidates"], s["selected"]) for s in (s1, s2)] == [(2, 1), (1, 1)]
    assert c.frontier_t.approx_rows() == 0
    assert sorted(r.url for r in c.seen_t.read().collect()) == urls


# --- next frontier: held-back rows stay, blocked rows go ---------------------

LINKED = {
    "http://ln.test/": '<a href="/a">a</a> <a href="/b">b</a> <a href="http://error/x">e</a>',
    "http://ln.test/a": '<a href="/b">b</a> <a href="/c">c</a>',
    "http://ln.test/b": "leaf",
    "http://ln.test/c": '<a href="/">root</a>',
}


def _case(name):
    """(options, seeds, robots rules, prior-run seeds) per scenario; a
    prior run is crawled to completion before the checked run."""
    hot = [f"http://hot.test/p{i}" for i in range(5)]
    cold = ["http://cold.test/x", "http://cold.test/y"]
    return {
        "per_host_cap": (dict(per_host_cap=2), hot + cold, None, None),
        "round_budget": (dict(round_budget=2), hot + cold, None, None),
        "host_budget": (dict(host_budget=3, per_host_cap=None), hot + cold, None, None),
        "robots": (
            dict(),
            ["http://rb.test/private/1", "http://rb.test/pub/1", "http://rb.test/private/2",
             "http://rb.test/pub/2"],
            [("rb.test", "/private")],
            None,
        ),
        "max_depth": (dict(max_depth=1), hot + cold, None, None),
        "url_deny": (dict(url_deny=(r"/p[13]$",)), hot + cold, None, None),
        "force_errors": (
            dict(force_errors=True),
            ["http://error/boom", "http://cold.test/x", "http://cold.test/new"],
            None,
            ["http://error/boom", "http://cold.test/x"],
        ),
        "follow_links": (dict(follow_links=True, max_depth=2), ["http://ln.test/"], None, None),
    }[name]


def _expected_frontier_keys(c, pre, round_no, run_first_round, robots):
    """Next-frontier keys rebuilt from the pre-round frontier (plus this
    round's discovered links) with anti_join_seen and the crawl's filters."""
    o = c.opts
    rows = pre
    if o.follow_links:
        docs = c.documents_t.read().where(F.col("round") == round_no)
        links = docs.select(
            F.col("depth").alias("pd"), F.explode("links").alias("url")
        ).select(
            "url", F.lit("GET").alias("method"), F.lit("").alias("body"),
            F.lit(0.0).alias("priority"), (F.col("pd") + 1).alias("depth"),
            F.lit(0).cast("long").alias("seq"), F.lit(0).alias("attempt"),
        )
        rows = rows.unionByName(prepare_frontier(links, c.canonicalize))
    seen = c.seen_t.read()
    if o.force_errors:
        rows = anti_join_seen(rows, seen, force_errors=True)
        rows = anti_join_seen(rows, seen.where(F.col("round") >= run_first_round))
    else:
        rows = anti_join_seen(rows, seen)
    if o.max_depth is not None:
        rows = rows.where(F.col("depth") <= o.max_depth)
    if robots is not None:
        rows = apply_robots(rows, robots)
    rows = apply_url_scope(rows, o.url_allow, o.url_deny)
    if o.host_budget is not None:
        spent = c.host_counts_t.read().groupBy("host").agg(F.sum("n").alias("n"))
        exhausted = spent.where(F.col("n") >= o.host_budget).select("host")
        rows = rows.join(exhausted, "host", "left_anti")
    return {r.key for r in rows.select("key").distinct().collect()}


@pytest.mark.parametrize(
    "name",
    ["per_host_cap", "round_budget", "host_budget", "robots", "max_depth",
     "url_deny", "force_errors", "follow_links"],
)
def test_next_frontier_keeps_held_back_drops_blocked(spark, tmpdir_path, name):
    opts, seeds, rules, prior = _case(name)
    wd = tmpdir_path + "/c"
    robots = (
        spark.createDataFrame(rules, "host string, disallow_prefix string")
        if rules else None
    )

    def crawler(**extra):
        return Crawler(
            spark, wd, FixtureFetcher(seed=42, extra_pages=LINKED),
            CrawlOptions(retries=0, max_rounds=8, exact_shards=True,
                         **{**opts, **extra}),
            robots=robots,
        )

    if prior is not None:
        first = crawler(force_errors=False)
        first.seed(prior)
        first.run()
    c = crawler()
    if name == "max_depth":
        # seed_df carries depth: rows past max_depth must never be fetched
        df = spark.createDataFrame(
            [(u, i, 0 if i % 2 == 0 else 3) for i, u in enumerate(seeds)],
            "url string, seq long, depth int",
        )
        c.seed_df(df)
    else:
        c.seed(seeds)
    run_first_round = c.current_round()
    for _ in range(8):
        pre = c.frontier_t.read()  # immutable snapshot files
        rnd = c.current_round()
        stats = c.run_round()
        if stats["done"]:
            break
        got = {r.key for r in c.frontier_t.read().select("key").collect()}
        assert got == _expected_frontier_keys(c, pre, rnd, run_first_round, robots), rnd
    else:
        pytest.fail("crawl did not drain")
    fetched = c.fetched_t.read().where(F.col("round") >= run_first_round)
    keys = [r.key for r in fetched.select("key").collect()]
    assert keys and len(keys) == len(set(keys))  # each key at most once per run
    if name in ("per_host_cap", "round_budget"):
        assert len(keys) == 7  # held-back rows were all fetched later
    if name == "host_budget":
        assert len(keys) == 5  # 3 of hot + 2 of cold; the rest left
    if name == "robots":
        assert sorted(r.url for r in fetched.collect()) == [
            "http://rb.test/pub/1", "http://rb.test/pub/2",
        ]
    if name == "force_errors":
        assert sorted(r.url for r in fetched.collect()) == [
            "http://cold.test/new", "http://error/boom",
        ]


# --- job budget of a revisit-shaped round ------------------------------------


def test_revisit_round_spark_job_budget(spark, tmpdir_path):
    """The revisit steady state on the exact-shard path: a synced seen set,
    every seen URL re-offered plus a few fresh ones. The round's Spark jobs
    are pinned, and the empty next frontier is committed with no job while
    the seen index still ends the round in sync."""
    c = Crawler(
        spark, tmpdir_path + "/c",
        FixtureFetcher(seed=42, synthetic=True, synthetic_links=2, synthetic_hosts=7),
        CrawlOptions(retries=0, exact_shards=True, per_host_cap=None),
    )
    seen = [f"http://h{i % 7}.synth.test/p/{i}" for i in range(60)]
    c.seed(seen)
    c.run()
    c.seed(seen + [f"http://fresh{i}.synth.test/" for i in range(3)])
    sc = spark.sparkContext
    group, tail = "test_revisit_round_jobs", "test_revisit_round_jobs_tail"
    overwrite = c.frontier_t.overwrite

    def overwrite_in_own_group(*a, **k):
        sc.setJobGroup(tail, tail)
        try:
            return overwrite(*a, **k)
        finally:
            sc.setJobGroup(group, group)

    c.frontier_t.overwrite = overwrite_in_own_group
    sc.setJobGroup(group, group)
    try:
        stats = c.run_round()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        c.frontier_t.overwrite = overwrite
    assert (stats["candidates"], stats["selected"]) == (3, 3)
    assert c.frontier_t.approx_rows() == 0
    assert sc.statusTracker().getJobIdsForGroup(tail) == []
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 5
    assert c._seen_keys.in_sync_with(c.seen_t)
    assert c.run_round() == {"round": stats["round"] + 1, "selected": 0, "done": True}


def test_follow_links_round_spark_job_budget(spark, tmpdir_path):
    """One follow_links round over the crash test's link graph. The
    discovered links are counted by an Observation on the frontier overwrite
    that writes them, so counting runs no job of its own: the round takes 6
    Spark jobs (8 with a links.count(), which cost 2)."""
    pages = {
        "http://w.test/": '<a href="/a">a</a> <a href="/b">b</a>',
        "http://w.test/a": '<a href="/b">b</a> <a href="/c">c</a>',
        "http://w.test/b": "leaf",
        "http://w.test/c": "leaf",
    }
    c = Crawler(
        spark, tmpdir_path + "/c", FixtureFetcher(seed=42, extra_pages=pages),
        CrawlOptions(retries=0, follow_links=True, max_depth=2),
    )
    c.seed(["http://w.test/"])
    sc = spark.sparkContext
    group = "test_follow_links_round_jobs"
    sc.setJobGroup(group, group)
    try:
        stats = c.run_round()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert stats["new_links"] == 2
    assert c.metrics_t.read().collect()[0].new_links == 2
    assert sorted(r.url for r in c.frontier_t.read().collect()) == [
        "http://w.test/a", "http://w.test/b",
    ]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 6


def test_large_budget_round_counts_candidates_once(spark, tmpdir_path, monkeypatch):
    """The distributed top-k (budgets above LARGE_BUDGET_ROWS) samples its
    input in a pass of its own; the candidate count still counts each
    candidate once."""
    import functools

    import sinew_spark.crawl as crawl
    from sinew_spark.operators.frontier import take_round_budget

    monkeypatch.setattr(crawl, "LARGE_BUDGET_ROWS", 1)
    monkeypatch.setattr(
        crawl, "take_round_budget", functools.partial(take_round_budget, large_threshold=1)
    )
    c = Crawler(
        spark, tmpdir_path + "/c", FixtureFetcher(seed=42),
        CrawlOptions(retries=0, round_budget=2),
    )
    c.seed([f"http://site{i % 2}.test/p/{i}" for i in range(5)])
    stats = c.run_round()
    assert (stats["candidates"], stats["selected"]) == (5, 2)
    assert c.frontier_t.approx_rows() == 3


def test_zero_budget_round_fetches_nothing_and_runs_no_job(spark, tmpdir_path):
    """run_round(budget=0) allows no fetch: it reports a done round, runs
    no Spark job and leaves every table as it was."""
    c = Crawler(
        spark, tmpdir_path + "/c", FixtureFetcher(seed=42), CrawlOptions(retries=0)
    )
    c.seed(["http://httpbingo.org/html", "http://httpbingo.org/xml"])
    tables = (c.frontier_t, c.fetched_t, c.seen_t, c.metrics_t)
    before = [t.current_snapshot() for t in tables]
    sc = spark.sparkContext
    group = "test_zero_budget_round"
    sc.setJobGroup(group, group)
    try:
        stats = c.run_round(budget=0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert stats == {"round": 0, "selected": 0, "done": True}
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert [t.current_snapshot() for t in tables] == before
    assert c.run_round(budget=1)["selected"] == 1
