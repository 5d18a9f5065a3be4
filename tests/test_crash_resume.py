"""A crawl killed at any commit of a round resumes to the uninterrupted
result. The metrics row is the round's commit record: a new Crawler over
the workdir rolls back every commit of a round that has none, and the round
reruns. Each crawl shape crashes one round at each of its commit boundaries
in turn, reopening after every crash, then runs to the end and is compared
with one uninterrupted run of the same crawl."""

from __future__ import annotations

import pytest

from sinew_spark.crawl import Crawler, CrawlOptions
from sinew_spark.sources.fetch import FixtureFetcher

LINKS = {
    "http://w.test/": '<a href="/a">a</a> <a href="/b">b</a>',
    "http://w.test/a": '<a href="/b">b</a> <a href="/c">c</a>',
    "http://w.test/b": "leaf",
    "http://w.test/c": "leaf",
}

# crawl shape -> (options, seeds, round that crashes). "capped" is a
# per_host_cap=1 crawl of one cookie-setting host under a host_budget of 2:
# each round sets a cookie and its body echoes the jar it sent, and the
# budget drops the third URL
SHAPES = {
    "links": (dict(follow_links=True, max_depth=2), ["http://w.test/"], 0),
    "capped": (
        dict(per_host_cap=1, host_budget=2),
        [
            "http://ck.test/cookies/setnr?a=1",
            "http://ck.test/cookies/setnr?b=2",
            "http://ck.test/cookies?probe=1",
        ],
        1,
    ),
}

# commit boundary -> (table attribute, commit method, crash after the commit)
BOUNDARIES = {
    "fetched": ("fetched_t", "append", False),
    "seen": ("seen_t", "append", False),
    "host_counts": ("host_counts_t", "append", False),
    "host_state": ("host_state_t", "append", False),  # inside the appender thread
    "host_state_join": ("host_state_t", "append", True),  # at the thread's join
    "frontier": ("frontier_t", "overwrite", False),
    "metrics": ("metrics_t", "append_rows", False),
}

# the boundaries each shape crashes at, in turn
SHAPE_BOUNDARIES = {
    "links": ("fetched", "seen", "frontier", "metrics"),
    "capped": tuple(BOUNDARIES),
}


def _crawler(spark, workdir, shape):
    opts, _, _ = SHAPES[shape]
    return Crawler(
        spark, workdir, FixtureFetcher(seed=42, extra_pages=LINKS),
        CrawlOptions(retries=0, max_rounds=8, **opts),
    )


def _outcome(c):
    fetched = c.fetched_t.read().select("key", "url", "round", "resp_body").collect()
    return {
        "fetched": sorted((r.url, r.round, r.resp_body) for r in fetched),
        "fetched_keys": sorted(r.key for r in fetched),
        "seen": sorted((r.key, r.round) for r in c.seen_t.read().collect()),
        "frontier": sorted(r.key for r in c.frontier_t.read().collect()),
        "host_counts": sorted(tuple(r) for r in c.host_counts_t.read().collect()),
        "host_state": sorted((r.host, r.round) for r in c.host_state_t.read().collect()),
        "metrics_rounds": sorted(r.round for r in c.metrics_t.read().collect()),
    }


@pytest.fixture(scope="module")
def uninterrupted(spark, tmp_path_factory):
    """One uninterrupted run per crawl shape."""
    out = {}
    for shape, (_, seeds, _) in SHAPES.items():
        c = _crawler(spark, str(tmp_path_factory.mktemp(shape)), shape)
        c.seed(seeds)
        c.run()
        out[shape] = _outcome(c)
    return out


def _current_snapshots(c):
    tables = ("fetched_t", "seen_t", "host_counts_t", "host_state_t", "frontier_t", "metrics_t")
    return {t: getattr(c, t).current_snapshot() for t in tables}


def _crash(c, boundary):
    """Run one round of ``c`` that raises at ``boundary``."""
    attr, method, after = BOUNDARIES[boundary]
    table = getattr(c, attr)
    commit = getattr(table, method)

    def crash(*args, **kwargs):
        if after:
            commit(*args, **kwargs)
        raise RuntimeError("injected crash")

    setattr(table, method, crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        c.run_round()


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_crash_at_each_commit_resumes_to_uninterrupted_run(
    spark, tmpdir_path, uninterrupted, shape
):
    """After each crash a reopened Crawler holds every table at its
    snapshot from before the crashed round; the crawl then ends with the
    uninterrupted run's tables and fetches no key twice."""
    _, seeds, crash_round = SHAPES[shape]
    c = _crawler(spark, tmpdir_path, shape)
    c.seed(seeds)
    for _ in range(crash_round):
        assert not c.run_round()["done"]
    before = _current_snapshots(c)
    for boundary in SHAPE_BOUNDARIES[shape]:
        _crash(c, boundary)
        c = _crawler(spark, tmpdir_path, shape)
        assert _current_snapshots(c) == before, f"crash at {boundary}"
    c.run()
    got = _outcome(c)
    assert len(set(got["fetched_keys"])) == len(got["fetched_keys"])  # no key fetched twice
    assert got == uninterrupted[shape]


def test_uncache_after_a_crashed_round_resumes_to_uninterrupted_run(
    spark, tmpdir_path, uninterrupted
):
    """A round that raises rolls its commits back before the error
    propagates, so an uncache made before the next run() (a snapshot
    without a round) is not stacked on the crashed round's seen commit and
    cannot keep that commit alive through the rerun."""
    c = _crawler(spark, tmpdir_path, "links")
    c.seed(SHAPES["links"][1])
    before = _current_snapshots(c)
    _crash(c, "frontier")  # the round's fetched and seen commits have landed
    del c.frontier_t.overwrite  # undo the injected crash
    assert _current_snapshots(c) == before
    c.uncache("http://never.test/")
    c.run()
    assert _outcome(c) == uninterrupted["links"]
