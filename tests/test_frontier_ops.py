"""Unit tests for the declarative frontier operators added for C8/C9/S9:
redirect resolution, retry re-queue, and the seen-set probe.

Reference semantics: redirects followed to a final url
(/root/reference/lib/sinew/response.rb:47-49), retry on 5xx with
`retries`+1 total attempts (lib/sinew/base.rb:232-239,
test/test_base.rb:57-61), cache probe hit/miss (lib/sinew/base.rb:95-122).
"""

import pytest
from pyspark.sql import functions as F

from sinew_spark.operators.frontier import probe_seen, resolve_redirects, retry_requeue


def test_resolve_redirects_chain(spark):
    urls = spark.createDataFrame([("a",), ("b",), ("d",)], ["url"])
    edges = spark.createDataFrame([("a", "b"), ("b", "c"), ("d", "d2")], ["src", "dst"])
    out = {r.url: (r.final_url, r.n_hops) for r in resolve_redirects(urls, edges, 5).collect()}
    assert out == {"a": ("c", 2), "b": ("c", 1), "d": ("d2", 1)}


def test_resolve_redirects_hop_cap(spark):
    urls = spark.createDataFrame([("u0",)], ["url"])
    edges = spark.createDataFrame(
        [(f"u{i}", f"u{i+1}") for i in range(10)], ["src", "dst"]
    )
    row = resolve_redirects(urls, edges, max_hops=3).collect()[0]
    assert (row.final_url, row.n_hops) == ("u3", 3)


@pytest.mark.parametrize("retries,expect_fail_attempts", [(0, 1), (2, 3), (4, 5)])
def test_retry_requeue_attempt_counts(spark, retries, expect_fail_attempts):
    reqs = spark.createDataFrame([(1, 200), (2, 503), (3, 404)], ["id", "status"])
    log = retry_requeue(reqs, retries=retries)
    counts = {
        r.id: r.n for r in log.groupBy("id").agg(F.count("*").alias("n")).collect()
    }
    # only 5xx is retried; 404 is a terminal "error page" like the reference
    assert counts == {1: 1, 2: expect_fail_attempts, 3: 1}
    attempts = sorted(r.attempt for r in log.where(F.col("id") == 2).collect())
    assert attempts == list(range(1, expect_fail_attempts + 1))


def test_probe_seen_hit_miss(spark):
    frontier = spark.createDataFrame([(1, "k1"), (2, "k2"), (3, "k1")], ["id", "key"])
    seen = spark.createDataFrame([("k1",), ("k9",)], ["key"])
    out = {r.id: r.probe_status for r in probe_seen(frontier, seen).collect()}
    assert out == {1: "hit", 2: "miss", 3: "hit"}


def test_salted_join_rejects_dim_preserving_joins(spark):
    """how='right'/'full' would duplicate unmatched dim rows salts times."""
    import pytest

    from sinew_spark.operators.skew import salted_join

    fact = spark.createDataFrame([(1, "x")], "k long, v string")
    dim = spark.createDataFrame([(1, "d"), (2, "e")], "k long, d string")
    with pytest.raises(ValueError):
        salted_join(fact, dim, "k", salts=4, how="right")
    with pytest.raises(ValueError):
        salted_join(fact, dim, "k", salts=4, how="full")
    # inner/left still work and never duplicate
    assert salted_join(fact, dim, "k", salts=4).count() == 1
    assert salted_join(fact, dim, "k", salts=4, how="left").count() == 1


def test_salted_join_deterministic_across_partitionings(spark):
    """The default salt hashes row content, so results (and salts) replay
    identically whatever the input partitioning — task retries and AQE
    re-plans can't change the assignment."""
    from sinew_spark.operators.skew import salted_join

    fact = spark.range(0, 200).selectExpr("id % 3 AS k", "id AS row_id")
    dim = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k long, d string")
    r1 = sorted(map(tuple, salted_join(fact, dim, "k", salts=8).collect()))
    r2 = sorted(map(tuple, salted_join(fact.repartition(13), dim, "k", salts=8).collect()))
    assert r1 == r2 and len(r1) == 200


def test_take_round_budget_scale_path_exact_topk(spark):
    """The distributed range-partitioned top-k (large budgets) selects
    exactly the same set as limit+orderBy, across boundary shapes: budget
    inside one partition, spanning several, zero, and > total."""
    from sinew_spark.operators.frontier import take_round_budget

    df = spark.range(0, 5_000).select(
        (F.col("id") % 17).cast("double").alias("priority"),
        ((F.col("id") * 7919) % 5_000).alias("seq"),
        F.col("id").alias("payload"),
    ).repartition(8)

    for budget in (1, 37, 1_000, 4_999, 5_000, 6_000):
        small = take_round_budget(df, budget).select("priority", "seq", "payload")
        large = take_round_budget(df, budget, large_threshold=0).select(
            "priority", "seq", "payload"
        )
        a = sorted(map(tuple, small.collect()))
        b = sorted(map(tuple, large.collect()))
        assert a == b, f"budget={budget}: scale path diverges"
        assert len(b) == min(budget, 5_000)

    assert take_round_budget(df.limit(0), 10, large_threshold=0).count() == 0


def test_take_round_budget_null_priority_and_ties_deterministic(spark):
    """Null priority sorts first (most urgent) in BOTH paths — the
    scale path must not silently drop it via a NULL range predicate —
    and (priority, seq) collisions are tie-broken by key when present,
    so boundary picks replay identically."""
    from sinew_spark.operators.frontier import take_round_budget

    rows = [
        (None, 5, "knull"),      # null priority: most urgent
        (1.0, 7, "ka"),          # (1.0, 7) collides ...
        (1.0, 7, "kb"),          # ... tie broken by key: ka < kb
        (2.0, 1, "kc"),
    ]
    df = spark.createDataFrame(rows, "priority double, seq long, key string")
    for thresh in (10, 0):  # small path, scale path
        got = sorted(
            (r.key for r in take_round_budget(df, 3, large_threshold=thresh).collect())
        )
        assert got == ["ka", "kb", "knull"], f"threshold={thresh}: {got}"


def test_dedup_within_round_breaks_seq_ties_deterministically(spark):
    """Two frontier rows with the SAME (key, seq) — possible where seed
    and link seq namespaces overlap — must dedup to the same row under
    any partitioning: lowest (seq, depth, priority, attempt) wins."""
    from sinew_spark.operators.frontier import FRONTIER_SCHEMA, dedup_within_round

    base = {f.name: None for f in FRONTIER_SCHEMA.fields}
    mk = lambda **kw: tuple({**base, **kw}[f.name] for f in FRONTIER_SCHEMA.fields)  # noqa: E731
    rows = [
        mk(key=1, url="u", canonical_url="u", method="GET", body="",
           host="h", priority=9.0, depth=3, seq=100, attempt=0),
        mk(key=1, url="u", canonical_url="u", method="GET", body="",
           host="h", priority=2.0, depth=1, seq=100, attempt=0),
    ]
    df = spark.createDataFrame(rows, FRONTIER_SCHEMA)
    for parts in (1, 7):
        out = dedup_within_round(df.repartition(parts)).collect()
        assert len(out) == 1
        assert out[0].depth == 1 and out[0].priority == 2.0


def test_per_group_cap_vhost_farm_vs_singletons(spark):
    from sinew_spark.operators.frontier import per_group_cap

    rows = [(f"v{i}.farm", f"http://v{i}.farm/p{j}", 0.0, i * 100 + j)
            for i in range(3) for j in range(10)]
    rows += [("solo.test", f"http://solo.test/p{j}", 0.0, 1000 + j) for j in range(10)]
    fr = spark.createDataFrame(rows, "host string, url string, priority double, seq long")
    groups = spark.createDataFrame(
        [(f"v{i}.farm", "10.0.0.1") for i in range(3)], "host string, ip string"
    )
    out = per_group_cap(fr, cap=6, host_groups=groups)
    got = {h: n for h, n in out.groupBy("host").count().collect()}
    # the 3 vhosts share ONE budget of 6 — lowest seq wins, all from v0
    assert got == {"v0.farm": 6, "solo.test": 6}
    # a per-host cap would have admitted 18 from the farm
    sel = sorted(r.seq for r in out.where(F.col("host") != "solo.test").collect())
    assert sel == [0, 1, 2, 3, 4, 5]


def test_per_group_cap_priority_and_validation(spark):
    import pytest as _pytest

    from sinew_spark.operators.frontier import per_group_cap

    fr = spark.createDataFrame(
        [("a", "u1", 0.0, 5), ("b", "u2", -1.0, 9), ("a", "u3", 0.0, 1)],
        "host string, url string, priority double, seq long",
    )
    groups = spark.createDataFrame([("a", "g"), ("b", "g")], "host string, ip string")
    out = per_group_cap(fr, cap=2, host_groups=groups).collect()
    # priority ranks before seq: b's -1.0 first, then a's seq 1
    assert sorted((r.host, r.seq) for r in out) == [("a", 1), ("b", 9)]
    with _pytest.raises(ValueError):
        per_group_cap(fr, cap=0, host_groups=groups)


def test_per_group_cap_host_with_two_ips(spark):
    """A host listed under two IPs keeps each frontier row once and joins
    its smallest group deterministically (here 10.0.0.1, shared with b)."""
    from sinew_spark.operators.frontier import per_group_cap

    rows = [("a.test", f"http://a.test/p{j}", 0.0, j) for j in range(4)]
    rows += [("b.test", f"http://b.test/p{j}", 0.0, 10 + j) for j in range(4)]
    fr = spark.createDataFrame(rows, "host string, url string, priority double, seq long")
    groups = spark.createDataFrame(
        [("a.test", "10.0.0.2"), ("a.test", "10.0.0.1"), ("b.test", "10.0.0.1")],
        "host string, ip string",
    )
    for parts in (1, 3):
        out = per_group_cap(fr.repartition(parts), cap=5, host_groups=groups)
        got = sorted(r.seq for r in out.collect())
        # one shared budget of 5 across a and b: a's 4 rows, then b's first
        assert got == [0, 1, 2, 3, 10]
        assert out.columns == fr.columns
