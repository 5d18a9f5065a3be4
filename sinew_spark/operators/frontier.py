"""Frontier relational core — dedup, politeness caps, priority, robots.

The declarative (Catalyst-optimized) half of the crawl engine. Everything
here is stock DataFrame ops — anti-joins, windows, broadcast joins — so
predicate pushdown, AQE skew handling, and broadcast selection are free.

Semantics from the reference:
- exactly-once fetch: each (method, canonical url, body) identity fetched
  once ever, errors included (/root/reference/README.md:114-116)
- TTL expiry: entries older than `expires` are re-fetched
  (test_base.rb:13-20); force / force_errors bypass the seen check
  (base.rb:38-39, test_main.rb:28-36)
- per-host politeness caps + priority ordering generalize the reference's
  single-threaded program-order fetch (main.rb:24) to a distributed,
  replayable total order (priority, seq)
- robots.txt gating is NEW (the reference explicitly lacks it,
  README.md:199; required by the north rule)
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from sinew_spark.functions.urls import host_expr, path_expr, request_key_expr

FRONTIER_SCHEMA = T.StructType(
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
    ]
)

SEEN_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("method", T.StringType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("fetched_at", T.DoubleType()),
        T.StructField("hop_of", T.StringType()),
        T.StructField("round", T.IntegerType()),
    ]
)


def prepare_frontier(df: DataFrame, canonicalize_udf) -> DataFrame:
    """Canonicalize + derive identity key and host. Input needs url, method,
    body, priority, depth, seq, attempt."""
    out = df.withColumn("canonical_url", canonicalize_udf(F.col("url")))
    out = out.withColumn(
        "key", request_key_expr(F.col("method"), F.col("canonical_url"), F.col("body"))
    ).withColumn("host", host_expr(F.col("canonical_url")))
    return out.select([f.name for f in FRONTIER_SCHEMA.fields])


def dedup_within_round(frontier: DataFrame) -> DataFrame:
    """Keep the first (lowest seq) row per identity key within a round —
    deterministic, unlike dropDuplicates.

    The output keeps the GROUPING attribute as ``key`` (rather than
    re-extracting it from the min_by struct): Catalyst then knows the
    result is still hash-partitioned AND sorted by key, so the downstream
    seen anti-join reuses the dedup's exchange+sort instead of reshuffling
    the whole candidate set — one frontier-wide shuffle per round, not two
    (verified via explain: no Exchange between this aggregate and the
    SortMergeJoin's left side)."""
    others = [f.name for f in FRONTIER_SCHEMA.fields if f.name != "key"]
    # ordering struct, not bare seq: seq is unique across parents only up
    # to the per-page outlink cap, and seed seqs share the link namespace
    # — on a residual (key, seq) tie the (depth, priority, attempt)
    # components keep the pick total instead of arbitrary (replay
    # determinism is the whole point of this dedup)
    ordering = F.struct(
        F.col("seq"), F.col("depth"), F.col("priority"), F.col("attempt")
    )
    return (
        frontier.groupBy("key")
        .agg(F.min_by(F.struct(*others), ordering).alias("r"))
        .select("key", *[F.col(f"r.{c}").alias(c) for c in others])
        .select([f.name for f in FRONTIER_SCHEMA.fields])
    )


def anti_join_seen(
    frontier: DataFrame,
    seen: DataFrame,
    expires: float | None = None,
    force: bool = False,
    force_errors: bool = False,
    now: float | None = None,
) -> DataFrame:
    """Exact exactly-once filter: left-anti join on identity key against the
    live portion of the seen set.

    - expires: seen entries older than `expires` seconds don't block a
      refetch (TTL as miss, test_base.rb:13-20)
    - force: all seen entries ignored (test_main.rb:28-36)
    - force_errors: error-class seen entries ignored (base.rb:39) —
      status >= 400 OR status < 100 (the transport stamps -1 on
      DNS/timeout/TLS and on a redirect-limit failure; those are errors
      a recrawl must retry just as much as a 5xx). Live = 100..399.
    """
    if force:
        return frontier
    live = seen
    if expires is not None:
        now = time.time() if now is None else now
        live = live.where(F.col("fetched_at") >= F.lit(now - expires))
    if force_errors:
        live = live.where(F.col("status").between(100, 399))
    return frontier.join(live.select("key"), "key", "left_anti")


def apply_url_scope(
    frontier: DataFrame,
    allow: tuple | list | None = None,
    deny: tuple | list | None = None,
    col: str = "canonical_url",
) -> DataFrame:
    """Crawl scoping: keep rows matching ANY ``allow`` regex (all rows when
    allow is empty), then drop rows matching any ``deny`` regex. Pure
    Catalyst ``rlike`` folds — zero shuffle, zero Python; at scale it's a
    map-side filter that prunes before the fetch stage ever sees the row.
    Generalizes the reference's ``url_prefix`` runtime option
    (/root/reference/README.md:147-155) to regex allow/deny lists."""
    out = frontier
    c = F.col(col)
    if allow:
        keep = None
        for pat in allow:
            m = c.rlike(pat)
            keep = m if keep is None else (keep | m)
        out = out.where(keep)
    for pat in deny or ():
        out = out.where(~c.rlike(pat))
    return out


def per_host_cap(
    frontier: DataFrame,
    cap: int | None,
    host_remaining: DataFrame | None = None,
    default_remaining: int | None = None,
) -> DataFrame:
    """Politeness/skew guard: at most `cap` URLs per host per round, chosen
    by (priority, seq). A host with 20% of the frontier gets the same
    per-round budget as any other — the rest waits, keeping fetch-task skew
    bounded at cap rows.

    ``host_remaining``: optional (host, remaining) table of TOTAL-crawl
    budget left per host (CrawlOptions.host_budget) — O(hosts) rows,
    broadcast; hosts absent from it get ``default_remaining``. The round's
    effective limit is min(cap, remaining), so a host stops drawing fetch
    slots forever once its lifetime budget is spent while per-round skew
    stays bounded."""
    w = F.row_number().over(Window.partitionBy("host").orderBy("priority", "seq"))
    out = frontier
    lim = F.lit(cap) if cap is not None else None
    if host_remaining is not None:
        out = out.join(
            F.broadcast(host_remaining.select("host", "remaining")), "host", "left"
        )
        rem = F.coalesce(F.col("remaining"), F.lit(default_remaining))
        lim = rem if lim is None else F.least(lim, rem)
    elif default_remaining is not None:
        # budget mode before any spend ledger exists: every host has the
        # full budget remaining
        d = F.lit(default_remaining)
        lim = d if lim is None else F.least(lim, d)
    if lim is None:
        return frontier
    out = out.withColumn("_rn", w).where(F.col("_rn") <= lim).drop("_rn")
    if host_remaining is not None:
        out = out.drop("remaining")
    return out


def per_group_cap(
    frontier: DataFrame,
    cap: int,
    host_groups: DataFrame,
    group_col: str = "ip",
) -> DataFrame:
    """IP-politeness (Heritrix's queue-assignment-policy by IP): at most
    ``cap`` URLs per SERVER GROUP per round, where ``host_groups`` maps
    host -> group (an IP, a /24, a registrable domain — any shared-
    capacity key). Virtual-host farms that spread one server across
    thousands of hostnames defeat a per-HOST cap; grouping by resolved
    IP restores the per-server budget. Hosts absent from the mapping
    form their own singleton group (ungrouped hosts lose nothing). A host
    mapped to several groups (e.g. two A records) joins its smallest
    group, so each frontier row is kept or dropped once, deterministically.

    Selection within a group is (priority, seq) — the same deterministic
    order per_host_cap uses, with host as the final tie-break so replay
    is total. Compose AFTER per_host_cap: host cap bounds fetch-task
    skew, group cap bounds per-server load.

    Scale shape: the mapping is O(distinct hosts) and BROADCAST; the
    window partitions by group key — bounded at cap rows per group per
    round, exactly like the host window. No extra shuffle beyond the
    group window's.
    """
    if cap < 1:
        raise ValueError("cap must be >= 1")
    m = host_groups.groupBy(F.col("host").alias("_gh")).agg(
        F.min(group_col).alias("_grp")
    )
    out = frontier.join(F.broadcast(m), frontier["host"] == F.col("_gh"), "left")
    grp = F.coalesce(F.col("_grp"), F.concat(F.lit("\x00host:"), F.col("host")))
    w = F.row_number().over(
        Window.partitionBy(grp).orderBy("priority", "seq", "host")
    )
    return (
        out.withColumn("_rn", w)
        .where(F.col("_rn") <= cap)
        .drop("_rn", "_gh", "_grp")
    )


def apply_robots(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """Drop frontier rows whose path falls under a disallowed prefix for the
    host. `robots` is (host, disallow_prefix) — tiny, so broadcast; the probe
    is a prefix match, no shuffle on the frontier side.

    The reference does NOT implement robots (README.md:199) — this is the
    north-rule addition."""
    r = F.broadcast(robots.select(F.col("host").alias("r_host"), F.col("disallow_prefix")))
    joined = frontier.join(
        r,
        (F.col("host") == F.col("r_host"))
        & path_expr(F.col("canonical_url")).startswith(F.col("disallow_prefix")),
        "left_outer",
    )
    return joined.where(F.col("r_host").isNull()).drop("r_host", "disallow_prefix")


def apply_robots_longest_match(frontier: DataFrame, rules: DataFrame) -> DataFrame:
    """Full REP rule precedence (RFC 9309 §2.2.2 / Google REP): among
    all rules whose prefix matches the URL path, the LONGEST wins; a
    length tie goes to Allow; no matching rule means allowed. ``rules``
    is (host, prefix, is_allow) from functions/robots.py
    robots_rules_full. The conservative gate (``apply_robots``) blocks
    on ANY disallow match — safe but under-fetches where a longer Allow
    re-permits a subtree; this gate fetches exactly what the standard
    permits.

    Scale shape: zero shuffle on the frontier — the per-host rule sets
    (tiny by nature) are collect_list'd and broadcast once; the
    longest-match scan is two array folds per row inside codegen, no
    row multiplication (unlike the rule-join approach, one output row
    per input row regardless of how many rules match)."""
    # older rules tables (pre-wildcard) lack pattern_re: treat all plain
    pat = (
        F.col("pattern_re")
        if "pattern_re" in rules.columns
        else F.lit(None).cast("string")
    )
    per_host = F.broadcast(
        rules.groupBy("host").agg(
            F.collect_list(
                F.struct(F.col("prefix"), F.col("is_allow"), pat.alias("pattern_re"))
            ).alias("__rules")
        )
    )
    j = frontier.join(per_host, "host", "left")
    path = path_expr(F.col("canonical_url"))
    # RFC 9309 §2.2.3: wildcard rules ('*' / trailing '$') match via their
    # compiled anchored regex; plain prefixes keep the startswith fast
    # path. Precedence length stays the PATTERN string length both ways
    # (Google's reference matcher does the same).
    matching = F.filter(
        F.col("__rules"),
        lambda r: F.when(
            r["pattern_re"].isNull(), path.startswith(r["prefix"])
        ).otherwise(F.regexp_like(path, r["pattern_re"])),
    )

    def longest(pred):
        return F.aggregate(
            F.filter(matching, pred),
            F.lit(0),
            lambda a, r: F.greatest(a, F.length(r["prefix"])),
        )

    best_allow = longest(lambda r: r["is_allow"])
    best_dis = longest(lambda r: ~r["is_allow"])
    return j.where(F.col("__rules").isNull() | (best_allow >= best_dis)).drop(
        "__rules"
    )


# above this budget the single-partition merge behind TakeOrderedAndProject
# becomes the bottleneck (budget x ~150 B frontier rows through ONE task —
# 15 GB at the design point's 10^8-URL rounds) and the distributed
# range-partitioned top-k takes over
LARGE_BUDGET_ROWS = 2_000_000


def take_round_budget(
    frontier: DataFrame, budget: int | None, large_threshold: int = LARGE_BUDGET_ROWS
) -> DataFrame:
    """Global round budget: top-`budget` rows by (priority, seq).

    Small budgets use limit+orderBy — Spark's TakeOrderedAndProject does
    per-partition top-k then one merge, no total sort; right up until the
    merge task has to hold the whole budget. Large budgets (the design
    point selects 10^8 URLs/round) switch to a distributed top-k:

    1. ``repartitionByRange(priority, seq)`` — ordered ranges across P
       partitions ((priority, seq) is unique, so ranges are total).
    2. count rows per range partition (one tiny P-row aggregate to the
       driver; the range shuffle's files are reused by the next job).
    3. partitions wholly inside the budget pass entirely, the boundary
       partition locally sorts and takes the remainder, later ones drop —
       a per-partition head via mapInPandas + TaskContext, no further
       shuffle and never more than one partition's rows sorted anywhere.

    Range sampling is NOT stable across actions (measured), so phase 2
    never reuses phase-1 partition placement: it filters the original
    frontier by the VALUE thresholds phase 1 derived, which select the
    identical set under any partitioning. When the frontier carries a
    ``key`` column it joins the sort key as the final tiebreak, making
    ranges total even if (priority, seq) collides (seed and link seqs
    share a namespace; beyond the per-page outlink cap collisions are
    possible) — boundary picks then replay identically. Null priorities
    sort FIRST (most urgent) in both paths, matching orderBy's
    nulls-first default, so the two paths agree on any input."""
    if budget is None:
        return frontier
    has_key = "key" in frontier.columns
    tie = [F.col("key")] if has_key else []
    # priority normalized null -> -inf: orderBy sorts nulls FIRST, but a
    # null inside the phase-2 range predicates would evaluate to NULL and
    # silently DROP the row from both sides — normalizing makes the two
    # paths agree on any input
    prio = F.coalesce(F.col("priority"), F.lit(float("-inf"))).alias("priority")
    if budget <= large_threshold:
        return frontier.orderBy(prio, "seq", *tie).limit(budget)

    par = frontier.sparkSession.sparkContext.defaultParallelism
    sk = F.struct(prio, F.col("seq"), *tie)
    # phase 1 (one action, internally consistent): per-range row count and
    # actual [min, max] sort-key, ranges contiguous and pid-ordered
    stats = (
        frontier.repartitionByRange(par * 2, prio, F.col("seq"), *tie)
        .select(F.spark_partition_id().alias("pid"), sk.alias("sk"))
        .groupBy("pid")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("sk").alias("lo"), F.max("sk").alias("hi"))
        .collect()
    )
    acc, boundary = 0, None
    for row in sorted(stats, key=lambda r: r.pid):
        if acc + row.cnt >= budget:
            boundary = row
            break
        acc += int(row.cnt)
    if boundary is None:  # budget >= total rows
        return frontier

    def _sk_lit(v):
        fields = [
            F.lit(v.priority).cast("double").alias("priority"),
            F.lit(v.seq).cast("bigint").alias("seq"),
        ]
        if has_key:
            fields.append(F.lit(v.key).alias("key"))
        return F.struct(*fields)

    lo, hi = _sk_lit(boundary.lo), _sk_lit(boundary.hi)
    # phase 2: keys strictly below the boundary range all pass (exactly
    # `acc` rows — earlier ranges end below the boundary range's true min);
    # the boundary range's own rows (~frontier/2P of the data) go through
    # an ordinary top-r, the only merge anywhere and never larger than one
    # range's rows
    passed = frontier.where(sk < lo)
    edge = (
        frontier.where((sk >= lo) & (sk <= hi))
        .orderBy(prio, "seq", *tie)
        .limit(budget - acc)
    )
    return passed.unionByName(edge)


def resolve_redirects(
    urls: DataFrame,
    edges: DataFrame,
    max_hops: int = 5,
    url_col: str = "url",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """C9: resolve each URL through a redirect-edge table to its final URL
    (reference follows 3xx chains and exposes `response.url` as the final
    hop, /root/reference/lib/sinew/response.rb:47-49; each hop is cached as
    its own entry, lib/sinew/base.rb:209-211).

    Bounded iterative equi-join — one hash join per hop (crawlers cap
    redirect chains; faraday's default limit is 3). Each hop joins on the
    *current* URL so AQE handles skewed redirect targets; rows that have
    already terminated pass through the join unchanged via the left join +
    coalesce, so the loop is a fixpoint after the longest chain. No
    driver-side row iteration.

    Returns (url, final_url, n_hops).
    """
    cur = urls.select(
        F.col(url_col).alias("url"),
        F.col(url_col).alias("final_url"),
        F.lit(0).alias("n_hops"),
    )
    e = edges.select(F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst"))
    for _ in range(max_hops):
        cur = cur.join(e, cur["final_url"] == e["_src"], "left").select(
            "url",
            F.coalesce("_dst", "final_url").alias("final_url"),
            (
                F.col("n_hops")
                + F.when(F.col("_dst").isNotNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_hops"),
        )
    return cur


def retry_requeue(
    requests: DataFrame, status_col: str = "status", retries: int = 2
) -> DataFrame:
    """C8: retry-with-requeue. Requests whose status is a 5xx are re-queued
    with attempt+1 until attempt > retries — the reference retries on
    status 500..600, default `retries: 2` -> 3 total attempts; `retries: 4`
    -> 5 requests observed (/root/reference/lib/sinew/base.rb:232-239,
    test/test_base.rb:57-61).

    Returns the attempts log: every input column plus `attempt` (1-based),
    one row per attempt actually made. Deterministic failures (the fixture
    regime) fail every attempt, so a failed request contributes exactly
    retries+1 rows. Unions are narrow (no shuffle); the re-queue is the
    same DataFrame filtered, so Catalyst reuses the scan.
    """
    out = requests.withColumn("attempt", F.lit(1))
    failed = requests.where(
        (F.col(status_col) >= 500) & (F.col(status_col) < 600)
    )
    for a in range(2, retries + 2):
        out = out.unionByName(failed.withColumn("attempt", F.lit(a)))
    return out


def probe_seen(
    frontier: DataFrame,
    seen: DataFrame,
    frontier_key: str = "key",
    seen_key: str = "key",
) -> DataFrame:
    """S9/S10: cache probe — classify each frontier row `hit`/`miss`
    against the seen set (reference `status(...)`/`cached?(...)`,
    /root/reference/lib/sinew/base.rb:95-122). Left join on the identity
    key; the seen side broadcasts when small, else AQE picks the
    strategy. Adds `probe_status` to the frontier rows."""
    s = seen.select(F.col(seen_key).alias("_seen_key")).distinct()
    return frontier.join(
        s, frontier[frontier_key] == s["_seen_key"], "left"
    ).withColumn(
        "probe_status",
        F.when(F.col("_seen_key").isNull(), F.lit("miss")).otherwise(F.lit("hit")),
    ).drop("_seen_key")
