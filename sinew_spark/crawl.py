"""Crawler — the distributed frontier loop (BFS supersteps).

The reference's "query lifecycle" is an imperative recipe: each `get` hits
the cache-or-network, each emit appends a CSV row
(/root/reference/lib/sinew/main.rb:18-29). The engine's lifecycle is a
round loop of declarative DataFrame plans:

  frontier --dedup(round)--> --seen filter (exact shard probe |
  anti-join)--> --depth/scope/robots--> --per-host cap--> --budget-->
  FETCH (Arrow; per-host groups when paced) --> seen += keys (+redirect hops)
  --> PARSE --> documents += spans
  --> links -> next frontier (deterministic seq)  [repeat]

Durability/resumability: frontier, seen, fetched, host_counts, host_state
and metrics are snapshot tables (plans/snapshots.py; documents is a view of
fetched). ``run_round`` commits them in one fixed order — fetched, seen,
host_counts, host_state, frontier, metrics — and the metrics row is the
round's commit record: a round that raises before it rolls its other
commits back (``_recover``), and so does a Crawler opened over a round that
died before it, so the round reruns and a killed crawl resumes with
identical tables and ordering (seq is data, not runtime state). The exact
seen index
(sorted shard runs of key + per-class max fetched_at) is snapshot-synced
truth with an anti-join fallback, and the round's only seen sidecar: every
probe is a binary search over its worker-cached runs (operators/bloom.py
says why the Bloom prefilter left this path).

Determinism: every row carries (priority, seq); seq for discovered links is
parent_seq * LINK_STRIDE + link_index, so replay ordering is a pure function
of the seed list — the reference's program-order guarantee, distributed.

Scale notes (100 TB design point):
- shuffles per round: groupBy(key) round-dedup (whose exchange+sort the
  downstream seen filter reuses) and groupBy(host) for paced fetch —
  nothing else: the exactly-once check is a shard-local probe whose
  key-only filter Catalyst pushes below the dedup shuffle (seen rows
  never shuffle) — one seen index, SeenKeyShardStore, answers plain
  membership and the TTL/force_errors semantics (per-key class-max
  fetched_at) alike, so even the continuous-recrawl mode never joins
  against the seen table; the anti-join fallback serves small-seen runs
- per-host caps bound fetch-task skew regardless of host distribution
- parse is fused into the Arrow fetch stage (shuffle-free mapInArrow when
  unpaced); no O(rows) driver pulls anywhere in
  the round loop: the round's counts are DataFrame.observe metrics of the
  fetched write itself (one row to the driver, no job of their own)
- a round whose every candidate was fetched held nothing back, so its next
  frontier is the discovered links alone (empty, and committed with no
  job, when links are not followed)
"""

from __future__ import annotations

import contextlib
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from sinew_spark.functions.localhash import request_key_local
from sinew_spark.functions.urls import (
    canonicalize_url_str,
    host_expr,
    make_canonicalize_udf,
    request_key_expr,
)
from sinew_spark.operators.bloom import SeenKeyShardStore
from sinew_spark.operators.frontier import (
    FRONTIER_SCHEMA,
    LARGE_BUDGET_ROWS,
    SEEN_SCHEMA,
    anti_join_seen,
    apply_robots,
    apply_url_scope,
    dedup_within_round,
    per_host_cap,
    prepare_frontier,
    take_round_budget,
)
from sinew_spark.operators.parse import PARSED_SCHEMA
from sinew_spark.plans.snapshots import SnapshotTable
from sinew_spark.sources.fetch import (
    FETCH_PARSED_SCHEMA,
    Fetcher,
    fetch_rows,
    partition_by_host,
)

LINK_STRIDE = 1_000  # seq slots reserved per parent for discovered links

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("round", T.IntegerType()),
        T.StructField("candidates", T.LongType()),
        T.StructField("selected", T.LongType()),
        T.StructField("fetched", T.LongType()),
        T.StructField("errors", T.LongType()),
        T.StructField("not_modified", T.LongType()),  # 304 revalidations
        T.StructField("new_links", T.LongType()),
        T.StructField("duration_sec", T.DoubleType()),
        T.StructField("ts", T.DoubleType()),
    ]
)

HOST_STATE_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("cookies", T.StringType()),  # JSON jar (C11)
        T.StructField("round", T.IntegerType()),
    ]
)

HOST_COUNTS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("n", T.LongType()),  # pages fetched this round
        T.StructField("round", T.IntegerType()),
    ]
)

_FETCHED_WITH_ROUND = T.StructType(FETCH_PARSED_SCHEMA.fields + [T.StructField("round", T.IntegerType())])
_PARSED_WITH_ROUND = T.StructType(PARSED_SCHEMA.fields + [T.StructField("round", T.IntegerType())])


def latest_validators(fetched: DataFrame) -> DataFrame:
    """Per-key HTTP validators for conditional revalidation: the latest
    NON-NULL value of each validator independently (not the latest row's
    pair). RFC 9110 §15.4.5: a 304 may re-send only one validator — e.g.
    Last-Modified without ETag — and the omitted one stays valid, so
    taking the newest row's (etag, last_modified) struct would silently
    drop a still-valid ETag and degrade every later revalidation of that
    page to If-Modified-Since-only. max_by ignores rows whose ordering
    expression is null, which yields exactly latest-non-null per field."""
    return (
        fetched.where(F.col("etag").isNotNull() | F.col("last_modified").isNotNull())
        .groupBy("key")
        .agg(
            F.max_by(
                F.col("etag"),
                F.when(F.col("etag").isNotNull(), F.col("fetched_at")),
            ).alias("etag"),
            F.max_by(
                F.col("last_modified"),
                F.when(F.col("last_modified").isNotNull(), F.col("fetched_at")),
            ).alias("last_modified"),
        )
    )


def host_report(fetched: DataFrame) -> DataFrame:
    """Per-host crawl operations report — the monitoring table an operator
    watches during a long crawl: page counts by outcome class, body
    bytes, retry pressure, and recency per host. One map-side-combinable
    groupBy (a single hash shuffle carrying one row per host), safe at
    any frontier scale.

    Outcome classes are DISJOINT: ok = 2xx, redirects = 3xx,
    http_errors = 4xx/5xx, transport_errors = status < 100, i.e. below
    the HTTP status space (the live transport stamps -1 on DNS/timeout/
    TLS, fetch.py). Classifying transport by status, not by ``error``:
    retry-exhausted 5xx rows also carry a non-null ``error``
    ("status 503"), and counting those would report phantom DNS/TLS
    failures equal to the 5xx count. ``bytes`` sums
    stored body octets (post-decode); rows whose body was never stored
    (304s, errors) contribute 0."""
    status = F.col("status")
    return (
        fetched.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("pages"),
            F.sum(status.between(200, 299).cast("long")).alias("ok"),
            F.sum(status.between(300, 399).cast("long")).alias("redirects"),
            F.sum(status.between(400, 599).cast("long")).alias("http_errors"),
            F.sum((F.coalesce(status, F.lit(-1)) < 100).cast("long")).alias(
                "transport_errors"
            ),
            F.sum(
                F.coalesce(F.octet_length("resp_body"), F.lit(0)).cast("long")
            ).alias("bytes"),
            F.sum(F.col("n_attempts").cast("long")).alias("attempts"),
            F.min("round").alias("first_round"),
            F.max("round").alias("last_round"),
            F.max("fetched_at").alias("last_fetched_at"),
        )
    )


class _DocumentsView:
    """The documents table as a zero-copy projection of the fused fetched
    table. One physical copy of the span data exists; this view is the
    Iceberg-style "virtual table" over it. Column pruning ensures document
    readers scan only span columns, never bodies."""

    def __init__(self, fetched_t: SnapshotTable):
        self._t = fetched_t

    @staticmethod
    def _project(df: DataFrame) -> DataFrame:
        # a 304 revalidation is not a new document (the body never came
        # over the wire) — the prior round's row is still the document
        return df.where(F.coalesce(F.col("status"), F.lit(0)) != 304).select(
            F.col("canonical_url").alias("doc_id"),
            "final_url", "status", "content_type", "seq", "depth",
            "spans", "links", "round",
        )

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        return self._project(self._t.read(snapshot_id))

    def read_delta(self, snapshot_id: int, target_partitions: int | None = None) -> DataFrame:
        return self._project(self._t.read_delta(snapshot_id, target_partitions))

    def snapshots(self):
        return self._t.snapshots()

    def current_snapshot(self):
        return self._t.current_snapshot()


@dataclass
class CrawlOptions:
    """Mirrors sinew's option surface (/root/reference/lib/sinew/base.rb:13-54)
    plus the distributed knobs the reference doesn't need."""

    rate_limit: float = 0.0
    retries: int = 2
    timeout: float = 30.0
    expires: float | None = None
    force: bool = False
    force_errors: bool = False
    # HTTP revalidation on recrawl (force/force_errors/expires modes):
    # re-offered pages send their stored validators (If-None-Match /
    # If-Modified-Since); a 304 answer refreshes seen/TTL state without
    # body transfer or re-parse. The reference can't do this (httpdisk
    # serves stale or refetches whole); at the 10^10-URL design point a
    # TTL recrawl's bandwidth is dominated by unchanged pages, and this
    # plus the WARC revisit sink makes recrawl cost track CHANGE rate.
    revalidate: bool = False
    ignore_params: tuple = ()
    url_prefix: str | None = None
    # crawl scoping beyond url_prefix: regex allow/deny lists over the
    # canonical URL (operators/frontier.py apply_url_scope — zero-shuffle
    # Catalyst rlike folds applied both to the round's candidates and to
    # discovered links, so out-of-scope URLs never persist in the frontier)
    url_allow: tuple = ()
    url_deny: tuple = ()
    # lifetime per-host fetch budget (None = unlimited): a host stops
    # drawing fetch slots once `host_budget` pages were ever fetched from
    # it — domain fairness at corpus scale. Spend is tracked as an
    # O(hosts) per-round append (host_counts table), aggregated + broadcast
    # at round start; exhausted hosts' rows leave the frontier like
    # robots-blocked ones.
    host_budget: int | None = None
    # adaptive throttling (None = off): hosts that answered 429 or 5xx in
    # the PREVIOUS round are paced at `auto_throttle` seconds per request
    # this round — the cross-round generalization of the in-attempt retry
    # backoff (a server saying "slow down" keeps saying it across rounds).
    # Composes with robots Crawl-delay through the same host_delays
    # mechanism (per-host max of all asks); derived from an O(delta)
    # pruned scan of last round's fetched delta, never the full history.
    auto_throttle: float | None = None
    # latency-adaptive politeness (None = off): every host fetched in the
    # PREVIOUS round is paced this round at `adaptive_politeness` x its
    # observed mean request latency (Heritrix's delay-factor rule), with
    # scheduler.adaptive_host_delay's clamps and its 4x AIMD backoff when
    # the host's 429/5xx fraction trips. Complements auto_throttle (error
    # pacing, fixed delay) with a load-proportional schedule; both compose
    # with robots Crawl-delay via the per-host max of all asks. Forces the
    # grouped (paced) fetch path whenever a previous round exists.
    adaptive_politeness: float | None = None
    params: dict = field(default_factory=dict)
    headers: dict = field(default_factory=dict)  # default headers per request
    insecure: bool = False  # skip SSL verification (README.md:150)
    # utf8=False opts OUT of charset transcoding (reference base.rb:50):
    # bodies keep their wire bytes 1:1 (ISO-8859-1 view — total and
    # byte-reversible), no sniff, no U+FFFD -> '?' substitution. For
    # binary scrapes or recipes that do their own decoding.
    utf8: bool = True
    proxies: tuple = ()
    limit: int | None = None  # emitted-row limit (recipes)
    # distributed knobs
    per_host_cap: int | None = 10_000  # None = uncapped (skips the host window)
    round_budget: int | None = None
    max_rounds: int = 20
    max_depth: int | None = None
    follow_links: bool = False
    # crawl-trap guard over discovered links (operators/traps.py):
    # None = off; N = prune templates minting > N URLs in one round,
    # plus depth/cycle signals below
    trap_max_urls: int | None = None
    trap_max_depth: int = 8
    trap_max_repeats: int = 3
    # periodic seen-table compaction (None = never): every N rounds,
    # rewrite seen into compact_target_files consolidated files
    compact_seen_every: int | None = None
    compact_target_files: int = 8
    # sizing of a standalone BloomShardStore (operators/bloom.py); the
    # crawl round builds none
    bloom_capacity: int = 1_000_000
    # shard count of the exact seen index
    bloom_shards: int = 8
    # exactly-once filter strategy: True = shard-local exact key probe
    # (zero shuffle — the scale path), False = exact anti-join (AQE
    # broadcasts a small seen side for free), None = auto by seen size
    exact_shards: bool | None = None


# below this, the seen key column broadcasts and the anti-join is cheaper
# than a shard sync+probe's fixed job cost; above it, the join's seen-side
# shuffle grows with the table while the shard probe stays delta+shard cost
EXACT_SHARDS_AUTO_ROWS = 5_000_000


@dataclass
class _Round:
    """What a round's stages hand on: its number, the seen-probe plan, the
    per-host fetch delays (None: unpaced unless rate_limit), the frontier it
    read, the Observations that count its candidates and its fetched rows at
    the fetched write, and the snapshot each of its commits made."""

    rnd: int
    use_shards: bool = False
    host_delays: DataFrame | None = None
    frontier: DataFrame | None = None
    cand_obs: Observation = field(default_factory=Observation)
    fetch_obs: Observation = field(default_factory=Observation)
    snaps: dict = field(default_factory=dict)


def _merge_jars(rows: DataFrame, group: str, order: str, out: str, now: float) -> DataFrame:
    """One cookie jar per ``group`` value, as (group, out) JSON: the
    per-record merge of the rows' jars (cookies.merge_host_jars), ties
    ranked by ``order``. ``now`` is the run-start stamp — replay-stable
    within the run — past which records expired >30d ago are dropped,
    bounding jar growth on a long crawl."""

    def merge(pdf):
        import pandas as pd

        from sinew_spark.functions.cookies import merge_host_jars

        js = merge_host_jars(list(zip(pdf[order], pdf["host"], pdf["cookies"])), now=now)
        return pd.DataFrame({group: [pdf[group].iloc[0]], out: [js]})

    cols = list(dict.fromkeys([group, order, "host", "cookies"]))
    return rows.select(*cols).groupBy(group).applyInPandas(merge, f"{group} string, {out} string")


class Crawler:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        fetcher: Fetcher,
        options: CrawlOptions | None = None,
        robots: DataFrame | None = None,
        crawl_delays: DataFrame | None = None,
    ):
        self.spark = spark
        self.workdir = workdir
        self.fetcher = fetcher
        self.opts = options or CrawlOptions()
        self.robots = robots
        # robots Crawl-delay table (host, crawl_delay) — see
        # functions/robots.py robots_crawl_delays; overrides rate_limit
        # upward per host inside the fetch stage
        self.crawl_delays = crawl_delays
        self.canonicalize = make_canonicalize_udf(
            url_prefix=self.opts.url_prefix,
            default_params=self.opts.params,
            ignore_params=self.opts.ignore_params,
        )
        # one Crawler = one run: force/force_errors re-admission (the next
        # frontier's pruning, _prune_frontier)
        # distinguishes "attempted THIS run" from "seen in a previous run"
        # by fetched_at >= this stamp — the same cross-machine clock
        # doctrine the TTL (expires) comparison already relies on
        self._run_started_at = time.time()
        self.frontier_t = SnapshotTable(spark, os.path.join(workdir, "frontier"), FRONTIER_SCHEMA)
        self.seen_t = SnapshotTable(spark, os.path.join(workdir, "seen"), SEEN_SCHEMA)
        self.fetched_t = SnapshotTable(spark, os.path.join(workdir, "fetched"), _FETCHED_WITH_ROUND)
        self.documents_t = _DocumentsView(self.fetched_t)
        self.metrics_t = SnapshotTable(spark, os.path.join(workdir, "metrics"), METRICS_SCHEMA)
        self.host_state_t = SnapshotTable(spark, os.path.join(workdir, "host_state"), HOST_STATE_SCHEMA)
        # lifetime per-host spend ledger (host_budget): one O(hosts) row
        # group appended per round; written/read only when the budget knob
        # is on
        self.host_counts_t = SnapshotTable(
            spark, os.path.join(workdir, "host_counts"), HOST_COUNTS_SCHEMA
        )
        # the exact seen index: the anti-join's zero-shuffle replacement
        # for every exactly-once mode (per-key class-max fetched_at answers
        # plain, TTL and force_errors probes with anti_join_seen's exact
        # semantics)
        self._seen_keys = SeenKeyShardStore(
            os.path.join(workdir, "seen.keys.d"), n_shards=self.opts.bloom_shards
        )
        self._round: int | None = None  # read from metrics, then cached
        self.current_round()  # recovers a round that died before its metrics row

    # --- seeding ----------------------------------------------------------------

    def seed(self, urls: list[str | tuple], priority: float = 0.0) -> None:
        """Seed the frontier. Program order -> consecutive seq (the
        reference's recipe order, main.rb:24). urls items: str or
        (url, method, body)."""
        rows = []
        for i, u in enumerate(urls):
            if isinstance(u, tuple):
                url, method, body = u
            else:
                url, method, body = u, "GET", ""
            rows.append((url, method.upper(), body, priority, 0, i, 0))
        schema = "url string, method string, body string, priority double, depth int, seq long, attempt int"
        self.seed_df(self.spark.createDataFrame(rows, schema))

    @staticmethod
    def post_json(url: str, obj) -> tuple[str, str, str]:
        """S3 convenience mirroring sinew's ``post_json`` (lib/sinew/
        base.rb:77-81): JSON-encode the body compactly (Ruby ``to_json``
        style — no spaces, insertion key order) and mark the request POST.
        The encoded body is part of the identity key, so equal objects are
        one fetch. Returns a ``seed()``-ready (url, method, body) tuple."""
        import json

        return (url, "POST", json.dumps(obj, separators=(",", ":")))

    def seed_df(self, urls_df: DataFrame) -> int:
        """DataFrame-native seeding — the scale path for recipe chaining:
        the next step's URLs stay a distributed plan end-to-end (no driver
        round-trip of fetched rows). Requires columns (url, seq); method,
        body, priority, depth, attempt are defaulted when absent. seq is
        the caller's program order (replay-deterministic). Returns the
        seeded frontier snapshot id: its rows carry each URL's canonical
        form and key, so callers read them back instead of canonicalizing
        again."""
        df = urls_df
        defaults = {
            "method": F.lit("GET"),
            "body": F.lit(""),
            "priority": F.lit(0.0),
            "depth": F.lit(0),
            "attempt": F.lit(0),
        }
        for c, d in defaults.items():
            if c not in df.columns:
                df = df.withColumn(c, d)
        df = df.select(
            F.col("url").cast("string"),
            F.col("method").cast("string"),
            F.col("body").cast("string"),
            F.col("priority").cast("double"),
            F.col("depth").cast("int"),
            F.col("seq").cast("long"),
            F.col("attempt").cast("int"),
        )
        prepared = prepare_frontier(df, self.canonicalize)
        return self.frontier_t.overwrite(prepared, {"op": "seed_df"})

    # --- the round ---------------------------------------------------------------

    def _throttle_delays(self, rnd: int):
        """host_delays for this round: robots Crawl-delay asks unioned with
        adaptive throttling (opts.auto_throttle) — hosts that answered 429
        or 5xx (or transport errors) in the previous round get paced at
        auto_throttle sec/request this round, per-host max of all asks.
        Latency-adaptive pacing (opts.adaptive_politeness) adds a third
        ask: every host fetched last round paced at delay-factor x its
        observed mean latency (scheduler.adaptive_host_delay — clamps +
        AIMD error backoff). O(delta) pruned scans of last round's
        fetched rows; returns None when nothing needs pacing so the
        unpaced shuffle-free fetch path stays available."""
        prev_exists = self.fetched_t.current_snapshot() is not None
        asks = []
        if self.crawl_delays is not None:
            asks.append(self.crawl_delays.select("host", "crawl_delay"))
        if self.opts.auto_throttle is not None and prev_exists:
            bad = (
                (F.col("status") == 429)
                | (F.col("status") >= 500)
                | (F.col("status") < 0)
            )
            throttled = (
                self.fetched_t.read()
                .where(F.col("round") == rnd - 1)
                .where(bad)
                .select("host")
                .distinct()
                .withColumn("crawl_delay", F.lit(float(self.opts.auto_throttle)))
            )
            if asks or self.opts.adaptive_politeness is not None:
                asks.append(throttled)
            else:
                # empty throttle set -> keep the unpaced fast path (one
                # small pruned agg job; only paid when auto_throttle is on)
                return throttled if throttled.limit(1).count() > 0 else None
        if self.opts.adaptive_politeness is not None and prev_exists:
            from sinew_spark.operators.scheduler import adaptive_host_delay

            prev = (
                self.fetched_t.read()
                .where(F.col("round") == rnd - 1)
                .select("host", F.coalesce("latency_ms", F.lit(0)).alias("latency_ms"), "status")
            )
            adaptive = adaptive_host_delay(
                prev,
                delay_factor_x1000=int(self.opts.adaptive_politeness * 1000),
            ).select("host", (F.col("delay_ms") / 1000.0).alias("crawl_delay"))
            asks.append(adaptive)
        if not asks:
            return None
        if len(asks) == 1:
            return asks[0]
        merged = asks[0]
        for a in asks[1:]:
            merged = merged.unionByName(a)
        return merged.groupBy("host").agg(
            F.max("crawl_delay").alias("crawl_delay")
        )

    def current_round(self) -> int:
        """The next round's number: one past the last committed metrics
        round. Every metrics snapshot records its round in its meta, so
        this is a manifest read; the aggregate over the table runs only
        when a data dir's meta has no round (e.g. after a compaction). The
        first call (the Crawler's open) and the one a raising round makes
        also roll back what a round without its metrics row committed
        (``_recover``)."""
        if self._round is None:
            rounds = [m.get("round") for m in self.metrics_t.dir_metas()]
            if None in rounds:
                row = self.metrics_t.read().agg(F.max("round").alias("r")).collect()[0]
                last = row.r
            else:
                last = max(rounds, default=None)
            last = last if last is not None else -1
            self._recover(last)
            self._round = last + 1
        return self._round

    def _recover(self, last: int) -> None:
        """Make the crawl's state that of round ``last``, the newest round
        with a metrics row (-1: none yet). The metrics row is a round's
        commit record, so every table a round commits to is rolled back to
        its newest ancestor from no later round (None: empty); a snapshot
        without a round (seed, compaction, uncache delete) counts as no
        later. Manifest reads only; the seen index rebuilds on its next sync
        (``SnapshotTable.since`` has no chain across a rollback)."""
        for t in (self.fetched_t, self.seen_t, self.host_counts_t, self.host_state_t, self.frontier_t):
            keep = next(
                (s["id"] for s in t.ancestors() if s["meta"].get("round", last) <= last), None
            )
            if keep != t.current_snapshot():
                t.rollback_to(keep)

    @property
    def _semantic(self) -> bool:
        """A recrawl mode (force / force_errors / TTL) rather than plain
        exactly-once."""
        return self.opts.force or self.opts.force_errors or self.opts.expires is not None

    def _reject_seen(
        self,
        df: DataFrame,
        use_shards: bool,
        expires: float | None = None,
        force_errors: bool = False,
        now: float | None = None,
    ) -> DataFrame:
        """The exactly-once probe, ``anti_join_seen`` semantics. With
        ``use_shards`` the seen index is first synced to the committed seen
        snapshot, then probed shard-local: Catalyst pushes the key-only
        probe filter below the dedup shuffle, so seen rows never shuffle and
        the seen table's keys are never reshuffled per round. Every row
        takes the binary search over the worker-cached runs. Without
        ``use_shards`` (small seen: AQE broadcasts it) or when the index
        can't sync, the exact anti-join."""
        if use_shards:
            self._seen_keys.sync(self.seen_t)
        if not (use_shards and self._seen_keys.in_sync_with(self.seen_t)):
            return anti_join_seen(
                df, self.seen_t.read(), expires=expires, force_errors=force_errors, now=now
            )
        return self._seen_keys.reject_seen(
            df, expires=expires, force_errors=force_errors, now=now
        )

    def _fetchable(self, rows: DataFrame) -> DataFrame:
        """``rows`` without those this crawl may never fetch: over depth,
        out of scope or robots-blocked. Row filters, so their place relative
        to a key dedup matters (rows of one key can differ in depth)."""
        if self.opts.max_depth is not None:
            rows = rows.where(F.col("depth") <= self.opts.max_depth)
        if self.opts.url_allow or self.opts.url_deny:
            rows = apply_url_scope(rows, self.opts.url_allow, self.opts.url_deny)
        if self.robots is not None:
            rows = apply_robots(rows, self.robots)
        return rows

    def _host_remaining(self) -> DataFrame | None:
        """host_budget's pages left per host, (host, remaining): an O(hosts)
        aggregate of the spend ledger. None when no budget or no spend."""
        if self.opts.host_budget is None or self.host_counts_t.current_snapshot() is None:
            return None
        return (
            self.host_counts_t.read()
            .groupBy("host")
            .agg((F.lit(self.opts.host_budget) - F.sum("n")).alias("remaining"))
        )

    def _prune_frontier(self, rows: DataFrame, use_shards: bool) -> DataFrame:
        """The next frontier: ``rows`` without every row that can never be
        fetched again THIS RUN (seen or attempted keys, over-depth,
        robots-blocked, out of scope, budget-exhausted hosts), deduped by
        key."""
        # Plain key semantics (blocked iff ever seen) for the normal and
        # pure-TTL paths: a key fetched this run is out of the frontier, and
        # in TTL mode a still-fresh key cannot be fetched before the loop
        # drains — recrawl re-enters it by re-seeding (module doctrine). The
        # shard path probes the index, which absorbed this round's seen
        # delta at its commit — no per-round O(seen) shuffle.
        #
        # force/force_errors are DIFFERENT: a key seen only in a PREVIOUS run
        # is exactly what these modes exist to refetch (C6, frontier.py
        # anti_join_seen force semantics) — plain rejection here would evict
        # a rediscovered link before any round-start filter ever saw it.
        # Instead drop only
        #   - keys ATTEMPTED THIS RUN (any status): fetched_at >=
        #     _run_started_at, expressed as the probe's TTL cutoff — this is
        #     what guarantees drain (at most one fetch per key per run, even
        #     for a host that 500s forever);
        #   - for force_errors additionally every ever-OK key, which that
        #     mode never refetches.
        if self.opts.force or self.opts.force_errors:
            if self.opts.force_errors and not self.opts.force:
                rows = self._reject_seen(rows, use_shards, force_errors=True)
            # expires=0 with now pinned at run start makes the probe's TTL
            # cutoff EXACTLY _run_started_at (blocked iff fetched_at >= run
            # start = attempted this run) — no clock re-read, no race with
            # stamps taken earlier this round
            rows = self._reject_seen(
                rows, use_shards, expires=0.0, now=self._run_started_at
            )
        else:
            rows = self._reject_seen(rows, use_shards)
        rows = self._fetchable(rows)
        remaining = self._host_remaining()
        if remaining is not None:
            # budget-exhausted hosts leave the frontier too (this round's
            # spend included) — O(hosts) broadcast anti-join
            spent = remaining.where(F.col("remaining") <= 0).select("host")
            rows = rows.join(F.broadcast(spent), "host", "left_anti")
        return dedup_within_round(rows)

    def run_round(self, budget: int | None = None) -> dict:
        """One frontier superstep: select and fetch, then the round's
        commits in their one fixed order — fetched, seen, host_counts,
        host_state, frontier and last the metrics row, the round's commit
        record. A round that raises is rolled back before the error
        propagates, through ``current_round()``: to the last round with a
        metrics row, so a failure after this round's metrics row (the seen
        compaction) keeps the round, and no seed, uncache or other commit
        made before the next round stacks on a crashed round's commits. If
        the rollback raises too, the original error propagates and the next
        open recovers. ``budget`` overrides opts.round_budget for this round
        (recipe limit flow control: fetch at most the rows still needed
        instead of the whole step)."""
        r = _Round(self.current_round())
        self._round = None  # until the metrics row commits: a rerun recovers
        try:
            return self._run_round(r, budget)
        except BaseException:
            with contextlib.suppress(Exception):
                self.current_round()
            raise

    def _run_round(self, r: _Round, budget: int | None) -> dict:
        t0 = time.time()
        budget = budget if budget is not None else self.opts.round_budget
        offered = self.frontier_t.approx_rows()
        # a drained frontier (manifest row stats) or a round allowed no
        # fetch runs no job and commits nothing
        if offered > 0 and budget != 0:
            r.snaps["fetched"] = self._commit_fetched(r, self._select(r, offered, budget))
        st = r.fetch_obs.get if r.snaps else {"n": 0}
        if st["n"] == 0:
            # nothing fetched: every frontier row was seen, blocked or
            # filtered. The empty fetched snapshot has no metrics row, so
            # the next current_round() rolls it back.
            return {"round": r.rnd, "selected": 0, "done": True}
        # this round's rows read back from the committed delta: columnar,
        # pruned scans; splits sized to cores, because the delta is small
        # per byte but parse-heavy per row (128 MB splits measured 4x wall
        # on local[8])
        par = self.spark.sparkContext.defaultParallelism
        fetched = self.fetched_t.read_delta(r.snaps["fetched"], target_partitions=par * 2)
        r.snaps["seen"] = self._commit_seen(r, fetched, st)
        if self.opts.host_budget is not None:
            # host_budget spend ledger: one O(hosts) row group (304
            # revalidations count — they are requests against the budget)
            r.snaps["host_counts"] = self.host_counts_t.append(
                fetched.groupBy("host").agg(F.count(F.lit(1)).alias("n"))
                .withColumn("round", F.lit(r.rnd)).repartition(1),
                {"round": r.rnd},
            )
        # the host_state append overlaps the tail stages (independent tables,
        # immutable plans). Leaving the block joins it before ANY exit: a
        # retried round must not race it through SnapshotTable's
        # unsynchronized manifest read-modify-write.
        with ThreadPoolExecutor(1, thread_name_prefix="host_state-append") as pool:
            jars = None
            if st["any_cookies"]:
                jars = pool.submit(self.host_state_t.append, self._jar_updates(r, fetched), {"round": r.rnd})
            next_frontier, n_new_links = self._next_frontier(r, st)
            r.snaps["frontier"] = self.frontier_t.overwrite(next_frontier, {"round": r.rnd})
        if jars is not None:
            r.snaps["host_state"] = jars.result()
        stats = {
            "round": r.rnd,
            "candidates": int(r.cand_obs.get["n"]),
            "selected": int(st["n"]),
            "fetched": int(st["n"]),
            "errors": int(st["errors"] or 0),
            "not_modified": int(st["nm"] or 0),
            "new_links": n_new_links,
            "duration_sec": time.time() - t0,
            "ts": time.time(),
        }
        # driver-side parquet append — a metrics row is not worth a Spark job
        self.metrics_t.append_rows([tuple(stats.values())], {"round": r.rnd})
        if (
            self.opts.compact_seen_every is not None
            and (r.rnd + 1) % self.opts.compact_seen_every == 0
        ):
            # a long crawl appends one seen dir per round; compaction keeps
            # scans from paying one listing each. It holds the same rows, so
            # the seen index steps over it on its next sync
            self.seen_t.compact(target_files=self.opts.compact_target_files)
        self._round = r.rnd + 1
        stats["done"] = False
        return stats

    def _select(self, r: _Round, offered: int, budget: int | None) -> DataFrame:
        """The round's fetch list: the frontier deduped by key, probed
        against seen, filtered, capped per host and cut to ``budget``, each
        row with its site's cookie jar. Fixes the round's probe and pacing
        plans in ``r``."""
        par = self.spark.sparkContext.defaultParallelism
        r.frontier = self.frontier_t.read()
        # deterministic within-round dedup (first seq wins). The explicit
        # repartition(key) serves double duty: the groupBy reuses its hash
        # partitioning (one shuffle, not two), AQE can't coalesce it
        # (user-specified), and the uniform key-hash distribution is exactly
        # what the unpaced fetch stage wants — so the fused UDF can run
        # directly on the dedup output with no further exchange.
        cand = dedup_within_round(r.frontier.repartition(par * 2, F.col("key")))
        # exactly-once filter: the shard-local probe of the seen index at
        # scale, the exact anti-join while the seen side is still
        # broadcast-small. `force` ignores seen entirely — no filter, no sync.
        r.use_shards = (
            self.opts.exact_shards
            if self.opts.exact_shards is not None
            else self.seen_t.approx_rows() > EXACT_SHARDS_AUTO_ROWS
        )
        if not self.opts.force:
            cand = self._reject_seen(
                cand,
                r.use_shards,
                expires=self.opts.expires,
                force_errors=self.opts.force_errors,
            )
        # the candidate count, observed when the fetched write runs (no job
        # of its own). It sits below shuffles, so a recomputed stage can only
        # overcount it — and an overcount only turns off the next frontier's
        # nothing-held-back shortcut.
        cand = self._fetchable(cand).observe(r.cand_obs, F.count(F.lit(1)).alias("n"))
        # politeness cap + global budget. The host window runs only where it
        # can bind: cap=None skips it (key-hash partitioning from the dedup
        # already bounds fetch skew), and so does a frontier of at most
        # per_host_cap rows. host_budget's lifetime limit rides the same
        # window as a broadcast of each host's remaining spend.
        capped = self.opts.host_budget is not None or (
            self.opts.per_host_cap is not None and offered > self.opts.per_host_cap
        )
        # A paced round's fetch partitions by host (partition_by_host).
        # Partitioning the cap window's input the same way lets that one
        # exchange serve both: the fetch's repartition then finds its
        # partitioning already in place and is planned away.
        r.host_delays = self._throttle_delays(r.rnd)
        paced = self.opts.rate_limit > 0 or r.host_delays is not None
        selected = cand
        if capped:
            selected = per_host_cap(
                partition_by_host(cand) if paced else cand,
                self.opts.per_host_cap,
                host_remaining=self._host_remaining(),
                default_remaining=self.opts.host_budget,
            )
        if budget is not None and budget > LARGE_BUDGET_ROWS:
            # the distributed top-k's range partitioning samples its input in
            # a pass of its own, which the observation would count as well.
            # An Observation keeps the metrics of the first action on its
            # plan, so an exact count taken first pins it.
            cand.count()
        selected = take_round_budget(selected, budget)
        # Pin fetch parallelism. AQE sizes shuffle partitions by BYTES
        # (64 MB advisory), but frontier rows are slim while per-row fetch
        # cost is high — AQE would coalesce a 10 MB frontier to one task and
        # serialize the fetch. The paced path hash-partitions by host inside
        # fetch_rows, so any partitioning made here would be shuffled away.
        # The uncapped unpaced path inherits the AQE-exempt key-hash
        # partitioning from the dedup repartition (no second shuffle); unpaced
        # paths that re-cluster rows (host window, budget sort) get an
        # explicit round-robin repartition instead.
        if not paced and (capped or budget is not None):
            selected = selected.repartition(par * 2)
        if self.host_state_t.current_snapshot() is None:
            return selected
        # C11: seed each host's cookie jar from the persisted host_state.
        # RFC 6265 domain cookies cross sibling subdomains, so the seeding
        # key is the registrable SITE (cookies.site_key): per-host latest
        # rows of one site merge into a single scoped jar (applyInPandas
        # over the SMALL state table only — O(hosts with cookies) rows,
        # never the frontier), which broadcast-joins onto the frontier by
        # site. The frontier side stays pure codegen (site_key_expr);
        # per-request host/path/expiry scoping happens inside the fetch
        # UDF (cookies_for), so a sibling's host-only cookies ride along
        # but are never sent and never re-persisted (own_records).
        from sinew_spark.functions.cookies import site_key_expr

        jars = _merge_jars(
            self.host_state_t.read().withColumn("site", site_key_expr(F.col("host"))),
            "site", "round", "host_cookies", self._run_started_at,
        )
        return (
            selected.withColumn("site", site_key_expr(F.col("host")))
            .join(F.broadcast(jars), "site", "left_outer")
            .drop("site")
        )

    def _commit_fetched(self, r: _Round, selected: DataFrame) -> int:
        """Fetch + parse ``selected``, FUSED into one UDF pass (one Arrow
        crossing; the body never re-enters Python just to be parsed), and
        commit the rows. The whole dedup->cap->fetch->parse pipeline
        materializes exactly once, at this write; later stages read the
        committed delta back.

        The round's stats ride the write as observed metrics in its result
        stage (one row to the driver, never the keys): fetched and error
        tallies, redirect presence (any row with hops or a moved final_url
        — decides whether the seen commit needs its union+groupBy dedup)
        and cookie presence (decides whether host_state is written)."""
        # conditional-revalidation validators: only recrawl modes can
        # re-offer a seen key, so the join exists only there. A 3-column
        # pruned scan of fetched history reduced to latest-per-key; every
        # unchanged page then costs a ~200-byte 304 instead of a body.
        validators = None
        if (
            self.opts.revalidate
            and self._semantic
            and self.fetched_t.current_snapshot() is not None
        ):
            validators = latest_validators(self.fetched_t.read())
        fetched_out = fetch_rows(
            selected,
            self.fetcher,
            rate_limit=self.opts.rate_limit,
            retries=self.opts.retries,
            proxies=list(self.opts.proxies),
            parse=True,
            host_delays=r.host_delays,
            validators=validators,
        )
        err_cond = (F.col("status") >= 500) | (F.col("status") < 0)
        return self.fetched_t.append(
            fetched_out.withColumn("round", F.lit(r.rnd)).observe(
                r.fetch_obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(err_cond, 1).otherwise(0)).alias("errors"),
                F.sum(F.when(F.col("status") == 304, 1).otherwise(0)).alias("nm"),
                F.sum(
                    F.when(F.coalesce(F.size("hops"), F.lit(0)) > 0, 1).otherwise(0)
                ).alias("hop_rows"),
                F.max(
                    F.coalesce(F.col("final_url") != F.col("canonical_url"), F.lit(False)).cast("int")
                ).alias("any_moved"),
                F.max(F.col("cookies").isNotNull().cast("int")).alias("any_cookies"),
            ),
            {"round": r.rnd},
        )

    def _commit_seen(self, r: _Round, fetched: DataFrame, st: dict) -> int:
        """Commit the round's seen delta: one row per fetched key, plus one
        per redirect hop and moved final URL (base.rb:209-211). On the
        shard path the seen index absorbs it right away, so the pruning
        probe and status()/cached() read it even when nothing is left to
        prune."""
        seen = fetched.select(
            "key",
            F.col("canonical_url").alias("url"),
            "method",
            "status",
            "fetched_at",
            F.lit(None).cast("string").alias("hop_of"),
            F.lit(r.rnd).alias("round"),
        )
        if st["hop_rows"] or st["any_moved"]:
            hops = fetched.select("canonical_url", "fetched_at", F.explode("hops").alias("to"))
            moved = fetched.where(F.col("final_url") != F.col("canonical_url"))
            union = seen.unionByName(
                self._redirect_seen(hops, F.lit(302), r.rnd)
            ).unionByName(
                self._redirect_seen(moved.withColumn("to", F.col("final_url")), F.col("status"), r.rnd)
            )
            # deterministic key-dedup: a directly-fetched row beats a hop
            # row for the same key (replay determinism — dropDuplicates
            # picks arbitrarily). (kind, url) alone can tie — two pages
            # redirecting to the SAME final URL produce two finals rows
            # with identical key and url — so the ordering continues
            # through (status, fetched_at, hop_of) to stay total: lowest
            # status, then earliest stamp, then lexicographic hop parent.
            # Without redirects keys are already unique within the round
            # and the shuffle is skipped.
            seen = (
                union.groupBy("key")
                .agg(
                    F.min_by(
                        F.struct(*[f.name for f in SEEN_SCHEMA.fields]),
                        F.struct(
                            F.col("hop_of").isNotNull().cast("int"),
                            F.col("url"),
                            F.col("status"),
                            F.col("fetched_at"),
                            F.coalesce(F.col("hop_of"), F.lit("")),
                        ),
                    ).alias("r")
                )
                .select("r.*")
            )
        sid = self.seen_t.append(seen, {"round": r.rnd})
        if r.use_shards:
            self._seen_keys.sync(self.seen_t)
        return sid

    def _redirect_seen(self, rows: DataFrame, status, rnd: int) -> DataFrame:
        """Seen rows for the GET identity of each row's redirect target
        ``to`` (a hop or the moved final URL); hop_of is the fetched row's
        canonical URL."""
        return rows.select(
            self.canonicalize(F.col("to")).alias("url"),
            status.alias("status"),
            "fetched_at",
            F.col("canonical_url").alias("hop_of"),
        ).select(
            request_key_expr(F.lit("GET"), F.col("url"), F.lit("")).alias("key"),
            "url",
            F.lit("GET").alias("method"),
            "status",
            "fetched_at",
            "hop_of",
            F.lit(rnd).alias("round"),
        )

    def _jar_updates(self, r: _Round, fetched: DataFrame) -> DataFrame:
        """C11: each host's final cookie jar this round, for host_state — a
        distributed append, never an O(hosts) driver collect. The merge is
        per RECORD, not whole-jar max_by: rows of one host can land on
        different partitions, each seeing only its own sets/deletes, and
        tombstones let a delete beat an untouched stale copy."""
        return (
            _merge_jars(
                fetched.where(F.col("cookies").isNotNull()),
                "host", "seq", "cookies", self._run_started_at,
            )
            .withColumn("round", F.lit(r.rnd))
            # O(hosts-that-set-cookies) rows — one output file. A
            # repartition (shuffle barrier), NOT coalesce: coalesce(1)
            # would pull the whole merge UDF into a single task
            .repartition(1)
        )

    def _next_frontier(self, r: _Round, st: dict) -> tuple[DataFrame | list, int]:
        """The next frontier and the count of links discovered this round:
        leftover (held back by the cap or the budget) plus discovered links,
        without everything that can never be fetched (_prune_frontier) or
        the loop never drains. [] — committed with no job — when nothing is
        left.

        When every candidate was fetched, nothing was held back and no old
        frontier row can survive the pruning. Each one was
          - a candidate: now seen (in the force modes: attempted this run);
          - collapsed into a candidate by the key dedup: same key;
          - dropped by depth, scope or robots: the same filters run again;
          - rejected by the round-start probe: the pruning probe rejects a
            superset in every mode (plain, TTL, force_errors; force rejects
            nothing at round start).
        host_budget rounds need no case of their own: a held-back row makes
        the observed candidate count exceed the fetched count."""
        rows = None if r.cand_obs.get["n"] == st["n"] else r.frontier
        n_new_links = 0
        if self.opts.follow_links:
            links = self._discovered_links(r)
            n_new_links = links.count()
            rows = links if rows is None else rows.unionByName(links)
        if rows is None:
            return [], n_new_links
        return self._prune_frontier(rows, r.use_shards), n_new_links

    def _discovered_links(self, r: _Round) -> DataFrame:
        """This round's outlinks as frontier rows (crawl traps pruned)."""
        parsed = self.documents_t.read_delta(r.snaps["fetched"])
        links = parsed.select(
            F.col("seq").alias("parent_seq"),
            F.col("depth").alias("parent_depth"),
            F.posexplode("links").alias("link_idx", "url"),
        )
        # deterministic seq: parent slot + in-document order. The per-page
        # outlink cap (standard crawler practice — Heritrix and Nutch both
        # cap outlinks) keeps every link's seq inside its parent's
        # LINK_STRIDE slot: without it link 1000 of parent p would collide
        # with link 1 of parent p+1, and seq collisions break the
        # replay-determinism the within-round dedup and budget selection are
        # built on. Dropped links are deterministically the TRAILING ones in
        # document order.
        links = links.where(F.col("link_idx") < LINK_STRIDE - 1).select(
            F.col("url"),
            F.lit("GET").alias("method"),
            F.lit("").alias("body"),
            (F.col("parent_depth") + 1).cast("double").alias("priority"),
            (F.col("parent_depth") + 1).alias("depth"),
            (F.col("parent_seq") * LINK_STRIDE + F.col("link_idx") + 1).alias("seq"),
            F.lit(0).alias("attempt"),
        )
        rows = prepare_frontier(links, self.canonicalize)
        if self.opts.trap_max_urls is None:
            return rows
        # crawl-trap guard (operators/traps.py): template-explosion / depth /
        # cycle detection over THIS round's discovered links, flagged
        # templates pruned by broadcast anti-join before they ever enter the
        # frontier. Per-round detection is the practical guard — explosions
        # show up within one round's fan-out (a calendar mints hundreds of
        # same-template links per page batch); anything slower leaks at most
        # one round.
        from sinew_spark.operators.traps import detect_crawl_traps, prune_traps

        traps = detect_crawl_traps(
            rows,
            url_col="canonical_url",
            max_urls_per_template=self.opts.trap_max_urls,
            max_depth=self.opts.trap_max_depth,
            max_repeated_segments=self.opts.trap_max_repeats,
        )
        return prune_traps(rows, traps, url_col="canonical_url")

    def run(self, max_rounds: int | None = None) -> list[dict]:
        """Run rounds until the frontier drains or max_rounds. Safe to call
        again after a crash, from a new Crawler over the same workdir: a
        round is committed by its metrics row, and one that died before it
        is rolled back and rerun (``_recover``)."""
        out = []
        for _ in range(max_rounds or self.opts.max_rounds):
            stats = self.run_round()
            out.append(stats)
            if stats.get("done"):
                break
        return out

    # --- cache probe API (sinew's status/cached?/uncache, base.rb:95-122) -------

    def _key_for(self, url: str, method: str = "GET", body: str = ""):
        """Canonicalize + hash ONE request identity on the driver — pure
        Python, no Spark job. canonicalize_url_str is the same function the
        frontier's pandas UDF vectorizes (urls.py) and request_key_local is
        the JVM-parity xxhash64 twin (functions/localhash.py), so the key
        is bit-identical to what the crawl loop computed. The reference
        probe is O(1) local too (lib/sinew/base.rb:95-122)."""
        curl = canonicalize_url_str(
            url,
            base=self.opts.url_prefix,
            default_params=self.opts.params,
            ignore_params=frozenset(self.opts.ignore_params),
        )
        return request_key_local(method, curl, body), curl

    def status(self, url: str, method: str = "GET", body: str = "") -> dict:
        """Probe one request identity. ``diskpath`` is the storage-location
        handle analog of ``Response#diskpath`` (lib/sinew/response.rb:52-54)
        — the reference stores one file per request under the httpdisk
        cache dir; the engine stores rows in the fetched snapshot table, so
        the handle is (table dir, identity key) rather than a per-request
        file.

        Fast path: when the seen index is warm and in sync with the seen
        table, a MISS is answered entirely in this process (local
        canonicalize + hash + shard binary search — no Spark job, matching
        the reference's O(1) local probe). Only a HIT (needs the row's
        status/fetched_at) or a cold index runs the 1-row Spark lookup."""
        key, curl = self._key_for(url, method, body)
        diskpath = os.path.join(self.workdir, "fetched")
        if (
            self._seen_keys.in_sync_with(self.seen_t)
            and self._seen_keys.probe_local(key) is False
        ):
            return {"status": "miss", "key": key, "url": curl, "diskpath": diskpath}
        rows = self.seen_t.read().where(F.col("key") == key).limit(1).collect()
        if not rows:
            return {"status": "miss", "key": key, "url": curl, "diskpath": diskpath}
        r = rows[0]
        return {
            "status": int(r.status),
            "key": key,
            "url": curl,
            "fetched_at": r.fetched_at,
            "diskpath": diskpath,
        }

    def cached(self, url: str, method: str = "GET", body: str = "") -> bool:
        """Boolean probe (sinew's ``cached?``): fully driver-local when the
        seen index is warm — membership alone answers it, no Spark job in
        either direction."""
        if self._seen_keys.in_sync_with(self.seen_t):
            hit = self._seen_keys.probe_local(self._key_for(url, method, body)[0])
            if hit is not None:
                return hit
        return self.status(url, method, body)["status"] != "miss"

    def uncache(self, url: str, method: str = "GET", body: str = "") -> None:
        """Row-level delete (sinew's uncache) — O(delta) end to end at the
        10^10-key design point: a merge-on-read equality-delete snapshot
        (tiny delete file, no table rewrite) that the seen index absorbs
        as tombstone runs on its next sync (no O(seen) rebuild; nor when
        every MOR_COMPACT_DELETES-th delete compacts the table first, a
        snapshot the index steps over)."""
        key, _ = self._key_for(url, method, body)
        self.seen_t.delete_keys([key])

    def host_report(self) -> DataFrame:
        """Per-host ops report over everything fetched so far (module-level
        ``host_report`` on the fetched table)."""
        return host_report(self.fetched_t.read())

    def expire_history(
        self, retain_last: int = 2, keep_ids: dict | None = None
    ) -> dict:
        """Garbage-collect crawl-state snapshots across every table
        (frontier/seen/fetched/metrics/host_state/host_counts) via
        ``SnapshotTable.expire_snapshots``.  A long crawl commits one
        snapshot per table per round; without expiry the checkpoint
        history grows without bound (at the design point: one full
        frontier copy per round).  ``retain_last`` keeps that many
        snapshots along each table's current lineage (default 2: the
        live state plus one resume point); ``keep_ids`` optionally pins
        extra snapshot ids per table name, e.g.
        ``{"seen": [checkpoint_sid]}`` for a known-good resume
        checkpoint.  Sidecar seen stores whose incremental chain crosses
        an expired snapshot rebuild on their next ``sync()`` — safe,
        documented in ``expire_snapshots``.  Returns a per-table summary
        dict."""
        tables = {
            "frontier": self.frontier_t,
            "seen": self.seen_t,
            "fetched": self.fetched_t,
            "metrics": self.metrics_t,
            "host_state": self.host_state_t,
            "host_counts": self.host_counts_t,
        }
        pins = keep_ids or {}
        return {
            name: t.expire_snapshots(
                retain_last=retain_last, keep_ids=pins.get(name, ())
            )
            for name, t in tables.items()
        }
