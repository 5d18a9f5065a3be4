"""The benchmark's closed-loop workloads.

Each workload has one client: the next step starts only when the previous
one has finished. A workload synthesises its inputs from the seed in
``setup``, warms the JVM, codegen and Python workers with untimed steps,
then runs timed ``step`` calls; ``check`` verifies every step it ran.

- ``revisit``: the recrawl steady state. Set-up writes a seen set through
  ``SnapshotTable.append`` and syncs the exact key shards and the Bloom
  sidecar. Each step re-offers every seen URL plus a few percent fresh
  ones and runs one round on the exact-shard path, so the seen layer's
  reads (within-round dedup, fused Bloom + exact probe) dominate.
- ``recipe``: the reference golden recipes, each in a fresh workdir. Inputs
  are one or two URLs, so a recipe's time is per-round fixed cost: Spark
  jobs and snapshot commits.

``revisit`` exercises the seen filter and the fused fetch+parse UDF;
``recipe`` bypasses both (its one-key seen set takes the anti-join path and
it fetches one page per round), so a change to either should show on
``revisit`` and not on ``recipe``, while removing per-round jobs or commits
shows on both. A link-following ``discover`` workload is left out: at about
0.3 s per Spark job on a 4-core machine, a third workload does not fit the
time budget of a full set of benchmark runs.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

from perfbench.golden import golden_recipes
from perfbench.tracing import Tracer, TracingFetcher
from sinew_spark.crawl import Crawler, CrawlOptions
from sinew_spark.datagen import gen_frontier_seeds
from sinew_spark.functions.htmlparse import extract_spans_and_links
from sinew_spark.functions.urls import make_canonicalize_udf
from sinew_spark.operators.bloom import BloomShardStore, SeenKeyShardStore
from sinew_spark.operators.frontier import SEEN_SCHEMA, dedup_within_round, prepare_frontier
from sinew_spark.plans.snapshots import SnapshotTable
from sinew_spark.recipes import run_recipe
from sinew_spark.sources.fetch import FixtureFetcher
from sinew_spark.sources.web_fixture import synthetic_body


def _frontier_rows(urls):
    """(url, seq) rows -> the frontier input columns ``prepare_frontier`` takes."""
    return urls.select(
        "url", F.lit("GET").alias("method"), F.lit("").alias("body"),
        F.lit(0.0).alias("priority"), F.lit(0).alias("depth"), "seq",
        F.lit(0).alias("attempt"),
    )


class Revisit:
    name = "revisit"
    # offered URLs per round: ~96 % distinct (gen_frontier_seeds collapses
    # a fifth of its tail onto earlier URLs), all of them seen at set-up
    seen_urls = 100_000
    fresh_frac = 0.02
    links, hosts = 6, 1000
    span_sample_mod = 53  # keys with pmod(key, 53) == 0 get their spans re-derived

    def __init__(self, spark, workdir: str, seed: int):
        self.spark, self.workdir, self.seed = spark, workdir, seed
        self.opts = CrawlOptions(rate_limit=0, retries=0, exact_shards=True)
        self.fetcher = FixtureFetcher(seed=seed, synthetic=True, synthetic_links=self.links)
        self.n_fresh = int(self.seen_urls * self.fresh_frac)
        self.base = gen_frontier_seeds(spark, self.seen_urls, seed=seed).select("url", "seq")
        self.canonicalize = make_canonicalize_udf()
        self.crawler: Crawler | None = None
        self.rounds_run: list[int] = []

    def _fresh(self, rnd: int):
        """URLs never offered before round ``rnd``: a fresh seed's URL set on
        a path the seen set never uses, with its own in-round duplicates."""
        return gen_frontier_seeds(
            self.spark, self.n_fresh, seed=self.seed * 7919 + rnd + 1
        ).select(
            F.regexp_replace("url", "/p/", f"/f{rnd}/").alias("url"),
            (F.col("seq") + self.seen_urls + rnd * self.n_fresh).alias("seq"),
        )

    def setup(self) -> float:
        """Write the seen set and sync both sidecars; returns its time."""
        t0 = time.perf_counter()
        seen_t = SnapshotTable(self.spark, os.path.join(self.workdir, "seen"), SEEN_SCHEMA)
        seen_rows = dedup_within_round(
            prepare_frontier(_frontier_rows(self.base), self.canonicalize)
        ).select(
            "key", F.col("canonical_url").alias("url"), "method",
            F.lit(200).alias("status"), F.lit(time.time()).alias("fetched_at"),
            F.lit(None).cast("string").alias("hop_of"), F.lit(-1).alias("round"),
        )
        seen_t.append(seen_rows, {"op": "perfbench-seen"})
        # the same sidecar locations and shard count the crawler opens
        SeenKeyShardStore(
            os.path.join(self.workdir, "seen.keys.d"), n_shards=self.opts.bloom_shards
        ).sync(seen_t)
        BloomShardStore(
            os.path.join(self.workdir, "seen.bloom.d"),
            capacity=self.opts.bloom_capacity,
            n_shards=self.opts.bloom_shards,
        ).sync(seen_t)
        self.crawler = Crawler(self.spark, self.workdir, self.fetcher, self.opts)
        return time.perf_counter() - t0

    def warmup(self) -> None:
        self.step(None)

    def use_tracer(self, tracer: Tracer | None) -> None:
        self.crawler.fetcher = TracingFetcher(
            tracer.acc if tracer else None, seed=self.seed, synthetic=True,
            synthetic_links=self.links,
        )

    def step(self, tracer: Tracer | None) -> float:
        """Offer seen + fresh URLs, run one round; returns the step wall."""
        rnd = self.crawler.current_round()
        offer = self.base.unionByName(self._fresh(rnd))
        t0 = time.perf_counter()
        if tracer is None:
            self.crawler.seed_df(offer)
            self.crawler.run_round()
        else:
            with tracer.span("revisit.step"):
                self.crawler.seed_df(offer)
                self.crawler.run_round()
        self.rounds_run.append(rnd)
        return time.perf_counter() - t0

    def finish_traced(self) -> None:
        pass

    def bloom_fp_rate(self) -> float:
        """Share of never-offered keys the Bloom sidecar flags as seen."""
        never = gen_frontier_seeds(self.spark, 20_000, dup_frac=0.0, seed=self.seed + 17)
        probe_rows = prepare_frontier(
            _frontier_rows(never.select(
                F.regexp_replace("url", "/p/", "/never/").alias("url"), "seq"
            )),
            self.canonicalize,
        ).select("key")
        bloom = BloomShardStore(
            os.path.join(self.workdir, "seen.bloom.d"),
            capacity=self.opts.bloom_capacity,
            n_shards=self.opts.bloom_shards,
        )
        return bloom.maybe_seen(probe_rows).count() / 20_000

    def check(self) -> tuple[int, list[str]]:
        """Every round must fetch exactly its fresh URLs (so every re-offered
        seen URL was rejected), no key may be fetched twice, and a sample of
        committed span sequences must equal the driver-side re-parse of the
        synthetic page. Returns (rounds attempted, failure messages)."""
        if not self.rounds_run:
            return 0, []
        fetched = self.crawler.fetched_t.read()
        expected = None
        for rnd in self.rounds_run:
            keys = prepare_frontier(
                _frontier_rows(self._fresh(rnd)), self.canonicalize
            ).select("key").distinct().withColumn("round", F.lit(rnd))
            expected = keys if expected is None else expected.unionByName(keys)
        failures: dict[int, str] = {}
        mismatched = (
            fetched.select("key", "round", F.lit(1).alias("got"))
            .join(expected.withColumn("want", F.lit(1)), ["key", "round"], "full_outer")
            .where(F.col("got").isNull() | F.col("want").isNull())
            .groupBy("round")
            .agg(F.sum(F.col("got").isNull().cast("int")).alias("missing"),
                 F.sum(F.col("want").isNull().cast("int")).alias("extra"))
            .collect()
        )
        for r in mismatched:
            failures[r["round"]] = (
                f"round {r['round']}: {r['missing']} fresh URLs not fetched, "
                f"{r['extra']} fetches that were not fresh URLs"
            )
        twice = (
            fetched.groupBy("key").agg(F.count(F.lit(1)).alias("n"),
                                       F.collect_set("round").alias("rounds"))
            .where(F.col("n") > 1)
            .select(F.explode("rounds").alias("round"))
            .distinct()
            .collect()
        )
        for r in twice:
            failures.setdefault(r["round"], f"round {r['round']}: a key was fetched twice")
        sample = (
            fetched.where(F.pmod(F.col("key"), F.lit(self.span_sample_mod)) == 0)
            .select("round", "url", "final_url", "spans")
            .collect()
        )
        for row in sample:
            body = synthetic_body(row["url"], self.seed, self.links, self.hosts)
            want, _ = extract_spans_and_links(body, "text/html", row["final_url"] or row["url"])
            got = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]]
            if got != [tuple(s) for s in want]:
                failures.setdefault(
                    row["round"], f"round {row['round']}: spans differ for {row['url']}"
                )
        if not sample:
            failures.setdefault(self.rounds_run[0], "span sample is empty")
        return len(self.rounds_run), list(failures.values())


class RecipeSuite:
    name = "recipe"
    # Every timed step runs ``basic``, the one-URL regex recipe, and so does
    # the warm-up: the CSS recipes take 10-15 % longer and the first run of a
    # recipe is slower still, so either would make the median depend on how
    # many steps fit into the window. The other six recipes run and are
    # checked only by traced runs, which are longer anyway; that keeps an
    # untraced run inside the benchmark's time budget.
    warm = ("basic",)
    timed = ("basic",)
    traced_only = ("noko", "xml", "url", "array_header", "implicit_header", "limit")

    def __init__(self, spark, workdir: str, seed: int):
        self.spark, self.workdir, self.seed = spark, workdir, seed
        self.fetcher = FixtureFetcher(seed=seed)
        self.recipes = golden_recipes()
        self.runs = 0
        self.failures: list[str] = []
        self._next = 0

    def setup(self) -> float:
        return 0.0

    def warmup(self) -> None:
        for name in self.warm:
            self._run(name, None)

    def use_tracer(self, tracer: Tracer | None) -> None:
        self.fetcher = TracingFetcher(tracer.acc if tracer else None, seed=self.seed)

    def finish_traced(self) -> None:
        self.fetcher = FixtureFetcher(seed=self.seed)
        for name in self.traced_only:
            self._run(name, None)

    def step(self, tracer: Tracer | None) -> float:
        name = self.timed[self._next % len(self.timed)]
        self._next += 1
        return self._run(name, tracer)

    def _run(self, name: str, tracer: Tracer | None) -> float:
        recipe, want = self.recipes[name]
        wd = os.path.join(self.workdir, f"recipe-{self.runs:04d}")
        self.runs += 1
        t0 = time.perf_counter()
        if tracer is None:
            got = run_recipe(self.spark, recipe, wd, self.fetcher, CrawlOptions()).csv
        else:
            with tracer.span("recipes.recipe", job_group=True, recipe=name):
                got = run_recipe(self.spark, recipe, wd, self.fetcher, CrawlOptions()).csv
        wall = time.perf_counter() - t0
        if got != want:
            self.failures.append(f"{name}: CSV {got!r} != golden {want!r}")
        shutil.rmtree(wd, ignore_errors=True)
        return wall

    def bloom_fp_rate(self) -> float:
        return 0.0  # recipe crawls never reach the shard path

    def check(self) -> tuple[int, list[str]]:
        return self.runs, list(self.failures)


WORKLOADS = {w.name: w for w in (Revisit, RecipeSuite)}
