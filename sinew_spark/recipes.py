"""Recipe engine — declarative crawl+extract+emit programs.

The reference's recipe is imperative Ruby evaluated top-to-bottom
(/root/reference/lib/sinew/main.rb:22-27); its observable output is the CSV
byte stream. The engine replaces eval with a declarative ``Recipe`` spec —
steps that fetch and extract — compiled into DataFrame plans; emit order is
the deterministic (step, request seq, match idx) total order, which equals
the reference's program order for the same step list.

Step extraction shapes cover the whole golden suite
(/root/reference/test/recipes/*.sinew):

- ``iterate='rows'``      one emit per fetched doc          (url.sinew)
- ``iterate=('regex', p)`` one emit per body regex match    (basic.sinew)
- ``iterate=('css', sel)`` one emit per CSS-matched node    (noko/xml.sinew)
- ``iterate=('xml', sel)`` same, case-sensitive Nokogiri::XML parity
- ``rows=[{...}]``         constant emits, no fetch         (array_header/
                                                             implicit_header/
                                                             limit.sinew)

``url_template`` chains steps on previous results (URI math in url.sinew:5:
``response.url + '/get'`` -> template ``"{final_url}/get"``).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sinew_spark.crawl import Crawler, CrawlOptions
from sinew_spark.operators.extract import css_extract, regex_scan, row_project
from sinew_spark.sinks.csv_sink import CsvSink, tally_report
from sinew_spark.sources.fetch import Fetcher

STEP_STRIDE = 1_000_000_000
MATCH_STRIDE = 1_000_000


@dataclass
class Step:
    urls: list | None = None  # str or (url, method, body)
    # URI math over the previous step's results: urljoin(prev.final_url, ref)
    # — Ruby's `response.url + '/get'` (url.sinew:5) resolves exactly like
    # urljoin (absolute path replaces the whole path)
    url_join: str | None = None
    iterate: object = "rows"  # 'rows' | ('regex', pattern) | ('css', selector)
    columns: dict = field(default_factory=dict)
    rows: list | None = None  # constant emits (no fetch)


@dataclass
class Recipe:
    steps: list
    header: list | None = None  # explicit csv_header; None -> first emit keys
    limit: int | None = None


@dataclass
class RecipeResult:
    csv: str
    count: int
    tally: dict
    columns: list
    elapsed: float

    def report(self):
        return tally_report(self.count, self.tally)


def run_recipe(
    spark: SparkSession,
    recipe: Recipe,
    workdir: str,
    fetcher: Fetcher,
    options: CrawlOptions | None = None,
) -> RecipeResult:
    """Execute a recipe: fetch each step's URLs through the exactly-once
    crawler, extract, normalize, render CSV bytes (golden contract).

    Scale properties:
    - step chaining is DataFrame-native: a ``url_join`` step resolves the
      next URLs from the previous step's fetched DataFrame (vectorized
      urljoin) and seeds the crawler with the plan — fetched rows are never
      collected to the driver. Each step's ``want`` (canonical URL -> step
      order) is read back from the seeded frontier snapshot, so the
      canonicalize UDF runs once per step URL, not once per emit
      evaluation.
    - the emit plans (fetched scan, ``want`` join, extract, normalize)
      execute ONCE, in ``CsvSink.render``: one Arrow materialization of
      all steps' emits, which is driver-side by contract (golden bytes)
      and from which the tally is also computed. Without ``limit`` no
      other emit job runs; a drained round and the round counter cost no
      job either (manifest reads).
    - ``limit`` is FLOW CONTROL, not just render truncation (the
      reference's LimitError aborts fetching mid-run, lib/sinew/main.rb:
      25-27, base.rb:146-149): each fetch step runs budget-bounded rounds
      of at most the still-needed row count and stops issuing requests as
      soon as enough rows have been emitted — a ``limit 3`` against a
      10^6-URL step fetches one 3-URL round, not 10^6.
    """
    t0 = time.time()
    options = options or CrawlOptions()
    crawler = Crawler(spark, os.path.join(workdir, "crawl"), fetcher, options)
    sink = CsvSink(recipe.header)
    # previous fetch step's results (DataFrame; seq = dense step order)
    prev_fetched: DataFrame | None = None
    emitted = 0  # rows emitted so far — tracked only when limit is set

    for step_idx, step in enumerate(recipe.steps):
        base_seq = step_idx * STEP_STRIDE
        remaining = None if recipe.limit is None else recipe.limit - emitted
        if remaining is not None and remaining <= 0:
            break  # LimitError analog: stop all further fetching/emitting
        if step.rows is not None:
            # constant emits — no fetch (implicit_header/limit recipes).
            # Implicit header = FIRST row's keys (base.rb:130-141); the
            # DataFrame carries the union of keys so later rows keep values
            # for explicitly-declared columns.
            if not sink.started:
                sink.freeze_header(list(step.rows[0].keys()))
            cols = []
            for r in step.rows:
                for k in r:
                    if k not in cols:
                        cols.append(k)
            data = [
                tuple(str(r.get(c)) if r.get(c) is not None else None for c in cols)
                + (base_seq + i,)
                for i, r in enumerate(step.rows)
            ]
            df = spark.createDataFrame(
                data, ", ".join([f"`{c}` string" for c in cols] + ["seq long"])
            )
            sink.emit(df)
            emitted += len(data)
            prev_fetched = None
            continue

        # resolve step URLs as a DataFrame
        if step.url_join is not None:
            from sinew_spark.functions.urls import urljoin_udf

            if prev_fetched is None:
                continue
            # previous step's seq is its dense program order — chained URLs
            # inherit it, preserving emit order with zero driver round-trips
            urls_df = prev_fetched.select(
                urljoin_udf(F.col("final_url"), F.lit(step.url_join)).alias("url"),
                F.col("seq"),
            )
        else:
            urls = list(step.urls or [])
            if not urls:
                prev_fetched = None
                continue
            urls_df = spark.createDataFrame(
                [(u if isinstance(u, str) else u[0], i) for i, u in enumerate(urls)],
                "url string, seq long",
            )
        seeded = crawler.seed_df(urls_df)
        if crawler.frontier_t.approx_rows(seeded) == 0:
            prev_fetched = None
            continue
        # `want` maps canonical_url -> step_ord (the step's program order)
        # for result alignment: one row per step URL, duplicates included —
        # a URL listed twice is fetched once but emits once per seq
        want = crawler.frontier_t.read(seeded).select(
            "canonical_url", F.col("seq").alias("step_ord")
        )

        def step_emits() -> DataFrame:
            fetched = (
                crawler.fetched_t.read()
                .join(want, "canonical_url")
                .withColumn("seq", F.col("step_ord"))
                .drop("step_ord")
            )
            it = step.iterate
            if it == "rows":
                emits = row_project(fetched, step.columns)
            elif isinstance(it, tuple) and it[0] == "regex":
                emits = regex_scan(fetched, it[1], step.columns)
            elif isinstance(it, tuple) and it[0] == "css":
                emits = css_extract(fetched, it[1], step.columns)
            elif isinstance(it, tuple) and it[0] == "xml":
                # Nokogiri::XML parity: case-sensitive tags/attrs
                # (reference response.rb:42-44, recipe `xml` view)
                emits = css_extract(fetched, it[1], step.columns, xml=True)
            else:
                raise ValueError(f"bad iterate {it!r}")
            return emits.withColumn(
                "seq", F.lit(base_seq) + F.col("seq") * MATCH_STRIDE + F.col("match_idx")
            ).drop("match_idx")

        if remaining is None:
            crawler.run()
        else:
            # budget-bounded rounds: fetch at most `remaining` URLs per
            # round, stop as soon as the step has emitted enough rows (a
            # regex/css step can emit >1 row per doc, so this over-fetches
            # at most one round). A done round commits no fetched rows, so
            # the loop's last count is the step's emit count; only a step
            # whose first round is already done counts separately.
            n_emits = None
            while True:
                stats = crawler.run_round(budget=remaining)
                if stats.get("done"):
                    break
                n_emits = step_emits().count()
                if n_emits >= remaining:
                    break
            emitted += n_emits if n_emits is not None else step_emits().count()
        sink.emit(step_emits())
        # keep the fetched view for chaining (final_url + program order)
        prev_fetched = (
            crawler.fetched_t.read()
            .join(want, "canonical_url")
            .select("final_url", "canonical_url", "status", F.col("step_ord").alias("seq"))
        )

    csv = sink.render(limit=recipe.limit)
    count, tally = sink.report(limit=recipe.limit)
    return RecipeResult(
        csv=csv,
        count=count,
        tally=tally,
        columns=sink.columns,
        elapsed=time.time() - t0,
    )
