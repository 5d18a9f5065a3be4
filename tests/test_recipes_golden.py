"""Golden-output recipe tests — the span-sequence / CSV byte contract.

Each case mirrors one reference recipe (/root/reference/test/recipes/
*.sinew); expected CSV bytes are the `# OUTPUT` blocks from those files,
verbatim (extraction logic: test_recipes.rb:22-32). This is the
BASELINE.json exact-match metric at test scale."""

import pytest
from pyspark.sql import functions as F

from sinew_spark.crawl import CrawlOptions
from sinew_spark.recipes import Recipe, RecipeResult, Step, run_recipe
from sinew_spark.sources.fetch import FixtureFetcher


def run(spark, tmpdir_path, recipe, **opts) -> RecipeResult:
    return run_recipe(
        spark, recipe, tmpdir_path, FixtureFetcher(seed=42), CrawlOptions(**opts)
    )


def test_array_header(spark, tmpdir_path):
    # test/recipes/array_header.sinew: explicit header, missing cols padded
    r = run(
        spark,
        tmpdir_path,
        Recipe(header=["n", "a", "p", "z"], steps=[Step(rows=[{"n": "n1", "a": "a1"}])]),
    )
    assert r.csv == "n,a,p,z\nn1,a1,,\n"


def test_basic(spark, tmpdir_path):
    # test/recipes/basic.sinew: regex scan over raw body
    r = run(
        spark,
        tmpdir_path,
        Recipe(
            steps=[
                Step(
                    urls=["http://httpbingo.org/html"],
                    iterate=("regex", "<h1>([^<]+)"),
                    columns={"h1": ("regex_group", 1)},
                )
            ]
        ),
    )
    assert r.csv == "h1\nHerman Melville - Moby-Dick\n"


def test_implicit_header(spark, tmpdir_path):
    # test/recipes/implicit_header.sinew: header from first row's keys
    r = run(
        spark,
        tmpdir_path,
        Recipe(steps=[Step(rows=[{"name": "bob", "address": "main"}])]),
    )
    assert r.csv == "name,address\nbob,main\n"


def test_limit(spark, tmpdir_path):
    # test/recipes/limit.sinew: limit=3 stops after the 3rd emit
    r = run(
        spark,
        tmpdir_path,
        Recipe(limit=3, steps=[Step(rows=[{"i": str(i)} for i in range(1, 6)])]),
    )
    assert r.csv == "i\n1\n2\n3\n"
    assert r.count == 3


def test_noko(spark, tmpdir_path):
    # test/recipes/noko.sinew: CSS select over the XML slideshow
    r = run(
        spark,
        tmpdir_path,
        Recipe(
            steps=[
                Step(
                    urls=["http://httpbingo.org/xml"],
                    iterate=("css", "slide title"),
                    columns={"title": "text"},
                )
            ]
        ),
    )
    assert r.csv == "title\nWake up to WonderWidgets!\nOverview\n"


def test_url(spark, tmpdir_path):
    # test/recipes/url.sinew: URI math + final-url projection
    r = run(
        spark,
        tmpdir_path,
        Recipe(
            steps=[
                Step(
                    urls=["http://httpbingo.org/html"],
                    iterate="rows",
                    columns={"url": "final_url"},
                ),
                Step(url_join="/get", iterate="rows", columns={"url": "final_url"}),
            ]
        ),
    )
    assert r.csv == "url\nhttp://httpbingo.org/html\nhttp://httpbingo.org/get\n"


def test_xml(spark, tmpdir_path):
    # test/recipes/xml.sinew: CSS select over the HTML page
    r = run(
        spark,
        tmpdir_path,
        Recipe(
            steps=[
                Step(
                    urls=["http://httpbingo.org/html"],
                    iterate=("css", "h1"),
                    columns={"h1": "text"},
                )
            ]
        ),
    )
    assert r.csv == "h1\nHerman Melville - Moby-Dick\n"


def test_tally_and_report(spark, tmpdir_path):
    # emit/tally semantics (test_csv.rb:4-12): count all rows, tally non-null
    r = run(
        spark,
        tmpdir_path,
        Recipe(
            header=["a", "b"],
            steps=[Step(rows=[{"a": "1"}, {"a": "2", "b": "x"}, {"b": None}])],
        ),
    )
    assert r.csv == "a,b\n1,\n2,x\n,\n"
    assert r.count == 3
    assert r.tally == {"a": 2, "b": 1}
    assert r.report() == [("a", 2, 2 * 100.0 / 3), ("b", 1, 100.0 / 3)]


def test_header_freeze_projection(spark, tmpdir_path):
    # test_base.rb:119-124: csv_header(:a,:b); emit(a: 1) -> "a,b\n1,\n"
    r = run(
        spark,
        tmpdir_path,
        Recipe(header=["a", "b"], steps=[Step(rows=[{"a": "1"}])]),
    )
    assert r.csv == "a,b\n1,\n"


def test_emit_normalization_applied(spark, tmpdir_path):
    # emitted values flow through the normalize pipeline (csv.rb:31-50)
    r = run(
        spark,
        tmpdir_path,
        Recipe(steps=[Step(rows=[{"v": "<b>café &amp; </b> stuff "}])]),
    )
    assert r.csv == "v\ncafe & stuff\n"


def test_json_mash_extraction(spark, tmpdir_path):
    """P4/P5: the reference's json/mash dotted access (response.rb:27-34)
    as ('json', 'path') column specs over the JSON echo fixture."""
    from sinew_spark.crawl import CrawlOptions
    from sinew_spark.recipes import Recipe, Step, run_recipe
    from sinew_spark.sources.fetch import FixtureFetcher

    r = Recipe(
        steps=[
            Step(
                urls=["http://host.test/get?a=1&b=2"],
                iterate="rows",
                columns={
                    "method": ("json", "method"),
                    "a": ("json", "args.a"),
                    "b": ("json", "args.b"),
                    "url": "final_url",
                },
            )
        ]
    )
    res = run_recipe(
        spark, r, tmpdir_path, FixtureFetcher(seed=1), CrawlOptions(rate_limit=0, retries=0)
    )
    assert res.csv == (
        "method,a,b,url\nGET,1,2,http://host.test/get?a=1&b=2\n"
    )


def test_limit_is_flow_control(spark, tmpdir_path):
    """The reference's -l aborts fetching once the limit is hit
    (lib/sinew/main.rb:25-27, base.rb:146-149) — a limit-3 recipe over a
    1000-URL step must fetch at most one budget-bounded round (3 URLs),
    not all 1000."""
    import os

    from sinew_spark.crawl import Crawler

    urls = [f"http://host{i % 7}.test/page/{i}" for i in range(1000)]
    r = run(
        spark,
        tmpdir_path,
        Recipe(
            limit=3,
            steps=[Step(urls=urls, iterate="rows", columns={"url": "final_url"})],
        ),
        retries=0,
    )
    assert r.count == 3
    assert r.csv.count("\n") == 4  # header + 3 rows
    # fetched table holds only the budget-bounded rounds' rows
    crawler = Crawler(spark, os.path.join(tmpdir_path, "crawl"), FixtureFetcher(seed=42))
    assert crawler.fetched_t.read().count() <= 3


def test_url_join_chaining_stays_distributed(spark, tmpdir_path):
    """Chained steps resolve next URLs as a DataFrame plan; program order
    (seq) survives the chain — first step order == second step emit order."""
    urls = [f"http://chain.test/start/{i}" for i in range(5)]
    r = run(
        spark,
        tmpdir_path,
        Recipe(
            steps=[
                Step(urls=urls, iterate="rows", columns={"url": "final_url"}),
                Step(url_join="/get", iterate="rows", columns={"url": "final_url"}),
            ]
        ),
        retries=0,
    )
    lines = r.csv.strip().split("\n")
    assert lines[0] == "url"
    assert lines[1:6] == urls  # step 1 in seed order
    # every chained get emits (one per parent row, reference program order);
    # the FETCH deduped to one request, but cache hits still emit
    assert lines[6:] == ["http://chain.test/get"] * 5
    from sinew_spark.crawl import Crawler
    import os

    crawler = Crawler(spark, os.path.join(tmpdir_path, "crawl"), FixtureFetcher(seed=42))
    n_get_fetches = (
        crawler.fetched_t.read().where("canonical_url = 'http://chain.test/get'").count()
    )
    assert n_get_fetches == 1  # exactly-once fetch despite 5 chained refs


def test_basic_recipe_spark_job_budget(spark, tmpdir_path):
    """A one-URL recipe's fixed cost in Spark jobs: the emit plan runs
    once (one Arrow materialization serves the CSV and the tally), the
    first round's probe of the empty seen table is pruned at plan time,
    the round's stats ride its fetched write, its empty next frontier is
    committed with no job, and the drained second round runs none."""
    sc = spark.sparkContext
    group = "test_basic_recipe_spark_job_budget"
    sc.setJobGroup(group, group)
    try:
        r = run(
            spark,
            tmpdir_path,
            Recipe(
                steps=[
                    Step(
                        urls=["http://httpbingo.org/html"],
                        iterate=("regex", "<h1>([^<]+)"),
                        columns={"h1": ("regex_group", 1)},
                    )
                ]
            ),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert r.csv == "h1\nHerman Melville - Moby-Dick\n"
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 6


def test_arrow_tally_matches_spark_count(spark):
    """The tally read from the rendered Arrow table's null counts equals
    Spark's count(col) over the same first-k-by-seq rows: two emits with
    NULL cells, a column missing from one emit, and a limit."""
    from sinew_spark.sinks.csv_sink import CsvSink

    sink = CsvSink(["a", "b", "c"])
    sink.emit(spark.createDataFrame(
        [("1", None, 5), (None, "x", 2), ("3", "y", 8)], "a string, b string, seq long"
    ))
    sink.emit(spark.createDataFrame(
        [(None, "z", 1), ("4", None, 9), (None, None, 3)], "a string, c string, seq long"
    ))
    for limit in (None, 4):
        csv = sink.render(limit=limit)
        count, tally = sink.report(limit=limit)
        df = sink.dataframe().orderBy("seq")
        if limit is not None:
            df = df.limit(limit)
        row = df.agg(
            F.count(F.lit(1)).alias("__n"), *[F.count(c).alias(c) for c in "abc"]
        ).collect()[0]
        assert count == row["__n"]
        assert tally == {c: row[c] for c in "abc"}
        assert csv.count("\n") == count + 1
    # seq order 1, 2, 3, 5 under limit 4
    assert csv == "a,b,c\n,,z\n,x,\n,,\n1,,\n"
    assert (count, tally) == (4, {"a": 1, "b": 1, "c": 1})
