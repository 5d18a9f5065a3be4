"""Blackbox CLI tests — mirror of the reference's shell-out suite
(/root/reference/test/test_main.rb:4-68): run ``python -m sinew_spark``
as a subprocess, assert exit codes, CSV file contents, --limit flow
control, bad-args matrix, --version, and silent/verbose output."""

import os
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RECIPE_SRC = textwrap.dedent(
    """
    from sinew_spark.recipes import Recipe, Step
    from sinew_spark.sources.fetch import FixtureFetcher

    FETCHER = FixtureFetcher(seed=42)
    RECIPE = Recipe(
        steps=[
            Step(
                urls=["http://httpbingo.org/html"],
                iterate=("regex", "<h1>([^<]+)"),
                columns={"h1": ("regex_group", 1)},
            ),
            Step(rows=[{"h1": str(i)} for i in range(1, 6)]),
        ]
    )
    """
)


def _run(args, timeout=180):
    return subprocess.run(
        [sys.executable, "-m", "sinew_spark", *args],
        capture_output=True,
        text=True,
        timeout=timeout,
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO},
    )


@pytest.fixture(scope="module")
def recipe_path(tmp_path_factory):
    d = tmp_path_factory.mktemp("cli")
    p = d / "sample.py"
    p.write_text(RECIPE_SRC)
    return str(p)


def test_cli_end_to_end(recipe_path, tmp_path):
    """One Spark-bearing subprocess covers the happy path + --limit +
    default-output naming + footer tally (startup is ~15s, so batched)."""
    out = str(tmp_path / "out.csv")
    r = _run([recipe_path, "--output", out, "--limit", "3", "-v"])
    assert r.returncode == 0, r.stderr[-2000:]
    with open(out) as f:
        body = f.read()
    # regex emit + first 2 constant rows, cut by limit=3 (limit.sinew flow)
    assert body == "h1\nHerman Melville - Moby-Dick\n1\n2\n"
    assert f"Writing to {out}..." in r.stdout
    assert "Wrote 3 rows to" in r.stdout
    assert "h1" in r.stdout  # tally line + verbose dump
    assert "100.0%" in r.stdout


def test_cli_bad_args(tmp_path):
    # no recipe
    r = _run([])
    assert r.returncode == 1
    # missing file (args.rb:46 "not found")
    r = _run(["nope_does_not_exist.py"])
    assert r.returncode == 1
    assert "not found" in r.stderr
    # recipe without RECIPE symbol
    p = tmp_path / "empty.py"
    p.write_text("x = 1\n")
    r = _run([str(p)])
    assert r.returncode == 1
    assert "defines no RECIPE" in r.stderr


def test_cli_version():
    r = _run(["--version"])
    assert r.returncode == 0
    assert "sinew-spark" in r.stdout


def test_duration_parser():
    from sinew_spark.__main__ import parse_duration

    assert parse_duration("30") == 30
    assert parse_duration("45m") == 45 * 60
    assert parse_duration("1h") == 3600
    assert parse_duration("2d") == 2 * 86400
    assert parse_duration("3w") == 3 * 604800
    with pytest.raises(Exception):
        parse_duration("xyz")


def test_http_fetcher_options_plumbing():
    """Reference runtime options headers/insecure (README.md:147-155):
    stored, request carries headers, errors return the (-1, ...) tuple
    instead of raising (no network in the sandbox)."""
    from sinew_spark.crawl import CrawlOptions
    from sinew_spark.sources.fetch import HttpFetcher

    f = HttpFetcher(timeout=0.2, headers={"User-Agent": "sinew-spark"}, insecure=True)
    assert f.headers["User-Agent"] == "sinew-spark"
    status, ct, body, redirect, *_ = f.resolve_validated(
        "http://127.0.0.1:9/none", "GET", "", 0, {}
    )
    assert status == -1 and redirect is None

    o = CrawlOptions(headers={"X-A": "1"}, insecure=True)
    assert o.headers == {"X-A": "1"} and o.insecure


def test_governance_flags_parse():
    """Round-4 crawl-governance flags: repeatable scope regexes, budget,
    revalidate — parsed into the shapes CrawlOptions expects."""
    from sinew_spark.__main__ import build_parser

    p = build_parser()
    a = p.parse_args([
        "r.py", "--revalidate", "--host-budget", "500",
        "--url-allow", "^http://a", "--url-allow", "^http://b",
        "--url-deny", r"\.pdf$",
    ])
    assert a.revalidate is True and a.host_budget == 500
    assert a.url_allow == ["^http://a", "^http://b"]
    assert a.url_deny == ["\\.pdf$"]
    # defaults: all off
    d = p.parse_args(["r.py"])
    assert d.revalidate is False and d.host_budget is None
    assert d.url_allow is None and d.url_deny is None
