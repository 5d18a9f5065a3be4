"""Self-check of the benchmark itself, on tiny sizes.

    python3 perfbench/selfcheck.py          # arithmetic + injected faults
    python3 perfbench/selfcheck.py --quick  # arithmetic only (no Spark)

Covers the metric arithmetic (interval unions, span self times, layer
shares, throughput) and confirms that the output checks catch
an injected wrong CSV on ``recipe`` and an injected duplicate fetch on
``revisit``, so such faults show up as ``failed`` in a run's result.
Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import os
import shutil
import sys
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run as bench  # noqa: E402


def check_arithmetic() -> None:
    from perfbench.measure import interval_union
    from perfbench.tracing import RoundRecord, Span, layer_metrics, self_times

    assert interval_union([]) == 0.0
    assert interval_union([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert interval_union([(0, 10), (2, 3)]) == 10.0

    # round 0..10 s: a commit 2..8 s with two overlapping executor fetch
    # spans 3..5 and 4..6, and a sync 8..9 s
    spans = [
        Span(1, None, "revisit.step", 0.0, 10.0),
        Span(2, 1, "crawl.round", 0.0, 10.0, {"jobs": 4, "tasks": 12}),
        Span(3, 2, "snapshots.commit", 2.0, 8.0, {"files": 2, "bytes": 3000}),
        Span(4, 3, "fetch.resolve", 3.0, 5.0, {"bytes": 100, "status": 200}),
        Span(5, 3, "fetch.resolve", 4.0, 6.0, {"bytes": 50, "status": 503}),
        Span(6, 2, "bloom.keys_sync", 8.0, 9.0),
    ]
    selfs = self_times(spans)
    assert selfs[3] == 3.0  # 6 s minus the 3 s the fetches cover
    assert selfs[2] == 3.0  # 10 s minus commit (6) and sync (1)
    rounds = [RoundRecord(offered=100, disposed=100, fetched=2, candidates=4,
                          new_links=0, wall=10.0, distinct=80)]
    m = layer_metrics(SimpleNamespace(spans=spans), rounds)
    assert m["share.snapshots"] == 0.3 and m["share.fetch"] == 0.3
    assert m["share.crawl"] == 0.3 and m["share.bloom"] == 0.1
    assert m["snapshots.commit_s"] == 3.0 and m["snapshots.bytes_per_page"] == 1500.0
    assert m["fetch.errors"] == 1.0 and m["fetch.attempts_per_request"] == 1.0
    assert m["frontier.dup_frac"] == 0.2 and m["bloom.reject_frac"] == 0.95
    assert m["crawl.spark_jobs"] == 4.0 and m["crawl.spark_tasks"] == 12.0

    slow = RoundRecord(offered=100, disposed=100, fetched=2, candidates=4,
                       new_links=0, wall=100.0)
    s = bench._summary([(1.0, rounds), (2.0, rounds), (9.0, [slow])])
    assert s["steps"] == [1.0, 2.0, 9.0] and len(s["rounds"]) == 3
    assert s["urls_per_s"] == 10.0 and s["pages_per_s"] == 0.2
    print("selfcheck: metric arithmetic ok")


def check_injected_faults() -> None:
    bench._isolate_environment()
    from perfbench.workloads import RecipeSuite, Revisit

    work = os.path.join(bench.RUN_DIR, "selfcheck")
    shutil.rmtree(work, ignore_errors=True)
    spark = bench._start_spark()
    try:
        suite = RecipeSuite(spark, os.path.join(work, "recipe"), seed=3)
        suite._run("implicit_header", None)
        assert suite.check() == (1, []), suite.check()
        recipe, _ = suite.recipes["array_header"]
        suite.recipes["array_header"] = (recipe, "n,a,p,z\nwrong\n")
        suite._run("array_header", None)
        attempted, failures = suite.check()
        assert attempted == 2 and len(failures) == 1, failures
        print("selfcheck: injected wrong CSV is counted as failed")

        tiny = type(
            "TinyRevisit", (Revisit,),
            {"seen_urls": 2_000, "fresh_frac": 0.05, "span_sample_mod": 1},
        )
        wl = tiny(spark, os.path.join(work, "revisit"), seed=5)
        wl.setup()
        wl.step(None)
        wl.step(None)
        assert wl.check() == (2, []), wl.check()
        fetched = wl.crawler.fetched_t
        fetched.append(fetched.read().where("round = 1").limit(1), {"round": 1})
        attempted, failures = wl.check()
        assert attempted == 2 and len(failures) == 1, failures
        assert "fetched twice" in failures[0], failures
        print("selfcheck: injected duplicate fetch is counted as failed")
    finally:
        bench._stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    check_arithmetic()
    if "--quick" not in sys.argv:
        check_injected_faults()
