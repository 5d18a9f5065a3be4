"""Benchmark-side tracing of sinew_spark, without editing the program.

Two kinds of instrumentation, both owned by the benchmark:

- ``Probe`` wraps public entry points of each layer (``Crawler.run_round``,
  ``SnapshotTable`` commits, the seen-store ``sync`` calls,
  ``CsvSink.render``) for the lifetime of a run. With no ``Tracer``
  attached the only work it does is the per-round bookkeeping the
  end-to-end metrics need (offered rows from the frontier manifest, round
  wall time, the round's own stats). With a ``Tracer`` attached every call
  becomes a span, and rounds and recipes run inside their own Spark job
  group so their job and task counts can be read from ``statusTracker()``.
- ``TracingFetcher`` is a ``FixtureFetcher`` that records one span per
  ``resolve`` call on the executor, and wraps ``extract_spans_and_links`` in
  the worker process it is unpickled in. Executor spans travel back in a
  Spark accumulator and are attached to the innermost driver span of the
  same round that was open when they started.

All spans stay in memory until the run ends (``Tracer.dump``).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.accumulators import AccumulatorParam

from perfbench.measure import interval_union, median
from sinew_spark.sources.fetch import FixtureFetcher

LAYERS = ("crawl", "frontier", "bloom", "fetch", "htmlparse", "snapshots", "recipes")
EXECUTOR_LAYERS = ("fetch", "htmlparse")


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its interval
    that its children cover (children may overlap one another, as parallel
    executor tasks do, so the covered part is an interval union)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        cover = [
            (max(c.t0, s.t0), min(c.t1, s.t1))
            for c in kids.get(s.sid, ())
            if c.t1 > s.t0 and c.t0 < s.t1
        ]
        out[s.sid] = s.dur - interval_union(cover)
    return out


def layer_wall(spans: list[Span], layer: str, selfs: dict[int, float]) -> float:
    """Wall time a layer accounts for. Driver layers: the sum of their
    spans' self times. Executor layers run in parallel tasks, so they count
    the wall time during which at least one task was inside the layer,
    per parent span."""
    if layer not in EXECUTOR_LAYERS:
        return sum(selfs[s.sid] for s in spans if s.layer == layer)
    by_parent: dict[int | None, list[tuple[float, float]]] = {}
    for s in spans:
        if s.layer == layer:
            by_parent.setdefault(s.parent, []).append((s.t0, s.t1))
    return sum(interval_union(iv) for iv in by_parent.values())


class SpanListParam(AccumulatorParam):
    """Accumulator of executor span records (plain tuples)."""

    def zero(self, value):
        return []

    def addInPlace(self, value1, value2):
        value1.extend(value2)
        return value1


# Executor-side parse wrapper state. A Python worker runs one task at a
# time, and the fetcher unpickled for the current task is the one whose
# accumulator that task reports through, so one slot per process suffices.
_WORKER_PARSE: dict = {}


def _traced_parse(*args, **kwargs):
    fetcher = _WORKER_PARSE["fetcher"]
    if fetcher.acc is None:
        return _WORKER_PARSE["orig"](*args, **kwargs)
    t0 = time.time()
    spans, links = _WORKER_PARSE["orig"](*args, **kwargs)
    fetcher.acc.add(
        [("htmlparse.parse", t0, time.time(), fetcher.round_id, len(spans), len(links))]
    )
    return spans, links


class TracingFetcher(FixtureFetcher):
    """FixtureFetcher that records a span per resolve call (executor side)
    and, once unpickled in a worker, wraps the worker's
    ``extract_spans_and_links`` so the fused parse is timed too. With
    ``acc=None`` it records nothing: the untraced steps of a traced run."""

    def __init__(self, acc, **kwargs):
        super().__init__(**kwargs)
        self.acc = acc
        self.round_id: int | None = None

    def __setstate__(self, state):
        self.__dict__.update(state)
        from sinew_spark.functions import htmlparse

        if "orig" not in _WORKER_PARSE:
            _WORKER_PARSE["orig"] = htmlparse.extract_spans_and_links
            htmlparse.extract_spans_and_links = _traced_parse
        _WORKER_PARSE["fetcher"] = self

    def resolve_validated(self, url, method, body, attempt, cookies, proxy=None,
                          etag=None, last_modified=None):
        t0 = time.time()
        r = super().resolve_validated(url, method, body, attempt, cookies, proxy=proxy,
                                      etag=etag, last_modified=last_modified)
        if self.acc is not None:
            self.acc.add(
                [("fetch.resolve", t0, time.time(), self.round_id, len(r[2] or ""), r[0])]
            )
        return r


@dataclass
class RoundRecord:
    offered: int  # frontier rows at round start (manifest stats, no job)
    disposed: int  # offered rows that left the frontier in this round
    fetched: int
    candidates: int
    new_links: int
    wall: float
    seen_rows: int = 0
    distinct: int | None = None  # distinct offered keys (traced only)


class Tracer:
    """Driver-side span recorder for one traced phase."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.acc = self.sc.accumulator([], SpanListParam())
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._groups: list[str] = []
        self._next = 1

    def current_round(self) -> Span | None:
        for s in reversed(self._open):
            if s.name == "crawl.round":
                return s
        return None

    @contextmanager
    def span(self, name: str, job_group: bool = False, **attrs):
        s = Span(self._next, self._open[-1].sid if self._open else None, name, time.time(),
                 attrs=dict(attrs))
        self._next += 1
        self._open.append(s)
        gid = None
        if job_group:
            gid = f"perfbench-{s.sid}"
            self._groups.append(gid)
            self.sc.setJobGroup(gid, name)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._open.pop()
            if gid is not None:
                self._groups.pop()
                if self._groups:
                    self.sc.setJobGroup(self._groups[-1], "outer")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                s.attrs["jobs"], s.attrs["tasks"] = self._group_work(gid)
            self.spans.append(s)

    def _group_work(self, gid: str) -> tuple[int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for sid in stages:
            info = tracker.getStageInfo(sid)
            if info is not None:
                tasks += info.numCompletedTasks
        return len(jobs), tasks

    def collect_executor_spans(self) -> None:
        """Turn the accumulated executor records into spans, each parented
        by the innermost driver span of its round open at its start."""
        records, self.acc.value = self.acc.value, []
        by_round: dict[int, list[Span]] = {}
        parents = {s.sid: s for s in self.spans}
        for s in self.spans:
            r = s
            while r is not None and r.name != "crawl.round":
                r = parents.get(r.parent)
            if r is not None:
                by_round.setdefault(r.sid, []).append(s)
        for name, t0, t1, round_id, a, b in records:
            inside = [
                s for s in by_round.get(round_id, ()) if s.t0 <= t0 <= s.t1
            ]
            parent = max(inside, key=lambda s: s.t0).sid if inside else round_id
            attrs = {"bytes": a, "status": b} if name == "fetch.resolve" else {
                "spans": a, "links": b
            }
            self.spans.append(Span(self._next, parent, name, t0, t1, attrs))
            self._next += 1

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.t0):
                f.write(json.dumps({
                    "id": s.sid, "parent": s.parent, "name": s.name,
                    "start": s.t0, "end": s.t1, **s.attrs,
                }) + "\n")


class Probe:
    """Wraps the layers' public entry points for the duration of a run
    (``with Probe(): ...``); see the module docstring."""

    def __init__(self):
        self.tracer: Tracer | None = None
        self.rounds: list[RoundRecord] = []
        self._saved: list[tuple[object, str, object]] = []

    def __enter__(self) -> "Probe":
        from sinew_spark.crawl import Crawler
        from sinew_spark.operators.bloom import BloomShardStore, SeenKeyShardStore
        from sinew_spark.plans.snapshots import SnapshotTable
        from sinew_spark.sinks.csv_sink import CsvSink

        self._patch(Crawler, "run_round", self._wrap_round)
        for method in ("append", "overwrite", "append_rows"):
            self._patch(SnapshotTable, method, self._wrap_commit)
        self._patch(SeenKeyShardStore, "sync", self._wrap_named("bloom.keys_sync"))
        self._patch(BloomShardStore, "sync", self._wrap_named("bloom.filter_sync"))
        self._patch(CsvSink, "render", self._wrap_named("recipes.render"))
        return self

    def __exit__(self, *exc) -> None:
        for owner, name, orig in reversed(self._saved):
            setattr(owner, name, orig)
        self._saved.clear()

    def _patch(self, owner, name: str, wrapper) -> None:
        orig = owner.__dict__[name]
        self._saved.append((owner, name, orig))
        setattr(owner, name, wrapper(orig))

    def _wrap_named(self, span_name: str):
        probe = self

        def wrap(orig):
            def traced(obj, *args, **kwargs):
                if probe.tracer is None:
                    return orig(obj, *args, **kwargs)
                with probe.tracer.span(span_name):
                    return orig(obj, *args, **kwargs)

            return traced

        return wrap

    def _wrap_commit(self, orig):
        probe = self

        def traced(table, *args, **kwargs):
            tracer = probe.tracer
            if tracer is None:
                return orig(table, *args, **kwargs)
            in_round = tracer.current_round() is not None
            if table.path.rstrip("/").endswith("/frontier"):
                name = "frontier.overwrite" if in_round else "frontier.offer"
            else:
                name = "snapshots.commit"
            with tracer.span(name, table=table.path.rsplit("/", 1)[-1]) as s:
                out = orig(table, *args, **kwargs)
                files = table.snapshots()[-1]["meta"].get("files") or []
                s.attrs["files"] = len(files)
                s.attrs["bytes"] = sum(int(f["bytes"]) for f in files)
            return out

        return traced

    def _wrap_round(self, orig):
        probe = self

        def traced(crawler, *args, **kwargs):
            tracer = probe.tracer
            offered = crawler.frontier_t.approx_rows()
            distinct = None
            if tracer is not None and offered:
                # own job group, so the extra job is not billed to a recipe
                with tracer.span("bench.distinct_offered", job_group=True):
                    distinct = crawler.frontier_t.read().select("key").distinct().count()
            t0 = time.perf_counter()
            if tracer is None:
                stats = orig(crawler, *args, **kwargs)
            else:
                with tracer.span("crawl.round", job_group=True) as s:
                    if isinstance(crawler.fetcher, TracingFetcher):
                        crawler.fetcher.round_id = s.sid
                    stats = orig(crawler, *args, **kwargs)
            wall = time.perf_counter() - t0
            # a round that fetched nothing returns early, leaving its frontier
            left = offered if stats.get("done") else crawler.frontier_t.approx_rows()
            rec = RoundRecord(
                offered=offered,
                disposed=offered - left,
                fetched=int(stats.get("fetched", 0)),
                candidates=int(stats.get("candidates", 0)),
                new_links=int(stats.get("new_links", 0)),
                wall=wall,
                distinct=distinct,
            )
            if tracer is not None:
                rec.seen_rows = crawler.seen_t.approx_rows()
            probe.rounds.append(rec)
            return stats

        return traced


def layer_metrics(tracer: Tracer, rounds: list[RoundRecord]) -> dict[str, float]:
    """Per-layer metrics of one traced phase, normalised per crawl round
    (per recipe for the recipes layer). Shares are each layer's wall time
    (``layer_wall``) over the summed wall time of the workload's steps."""
    spans = tracer.spans
    selfs = self_times(spans)
    round_spans = [s for s in spans if s.name == "crawl.round"]
    n = max(len(round_spans), 1)
    in_round = _descendants(spans, {s.sid for s in round_spans})

    def seconds_per_round(name: str) -> float:
        return sum(s.dur for s in spans if s.name == name and s.sid in in_round) / n

    resolves = [s for s in spans if s.name == "fetch.resolve"]
    parses = [s for s in spans if s.name == "htmlparse.parse"]
    commits = [s for s in spans if s.name == "snapshots.commit" and s.sid in in_round]
    recipes = [s for s in spans if s.name == "recipes.recipe"]
    n_rec = max(len(recipes), 1)
    fetched = sum(r.fetched for r in rounds)
    offered = sum(r.offered for r in rounds)
    distinct = sum(r.distinct or 0 for r in rounds)
    commit_bytes = sum(s.attrs.get("bytes", 0) for s in commits)
    rounds_in_recipes = [s for s in round_spans if s.sid in _descendants(
        spans, {r.sid for r in recipes})]
    steps = [s for s in spans if s.parent is None and s.name in ("revisit.step", "recipes.recipe")]
    step_wall = sum(s.dur for s in steps) or 1.0

    m = {
        "crawl.round_s": median([s.dur for s in round_spans]),
        "crawl.spark_jobs": sum(s.attrs["jobs"] for s in round_spans) / n,
        "crawl.spark_tasks": sum(s.attrs["tasks"] for s in round_spans) / n,
        "frontier.offered": offered / n,
        "frontier.candidates": sum(r.candidates for r in rounds) / n,
        "frontier.dup_frac": (offered - distinct) / offered if offered else 0.0,
        "frontier.links_new": sum(r.new_links for r in rounds) / n,
        "frontier.overwrite_s": seconds_per_round("frontier.overwrite"),
        "bloom.keys_sync_s": seconds_per_round("bloom.keys_sync"),
        "bloom.filter_sync_s": seconds_per_round("bloom.filter_sync"),
        "bloom.seen_rows": float(max((r.seen_rows for r in rounds), default=0)),
        "bloom.reject_frac": (
            (distinct - sum(r.candidates for r in rounds)) / distinct if distinct else 0.0
        ),
        "fetch.requests": len(resolves) / n,
        "fetch.resolve_s": sum(s.dur for s in resolves) / n,
        "fetch.attempts_per_request": len(resolves) / fetched if fetched else 0.0,
        "fetch.errors": sum(
            1 for s in resolves if s.attrs["status"] is None
            or s.attrs["status"] >= 500 or s.attrs["status"] < 0
        ) / n,
        "fetch.body_mb": sum(s.attrs["bytes"] for s in resolves) / 1e6 / n,
        "htmlparse.docs": len(parses) / n,
        "htmlparse.parse_s": sum(s.dur for s in parses) / n,
        "htmlparse.spans": sum(s.attrs["spans"] for s in parses) / n,
        "htmlparse.links": sum(s.attrs["links"] for s in parses) / n,
        "snapshots.commits": len(commits) / n,
        "snapshots.commit_s": sum(selfs[s.sid] for s in commits) / n,
        "snapshots.files_written": sum(s.attrs.get("files", 0) for s in commits) / n,
        "snapshots.bytes_written_mb": commit_bytes / 1e6 / n,
        "snapshots.bytes_per_page": commit_bytes / fetched if fetched else 0.0,
        "recipes.spark_jobs": (
            sum(s.attrs["jobs"] for s in recipes)
            + sum(s.attrs["jobs"] for s in rounds_in_recipes)
        ) / n_rec if recipes else 0.0,
        "recipes.rounds": len(rounds_in_recipes) / n_rec if recipes else 0.0,
        "recipes.render_s": sum(
            s.dur for s in spans if s.name == "recipes.render"
        ) / n_rec if recipes else 0.0,
    }
    for layer in LAYERS:
        m[f"share.{layer}"] = layer_wall(spans, layer, selfs) / step_wall
    return m


def _descendants(spans: list[Span], roots: set[int]) -> set[int]:
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.sid)
    out, todo = set(), list(roots)
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(kids.get(sid, ()))
    return out
