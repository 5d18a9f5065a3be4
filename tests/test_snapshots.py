"""SnapshotTable: atomic commits, time travel, rollback, row-level delete."""

from pyspark.sql import functions as F
from pyspark.sql import types as T

from sinew_spark.plans.snapshots import SnapshotTable

SCHEMA = T.StructType(
    [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
)


def test_append_and_read(spark, tmpdir_path):
    t = SnapshotTable(spark, tmpdir_path + "/t", SCHEMA)
    assert t.current_snapshot() is None
    assert t.read().count() == 0

    t.append(spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA))
    s1 = t.current_snapshot()
    t.append(spark.createDataFrame([(3, "c")], SCHEMA))
    assert t.read().count() == 3
    # time travel
    assert t.read(s1).count() == 2


def test_rollback_resume(spark, tmpdir_path):
    t = SnapshotTable(spark, tmpdir_path + "/t", SCHEMA)
    t.append(spark.createDataFrame([(1, "a")], SCHEMA))
    s1 = t.current_snapshot()
    t.append(spark.createDataFrame([(2, "b")], SCHEMA))
    t.rollback_to(s1)
    assert [r.k for r in t.read().collect()] == [1]
    # append after rollback diverges cleanly
    t.append(spark.createDataFrame([(9, "z")], SCHEMA))
    assert sorted(r.k for r in t.read().collect()) == [1, 9]


def test_rollback_to_empty(spark, tmpdir_path):
    """rollback_to(None) empties the table; the next append starts a new
    lineage holding only its own rows."""
    t = SnapshotTable(spark, tmpdir_path + "/t", SCHEMA)
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA))
    t.rollback_to(None)
    assert t.current_snapshot() is None
    assert t.read().count() == 0 and t.approx_rows() == 0
    sid = t.append(spark.createDataFrame([(9, "z")], SCHEMA))
    assert t.snapshots()[-1]["parent"] is None
    assert [r.k for r in t.read().collect()] == [9]
    assert [r.k for r in t.read_delta(sid).collect()] == [9]
    assert t.approx_rows() == 1


def test_delete_where(spark, tmpdir_path):
    t = SnapshotTable(spark, tmpdir_path + "/t", SCHEMA)
    t.append(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], SCHEMA))
    t.delete_where(F.col("k") == 2)
    assert sorted(r.k for r in t.read().collect()) == [1, 3]
    # old snapshot still has the row (lineage)
    assert t.read(1).count() == 3


def test_overwrite_and_lineage_meta(spark, tmpdir_path):
    t = SnapshotTable(spark, tmpdir_path + "/t", SCHEMA)
    t.append(spark.createDataFrame([(1, "a")], SCHEMA), {"round": 0})
    t.overwrite(spark.createDataFrame([(5, "e")], SCHEMA), {"round": 1})
    snaps = t.snapshots()
    assert [s["meta"].get("round") for s in snaps] == [0, 1]
    assert [r.k for r in t.read().collect()] == [5]


def test_compact_preserves_rows_and_history(spark, tmpdir_path):
    """Maintenance compaction: all live rows survive as one new snapshot;
    prior snapshots remain time-travelable (small-file cleanup a long crawl
    needs — seen/fetched accumulate one dir per round)."""
    t = SnapshotTable(spark, tmpdir_path + "/tc", SCHEMA)
    for i in range(4):
        t.append(spark.createDataFrame([(i, f"v{i}")], SCHEMA))
    s_pre = t.current_snapshot()
    before = sorted((r.k, r.v) for r in t.read().collect())
    n_dirs_before = len(t._dirs())

    t.compact()
    after = sorted((r.k, r.v) for r in t.read().collect())
    assert after == before
    assert len(t._dirs()) == 1  # one live data dir after compaction
    assert n_dirs_before == 4
    # pre-compaction snapshot still time-travels
    assert t.read(s_pre).count() == 4


def test_delete_keys_merge_on_read(spark, tmpdir_path):
    """Equality delete writes a tiny delete file, no table rewrite: data
    dirs are unchanged, the read resolves the delete, time travel still
    sees the row, and the sequence rule makes a re-appended key visible
    again (the delete only applies to files added before it)."""
    t = SnapshotTable(spark, tmpdir_path + "/t", SCHEMA)
    t.append(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], SCHEMA))
    s1 = t.current_snapshot()
    dirs_before = t._dirs()
    t.delete_keys([2], key_col="k")
    assert t._dirs() == dirs_before  # merge-on-read: no data rewrite
    assert sorted(r.k for r in t.read().collect()) == [1, 3]
    assert sorted(r.k for r in t.read(s1).collect()) == [1, 2, 3]  # time travel
    assert t.read_delta(t.current_snapshot()).count() == 0  # adds nothing
    assert [r.k for r in t.read_delete_delta(t.current_snapshot()).collect()] == [2]

    # sequence rule: re-append key 2 -> visible; a later delete hits both
    t.append(spark.createDataFrame([(2, "b2")], SCHEMA))
    assert sorted((r.k, r.v) for r in t.read().collect()) == [(1, "a"), (2, "b2"), (3, "c")]
    t.delete_keys([2, 3], key_col="k")
    assert sorted(r.k for r in t.read().collect()) == [1]

    # compaction resolves deletes into plain data
    t.compact()
    assert t._snapshot().get("deletes") == []
    assert sorted(r.k for r in t.read().collect()) == [1]


def test_delete_keys_auto_compacts(spark, tmpdir_path):
    """Accumulated delete files are bounded by MOR_COMPACT_DELETES — the
    read plan never grows past that many anti-join groups."""
    from sinew_spark.plans.snapshots import MOR_COMPACT_DELETES

    t = SnapshotTable(spark, tmpdir_path + "/t", SCHEMA)
    t.append(spark.createDataFrame([(0, "x")], SCHEMA))
    for i in range(1, MOR_COMPACT_DELETES + 4):
        t.append(spark.createDataFrame([(i, "x")], SCHEMA))
        t.delete_keys([i], key_col="k")
    assert len(t._snapshot().get("deletes")) <= MOR_COMPACT_DELETES
    assert [r.k for r in t.read().collect()] == [0]


def test_diff_between_snapshots(spark, tmpdir_path):
    import pyspark.sql.types as T

    from sinew_spark.plans.snapshots import SnapshotTable

    schema = T.StructType(
        [T.StructField("key", T.LongType()), T.StructField("v", T.StringType())]
    )
    t = SnapshotTable(spark, tmpdir_path + "/difftab", schema)
    s1 = t.append(spark.createDataFrame([(1, "a"), (2, "b")], schema))
    s2 = t.append(spark.createDataFrame([(3, "c")], schema))
    s3 = t.delete_keys([2], key_col="key")

    # bootstrap: everything is 'added'
    boot = {(r.key, r.change) for r in t.diff(None, s1).collect()}
    assert boot == {(1, "added"), (2, "added")}

    d12 = {(r.key, r.change) for r in t.diff(s1, s2).collect()}
    assert d12 == {(3, "added")}

    # merge-on-read delete surfaces as 'removed'
    d23 = {(r.key, r.change) for r in t.diff(s2, s3).collect()}
    assert d23 == {(2, "removed")}

    # spanning diff composes both
    d13 = {(r.key, r.change) for r in t.diff(s1, s3).collect()}
    assert d13 == {(3, "added"), (2, "removed")}

    # identity diff is empty; to_snapshot=None means current
    assert t.diff(s3).count() == 0
    assert {(r.key, r.change) for r in t.diff(s2).collect()} == {(2, "removed")}


def test_compact_preserves_rows_resolves_deletes(spark, tmpdir_path):
    import glob as _glob

    import pyspark.sql.types as T

    from sinew_spark.plans.snapshots import SnapshotTable

    schema = T.StructType(
        [T.StructField("key", T.LongType()), T.StructField("v", T.StringType())]
    )
    t = SnapshotTable(spark, tmpdir_path + "/comptab", schema)
    for i in range(4):  # 4 small append dirs
        t.append(spark.createDataFrame([(i * 10 + j, f"r{i}{j}") for j in range(5)], schema))
    t.delete_keys([0, 11, 22], key_col="key")
    before = sorted((r.key, r.v) for r in t.read().collect())
    s_pre = t.current_snapshot()

    s_c = t.compact()
    after = sorted((r.key, r.v) for r in t.read().collect())
    assert after == before  # identical logical state
    # deletes resolved: the compact snapshot carries none
    assert t._snapshot(s_c).get("deletes") == []
    # layout consolidated: one data dir now backs the table
    assert len(t._dirs()) == 1
    # no logical delta for incremental consumers
    assert t.read_delta(s_c).count() == 0
    assert t.diff(s_pre, s_c, key_col="key").count() == 0

    # life goes on: append + MOR delete after compaction behave normally
    t.append(spark.createDataFrame([(99, "new")], schema))
    t.delete_keys([10], key_col="key")
    final = {r.key for r in t.read().collect()}
    assert 99 in final and 10 not in final and 0 not in final

    # time travel to pre-compact snapshots still works
    assert sorted((r.key, r.v) for r in t.read(s_pre).collect()) == before

    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.compact(target_files=0)


def test_crawl_with_periodic_seen_compaction(spark, tmpdir_path):
    """A multi-round crawl with compact_seen_every behaves identically to
    one without: same seen contents, exactly-once intact across the
    compaction on the anti-join path and on the seen-index path (which
    steps over it), fewer live data dirs."""
    from sinew_spark.crawl import Crawler, CrawlOptions
    from sinew_spark.sources.fetch import FixtureFetcher

    def run(tag, **extra):
        c = Crawler(
            spark,
            tmpdir_path + "/cc_" + tag,
            FixtureFetcher(seed=42, synthetic=True, synthetic_links=2, synthetic_hosts=5),
            CrawlOptions(
                retries=0, max_rounds=4, follow_links=True, per_host_cap=3, **extra
            ),
        )
        c.seed([f"http://h{i % 5}.synth.test/p/{i}" for i in range(10)])
        c.run()
        return c

    plain = run("plain")
    a = sorted(
        (r.url, r.status, r.round) for r in plain.seen_t.read().collect()
    )
    for exact_shards in (None, True):
        compacted = run(
            f"compact_{exact_shards}",
            compact_seen_every=2,
            compact_target_files=1,
            exact_shards=exact_shards,
        )
        b = sorted(
            (r.url, r.status, r.round) for r in compacted.seen_t.read().collect()
        )
        assert a == b
        assert len(compacted.seen_t._dirs()) < len(plain.seen_t._dirs())


def test_lineage_dataframe(spark, tmp_path):
    """lineage(): one row per data file per snapshot with rows/bytes from
    the parquet footers and the caller's round meta — metadata only."""
    from pyspark.sql import types as T

    t = SnapshotTable(
        spark, str(tmp_path / "t"),
        T.StructType([T.StructField("k", T.LongType())]),
    )
    assert t.lineage().count() == 0
    t.append(spark.range(10).select(F.col("id").alias("k")).repartition(2), {"round": 0})
    t.append(spark.range(5).select(F.col("id").alias("k")).repartition(1), {"round": 1})
    lin = t.lineage().toPandas()
    # 2 files for round 0, 1 for round 1 (one per write task)
    assert lin.groupby("round")["file"].count().to_dict() == {0: 2, 1: 1}
    assert lin.groupby("round")["rows"].sum().to_dict() == {0: 10, 1: 5}
    assert (lin["bytes"] > 0).all()
    assert set(lin["op"]) == {"append"}
    # parent chain: second snapshot points at the first
    sids = sorted(lin["snapshot_id"].unique())
    assert len(sids) == 2
    parents = lin.set_index("snapshot_id")["parent_id"].to_dict()
    assert parents[sids[1]] == sids[0]


def test_overwrite_with_rows_runs_no_job(spark, tmpdir_path):
    """A row list overwrite is written driver-side; [] empties the table."""
    t = SnapshotTable(spark, tmpdir_path + "/t", SCHEMA)
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA))
    sc = spark.sparkContext
    group = "test_overwrite_with_rows_runs_no_job"
    sc.setJobGroup(group, group)
    try:
        t.overwrite([(3, "c")], {"round": 0})
        assert t.approx_rows() == 1
        t.overwrite([], {"round": 1})
        assert t.approx_rows() == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert t.read().count() == 0
    prev = t.snapshots()[-2]["id"]
    assert [tuple(r) for r in t.read(prev).collect()] == [(3, "c")]
    assert t.snapshots()[-1]["meta"]["round"] == 1


def test_empty_table_read_is_pruned_from_joins(spark, tmpdir_path):
    """An empty table reads as a relation the optimizer knows is empty, so
    an anti-join against it is removed from the plan."""
    t = SnapshotTable(spark, tmpdir_path + "/t", SCHEMA)
    df = spark.range(5).select(F.col("id").alias("k"))
    plan = df.join(t.read(), "k", "left_anti")._jdf.queryExecution().optimizedPlan()
    assert "Join" not in plan.toString()
    assert df.join(t.read(), "k", "left_anti").count() == 5


def _ks(df):
    return sorted(r.k for r in df.collect())


def test_read_delta_after_rollback_is_the_appended_rows_only(spark, tmpdir_path):
    """An append's delta is what it added to its parent, not to the previous
    manifest entry: after a rollback that entry is an abandoned sibling, a
    compaction or a delete_where overwrite, whose dirs the new append never
    carried."""
    def rows(*ks):
        return spark.createDataFrame([(k, str(k)) for k in ks], SCHEMA)

    t = SnapshotTable(spark, tmpdir_path + "/compact", SCHEMA)
    t.append(rows(1, 2))
    s2 = t.append(rows(3))
    t.compact()
    t.rollback_to(s2)
    assert _ks(t.read_delta(t.append(rows(4)))) == [4]
    assert _ks(t.read()) == [1, 2, 3, 4]

    t = SnapshotTable(spark, tmpdir_path + "/overwrite", SCHEMA)
    s1 = t.append(rows(1, 2))
    t.delete_where(F.col("k") == 2)
    t.rollback_to(s1)
    assert _ks(t.read_delta(t.append(rows(5)))) == [5]
    assert _ks(t.read()) == [1, 2, 5]


def test_ancestors_and_since_follow_parents(spark, tmpdir_path):
    """ancestors walks parent pointers newest first; since chains a
    consumer's snapshot to a later one, oldest first, or returns None when
    a rollback left it off the chain, an expired snapshot lies between, or
    rollback_to(None) started a new root."""
    t = SnapshotTable(spark, tmpdir_path + "/t", SCHEMA)
    row = spark.createDataFrame([(1, "a")], SCHEMA)
    assert t.ancestors() == [] and t.since(None) is None
    s1 = t.append(row)
    s2 = t.append(row)
    s3 = t.append(row)
    assert [s["id"] for s in t.ancestors()] == [s3, s2, s1]
    assert [s["id"] for s in t.ancestors(s2)] == [s2, s1]
    assert [s["id"] for s in t.since(s1)] == [s2, s3]
    assert t.since(s3) == []

    # rollback branch: s2 and s3 are abandoned, s4 is built on s1
    t.rollback_to(s1)
    s4 = t.append(row)
    assert [s["id"] for s in t.ancestors()] == [s4, s1]
    assert [s["id"] for s in t.since(s1)] == [s4]
    assert t.since(s2) is None and t.since(s3) is None
    assert [s["id"] for s in t.since(s1, s3)] == [s2, s3]  # the old branch still chains

    # an expired member between the consumer and current breaks the chain
    s5 = t.append(row)
    t.expire_snapshots(retain_last=1, keep_ids=[s1])  # s4 expires
    assert [s["id"] for s in t.ancestors()] == [s5, s4, s1]
    assert t.since(s1) is None
    assert t.since(s4) == [t.ancestors()[0]]

    # rollback_to(None): the next commit is a root with no ancestors
    t.rollback_to(None)
    s6 = t.append(row)
    assert [s["id"] for s in t.ancestors()] == [s6]
    assert t.since(s1) is None and t.since(s5) is None
