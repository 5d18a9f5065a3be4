"""expire_snapshots: metadata-preserving file GC."""

import os

import pytest
from pyspark.sql import types as T

from sinew_spark.plans.snapshots import SnapshotTable

SCHEMA = T.StructType(
    [T.StructField("key", T.LongType()), T.StructField("val", T.StringType())]
)


def _mk(spark, path):
    return SnapshotTable(spark, path, SCHEMA)


def _rows(df):
    return sorted((r["key"], r["val"]) for r in df.collect())


def _live_dirs(t):
    base = os.path.join(t.path, "data")
    return sorted(os.listdir(base))


def test_expire_collects_overwritten_files_keeps_current(spark, tmpdir_path):
    t = _mk(spark, tmpdir_path + "/t")
    t.append(spark.createDataFrame([(1, "a")], SCHEMA))
    s1 = t.current_snapshot()
    t.overwrite(spark.createDataFrame([(2, "b")], SCHEMA))
    t.overwrite(spark.createDataFrame([(3, "c")], SCHEMA))
    n_before = len(_live_dirs(t))
    out = t.expire_snapshots(retain_last=1)
    assert out["expired"] == 2
    assert out["dirs_removed"] == 2
    assert len(_live_dirs(t)) == n_before - 2
    # current read bit-identical; history metadata still listed
    assert _rows(t.read()) == [(3, "c")]
    assert len(t.snapshots()) == 3
    # expired snapshots refuse reads and rollbacks
    with pytest.raises(ValueError, match="expired"):
        t.read(s1)
    with pytest.raises(ValueError, match="expired"):
        t.rollback_to(s1)


def test_append_chain_shares_dirs_nothing_collected_while_referenced(
    spark, tmpdir_path
):
    # Appends carry earlier dirs forward: expiring old snapshots must NOT
    # remove dirs the current snapshot still references.
    t = _mk(spark, tmpdir_path + "/t")
    for i in range(4):
        t.append(spark.createDataFrame([(i, f"v{i}")], SCHEMA))
    out = t.expire_snapshots(retain_last=1)
    assert out["expired"] == 3
    assert out["dirs_removed"] == 0  # every dir still referenced by current
    assert _rows(t.read()) == [(i, f"v{i}") for i in range(4)]
    # read_delta of the retained current still exact (prev dir-name sets
    # survive because manifest entries are kept)
    assert _rows(t.read_delta(t.current_snapshot())) == [(3, "v3")]


def test_mor_delete_files_retained_with_current(spark, tmpdir_path):
    t = _mk(spark, tmpdir_path + "/t")
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA))
    t.delete_keys([1])
    t.append(spark.createDataFrame([(3, "c")], SCHEMA))
    out = t.expire_snapshots(retain_last=1)
    assert out["expired"] == 2
    # the delete file is part of current's read plan -> kept, and the
    # MOR resolution still excludes key 1 (sequence bookkeeping intact)
    assert _rows(t.read()) == [(2, "b"), (3, "c")]


def test_abandoned_branch_collected(spark, tmpdir_path):
    t = _mk(spark, tmpdir_path + "/t")
    t.append(spark.createDataFrame([(1, "a")], SCHEMA))
    s1 = t.current_snapshot()
    t.append(spark.createDataFrame([(2, "b")], SCHEMA))
    t.rollback_to(s1)
    t.append(spark.createDataFrame([(9, "z")], SCHEMA))
    out = t.expire_snapshots(retain_last=2)  # current + s1
    assert out["expired"] == 1  # the abandoned append
    assert out["dirs_removed"] == 1  # its unique dir
    assert _rows(t.read()) == [(1, "a"), (9, "z")]
    assert sorted(out["retained"]) == [s1, t.current_snapshot()]


def test_keep_ids_pins_a_checkpoint(spark, tmpdir_path):
    t = _mk(spark, tmpdir_path + "/t")
    t.overwrite(spark.createDataFrame([(1, "a")], SCHEMA))
    pin = t.current_snapshot()
    t.overwrite(spark.createDataFrame([(2, "b")], SCHEMA))
    t.overwrite(spark.createDataFrame([(3, "c")], SCHEMA))
    out = t.expire_snapshots(retain_last=1, keep_ids=[pin])
    assert out["expired"] == 1
    assert _rows(t.read(pin)) == [(1, "a")]  # pinned checkpoint readable
    t.rollback_to(pin)  # and resumable
    assert _rows(t.read()) == [(1, "a")]


def test_idempotent_and_validation(spark, tmpdir_path):
    t = _mk(spark, tmpdir_path + "/t")
    t.overwrite(spark.createDataFrame([(1, "a")], SCHEMA))
    expired_id = t.current_snapshot()
    t.overwrite(spark.createDataFrame([(2, "b")], SCHEMA))
    first = t.expire_snapshots()
    again = t.expire_snapshots()
    assert first["expired"] == 1 and again["expired"] == 0
    assert again["dirs_removed"] == 0
    with pytest.raises(ValueError):
        t.expire_snapshots(retain_last=0)
    with pytest.raises(KeyError):
        t.expire_snapshots(keep_ids=[999])
    with pytest.raises(ValueError, match="already expired"):
        t.expire_snapshots(keep_ids=[expired_id])


def test_empty_table(spark, tmpdir_path):
    t = _mk(spark, tmpdir_path + "/t")
    assert t.expire_snapshots() == {
        "expired": 0,
        "dirs_removed": 0,
        "retained": [],
    }


def test_sidecar_store_rebuilds_across_expired_chain(spark, tmpdir_path):
    # A seen-key shard store synced before expiry must detect that its
    # incremental chain crosses an expired snapshot and rebuild instead
    # of absorbing missing deltas (exactly-once safety).
    from sinew_spark.operators.bloom import SeenKeyShardStore

    # the index absorbs the seen table's (key, status, fetched_at)
    seen_schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("status", T.IntegerType()),
            T.StructField("fetched_at", T.DoubleType()),
        ]
    )
    t = SnapshotTable(spark, tmpdir_path + "/seen", seen_schema)
    t.overwrite(spark.createDataFrame([(1, 200, 1.0)], seen_schema))
    store = SeenKeyShardStore(tmpdir_path + "/shards", n_shards=2)
    store.sync(t)
    # two overwrites, then expire the middle one the chain would cross
    t.overwrite(spark.createDataFrame([(2, 200, 2.0)], seen_schema))
    t.overwrite(spark.createDataFrame([(2, 200, 2.0), (3, 200, 3.0)], seen_schema))
    t.expire_snapshots(retain_last=1)
    store.sync(t)  # must not raise; rebuild path
    df = spark.createDataFrame([(1, "x"), (2, "x"), (3, "x"), (4, "x")], SCHEMA)
    out = sorted(r["key"] for r in store.reject_seen(df).collect())
    assert out == [1, 4]  # current holds {2,3}; 1 was overwritten away


def test_crawler_expire_history_preserves_exactly_once(spark, tmpdir_path):
    # GC mid-crawl: expire everything but the live state + one resume
    # point, then keep crawling — the seen set must still reject
    # already-fetched URLs and new rounds must commit normally.
    from sinew_spark.crawl import Crawler, CrawlOptions
    from sinew_spark.sources.fetch import FixtureFetcher

    c = Crawler(spark, tmpdir_path + "/crawl", FixtureFetcher(seed=42), CrawlOptions())
    c.seed([f"http://httpbingo.org/get?i={i}" for i in range(6)])
    c.run()
    n_fetched = c.fetched_t.read().count()
    assert n_fetched == 6

    out = c.expire_history(retain_last=2)
    assert set(out) == {
        "frontier", "seen", "fetched", "metrics", "host_state", "host_counts",
    }
    # current state fully readable after GC
    assert c.fetched_t.read().count() == 6
    assert c.seen_t.read().count() == 6

    # re-seed old + new: only the new URL is fetched (exactly-once holds
    # across the expiry, including the sidecar-store rebuild path)
    c.seed(["http://httpbingo.org/get?i=0", "http://httpbingo.org/get?i=99"])
    c.run()
    assert c.fetched_t.read().count() == 7
    assert c.status("http://httpbingo.org/get?i=99")["status"] == 200


def test_retain_walk_skips_already_expired_ancestors(spark, tmpdir_path):
    # After a retain_last=1 expiry, asking for retain_last=3 must not
    # count the collected ancestors as "retained" resume points.
    t = _mk(spark, tmpdir_path + "/t")
    t.overwrite(spark.createDataFrame([(1, "a")], SCHEMA))
    t.overwrite(spark.createDataFrame([(2, "b")], SCHEMA))
    t.expire_snapshots(retain_last=1)
    t.overwrite(spark.createDataFrame([(3, "c")], SCHEMA))
    out = t.expire_snapshots(retain_last=3)
    retained = out["retained"]
    assert all(not s.get("expired") for s in t.snapshots() if s["id"] in retained)
    for sid in retained:
        t.read(sid)  # every reported resume point is actually readable


def test_pinned_ancestor_beyond_expired_gap_survives(spark, tmpdir_path):
    # Pin an old snapshot, let the one above it expire, then expire
    # again with a larger retain_last and NO pin: the walk must cross
    # the expired gap and keep the still-live old snapshot.
    t = _mk(spark, tmpdir_path + "/t")
    t.overwrite(spark.createDataFrame([(1, "a")], SCHEMA))
    old = t.current_snapshot()
    t.overwrite(spark.createDataFrame([(2, "b")], SCHEMA))
    t.expire_snapshots(retain_last=1, keep_ids=[old])  # middle expires
    t.overwrite(spark.createDataFrame([(3, "c")], SCHEMA))
    out = t.expire_snapshots(retain_last=3)
    assert old in out["retained"]
    assert _rows(t.read(old)) == [(1, "a")]  # pinned ancestor survives
