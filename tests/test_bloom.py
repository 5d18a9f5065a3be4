"""Sharded Bloom filter: no false negatives, bounded false positives,
round-trip serialization; executor-side shard store lifecycle."""

import os

import numpy as np
from pyspark.sql import functions as F

from sinew_spark.operators.bloom import BloomShards, BloomShardStore


def test_no_false_negatives():
    rng = np.random.default_rng(42)
    keys = rng.integers(-(2**62), 2**62, size=20_000, dtype=np.int64)
    b = BloomShards(capacity=20_000, fpp=0.01, n_shards=8)
    b.add(keys)
    assert b.might_contain(keys).all()


def test_false_positive_rate():
    rng = np.random.default_rng(7)
    keys = rng.integers(-(2**62), 2**62, size=20_000, dtype=np.int64)
    other = rng.integers(-(2**62), 2**62, size=20_000, dtype=np.int64)
    other = np.setdiff1d(other, keys)
    b = BloomShards(capacity=20_000, fpp=0.01, n_shards=8)
    b.add(keys)
    fpp = b.might_contain(other).mean()
    assert fpp < 0.05, fpp


def test_serialization_roundtrip():
    keys = np.arange(1000, dtype=np.int64) * 7919
    b = BloomShards(capacity=1000, n_shards=4)
    b.add(keys)
    b2 = BloomShards.from_bytes(b.to_bytes())
    assert b2.might_contain(keys).all()
    assert b2.n_added == 1000


def test_empty():
    b = BloomShards(capacity=100)
    assert not b.might_contain(np.array([1, 2, 3], dtype=np.int64)).any()


# --- BloomShardStore (executor-side lifecycle) --------------------------------


def test_store_maybe_seen_no_false_negatives(spark, tmp_path):
    """Every added key must be flagged by maybe_seen (no false negatives);
    an empty store flags nothing."""
    store = BloomShardStore(str(tmp_path / "b"), capacity=10_000, n_shards=8)
    keys = spark.range(0, 5000).select((F.col("id") * 7919 - 2**40).alias("key"))
    fresh = spark.range(6000, 7000).select((F.col("id") * 104729 + 2**50).alias("key"))

    assert store.maybe_seen(keys).count() == 0  # empty store: nothing claimed
    n = store.add_delta(keys)
    assert n == 5000
    assert store.maybe_seen(keys).count() == 5000  # all seen keys flagged
    # fresh keys mostly unflagged (false positives bounded, never negatives)
    assert store.maybe_seen(fresh).count() < 100


def test_store_incremental_delta_and_reopen(spark, tmp_path):
    """add_delta accumulates across rounds; a reopened store (new object,
    same dir) picks up the persisted shards + meta."""
    path = str(tmp_path / "b")
    store = BloomShardStore(path, capacity=10_000, n_shards=4)
    k1 = spark.range(0, 1000).select(F.col("id").alias("key"))
    k2 = spark.range(1000, 2000).select(F.col("id").alias("key"))
    store.add_delta(k1)
    store.add_delta(k2)
    reopened = BloomShardStore(path, capacity=999, n_shards=16)  # params ignored
    assert reopened.n_shards == 4 and reopened.n_added == 2000
    both = k1.unionByName(k2)
    assert reopened.maybe_seen(both).count() == 2000


def test_store_rebuild_after_resize(spark, tmp_path):
    store = BloomShardStore(str(tmp_path / "b"), capacity=1000, n_shards=4)
    keys = spark.range(0, 500).select(F.col("id").alias("key"))
    store.add_delta(keys)
    kept = spark.range(0, 250).select(F.col("id").alias("key"))
    store.rebuild(kept)
    assert store.n_added == 250
    assert store.maybe_seen(kept).count() == 250
    # dropped keys may straggle as false positives but most must unflag
    dropped = spark.range(250, 500).select(F.col("id").alias("key"))
    assert store.maybe_seen(dropped).count() < 50


def test_store_sync_gating_and_delete_advance(spark, tmp_path):
    """sync() absorbs append deltas snapshot-by-snapshot; an edelete
    snapshot advances the id WITHOUT rebuilding (keys only shrink, so the
    over-approximation is fail-safe under the fused probe); an overwrite
    snapshot REBUILDS (overwrite may add keys, and the fused probe's
    short-circuit needs the bloom to contain every seen key); a
    legacy/fresh store rebuilds from the full seen read on first sync."""
    from sinew_spark.plans.snapshots import SnapshotTable
    from pyspark.sql import types as T

    t = SnapshotTable(
        spark, str(tmp_path / "seen"), T.StructType([T.StructField("key", T.LongType())])
    )
    t.append(spark.range(0, 100).select(F.col("id").alias("key")))
    store = BloomShardStore(str(tmp_path / "b"), capacity=10_000, n_shards=4)
    assert not store.in_sync_with(t)
    store.sync(t)  # fresh store: rebuild from full read
    assert store.in_sync_with(t) and store.n_added == 100

    t.append(spark.range(100, 200).select(F.col("id").alias("key")))
    store.sync(t)  # incremental delta absorb
    assert store.in_sync_with(t) and store.n_added == 200
    probe = spark.range(0, 200).select(F.col("id").alias("key"))
    assert store.maybe_seen(probe).count() == 200

    sid_before = store.snapshot_id
    t.delete_keys(list(range(0, 10)))  # edelete op: advance, no rebuild
    store.sync(t)
    assert store.in_sync_with(t) and store.snapshot_id > sid_before
    # stale entries allowed (over-approximation): still flags deleted keys
    assert store.maybe_seen(probe).count() == 200

    sid_before = store.snapshot_id
    # overwrite may ADD keys the bloom has never absorbed: 200-249 here.
    # Advancing without a rebuild would let the fused probe's "definitely
    # new" short-circuit skip the exact search for genuinely-seen keys.
    t.overwrite(spark.range(50, 250).select(F.col("id").alias("key")))
    store.sync(t)
    assert store.in_sync_with(t) and store.snapshot_id > sid_before
    added = spark.range(200, 250).select(F.col("id").alias("key"))
    assert store.maybe_seen(added).count() == 50  # no false negatives


def test_store_sync_resizes_past_capacity(spark, tmp_path):
    """Outgrowing capacity triggers a 4x re-size rebuild so fpp returns to
    budget instead of saturating."""
    from sinew_spark.plans.snapshots import SnapshotTable
    from pyspark.sql import types as T

    t = SnapshotTable(
        spark, str(tmp_path / "seen"), T.StructType([T.StructField("key", T.LongType())])
    )
    store = BloomShardStore(str(tmp_path / "b"), capacity=500, n_shards=4)
    t.append(spark.range(0, 2000).select(F.col("id").alias("key")))
    store.sync(t)
    assert store.capacity >= 4000 and store.n_added == 2000
    assert store.in_sync_with(t)
    seen = spark.range(0, 2000).select(F.col("id").alias("key"))
    fresh = spark.range(10_000, 11_000).select(F.col("id").alias("key"))
    assert store.maybe_seen(seen).count() == 2000  # never false-negative
    assert store.maybe_seen(fresh).count() < 100  # fpp back under budget


# --- SeenKeyShardStore: the one exact seen index (zero-shuffle anti-join) -----


def _seen_table(spark, tmp_path, name="seen"):
    """A seen-shaped fixture table: the index absorbs (key, status,
    fetched_at), the columns the engine's seen table always has."""
    from sinew_spark.plans.snapshots import SnapshotTable
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("status", T.IntegerType()),
            T.StructField("fetched_at", T.DoubleType()),
        ]
    )
    return SnapshotTable(spark, str(tmp_path / name), schema)


def _rows(spark, lo, hi, status=200, fetched_at=1.0, stride=1, offset=0):
    """Seen rows for keys ``id * stride + offset``, id in [lo, hi)."""
    return spark.range(lo, hi).select(
        (F.col("id") * stride + offset).alias("key"),
        F.lit(status).cast("int").alias("status"),
        F.lit(fetched_at).cast("double").alias("fetched_at"),
    )


def _keys(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("key"))


def _probe(store, frontier, **kw):
    return sorted(r.key for r in store.reject_seen(frontier, **kw).collect())


def _run_names(store, shard, kind=None):
    from sinew_spark.operators.bloom import _run_entries

    return [
        os.path.basename(p) for _g, k, p in _run_entries(store.path, shard) if kind in (None, k)
    ]


def test_seen_keys_matches_anti_join(spark, tmp_path):
    """The plain probe == left_anti join vs the same key set, exactly."""
    from sinew_spark.operators.bloom import SeenKeyShardStore

    t = _seen_table(spark, tmp_path)
    t.append(_rows(spark, 0, 3000, stride=31, offset=-(2**45)))
    store = SeenKeyShardStore(str(tmp_path / "ks"), n_shards=4)
    store.sync(t)
    assert store.in_sync_with(t)

    frontier = spark.range(0, 9000).select((F.col("id") * 31 - 2**45).alias("key"))
    exact = frontier.join(t.read().select("key"), "key", "left_anti")
    expected = sorted(r.key for r in exact.collect())
    assert _probe(store, frontier) == expected


def test_seen_keys_incremental_and_rebuild(spark, tmp_path):
    """Append deltas absorb incrementally; an overwrite (delete_where)
    forces a rebuild on a reopened store, statistics included; the
    snapshot id advances only after the runs are written."""
    from sinew_spark.operators.bloom import SeenKeyShardStore

    t = _seen_table(spark, tmp_path)
    store = SeenKeyShardStore(str(tmp_path / "ks"), n_shards=4)
    t.append(_rows(spark, 0, 100, fetched_at=5.0))
    store.sync(t)
    t.append(_rows(spark, 100, 200, fetched_at=50.0))
    store.sync(t)  # incremental
    probe = _keys(spark, 0, 300)
    assert _probe(store, probe) == list(range(200, 300))

    t.delete_where(F.col("key") < 50)  # overwrite op -> rebuild on sync
    store2 = SeenKeyShardStore(str(tmp_path / "ks"), n_shards=4)  # reopen
    assert store2.in_sync_with(t) is False
    store2.sync(t)
    assert _probe(store2, probe) == list(range(0, 50)) + list(range(200, 300))
    # the rebuilt runs carry fetched_at: a TTL probe re-admits the old keys
    assert _probe(store2, probe, expires=10.0, now=55.0) == list(range(0, 100)) + list(
        range(200, 300)
    )


def test_seen_keys_lsm_runs_and_compaction(spark, tmp_path):
    """Absorbs append O(delta) run files without rewriting existing runs;
    crossing KEYS_COMPACT_RUNS merges a shard back to one run with
    per-key class-max semantics (an old ok entry survives a pile of newer
    error entries for the same key). A stale leftover run (crash between
    compaction rename and input unlink) changes nothing."""
    import shutil

    import numpy as np

    from sinew_spark.operators.bloom import (
        KEYS_COMPACT_RUNS,
        SeenKeyShardStore,
        _load_runs_shard,
        _run_entries,
    )
    from sinew_spark.operators.frontier import anti_join_seen

    now = 1_000_000.0
    t = _seen_table(spark, tmp_path)
    store = SeenKeyShardStore(str(tmp_path / "ks"), n_shards=2)

    t.append(_rows(spark, 0, 100, fetched_at=now - 10.0))
    store.sync(t)
    first = {
        s: {(os.path.basename(p), os.stat(p).st_mtime_ns) for _g, _k, p in _run_entries(store.path, s)}
        for s in range(2)
    }
    assert all(len(v) == 1 for v in first.values())

    t.append(_rows(spark, 100, 200, fetched_at=now - 10.0))
    store.sync(t)
    for s in range(2):
        cur = {(os.path.basename(p), os.stat(p).st_mtime_ns) for _g, _k, p in _run_entries(store.path, s)}
        assert first[s] <= cur and len(cur) == 2  # old run untouched, new run added

    # drive past the compaction threshold: fresh keys plus newer error
    # entries for the ok keys 0..49
    lo = 200
    for i in range(KEYS_COMPACT_RUNS):
        t.append(
            _rows(spark, lo, lo + 50, fetched_at=now - 5.0).unionByName(
                _rows(spark, 0, 50, status=500, fetched_at=now - 5.0 + i)
            )
        )
        store.sync(t)
        lo += 50
    assert all(len(_run_entries(store.path, s)) <= KEYS_COMPACT_RUNS for s in range(2))
    probe = _keys(spark, 0, lo + 100)
    assert _probe(store, probe) == list(range(lo, lo + 100))
    # force_errors: the surviving ok entry still blocks 0..49
    exact = anti_join_seen(probe, t.read(), force_errors=True, now=now)
    assert _probe(store, probe, force_errors=True, now=now) == list(range(lo, lo + 100))
    assert sorted(r.key for r in exact.collect()) == list(range(lo, lo + 100))

    # stale-run crash model: duplicate an existing run under a newer name
    runs0 = [p for _g, _k, p in _run_entries(store.path, 0)]
    shutil.copyfile(runs0[0], os.path.join(store.path, "vals-00000.r009999.npz"))
    before = _load_runs_shard(store.path, 0)
    assert _probe(store, probe) == list(range(lo, lo + 100))
    assert _probe(store, probe, force_errors=True, now=now) == list(range(lo, lo + 100))
    after = _load_runs_shard(store.path, 0)
    assert all(np.array_equal(a, b) for a, b in zip(after, before))


def test_seen_vals_matches_semantic_anti_join(spark, tmp_path):
    """reject_seen == anti_join_seen with the same flags, for every mode —
    plain, expires, force_errors, both, and the next frontier's run-start
    cutoff (expires=0, now=) — including keys holding a mix of ok and
    error entries at different ages, absorbed across several deltas
    (run-merge path exercised)."""
    from sinew_spark.operators.bloom import SeenKeyShardStore
    from sinew_spark.operators.frontier import anti_join_seen

    now = 1_000_000.0
    t = _seen_table(spark, tmp_path)
    # key k: entry classes cycle through ok-only / err-only / both; ages
    # straddle the 100s cutoff. Two appends so per-key maxima span runs.
    rows1, rows2 = [], []
    for k in range(400):
        age_a = 10.0 + (k % 7) * 30.0   # 10..190s old
        age_b = 250.0 - (k % 5) * 55.0  # 30..250s old
        cls = k % 3
        rows1.append((k, 200 if cls != 1 else 500, now - age_a))
        rows2.append((k, 200 if cls == 0 else 503, now - age_b))
    t.append(spark.createDataFrame(rows1, t.schema))
    store = SeenKeyShardStore(str(tmp_path / "ks"), n_shards=4)
    store.sync(t)
    t.append(spark.createDataFrame(rows2, t.schema))
    store.sync(t)  # incremental second run
    assert store.in_sync_with(t)

    frontier = _keys(spark, 0, 800)
    modes = [
        (None, False, now), (100.0, False, now), (None, True, now), (100.0, True, now),
        (0.0, False, now - 100.0),  # run-start cutoff: attempted since now-100
    ]
    for expires, force_errors, at in modes:
        exact = anti_join_seen(
            frontier, t.read(), expires=expires, force_errors=force_errors, now=at
        )
        via = _probe(store, frontier, expires=expires, force_errors=force_errors, now=at)
        assert via == sorted(r.key for r in exact.collect()), (
            f"divergence at expires={expires} force_errors={force_errors}"
        )


def test_seen_vals_plain_probe_and_rebuild(spark, tmp_path):
    """No flags -> plain blocked-iff-any-entry (the valued runs answer
    plain membership); an overwrite op forces a rebuild on a reopened
    store."""
    from sinew_spark.operators.bloom import SeenKeyShardStore

    t = _seen_table(spark, tmp_path)
    t.append(_rows(spark, 0, 200, fetched_at=5.0))
    store = SeenKeyShardStore(str(tmp_path / "ks"), n_shards=4)
    store.sync(t)
    probe = _keys(spark, 0, 300)
    assert _probe(store, probe) == list(range(200, 300))

    t.delete_where(F.col("key") < 50)  # overwrite -> rebuild
    store2 = SeenKeyShardStore(str(tmp_path / "ks"), n_shards=4)
    store2.sync(t)
    assert _probe(store2, probe) == list(range(0, 50)) + list(range(200, 300))


def test_seen_vals_lsm_compaction_keeps_class_maxima(spark, tmp_path):
    """Driving a shard past KEYS_COMPACT_RUNS merges runs with per-key
    class-max semantics — an old ok-entry must survive a pile of newer
    error entries for the same key; a stale duplicated run (crash model)
    changes nothing because merge is max()."""
    import shutil

    from sinew_spark.operators.bloom import (
        KEYS_COMPACT_RUNS,
        SeenKeyShardStore,
        _run_entries,
    )
    from sinew_spark.operators.frontier import anti_join_seen

    now = 1_000_000.0
    t = _seen_table(spark, tmp_path)
    store = SeenKeyShardStore(str(tmp_path / "ks"), n_shards=2)
    # run 1: keys 0..49 fetched OK, fresh
    t.append(_rows(spark, 0, 50, fetched_at=now - 10.0))
    store.sync(t)
    # many error-only runs for the same keys -> compaction must keep fa_ok
    for i in range(KEYS_COMPACT_RUNS + 2):
        t.append(_rows(spark, 0, 50, status=500, fetched_at=now - 5.0 + i))
        store.sync(t)
    assert all(len(_run_entries(store.path, s)) <= KEYS_COMPACT_RUNS for s in range(2))

    frontier = _keys(spark, 0, 80)
    # force_errors: the surviving ok-entry still blocks 0..49
    assert _probe(store, frontier, force_errors=True, now=now) == list(range(50, 80))
    exact = anti_join_seen(frontier, t.read(), force_errors=True, now=now)
    assert sorted(r.key for r in exact.collect()) == list(range(50, 80))

    # stale-run crash model: re-copy an old run under a newer generation
    runs0 = [p for _g, _k, p in _run_entries(store.path, 0)]
    shutil.copyfile(runs0[0], os.path.join(store.path, "vals-00000.r009999.npz"))
    assert _probe(store, frontier, force_errors=True, now=now) == list(range(50, 80))


def test_seen_index_pre_merge_sidecar_opens_cold(spark, tmp_path):
    """A sidecar whose meta lacks the layout marker was written by the
    key-only store (keys- .npy runs, no statistics). It must open cold —
    no probe answers from it — and the first sync rebuilds it, even when
    its recorded snapshot is the table's current one."""
    import json

    import numpy as np

    from sinew_spark.operators.bloom import SeenKeyShardStore

    t = _seen_table(spark, tmp_path)
    t.append(_rows(spark, 0, 100))
    path = tmp_path / "ks"
    path.mkdir()
    np.save(path / "keys-00000.r000001.npy", np.arange(0, 100, dtype=np.int64))
    (path / "meta.json").write_text(
        json.dumps({"n_shards": 2, "snapshot_id": t.current_snapshot(), "n_keys": -1})
    )
    store = SeenKeyShardStore(str(path), n_shards=2)
    assert store.snapshot_id is None and not store.in_sync_with(t)
    assert store.probe_local(5) is None
    store.sync(t)
    assert store.in_sync_with(t) and store.probe_local(5) is True
    assert not list(path.glob("keys-*.npy"))
    assert json.loads((path / "meta.json").read_text())["layout"]
    assert _probe(store, _keys(spark, 0, 110)) == list(range(100, 110))


def test_shard_lru_bounds_and_generations():
    """The worker shard cache evicts LRU entries past the byte budget and
    drops stale generations of a shard on insert — a worker probing many
    shards (pre-shuffle placement) stays bounded."""
    from sinew_spark.operators.bloom import _ShardLRU

    lru = _ShardLRU(budget_bytes=100)
    for i in range(5):
        lru.put(("d", i), "fp0", f"v{i}", 30)  # 5 x 30 B > 100 B budget
    assert lru._bytes <= 100 and len(lru._d) == 3
    assert lru.get(("d", 0), "fp0") is None  # oldest evicted
    assert lru.get(("d", 4), "fp0") == "v4"

    # recency: touching shard 2 saves it from the next eviction
    assert lru.get(("d", 2), "fp0") == "v2"
    lru.put(("d", 9), "fp0", "v9", 30)
    assert lru.get(("d", 2), "fp0") == "v2" and lru.get(("d", 3), "fp0") is None

    # new generation replaces the old one, never duplicates its bytes
    lru.put(("d", 9), "fp1", "v9b", 30)
    assert lru.get(("d", 9), "fp0") is None and lru.get(("d", 9), "fp1") == "v9b"
    assert lru._bytes == sum(b for _v, b in lru._d.values())

    # a single oversized entry stays resident (never evict the working item)
    lru.put(("d", 8), "fp0", "big", 500)
    assert lru.get(("d", 8), "fp0") == "big" and len(lru._d) == 1


# --- equality-delete tombstones (uncache's O(delta) path) ----------------------


def test_seen_keys_edelete_absorbs_tombstones_not_rebuild(spark, tmp_path):
    """An equality-delete snapshot absorbs as tombstone runs — the existing
    add runs are untouched (no O(seen) rebuild), every probe mode honors
    the delete, and a re-appended key is seen again with fresh statistics
    (generation order)."""
    from sinew_spark.operators.bloom import SeenKeyShardStore
    from sinew_spark.operators.frontier import anti_join_seen

    now = 1_000_000.0
    t = _seen_table(spark, tmp_path)
    t.append(
        spark.range(0, 1000).select(
            F.col("id").alias("key"),
            F.when(F.col("id") % 3 == 1, 500).otherwise(200).cast("int").alias("status"),
            (F.lit(now) - 50.0 - (F.col("id") % 7) * 40.0).alias("fetched_at"),
        )
    )
    store = SeenKeyShardStore(str(tmp_path / "ks"), n_shards=4)
    store.sync(t)
    adds_before = {s: _run_names(store, s, "k") for s in range(4)}

    t.delete_keys([5, 6, 7, 10])
    store.sync(t)
    assert store.in_sync_with(t)
    assert {s: _run_names(store, s, "k") for s in range(4)} == adds_before  # no rebuild
    assert sum(len(_run_names(store, s, "d")) for s in range(4)) > 0

    probe = _keys(spark, 0, 1010)
    assert _probe(store, probe) == [5, 6, 7, 10] + list(range(1000, 1010))

    # re-append deleted keys: a higher-generation add run wins; 10's old
    # error entry is gone, its fresh ok entry starts the stats over
    t.append(spark.createDataFrame([(5, 200, now - 1.0), (10, 200, now - 1.0)], t.schema))
    store.sync(t)
    assert _probe(store, probe) == [6, 7] + list(range(1000, 1010))
    for expires, fe in [(100.0, False), (None, True), (100.0, True)]:
        exact = anti_join_seen(probe, t.read(), expires=expires, force_errors=fe, now=now)
        assert _probe(store, probe, expires=expires, force_errors=fe, now=now) == sorted(
            r.key for r in exact.collect()
        ), f"divergence at expires={expires} force_errors={fe}"


def test_seen_keys_table_compaction_advances_not_rebuild(spark, tmp_path, monkeypatch):
    """The MOR_COMPACT_DELETES-th+1 point delete compacts the table first.
    The compaction holds the same logical rows, so the index steps over it:
    nine deletes, each synced, never remove the store directory (the
    LSM's own run fold at KEYS_COMPACT_RUNS may still merge runs), and the
    probe stays the exact anti-join. compact() between syncs does the same."""
    import shutil

    from sinew_spark.operators.bloom import SeenKeyShardStore
    from sinew_spark.operators.frontier import anti_join_seen
    from sinew_spark.plans.snapshots import MOR_COMPACT_DELETES

    t = _seen_table(spark, tmp_path)
    t.append(_rows(spark, 0, 200))
    store = SeenKeyShardStore(str(tmp_path / "ks"), n_shards=4)
    store.sync(t)
    removed = []
    real_rmtree = shutil.rmtree

    def rmtree(path, *a, **kw):
        removed.append(str(path))
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(shutil, "rmtree", rmtree)
    for i in range(MOR_COMPACT_DELETES + 1):
        t.delete_keys([10 * i])
        store.sync(t)
    assert "compact" in {s["op"] for s in t.snapshots()}
    t.append(_rows(spark, 200, 220))
    t.compact()
    store.sync(t)
    assert store.in_sync_with(t)
    assert store.path not in removed
    probe = _keys(spark, 0, 230)
    exact = sorted(r.key for r in anti_join_seen(probe, t.read()).collect())
    assert _probe(store, probe) == exact == [10 * i for i in range(9)] + list(range(220, 230))


def test_seen_keys_tombstone_compaction_resolves(spark, tmp_path):
    """Interleaved deletes count toward KEYS_COMPACT_RUNS; crossing it folds
    the shard to one resolved add run and membership replays exactly."""
    from sinew_spark.operators.bloom import KEYS_COMPACT_RUNS, SeenKeyShardStore

    t = _seen_table(spark, tmp_path)
    store = SeenKeyShardStore(str(tmp_path / "ks"), n_shards=2)
    lo, dead = 0, []
    for i in range(KEYS_COMPACT_RUNS + 3):
        t.append(_rows(spark, lo, lo + 40))
        store.sync(t)
        if i % 2 == 0:  # interleave point deletes
            t.delete_keys([lo + 1, lo + 2])
            store.sync(t)
            dead += [lo + 1, lo + 2]
        lo += 40
    for s in range(2):
        assert len(_run_names(store, s)) <= KEYS_COMPACT_RUNS
    expected = sorted(dead + list(range(lo, lo + 50)))
    assert _probe(store, _keys(spark, 0, lo + 50)) == expected


def test_seen_vals_edelete_tombstones_match_anti_join(spark, tmp_path):
    """Valued runs absorb equality deletes as tombstones and keep exact
    anti_join_seen semantics across modes; a deleted key's statistics are
    wiped (a later re-append starts fresh)."""
    from sinew_spark.operators.bloom import SeenKeyShardStore
    from sinew_spark.operators.frontier import anti_join_seen

    now = 1_000_000.0
    t = _seen_table(spark, tmp_path)
    t.append(
        spark.range(0, 300).select(
            F.col("id").alias("key"),
            F.when(F.col("id") % 3 == 1, 500).otherwise(200).cast("int").alias("status"),
            (F.lit(now) - 50.0 - (F.col("id") % 7) * 40.0).alias("fetched_at"),
        )
    )
    store = SeenKeyShardStore(str(tmp_path / "ks"), n_shards=4)
    store.sync(t)
    adds_before = {s: _run_names(store, s, "k") for s in range(4)}
    t.delete_keys([10, 11, 12, 13])
    store.sync(t)
    assert store.in_sync_with(t)
    assert {s: _run_names(store, s, "k") for s in range(4)} == adds_before  # tombstones only

    # old error entry deleted, fresh ok re-append: stats start fresh
    t.append(spark.createDataFrame([(10, 200, now - 1.0)], t.schema))
    store.sync(t)

    frontier = _keys(spark, 0, 400)
    for expires, fe in [(None, False), (100.0, False), (None, True), (100.0, True)]:
        exact = anti_join_seen(frontier, t.read(), expires=expires, force_errors=fe, now=now)
        assert _probe(store, frontier, expires=expires, force_errors=fe, now=now) == sorted(
            r.key for r in exact.collect()
        ), f"divergence at expires={expires} force_errors={fe}"


# --- rollback / divergent-lineage sync (ADVICE r2: rollback_to left stores
# --- claiming in-sync while shards held keys from rolled-back snapshots) ------


def test_seen_keys_rollback_rebuilds_not_phantom(spark, tmp_path):
    """rollback_to an older snapshot, then sync: the store must take the
    full-rebuild branch, NOT mark itself in-sync with rolled-back keys
    still in its shards — otherwise reject_seen silently drops frontier
    URLs the table no longer marks seen (exactly-once violation), in the
    plain and the semantic probe alike."""
    import time as _time

    from sinew_spark.operators.bloom import SeenKeyShardStore

    now = _time.time()
    t = _seen_table(spark, tmp_path)
    first = t.append(_rows(spark, 0, 1000, fetched_at=now))
    t.append(_rows(spark, 1000, 2000, fetched_at=now))
    store = SeenKeyShardStore(str(tmp_path / "ks"), n_shards=4)
    store.sync(t)
    assert store.in_sync_with(t)

    t.rollback_to(first)  # resume-from-checkpoint: keys 1000-1999 un-seen
    store.sync(t)
    assert store.in_sync_with(t)
    frontier = _keys(spark, 0, 2000)
    assert _probe(store, frontier) == list(range(1000, 2000))  # rolled-back keys survive
    assert _probe(store, frontier, expires=3600.0) == list(range(1000, 2000))


def test_seen_keys_post_rollback_branch_is_not_incremental(spark, tmp_path):
    """After rollback + new appends, the new branch's ids exceed the
    store's recorded id but its STATE excludes the rolled-back snapshots;
    absorbing 'newer ids' incrementally would keep phantom keys. The
    parent walk must detect the divergent branch and rebuild."""
    from sinew_spark.operators.bloom import SeenKeyShardStore

    t = _seen_table(spark, tmp_path)
    first = t.append(_rows(spark, 0, 500))
    t.append(_rows(spark, 500, 1000))
    store = SeenKeyShardStore(str(tmp_path / "ks"), n_shards=4)
    store.sync(t)

    t.rollback_to(first)
    t.append(_rows(spark, 2000, 2500))
    store.sync(t)
    assert store.in_sync_with(t)
    assert _probe(store, _keys(spark, 0, 2500)) == list(range(500, 2000))


def test_bloom_store_rollback_then_append_no_false_negatives(spark, tmp_path):
    """Bloom mirror of the divergent-branch case: post-rollback appends
    must end up IN the bloom (rebuild), or the fused probe's 'definitely
    new' short-circuit would skip the exact search for seen keys."""
    t = _seen_table(spark, tmp_path)
    first = t.append(_rows(spark, 0, 500))
    t.append(_rows(spark, 500, 1000))
    bloom = BloomShardStore(str(tmp_path / "bl"), capacity=10_000, n_shards=4)
    bloom.sync(t)

    t.rollback_to(first)
    t.append(_rows(spark, 2000, 2500))
    bloom.sync(t)
    assert bloom.in_sync_with(t)
    assert bloom.maybe_seen(_keys(spark, 2000, 2500)).count() == 500  # no false negatives


def test_seen_vals_rollback_rebuilds(spark, tmp_path):
    """Semantic-probe mirror: a TTL probe must not reject rolled-back keys."""
    import time as _time

    from sinew_spark.operators.bloom import SeenKeyShardStore

    now = _time.time()
    t = _seen_table(spark, tmp_path, "seenv")
    first = t.append(_rows(spark, 0, 300, fetched_at=now))
    t.append(_rows(spark, 300, 600, fetched_at=now))
    store = SeenKeyShardStore(str(tmp_path / "ks"), n_shards=4)
    store.sync(t)
    t.rollback_to(first)
    store.sync(t)
    assert store.in_sync_with(t)
    frontier = _keys(spark, 0, 600)
    assert _probe(store, frontier) == list(range(300, 600))
    assert _probe(store, frontier, expires=3600.0, now=now) == list(range(300, 600))


def _strip_parents(t):
    """Simulate a pre-upgrade manifest: rollback_to predates parent
    pointers, so legacy manifests carry none (ADVICE r3 scenario)."""
    import json

    with open(t._manifest_path) as f:
        m = json.load(f)
    for s in m["snapshots"]:
        s.pop("parent", None)
    t._commit(m)


def test_legacy_manifest_parentless_forces_rebuild(spark, tmp_path):
    """A snapshot without a parent pointer is a root: lineage is never
    inferred from id order, so even a linear pre-parent manifest has no
    chain from an older snapshot, and a store synced there rebuilds
    (always safe) into the table's exact key set."""
    from sinew_spark.operators.bloom import SeenKeyShardStore

    t = _seen_table(spark, tmp_path)
    first = t.append(_rows(spark, 0, 100))
    store = SeenKeyShardStore(str(tmp_path / "ks"), n_shards=4)
    store.sync(t)
    t.append(_rows(spark, 100, 200))
    last = t.append(_rows(spark, 200, 300))
    _strip_parents(t)
    assert t.since(first, last) is None
    assert t.since(last, last) == []
    store.sync(t)
    assert store.in_sync_with(t)
    assert all(len(_run_names(store, s)) == 1 for s in range(4))  # one rebuilt run each
    assert _probe(store, _keys(spark, 0, 310)) == list(range(300, 310))


def test_legacy_manifest_rollback_reappend_forces_rebuild(spark, tmp_path):
    """The ADVICE r3 hole: a LEGACY manifest containing rollback +
    re-append has current == max(ids), so id order alone 'reaches' a
    from_id on the abandoned branch and would absorb incrementally,
    keeping phantom rolled-back keys in the exact shards. The parentless
    current is a root, so the walk never reaches the abandoned snapshot;
    the store rebuilds and rolled-back keys survive reject_seen."""
    from sinew_spark.operators.bloom import SeenKeyShardStore

    t = _seen_table(spark, tmp_path)
    first = t.append(_rows(spark, 0, 500))
    abandoned = t.append(_rows(spark, 500, 1000))
    store = SeenKeyShardStore(str(tmp_path / "ks"), n_shards=4)
    store.sync(t)  # records snapshot_id == abandoned
    t.rollback_to(first)
    t.append(_rows(spark, 2000, 2500))
    _strip_parents(t)

    assert t.since(abandoned, t.current_snapshot()) is None
    store.sync(t)
    assert store.in_sync_with(t)
    assert _probe(store, _keys(spark, 0, 2500)) == list(range(500, 2000))  # abandoned keys un-seen


def test_mixed_manifest_parentless_step_forces_rebuild(spark, tmp_path):
    """Parented snapshots stacked on a legacy prefix: the walk must stop
    trusting the manifest the moment it reaches a parentless snapshot it
    cannot validate (mixed provenance can hide a legacy-era rollback)."""
    t = _seen_table(spark, tmp_path)
    first = t.append(_rows(spark, 0, 100))
    mid = t.append(_rows(spark, 100, 200))
    _strip_parents(t)  # legacy prefix
    last = t.append(_rows(spark, 200, 300))  # parented
    # walk from last to first crosses the parentless mid -> unknown provenance
    assert t.since(first, last) is None
    # but a walk that stays inside the parented suffix still works
    assert [s["id"] for s in t.since(mid, last)] == [last]
