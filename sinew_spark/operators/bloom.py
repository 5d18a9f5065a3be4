"""Sharded Bloom filter and the exact seen index.

The exactly-once guarantee is enforced by an EXACT check — the left-anti
join against the `seen` table, or its zero-shuffle scale path, the one
seen index ``SeenKeyShardStore`` (sorted shard runs of every seen key with
its per-class max fetched_at, answering plain, TTL and force_errors probes
by binary search; the reference README's "Each URL will be hit exactly
once"). The crawl round consults nothing else: every probed row takes the
sorted-run search.

The Bloom filter below is a standalone approximate-membership operator
(``maybe_seen``: an over-approximation of the seen rows, no false
negatives). It used to sit inside the index's plain probe as a
short-circuit, letting rows it could not contain skip the search. It left
the crawl path because it did not earn its keep there. On the recrawl
benchmark (every seen URL re-offered plus 2 % fresh) 98 % of the probed
keys are seen, so it could let at most the other 2 % skip the search,
while keeping it in sync cost 3 of the round's 10 Spark jobs (about 0.8 s
of a 4.6 s round): ``add_delta`` rewrites every touched shard's whole
bitset each round, an O(filter) write where the index writes O(delta)
runs. On a fresh-key-heavy crawl (about 96 % new keys per round) taking it
out cost nothing measurable either. A future prefilter should be built from the
index's own runs and support deletion (a cuckoo filter), so it needs no
sync of its own.

Both stores keep one snapshot discipline: meta records the last absorbed
seen snapshot id, and ``sync()`` asks the seen table what lies between it
and the current snapshot (``SnapshotTable.since``, the one parent walk).
Appends on that chain are absorbed as deltas; a compaction holds the same
logical rows, so sync just advances past it; an overwrite, and any history
``since`` cannot chain (a rollback, a parentless root, an expired
snapshot), rebuilds the store from the seen table. So an in-sync bloom
contains EVERY key of its seen snapshot. An equality delete (uncache) only
ever REMOVES seen keys: the index absorbs it as tombstones, and the stale
bloom stays an over-approximation, so its sync just advances.

Two layers:

- ``BloomShards``: the numpy bitset core (k probes from splitmix64 remixes,
  fully vectorized, no per-row Python).
- ``BloomShardStore``: the executor-side lifecycle. Shards live as files in
  a sidecar directory, one per shard; shard routing is
  ``pmod(hash(key), S)`` — ``F.hash`` is Murmur3-32 with seed 42, the SAME
  function Spark's hash partitioner applies, so in a stage repartitioned
  S-ways on ``key`` every row of partition p belongs to shard p and a task
  opens exactly one shard file. The alignment generalizes: any stage
  hash-partitioned on ``key`` into a MULTIPLE of S partitions maps each
  partition to exactly one shard (m ≡ p mod kS ⇒ m ≡ p mod S), which is
  why the crawl round's ``repartition(2*cores, key)`` stays one-shard-
  per-task as long as S divides the partition count. Both the probe and the
  per-round update (``add_delta``) are Spark jobs whose tasks touch only
  their own shard — no driver ever holds keys or the filter, no broadcast
  of the whole bitset. At the 10^10-key design point (~12 GB of bits at
  fpp 0.01) the driver cost is a meta.json write per round.

Crash safety: shard files are written tmp+rename; the snapshot id only
advances after the shard writes land, so a crash mid-sync is repaired by
re-absorbing on the next sync (re-adding keys to a bloom is idempotent).

False-positive budget: fpp ~ (1 - e^(-k*n/m))^k. Default sizing ~9.6 bits/key
with k=7 gives fpp ≈ 1e-2 per probe at capacity. ``sync()`` re-sizes
(rebuilds at 4x) when n_added outgrows capacity.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd

_U64 = np.uint64


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + _U64(0x9E3779B97F4A7C15)) & _U64(0xFFFFFFFFFFFFFFFF)
    z = x
    z = ((z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)) & _U64(0xFFFFFFFFFFFFFFFF)
    z = ((z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)) & _U64(0xFFFFFFFFFFFFFFFF)
    return z ^ (z >> _U64(31))


class BloomShards:
    """n_shards independent bitsets; key -> shard by pmod, then k probes."""

    def __init__(self, capacity: int, fpp: float = 0.01, n_shards: int = 8):
        bits_total = max(1024, int(-capacity * math.log(fpp) / (math.log(2) ** 2)))
        self.n_shards = n_shards
        self.k = max(1, int(round(bits_total / max(1, capacity) * math.log(2))))
        per = (bits_total // n_shards // 64 + 1) * 64
        self.bits_per_shard = per
        self.words = np.zeros((n_shards, per // 64), dtype=np.uint64)
        self.n_added = 0

    def _probes(self, keys: np.ndarray):
        """Vectorized (shard, bit-index[k]) for an array of int64 keys."""
        u = keys.astype(np.int64).view(np.uint64)
        shard = (u % _U64(self.n_shards)).astype(np.int64)
        idx = np.empty((self.k, len(u)), dtype=np.int64)
        h = u
        for i in range(self.k):
            h = _splitmix64(h ^ _U64(0xA5A5A5A5 + i * 0x9E37))
            idx[i] = (h % _U64(self.bits_per_shard)).astype(np.int64)
        return shard, idx

    def add(self, keys: np.ndarray) -> None:
        if len(keys) == 0:
            return
        shard, idx = self._probes(np.asarray(keys))
        for i in range(self.k):
            w = idx[i] >> 6
            b = np.uint64(1) << (idx[i] & 63).astype(np.uint64)
            np.bitwise_or.at(self.words, (shard, w), b)
        self.n_added += len(keys)

    def might_contain(self, keys: np.ndarray) -> np.ndarray:
        """Vectorized membership probe -> bool array (no false negatives)."""
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        shard, idx = self._probes(np.asarray(keys))
        out = np.ones(len(keys), dtype=bool)
        for i in range(self.k):
            w = idx[i] >> 6
            b = np.uint64(1) << (idx[i] & 63).astype(np.uint64)
            out &= (self.words[shard, w] & b) != 0
        return out

    # --- persistence (sidecar next to the seen table) -------------------------

    def to_bytes(self) -> bytes:
        import io

        buf = io.BytesIO()
        np.savez_compressed(
            buf,
            words=self.words,
            meta=np.array([self.n_shards, self.k, self.bits_per_shard, self.n_added]),
        )
        return buf.getvalue()

    @classmethod
    def from_bytes(cls, data: bytes) -> "BloomShards":
        import io

        z = np.load(io.BytesIO(data))
        ns, k, per, n_added = (int(x) for x in z["meta"])
        obj = cls.__new__(cls)
        obj.n_shards = ns
        obj.k = k
        obj.bits_per_shard = per
        obj.words = z["words"]
        obj.n_added = n_added
        return obj


# --- executor-side shard store ----------------------------------------------------


class _ShardLRU:
    """Byte-bounded per-python-worker cache of shard payloads (Bloom
    shards and the seen index's folded runs alike), keyed by a
    stable shard identity plus a freshness fingerprint (mtime/size — a new
    fingerprint drops the shard's stale generations on insert). Worker
    processes are reused across tasks/batches, so a hot shard is read once
    per worker per round.

    The byte bound exists because probe placement is not always
    one-shard-per-task: Catalyst pushes the probe filter BELOW the key
    exchange when that is the better plan (blocked rows never shuffle — the
    recrawl regime's big win), and there a task's rows span many shards. An
    unbounded cache would then grow toward the whole store per worker
    (80-240 GB at the 10^10 design point); the LRU keeps each worker at
    SINEW_SHARD_CACHE_BYTES (default 2 GiB) and the hot shards resident."""

    def __init__(self, budget_bytes: int):
        from collections import OrderedDict

        self.budget = budget_bytes
        self._d = OrderedDict()
        self._bytes = 0

    def get(self, ident, fp):
        hit = self._d.get((ident, fp))
        if hit is None:
            return None
        self._d.move_to_end((ident, fp))
        return hit[0]

    def put(self, ident, fp, value, nbytes: int) -> None:
        for k in [k for k in self._d if k[0] == ident]:
            self._bytes -= self._d.pop(k)[1]
        self._d[(ident, fp)] = (value, int(nbytes))
        self._bytes += int(nbytes)
        while self._bytes > self.budget and len(self._d) > 1:
            _k, (_v, b) = self._d.popitem(last=False)
            self._bytes -= b


_CACHE_BUDGET = int(os.environ.get("SINEW_SHARD_CACHE_BYTES", str(2 << 30)))

_SHARD_CACHE = _ShardLRU(_CACHE_BUDGET)


def _load_shard(dirpath: str, shard: int) -> "BloomShards | None":
    p = os.path.join(dirpath, f"shard-{shard:05d}.npz")
    try:
        st = os.stat(p)
    except FileNotFoundError:
        return None
    fp = (st.st_mtime_ns, st.st_size)
    hit = _SHARD_CACHE.get(p, fp)
    if hit is None:
        with open(p, "rb") as f:
            hit = BloomShards.from_bytes(f.read())
        _SHARD_CACHE.put(p, fp, hit, hit.words.nbytes)
    return hit


class BloomShardStore:
    """Directory-backed sharded Bloom sidecar; every probe and update runs
    executor-side on exactly one shard per task (module docstring).

    Layout: ``dir/meta.json`` + ``dir/shard-%05d.npz``. A shard file is a
    serialized single-shard ``BloomShards`` sized for ``capacity/n_shards``
    keys. Routing: ``pmod(hash(key), n_shards)`` — aligned with Spark's
    hash partitioner so ``repartition(n_shards, key)`` stages are
    one-shard-per-task."""

    def __init__(self, path: str, capacity: int = 1_000_000, fpp: float = 0.01, n_shards: int = 64):
        self.path = path
        meta = self._read_meta()
        if meta is None:
            self.capacity, self.fpp, self.n_shards = capacity, fpp, n_shards
            self.n_added = 0
            self.snapshot_id: int | None = None
        else:  # persisted layout wins — shards are already sized for it
            self.capacity = int(meta["capacity"])
            self.fpp = float(meta["fpp"])
            self.n_shards = int(meta["n_shards"])
            self.n_added = int(meta["n_added"])
            # legacy meta (pre-sync discipline) has no snapshot id: unknown
            # provenance, first sync() rebuilds from the seen table
            self.snapshot_id = meta.get("snapshot_id")

    # --- meta -----------------------------------------------------------------

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.path, "meta.json")

    def _read_meta(self) -> dict | None:
        try:
            with open(self._meta_path) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def _write_meta(self) -> None:
        os.makedirs(self.path, exist_ok=True)
        tmp = self._meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "capacity": self.capacity,
                    "fpp": self.fpp,
                    "n_shards": self.n_shards,
                    "n_added": self.n_added,
                    "snapshot_id": self.snapshot_id,
                },
                f,
            )
        os.replace(tmp, self._meta_path)

    # --- spark-side ops ---------------------------------------------------------

    def _shard_expr(self):
        from pyspark.sql import functions as F

        return F.pmod(F.hash(F.col("key")), F.lit(self.n_shards))

    def add_delta(self, keys_df, snapshot_id: int | None = None) -> int:
        """Distributed shard update: one task per touched shard loads its
        shard file, ORs in the new keys' bits, writes tmp+rename. The driver
        never sees a key. Returns the number of keys added.

        ``snapshot_id``: the seen snapshot these keys complete — recorded in
        meta AFTER the shard writes land, so a crash mid-update leaves the
        store honestly behind (next sync() re-absorbs; re-adding is
        idempotent)."""
        from pyspark.sql import functions as F

        dirpath, per_cap, fpp, ns = (
            self.path,
            max(1024, self.capacity // self.n_shards),
            self.fpp,
            self.n_shards,
        )

        def upd(pdf):
            import pandas as pd

            shard = int(pdf["_shard"].iloc[0])
            # read the file directly (not via the worker cache) — mutating a
            # cached object would let a failed write leave memory ahead of disk
            p0 = os.path.join(dirpath, f"shard-{shard:05d}.npz")
            if os.path.exists(p0):
                with open(p0, "rb") as f:
                    b = BloomShards.from_bytes(f.read())
            else:
                b = BloomShards(per_cap, fpp=fpp, n_shards=1)
            keys = pdf["key"].to_numpy("int64")
            b.add(keys)
            tmp = p0 + f".tmp{os.getpid()}"
            with open(tmp, "wb") as f:
                f.write(b.to_bytes())
            os.replace(tmp, p0)
            return pd.DataFrame({"shard": [shard], "n_keys": [len(keys)]})

        os.makedirs(dirpath, exist_ok=True)
        counts = (
            keys_df.select("key")
            .withColumn("_shard", self._shard_expr())
            .groupBy("_shard")
            .applyInPandas(upd, "shard int, n_keys long")
            .agg(F.sum("n_keys").alias("n"))
            .collect()
        )
        n = int(counts[0].n or 0)
        self.n_added += n
        if snapshot_id is not None:
            self.snapshot_id = snapshot_id
        self._write_meta()
        return n

    def sync(self, seen_t) -> None:
        """Bring the bloom up to the seen table's current snapshot, so that
        it holds every seen key (module docstring). Append snapshots on the
        ``since`` chain are absorbed as deltas; edelete/compact only remove
        seen keys, so the over-approximate bloom stays fail-safe and the id
        just advances. Everything else rebuilds from the full key set:
        fresh/legacy/lost sidecar, no chain (after a rollback the shards
        may hold keys from rolled-back snapshots; phantom keys inflate the
        false-positive rate), an ``overwrite`` snapshot (may ADD keys;
        advancing past it would break "bloom contains every seen key" — a
        false negative), and outgrowing capacity (4x re-size keeps
        amortized cost O(delta))."""
        cur = seen_t.current_snapshot()
        if cur == self.snapshot_id or cur is None:
            return
        newer = seen_t.since(self.snapshot_id, cur)  # None when never synced
        if newer is None or any(s["op"] not in ("append", "edelete", "compact") for s in newer):
            # pre-size from manifest stats (free) so the rebuild lands under
            # the fpp budget in one pass
            est = seen_t.approx_rows()
            if est > self.capacity:
                self.capacity = max(self.capacity * 4, est * 2)
            self.rebuild(seen_t.read().select("key"), snapshot_id=cur)
            return
        for s in newer:
            if s["op"] == "append":
                self.add_delta(seen_t.read_delta(s["id"]).select("key"), snapshot_id=s["id"])
            else:  # edelete/compact: keys only shrink, over-approximation is fail-safe
                self.snapshot_id = s["id"]
                self._write_meta()
        if self.n_added > self.capacity:  # fpp past budget: re-size + rebuild
            self.capacity = max(self.capacity * 4, self.n_added * 2)
            self.rebuild(seen_t.read().select("key"), snapshot_id=cur)

    def in_sync_with(self, seen_t) -> bool:
        return seen_t.current_snapshot() == self.snapshot_id

    def maybe_seen(self, frontier):
        """Rows the bloom flags as possibly-seen — an OVER-approximation of
        the truly-seen rows (no false negatives: every added key is
        flagged). Diagnostics surface: the crawl round's exactly-once
        probe is ``SeenKeyShardStore.reject_seen``, which never consults
        the bloom."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if self.n_added == 0:
            return frontier.where(F.lit(False))
        dirpath = self.path

        @F.pandas_udf(T.BooleanType())
        def flagged(key: pd.Series, shard: pd.Series) -> pd.Series:
            keys = key.to_numpy("int64")
            out = np.zeros(len(keys), dtype=bool)
            for s in shard.unique():
                b = _load_shard(dirpath, int(s))
                if b is None:  # shard never written -> nothing seen there
                    continue
                m = (shard == s).to_numpy()
                out[m] = b.might_contain(keys[m])
            return pd.Series(out)

        return frontier.where(flagged(F.col("key"), self._shard_expr()))

    def rebuild(self, keys_df, snapshot_id: int | None = None) -> int:
        """Drop and re-add from scratch (sidecar lost, legacy meta, or a
        capacity re-size). One distributed pass over the keys."""
        self.drop()
        return self.add_delta(keys_df, snapshot_id=snapshot_id)

    def drop(self) -> None:
        import shutil

        shutil.rmtree(self.path, ignore_errors=True)
        self.n_added = 0
        self.snapshot_id = None


# --- the exact seen index (the anti-join's scale path) -----------------------------

# LSM knobs: a shard is a set of sorted-unique RUN files (one per absorbed
# round) folded at probe time; when a shard accumulates this many runs the
# next absorb merges them into one. Bounds per-round write volume to
# O(delta) instead of O(shard) — at the 10^10-key design point a round
# writes ~2.4 GB of new runs instead of rewriting the full 240 GB index,
# while probes still see one worker-cached sorted array set per shard.
KEYS_COMPACT_RUNS = 8

# meta.json layout marker. A meta without it was written by the key-only
# store this one replaced (keys-/dels- .npy runs, no per-key statistics):
# its runs cannot answer the probe, so the store opens it cold and the
# first sync() rebuilds.
_LAYOUT = "valued-runs"

_NEG_INF = float("-inf")

# run kind -> file prefix: 'k' add runs carry (keys, fa_ok, fa_err),
# 'd' tombstone runs carry keys only
_RUN_PREFIX = {"k": "vals", "d": "vdel"}


def _run_gen(name: str) -> int:
    """Run-file generation: vals-SSSSS.rGGGGGG.npz -> G."""
    base = name[:-4]  # strip .npz
    return int(base[base.rfind(".r") + 2 :])


def _run_entries(dirpath: str, shard: int) -> list[tuple[int, str, str]]:
    """(generation, kind, path) for a shard's add and tombstone runs."""
    try:
        names = os.listdir(dirpath)
    except FileNotFoundError:
        return []
    out = []
    for kind, prefix in _RUN_PREFIX.items():
        pre = f"{prefix}-{shard:05d}."
        out += [
            (_run_gen(n), kind, os.path.join(dirpath, n))
            for n in names
            if n.startswith(pre) and n.endswith(".npz")
        ]
    return sorted(out)


def _load_run(path: str, kind: str):
    with np.load(path) as z:
        return (z["keys"], z["fa_ok"], z["fa_err"]) if kind == "k" else z["keys"]


def _merge_runs(arrs: list[tuple]) -> tuple:
    """Union add runs into (sorted unique keys, per-key class maxima)."""
    keys = np.concatenate([a[0] for a in arrs])
    fa_ok = np.concatenate([a[1] for a in arrs])
    fa_err = np.concatenate([a[2] for a in arrs])
    uk, inv = np.unique(keys, return_inverse=True)
    mok = np.full(len(uk), _NEG_INF)
    merr = np.full(len(uk), _NEG_INF)
    np.maximum.at(mok, inv, fa_ok)
    np.maximum.at(merr, inv, fa_err)
    return uk, mok, merr


def _fold_runs(entries: list[tuple[int, str, object]]) -> tuple:
    """Resolve add runs + tombstones in generation order: add runs merge
    per-key class maxima; a tombstone removes its keys (with all their
    statistics — a later re-add starts fresh, matching the table's
    delete-then-re-append semantics). No-tombstone fast path is the
    order-free class-max merge."""
    if all(kind == "k" for _g, kind, _a in entries):
        arrs = [a for _g, _k, a in entries]
        return arrs[0] if len(arrs) == 1 else _merge_runs(arrs)
    e = np.empty(0)
    cur = (e.astype(np.int64), e.astype(np.float64), e.astype(np.float64))
    for _g, kind, payload in sorted(entries, key=lambda t: t[0]):
        if kind == "k":
            cur = _merge_runs([cur, payload]) if len(cur[0]) else payload
        else:
            keep = ~np.isin(cur[0], payload, assume_unique=True)
            cur = (cur[0][keep], cur[1][keep], cur[2][keep])
    return cur


def _load_runs_shard(dirpath: str, shard: int) -> tuple:
    """The shard's runs folded into (keys, fa_ok, fa_err), worker-cached
    keyed by the run list's (name, mtime, size) fingerprint — reloaded
    only when an absorb/compaction changes the shard."""
    for _attempt in range(3):  # a concurrent compaction can unlink a run mid-read
        entries = _run_entries(dirpath, shard)
        if not entries:
            e = np.empty(0)
            return e.astype(np.int64), e, e
        try:
            sig = tuple((p, os.stat(p).st_mtime_ns, os.stat(p).st_size) for _g, _k, p in entries)
            hit = _SHARD_CACHE.get((dirpath, shard), sig)
            if hit is None:
                hit = _fold_runs([(g, k, _load_run(p, k)) for g, k, p in entries])
                _SHARD_CACHE.put((dirpath, shard), sig, hit, sum(a.nbytes for a in hit))
            return hit
        except FileNotFoundError:
            continue
    raise OSError(f"shard {shard} runs kept disappearing under {dirpath}")


def _run_payload(pdf, kind: str):
    """One shard's slice of a delta as a run payload: per-key class maxima
    for an add run, the sorted unique keys for a tombstone run."""
    keys = pdf["key"].to_numpy("int64")
    if kind == "d":
        return np.unique(keys)
    # null status: anti_join_seen's `status < 400` is NULL -> the entry
    # never counts as ok-class but still blocks plainly — i.e. exactly
    # the error-class treatment, so map null -> 600.
    # null fetched_at: NULL freshness comparisons drop the entry from
    # every TTL-filtered live set while it still blocks the plain probe —
    # a finite -1e308 reproduces both.
    status = pdf["status"].fillna(600).to_numpy("int64")
    fa = pdf["fetched_at"].fillna(-1e308).to_numpy("float64")
    # ok-class = 100..399, matching anti_join_seen's live filter: status
    # < 100 is the transport's -1 stamp (DNS/timeout/TLS, redirect-limit)
    # — error-class, so force_errors retries it
    ok = (status >= 100) & (status < 400)
    uk, inv = np.unique(keys, return_inverse=True)
    mok = np.full(len(uk), _NEG_INF)
    merr = np.full(len(uk), _NEG_INF)
    np.maximum.at(mok, inv[ok], fa[ok])
    np.maximum.at(merr, inv[~ok], fa[~ok])
    return uk, mok, merr


def _write_run(dirpath: str, shard: int, kind: str, payload) -> None:
    """Append one run of ``kind`` to a shard's generation sequence; once
    the shard would exceed KEYS_COMPACT_RUNS runs, fold every run plus
    this one into a single resolved add run instead. Crash-safe without
    repair: the run is tmp+renamed, and compaction renames the merged run
    BEFORE unlinking its inputs — a stale leftover input is a lower
    generation already subsumed by the merged run (class-max merge is
    idempotent; a leftover tombstone precedes the merged run)."""
    entries = _run_entries(dirpath, shard)
    nxt = max((g for g, _k, _p in entries), default=0) + 1
    compact = len(entries) + 1 > KEYS_COMPACT_RUNS
    if compact:
        payload = _fold_runs(
            [(g, k, _load_run(p, k)) for g, k, p in entries] + [(nxt, kind, payload)]
        )
        kind = "k"
    target = os.path.join(dirpath, f"{_RUN_PREFIX[kind]}-{shard:05d}.r{nxt:06d}.npz")
    tmp = os.path.join(dirpath, f"tmp-{shard}-{os.getpid()}.npz")
    with open(tmp, "wb") as fh:
        if kind == "k":
            np.savez(fh, keys=payload[0], fa_ok=payload[1], fa_err=payload[2])
        else:
            np.savez(fh, keys=payload)
    os.replace(tmp, target)
    if compact:
        for _g, _k, p in entries:
            try:
                os.unlink(p)
            except FileNotFoundError:
                pass


class SeenKeyShardStore:
    """The exact seen index: per-key membership plus the sufficient
    statistics of every exactly-once mode, as sorted shard runs — the
    exactly-once filter's scale path.

    Why it exists: the exact ``left_anti`` join against ``seen`` reshuffles
    the seen side's keys every round (~80 GB at the 10^10-key design
    point). This store keeps them as per-shard sorted arrays (same
    ``pmod(hash(key), S)`` routing as ``BloomShardStore``, so the probe
    runs inside the already-key-partitioned dedup stage, one shard per
    task) and answers by binary search — no shuffle of either side, no
    sort, worker-cached across rounds until the shard changes.

    Per key two values: ``fa_ok`` = max fetched_at over non-error seen
    entries (status 100..399, matching ``anti_join_seen``'s live filter;
    the transport's -1 stamp is error-class) and ``fa_err`` = max over
    error entries; either is -inf when that class has no entry. These are
    sufficient for every predicate ``anti_join_seen`` evaluates, because
    its live-entry condition is a conjunction of a status-class test and
    a freshness test and seen entries only accumulate:

    - plain:            blocked iff the key is present
    - expires:          blocked iff max(fa_ok, fa_err) >= now - expires
    - force_errors:     blocked iff fa_ok > -inf
    - both:             blocked iff fa_ok >= now - expires

    so one index serves plain crawls, TTL recrawls, force_errors and the
    next frontier's run-start cutoff (``expires=0, now=run start``).

    Shard layout is LSM-shaped: an absorb appends one sorted-unique RUN
    file per touched shard (``vals-`` runs, 24 B/key: write volume
    O(round delta), not O(total keys)); equality deletes (uncache) absorb
    as key-only TOMBSTONE runs (``vdel-``) in the same generation
    sequence; a shard that reaches KEYS_COMPACT_RUNS runs is folded back
    to one resolved run on its next absorb. Probes fold a shard's runs in
    generation order (adds merge class maxima, tombstones wipe — so
    delete-then-re-append replays exactly), cached per worker until the
    run list changes.

    Correctness discipline (this is TRUTH, not an approximation): a
    shard must never be BEHIND the committed seen table when probed, or a
    seen URL would be refetched. ``sync()`` enforces it: meta records the
    last absorbed seen snapshot id; the append / equality-delete
    snapshots ``SnapshotTable.since`` chains after it are absorbed
    incrementally, a compaction is stepped over (same logical rows), and
    history the runs can't express (an overwrite; no chain: a rollback, a
    parentless root, an expired snapshot) triggers a full rebuild. The
    probe is refused (caller falls back to the anti-join) only if sync
    was skipped. A crash between seen commit and absorb is repaired by the
    same catch-up on next start — the snapshot id only advances AFTER the
    runs are written, and re-absorbing a snapshot sequence replays to the
    same fold."""

    def __init__(self, path: str, n_shards: int = 64):
        self.path = path
        meta = self._read_meta()
        if meta is None or meta.get("layout") != _LAYOUT:
            # fresh, or a pre-merge key-only sidecar: cold until rebuilt
            self.n_shards = n_shards
            self.snapshot_id: int | None = None
        else:
            self.n_shards = int(meta["n_shards"])
            self.snapshot_id = meta["snapshot_id"]

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.path, "meta.json")

    def _read_meta(self) -> dict | None:
        try:
            with open(self._meta_path) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def _write_meta(self) -> None:
        os.makedirs(self.path, exist_ok=True)
        tmp = self._meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {"layout": _LAYOUT, "n_shards": self.n_shards, "snapshot_id": self.snapshot_id},
                f,
            )
        os.replace(tmp, self._meta_path)

    def _shard_expr(self):
        from pyspark.sql import functions as F

        return F.pmod(F.hash(F.col("key")), F.lit(self.n_shards))

    def _absorb(self, rows_df, kind: str) -> None:
        """Distributed LSM absorb: each touched shard gains one run of
        ``kind`` ('k' from (key, status, fetched_at) rows, 'd' tombstones
        from key rows) holding just the delta — never a rewrite of the
        shard's existing runs (``_write_run``). One row per touched shard
        is collected."""
        dirpath = self.path
        cols = ["key", "status", "fetched_at"] if kind == "k" else ["key"]

        def upd(pdf):
            shard = int(pdf["_shard"].iloc[0])
            _write_run(dirpath, shard, kind, _run_payload(pdf, kind))
            return pd.DataFrame({"shard": [shard]})

        os.makedirs(dirpath, exist_ok=True)
        (
            rows_df.select(*cols)
            .withColumn("_shard", self._shard_expr())
            .groupBy("_shard")
            .applyInPandas(upd, "shard int")
            .collect()
        )

    def sync(self, seen_t) -> None:
        """Bring the shards up to the seen table's current snapshot along
        ``SnapshotTable.since``'s chain: absorb append deltas as add runs
        and equality-delete snapshots as tombstone runs (both O(delta)), in
        snapshot order so the run generations reproduce the table's
        delete-then-re-add semantics; step over compactions (same logical
        rows, so the runs already hold them). An overwrite rewrites the
        table, and no chain means a rollback (or a branch built on an older
        snapshot), a parentless root or an expired snapshot: the shards
        could keep keys the table no longer holds and reject_seen would
        silently drop live frontier URLs, a violation of exactly-once, so
        both rebuild from the full table."""
        cur = seen_t.current_snapshot()
        if cur is None or cur == self.snapshot_id:
            return
        newer = seen_t.since(self.snapshot_id, cur)  # None when never synced
        if newer is not None and all(s["op"] in ("append", "edelete", "compact") for s in newer):
            for s in newer:
                if s["op"] == "append":
                    self._absorb(seen_t.read_delta(s["id"]), "k")
                elif s["op"] == "edelete":
                    self._absorb(seen_t.read_delete_delta(s["id"]), "d")
        else:
            import shutil

            shutil.rmtree(self.path, ignore_errors=True)
            self._absorb(seen_t.read(), "k")
        self.snapshot_id = cur
        self._write_meta()

    def in_sync_with(self, seen_t) -> bool:
        return seen_t.current_snapshot() == self.snapshot_id

    def probe_local(self, key: int) -> bool | None:
        """Driver-side membership probe — NO Spark job: route the key to
        its shard with the pure-Python hash twin (functions/localhash.py,
        JVM-parity test-pinned) and binary-search the shard's folded runs.
        Returns None when the store is cold (never synced, or a pre-merge
        sidecar) — the caller falls back to the Spark path. Caller is
        responsible for ``in_sync_with``; a stale warm store answers for
        its recorded snapshot (interactive probes tolerate that; the crawl
        loop never uses this path)."""
        if self.snapshot_id is None:
            return None
        from ..functions.localhash import shard_of_key

        keys = _load_runs_shard(self.path, shard_of_key(key, self.n_shards))[0]
        i = int(np.searchsorted(keys, key))
        return i < len(keys) and int(keys[i]) == key

    def reject_seen(
        self,
        frontier,
        expires: float | None = None,
        force_errors: bool = False,
        now: float | None = None,
    ):
        """EXACT filter, shard-local: equivalent to
        ``anti_join_seen(frontier, seen, expires=..., force_errors=...,
        now=...)`` with zero shuffle of the seen side — a per-task binary
        search of every row against the task's shard. Caller must have
        sync()ed this round."""
        import time as _time

        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if self.snapshot_id is None:
            return frontier
        plain = expires is None and not force_errors
        dirpath = self.path
        cutoff = None
        if expires is not None:
            cutoff = (_time.time() if now is None else now) - expires

        @F.pandas_udf(T.BooleanType())
        def is_fetchable(key: pd.Series, shard: pd.Series) -> pd.Series:
            keys = key.to_numpy("int64")
            out = np.ones(len(keys), dtype=bool)
            for s in shard.unique():
                uk, mok, merr = _load_runs_shard(dirpath, int(s))
                if len(uk) == 0:
                    continue
                m = (shard == s).to_numpy()
                ks = keys[m]
                idx = np.minimum(np.searchsorted(uk, ks), len(uk) - 1)
                found = uk[idx] == ks
                blocked = found
                if not plain:
                    live = mok[idx] if force_errors else np.maximum(mok[idx], merr[idx])
                    live = np.where(found, live, _NEG_INF)
                    blocked = live >= cutoff if cutoff is not None else live > _NEG_INF
                out[m] = ~blocked
            return pd.Series(out)

        return frontier.where(is_fetchable(F.col("key"), self._shard_expr()))
