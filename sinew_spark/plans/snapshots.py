"""SnapshotTable — Iceberg-style snapshot-versioned parquet tables.

The reference persists every response to an append-only disk cache whose
contents ARE the crawl's durable state (/root/reference/lib/sinew/base.rb:
217-222, README.md:114-118). The engine's durable state lives in
snapshot-versioned tables: every commit produces a new immutable snapshot
(manifest listing data files), giving

- atomic per-round commits (the resumability points),
- time travel (read any snapshot id — used by resume + replay tests),
- row-level delete two ways: `delete_keys` is a merge-on-read EQUALITY
  delete (Iceberg v2 model — a small delete file of key values, O(delta);
  sinew's `uncache` path), `delete_where` is a copy-on-write rewrite for
  arbitrary predicates,
- lineage: each snapshot records the operation + round that produced it
  and its parent, the snapshot it was built on. This module is the only
  reader of the parent pointers: ``ancestors`` walks them (crash recovery,
  expiry), ``since`` answers what an incremental consumer (the seen
  index, the Bloom) must absorb to catch up, or None when a rollback, a
  parentless root or an expired snapshot means it must rebuild.

A manifest entry records only what its commit changed (Iceberg's model):
``added``, the data dirs it wrote (one for append/overwrite/compact, none
for an equality delete). A snapshot's dir list is derived by walking the
parent pointers back to the newest overwrite or compact or to a root, so
the manifest grows with the snapshot count, not its square. An entry from
before this format carries its snapshot's full ``dirs`` list instead; the
walk stops there, so old manifests open as they are.

Merge-on-read sequence rule (Iceberg's): an equality delete applies only
to data files added BEFORE it, so a key re-appended after a delete is
visible again. `read()` resolves deletes by grouping data dirs by their
applicable delete set (≤ n_deletes+1 groups; delete files are tiny and
broadcast). Accumulating more than MOR_COMPACT_DELETES delete files
triggers a compaction first, so read plans stay bounded and the rewrite
cost is amortized over that many point deletes.

This is the Iceberg table model implemented over plain parquet + a JSON
manifest, because the sandbox has no Iceberg runtime jars. The API is
format-agnostic; on a real cluster, swap `SnapshotTable` for Iceberg DDL
(`CREATE TABLE ... USING iceberg`) — the Crawler calls
append/overwrite/read/read_delta, plus ancestors/rollback_to to recover a
crashed round.

Commit protocol: write data files to a new immutable directory, then
atomically swap the manifest (write temp + rename). Single-writer (the
crawl driver), matching Iceberg's optimistic single-committer fast path.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# equality-delete files tolerated before a compaction resolves them — bounds
# both the read plan (union of <= N+1 anti-joined groups) and the shard
# stores' tombstone-run count; the compaction rewrite is amortized over N
# point deletes instead of paid per delete (the old COW-only behavior)
MOR_COMPACT_DELETES = 8


def _arrow_type(dt: T.DataType):
    import pyarrow as pa

    return {
        "int": pa.int32(),
        "bigint": pa.int64(),
        "double": pa.float64(),
        "string": pa.string(),
        "boolean": pa.bool_(),
    }[dt.simpleString()]


class SnapshotTable:
    def __init__(self, spark: SparkSession, path: str, schema: T.StructType):
        self.spark = spark
        self.path = path
        self.schema = schema
        os.makedirs(os.path.join(path, "data"), exist_ok=True)

    # --- manifest ------------------------------------------------------------

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "manifest.json")

    def _read_manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"current": None, "snapshots": []}
        with open(self._manifest_path) as f:
            return json.load(f)

    def _commit(self, manifest: dict) -> None:
        """Durable atomic swap: the temp file's bytes reach the disk before
        the rename, and the rename reaches the disk through the directory
        fsync — after a power loss the manifest is the old or the new one,
        never a torn or empty file."""
        tmp = self._manifest_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(json.dumps(manifest))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path)  # atomic on POSIX
        fd = os.open(self.path, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)

    def current_snapshot(self) -> int | None:
        return self._read_manifest()["current"]

    def snapshots(self) -> list[dict]:
        return self._read_manifest()["snapshots"]

    def lineage(self) -> DataFrame:
        """Per-partition lineage as a queryable DataFrame (north rule):
        one row per data file per snapshot — (snapshot_id, parent_id, op,
        ts, file, rows, bytes, plus any caller meta like the crawl
        round). Driver-local manifest read: O(snapshots × files) METADATA
        only, no data scan — ``crawler.fetched_t.lineage()`` answers
        "which write task produced which rows in which round" without
        touching the table."""
        rows = []
        for s in self.snapshots():
            meta = s.get("meta") or {}
            rnd = meta.get("round")
            for f in meta.get("files") or []:
                rows.append(
                    (
                        int(s["id"]),
                        int(s["parent"]) if s.get("parent") is not None else None,
                        s.get("op"),
                        str(meta.get("op") or ""),
                        int(rnd) if rnd is not None else None,
                        float(s.get("ts") or 0.0),
                        f["file"],
                        int(f["rows"]),
                        int(f["bytes"]),
                    )
                )
        schema = (
            "snapshot_id long, parent_id long, op string, writer string, "
            "round int, ts double, file string, rows long, bytes long"
        )
        return self.spark.createDataFrame(rows, schema)

    # --- writes ---------------------------------------------------------------

    def _write_data(self, df: DataFrame) -> str:
        d = os.path.join(self.path, "data", uuid.uuid4().hex)
        df.write.mode("overwrite").parquet(d)
        return d

    @staticmethod
    def _file_stats(dirs: list[str]) -> list[dict]:
        """Per-partition lineage: one entry per data file (= one write task)
        with row count (parquet footer, no data read) and bytes — the
        Iceberg manifest-file model (north rule: per-partition lineage)."""
        import pyarrow.parquet as pq

        out = []
        for d in dirs:
            for name in sorted(os.listdir(d)):
                if not name.endswith(".parquet"):
                    continue
                full = os.path.join(d, name)
                out.append(
                    {
                        "file": full,
                        "rows": pq.ParquetFile(full).metadata.num_rows,
                        "bytes": os.path.getsize(full),
                    }
                )
        return out

    def _snapshot(self, snapshot_id: int | None = None, m: dict | None = None) -> dict | None:
        """The live snapshot ``snapshot_id`` (default: current; None for an
        empty table) — the one lookup every read and rollback goes through.
        Raises KeyError for an unknown id, ValueError for an expired one."""
        m = m or self._read_manifest()
        sid = snapshot_id if snapshot_id is not None else m["current"]
        if sid is None:
            return None
        s = next((s for s in m["snapshots"] if s["id"] == sid), None)
        if s is None:
            raise KeyError(f"snapshot {sid} not found in {self.path}")
        if s.get("expired"):
            raise ValueError(
                f"snapshot {sid} is expired (its files were garbage-collected "
                "by expire_snapshots)"
            )
        return s

    def ancestors(self, snapshot_id: int | None = None) -> list[dict]:
        """``snapshot_id`` (default: current) and the snapshots it was built
        on, newest first, along the Iceberg-style parent pointers —
        expired ones included (their manifest entries stay). A snapshot
        without a ``parent`` key is a root. [] for an empty table."""
        m = self._read_manifest()
        sid = snapshot_id if snapshot_id is not None else m["current"]
        out = list(self._walk(m, sid))
        if sid is not None and not out:
            raise KeyError(f"snapshot {sid} not found in {self.path}")
        return out

    @staticmethod
    def _walk(m: dict, sid: int | None):
        """Manifest entries from ``sid`` along the parent pointers, newest
        first (nothing for None or an unknown id)."""
        snaps = {s["id"]: s for s in m["snapshots"]}
        while sid in snaps:
            yield snaps[sid]
            sid = snaps[sid].get("parent")

    def since(self, from_id: int | None, to_id: int | None = None) -> list[dict] | None:
        """The snapshots after ``from_id`` on ``to_id``'s (default: current)
        parent chain, oldest first — what an incremental consumer that has
        absorbed ``from_id`` must absorb to reach ``to_id``. None when
        ``from_id`` is not on that chain (``rollback_to`` moved behind it,
        or onto a branch built on an older snapshot: the consumer holds
        rows the table no longer does) or an expired snapshot lies between
        them (its files are gone), and for ``from_id=None`` (nothing
        absorbed yet): the consumer must rebuild."""
        chain = []
        for s in self.ancestors(to_id):
            if s["id"] == from_id:
                return chain[::-1]
            if s.get("expired"):
                return None
            chain.append(s)
        return None

    def _new_snapshot(
        self,
        added: list[str],
        op: str,
        meta: dict | None,
        deletes: list[dict] | None = None,
    ) -> int:
        """``added`` is the data dirs this commit wrote (the rest of its
        dir list is derived, see ``_dirs``). ``deletes`` is the new
        snapshot's FULL cumulative equality-delete list; None inherits the
        current snapshot's (appends and edeletes carry deletes forward;
        overwrite/compaction resolves them to [])."""
        m = self._read_manifest()
        if deletes is None:
            cur = self._snapshot(m=m)
            deletes = list(cur.get("deletes", [])) if cur else []
        m["snapshots"].append(
            {
                "id": self._next_id(m),
                # Iceberg-style parent pointer: the snapshot this one was
                # built on. After rollback_to, ids alone cannot express
                # lineage (a post-rollback snapshot's state excludes the
                # rolled-back ones despite their smaller ids); ancestors()
                # and since() walk it.
                "parent": m["current"],
                "added": added,
                "op": op,
                "ts": time.time(),
                "meta": meta or {},
                "deletes": deletes,
            }
        )
        m["current"] = m["snapshots"][-1]["id"]
        self._commit(m)
        return m["current"]

    @staticmethod
    def _next_id(m: dict) -> int:
        # max over history, not current: after a rollback, current < max id
        return max((s["id"] for s in m["snapshots"]), default=0) + 1

    def append(self, df: DataFrame, meta: dict | None = None) -> int:
        """Append rows as a new snapshot (atomic)."""
        d = self._write_data(df.select([f.name for f in self.schema.fields]))
        return self._new_snapshot([d], "append", {**(meta or {}), "files": self._file_stats([d])})

    def _write_rows(self, rows: list[tuple]) -> str:
        """Write ``rows`` as one parquet file via pyarrow on the driver — no
        Spark job, no task scheduling."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        d = os.path.join(self.path, "data", uuid.uuid4().hex)
        os.makedirs(d, exist_ok=True)
        names = [f.name for f in self.schema.fields]
        arrow_schema = pa.schema(
            [(f.name, _arrow_type(f.dataType)) for f in self.schema.fields]
        )
        cols = {n: [r[i] for r in rows] for i, n in enumerate(names)}
        pq.write_table(pa.table(cols, schema=arrow_schema), os.path.join(d, "part-0.parquet"))
        return d

    def append_rows(self, rows: list[tuple], meta: dict | None = None) -> int:
        """Driver-side append for small tables (metrics, lineage): one
        parquet file, no Spark job. Readable by read()/read_delta() like any
        snapshot."""
        d = self._write_rows(rows)
        return self._new_snapshot([d], "append", {**(meta or {}), "files": self._file_stats([d])})

    def overwrite(self, df: DataFrame | list[tuple], meta: dict | None = None) -> int:
        """Replace the table's rows. A row list is written driver-side like
        ``append_rows`` (``[]`` empties the table with no Spark job)."""
        if isinstance(df, list):
            d = self._write_rows(df)
        else:
            d = self._write_data(df.select([f.name for f in self.schema.fields]))
        return self._new_snapshot(
            [d], "overwrite", {**(meta or {}), "files": self._file_stats([d])}, deletes=[]
        )

    def compact(self, target_files: int = 1, meta: dict | None = None) -> int:
        """Data-file compaction: rewrite the table's current LOGICAL
        state — pending equality deletes applied — into
        ``target_files`` consolidated files as a new snapshot with the
        delete list resolved to []. Same rows, fresh layout: the
        small-file antidote for append-per-round tables (a 10^5-round
        crawl otherwise accumulates 10^5 directories whose listing and
        open cost dominate scans) and the amortized resolution point
        for accumulated MOR delete files.

        Incremental consumers are unaffected by design: a compact
        snapshot adds NO logical rows, so ``read_delta`` of it is empty
        and ``diff`` across it is empty (both test-pinned), and the seen
        index and the Bloom advance past it on their next sync without
        a rebuild."""
        if target_files <= 0:
            raise ValueError("target_files must be positive")
        df = self.read().coalesce(target_files)
        d = self._write_data(df.select([f.name for f in self.schema.fields]))
        return self._new_snapshot(
            [d], "compact", {**(meta or {}), "files": self._file_stats([d])}, deletes=[]
        )

    def delete_where(self, condition, meta: dict | None = None) -> int:
        """Row-level delete via copy-on-write rewrite — for arbitrary
        predicates. Point deletes by key should use ``delete_keys`` (O(delta)
        merge-on-read) instead of this O(table) rewrite."""
        kept = self.read().where(~condition)
        return self.overwrite(kept, {**(meta or {}), "delete": True})

    def delete_keys(self, values: list, key_col: str = "key", meta: dict | None = None) -> int:
        """Equality delete, merge-on-read (sinew's `uncache`,
        /root/reference/lib/sinew/base.rb:101-105): write the deleted key
        VALUES as a tiny delete file and a new snapshot whose data dirs are
        unchanged — O(delta), vs delete_where's full copy-on-write rewrite
        (1.2 TB for one key at the 10^10-row design point). The delete
        applies only to data files added before this snapshot (sequence
        rule), so re-appending a key later makes it visible again. Past
        MOR_COMPACT_DELETES accumulated delete files a compaction resolves
        them first (amortized rewrite). Driver-side pyarrow write — point
        deletes don't need a Spark job."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        if self.current_snapshot() is None or not values:
            return self.current_snapshot()
        cur_deletes = list(self._snapshot().get("deletes", []))
        if len(cur_deletes) >= MOR_COMPACT_DELETES:
            self.compact()
            cur_deletes = []
        field = next(f for f in self.schema.fields if f.name == key_col)
        d = os.path.join(self.path, "data", uuid.uuid4().hex)
        os.makedirs(d, exist_ok=True)
        tbl = pa.table(
            {key_col: list(values)},
            schema=pa.schema([(key_col, _arrow_type(field.dataType))]),
        )
        pq.write_table(tbl, os.path.join(d, "delete-0.parquet"))
        sid = self._next_id(self._read_manifest())
        return self._new_snapshot(
            [],
            "edelete",
            {**(meta or {}), "n_deleted_keys": len(values)},
            deletes=cur_deletes + [{"id": sid, "dir": d, "key_col": key_col}],
        )

    # --- reads ----------------------------------------------------------------

    def _dirs(self, snapshot_id: int | None = None, m: dict | None = None) -> list[str]:
        """A snapshot's (default: current) data dirs, oldest first: the
        ``added`` lists along its parent chain back to the newest
        overwrite or compact or to a root. An entry written before
        ``added`` existed carries its full ``dirs`` list, which ends the
        walk."""
        m = m or self._read_manifest()
        snap = self._snapshot(snapshot_id, m)
        parts = []
        for s in self._walk(m, snap["id"]) if snap else ():
            parts.append(s.get("added", s.get("dirs")))
            if "added" not in s or s["op"] in ("overwrite", "compact"):
                break
        return [d for p in reversed(parts) for d in p]

    @staticmethod
    def _adders(m: dict) -> dict[str, dict]:
        """Each data dir -> the manifest entry that added it: its add
        sequence (merge-on-read), meta (``dir_metas``) and file stats
        (``approx_rows``). Entries are stored in id order, so for a
        full-``dirs`` entry the first one listing a dir is its adder."""
        out: dict[str, dict] = {}
        for s in m["snapshots"]:
            for d in s.get("added", s.get("dirs")):
                out.setdefault(d, s)
        return out

    def dir_metas(self, snapshot_id: int | None = None) -> list[dict]:
        """For each data dir of a snapshot (default: current), the meta of
        the snapshot that added it — e.g. the crawl round that wrote it.
        Manifest read only; [] for an empty table."""
        m = self._read_manifest()
        adders = self._adders(m)
        return [adders[d].get("meta") or {} for d in self._dirs(snapshot_id, m)]

    def approx_rows(self, snapshot_id: int | None = None) -> int:
        """Row count of a snapshot from manifest file stats — no Spark job,
        no file reads. Used for plan selection (e.g. seen-filter strategy:
        broadcast anti-join while small, shard probe at scale). Unresolved
        equality deletes overcount by the deleted rows — negligible for
        point deletes, and only ever biases strategy selection upward."""
        m = self._read_manifest()
        adders = self._adders(m)
        files = [adders[d]["meta"].get("files") for d in self._dirs(snapshot_id, m)]
        if not all(files):  # stats missing: count once
            return self.read(snapshot_id).count()
        return sum(f["rows"] for fs in files for f in fs)

    def _empty(self) -> DataFrame:
        """No rows, in a form the optimizer knows is empty: the false filter
        folds into an empty LocalRelation, so a join against it is pruned
        when the plan is built instead of shuffling an empty scan."""
        return self.spark.createDataFrame([], self.schema).where(F.lit(False))

    def read_delta(self, snapshot_id: int, target_partitions: int | None = None) -> DataFrame:
        """Read only the files ADDED by the given snapshot (incremental read
        — Iceberg's incremental scan). O(delta), not O(table).

        target_partitions: size the scan's file splits so the delta fans out
        into ~this many partitions (see _tune_splits). Use when the next
        stage is CPU-heavy per row (parse UDF): the default 128 MB splits
        would coalesce a small compressed delta into 1-2 partitions and
        serialize the work regardless of cluster size."""
        m = self._read_manifest()
        target = self._snapshot(snapshot_id, m)
        # edelete adds no data files; compact adds no logical ROWS (it only
        # rewrites layout) — both are empty deltas
        new_dirs = [] if target["op"] == "compact" else [
            d for d, s in self._adders(m).items() if s["id"] == target["id"]
        ]
        if not new_dirs:
            return self._empty()
        if target_partitions:
            self._tune_splits(target["meta"].get("files") or self._file_stats(new_dirs), target_partitions)
        return self.spark.read.schema(self.schema).parquet(*new_dirs)

    def _tune_splits(self, files: list[dict], target_partitions: int) -> None:
        """Set spark.sql.files.maxPartitionBytes so `files` split into about
        target_partitions scan partitions. The session conf is read at scan
        *planning* (first action on the DataFrame), so setting it just
        before building the read is effective; the crawler is the session's
        single driver, so the narrowed window is safe. On a 1000-executor
        cluster the same math holds — splits track delta size / cores, never
        the 128 MB default that under-parallelizes compressed crawl deltas."""
        total = sum(f["bytes"] for f in files)
        if not total:
            return
        size = max(1 << 20, min(128 << 20, total // target_partitions + 1))
        self.spark.conf.set("spark.sql.files.maxPartitionBytes", str(size))
        # small files would otherwise still coalesce via openCostInBytes padding
        self.spark.conf.set("spark.sql.files.openCostInBytes", str(min(4 << 20, size // 4)))

    def read_delete_delta(self, snapshot_id: int) -> DataFrame:
        """The key values deleted BY the given edelete snapshot — the
        incremental feed for sidecar stores absorbing tombstones."""
        s = self._snapshot(snapshot_id)
        mine = [dl for dl in s.get("deletes", []) if dl["id"] == snapshot_id]
        if not mine:
            return self.spark.createDataFrame([], T.StructType([]))
        key_col = mine[0]["key_col"]
        field = next(f for f in self.schema.fields if f.name == key_col)
        schema = T.StructType([field])
        return self.spark.read.schema(schema).parquet(*[dl["dir"] for dl in mine])

    def diff(
        self,
        from_snapshot: int | None,
        to_snapshot: int | None = None,
        key_col: str = "key",
    ) -> DataFrame:
        """Row-level diff between two snapshots, keyed by ``key_col``:
        the incremental feed a downstream consumer (training-data
        refresh, index rebuild, replication) applies to move from one
        table version to another. Returns ``to``-side rows tagged
        ``change='added'`` plus ``from``-side rows tagged ``'removed'``.
        ``from_snapshot=None`` diffs against the empty table (full
        bootstrap). ``to_snapshot=None`` means current.

        Scale shape: two key-partitioned anti-joins (broadcast when one
        side is small under AQE). For APPEND-only deltas prefer
        ``read_delta`` — O(new files), no join at all; diff() is the
        general path that also surfaces merge-on-read deletes."""
        new = self.read(to_snapshot)
        if from_snapshot is None:
            return new.withColumn("change", F.lit("added"))
        old = self.read(from_snapshot)
        added = new.join(old.select(key_col), key_col, "left_anti").withColumn(
            "change", F.lit("added")
        )
        removed = old.join(new.select(key_col), key_col, "left_anti").withColumn(
            "change", F.lit("removed")
        )
        return added.unionByName(removed)

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        """Read the table at a snapshot (default: current). Parquet scans get
        full Catalyst pushdown/pruning. Equality deletes are resolved
        merge-on-read: data dirs are grouped by their applicable delete set
        (sequence rule — a delete hits only dirs added before it), each
        group anti-joined against its broadcast delete keys. Point-delete
        files are tiny, MOR_COMPACT_DELETES bounds the group count."""
        m = self._read_manifest()
        snap = self._snapshot(snapshot_id, m)
        dirs = self._dirs(snapshot_id, m)
        if not dirs:
            return self._empty()
        deletes = snap.get("deletes", [])
        if not deletes:
            return self.spark.read.schema(self.schema).parquet(*dirs)
        # the id of the entry that added each dir = the dir's add sequence
        adders = self._adders(m)
        key_col = deletes[0]["key_col"]
        groups: dict[tuple, list[str]] = {}
        for d in dirs:
            appl = tuple(dl["id"] for dl in deletes if dl["id"] > adders[d]["id"])
            groups.setdefault(appl, []).append(d)
        field = next(f for f in self.schema.fields if f.name == key_col)
        del_schema = T.StructType([field])
        parts = []
        for appl, ds in groups.items():
            part = self.spark.read.schema(self.schema).parquet(*ds)
            if appl:
                del_dirs = [dl["dir"] for dl in deletes if dl["id"] in appl]
                dk = (
                    self.spark.read.schema(del_schema)
                    .parquet(*del_dirs)
                    .distinct()
                )
                part = part.join(F.broadcast(dk), key_col, "left_anti")
            parts.append(part)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def rollback_to(self, snapshot_id: int | None) -> None:
        """Point current at an older snapshot (resume-from-checkpoint);
        None returns the table to empty, and its next commit starts a new
        lineage."""
        m = self._read_manifest()
        if snapshot_id is not None:
            self._snapshot(snapshot_id, m)  # raises: unknown or expired
        m["current"] = snapshot_id
        self._commit(m)

    def expire_snapshots(
        self, retain_last: int = 1, keep_ids: "tuple | list | set" = ()
    ) -> dict:
        """Iceberg-style ``expireSnapshots``: physically garbage-collect
        data/delete directories unreachable from the retained snapshots.
        A crawl that commits seen/fetched/frontier/metrics every round
        accumulates one immutable snapshot per table per round — at the
        10^10-URL design point that is unbounded disk growth unless old
        checkpoints are reclaimed.

        Retained = the current snapshot plus ``retain_last - 1`` of its
        ANCESTORS along the parent chain, plus any explicitly pinned
        ``keep_ids`` (e.g. a resume checkpoint).  Everything else —
        including branches abandoned by ``rollback_to`` — is expired.

        Metadata is KEPT, files are collected: expired manifest entries
        stay (marked ``expired: true``, added lists and parent pointers
        intact) because a retained snapshot's dir list is derived along
        its parent chain from them, and the merge-on-read sequence rule
        takes each dir's add-sequence from the entry that added it —
        deleting entries would silently change both (losing files or
        resurrecting MOR-deleted rows); deleting only the unreferenced
        directories keeps every retained read bit-identical.
        Reads/rollbacks of an expired snapshot raise; sidecar shard stores
        whose sync chain crosses an expired snapshot rebuild from the
        (retained) current instead of absorbing a broken delta (``since``
        returns None).

        Crash ordering: the manifest (with expired flags) is committed
        BEFORE any rmtree, so a crash mid-collection leaves only orphan
        directories — harmless, swept by the next call — never a live
        snapshot pointing at missing files.

        Returns {"expired": n_newly_marked, "dirs_removed": n,
        "retained": [ids]}.
        """
        if retain_last < 1:
            raise ValueError("retain_last must be >= 1")
        m = self._read_manifest()
        if m["current"] is None:
            return {"expired": 0, "dirs_removed": 0, "retained": []}
        snaps = {s["id"]: s for s in m["snapshots"]}
        live: set = set()
        for pin in keep_ids:
            if pin not in snaps:
                raise KeyError(f"keep_ids snapshot {pin} not found")
            if snaps[pin].get("expired"):
                raise ValueError(f"keep_ids snapshot {pin} is already expired")
            live.add(pin)
        # only LIVE ancestors count toward retain_last and join the
        # retained set — an expired one has no files and cannot serve as a
        # resume point.  The walk CONTINUES through expired gaps rather
        # than stopping: an older ancestor kept live by a keep_ids pin in
        # an earlier call is still a valid resume point and must not be
        # collected just because a gap sits above it.
        kept = [s["id"] for s in self.ancestors() if not s.get("expired")]
        live.update(kept[:retain_last])
        referenced: set = set()
        for i in live:
            referenced.update(self._dirs(i, m))
            referenced.update(dl["dir"] for dl in snaps[i].get("deletes", []))
        newly = 0
        for s in m["snapshots"]:
            if s["id"] not in live and not s.get("expired"):
                s["expired"] = True
                newly += 1
        self._commit(m)  # flags first; rmtree after (see crash ordering)
        all_dirs = set(self._adders(m))
        for s in m["snapshots"]:
            all_dirs.update(dl["dir"] for dl in s.get("deletes", []))
        removed = 0
        for d in sorted(all_dirs - referenced):
            if os.path.isdir(d):
                shutil.rmtree(d, ignore_errors=True)
                removed += 1
        return {
            "expired": newly,
            "dirs_removed": removed,
            "retained": sorted(live),
        }

    def drop(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
