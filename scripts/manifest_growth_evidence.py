"""Snapshot-manifest growth evidence: metadata cost per commit vs history.

An append-per-round table (fetched, seen, metrics, host_counts,
host_state) commits one snapshot per crawl round, so a long crawl's
manifest holds one entry per round. This script measures what that
history costs: it appends ``--rows`` rows per snapshot with
``SnapshotTable.append_rows`` (a driver-side pyarrow write, no Spark job
and no JVM) and, when the table reaches each checkpoint count, prints the
manifest's size, the time of one ``_read_manifest`` and the time of the
``append_rows`` that made that snapshot.

Usage:  python scripts/manifest_growth_evidence.py \
            [--checkpoints 10,100,300,1000] [--rows 4] [--dir DIR]
Prints a markdown table; the table directory is a temporary one unless
``--dir`` names one (it must not exist yet).
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--checkpoints", default="10,100,300,1000")
    ap.add_argument("--rows", type=int, default=4, help="rows per snapshot")
    ap.add_argument("--dir", default=None)
    args = ap.parse_args()
    checkpoints = sorted(int(c) for c in args.checkpoints.split(","))

    from pyspark.sql import types as T

    from sinew_spark.plans.snapshots import SnapshotTable

    schema = T.StructType(
        [T.StructField("round", T.IntegerType()), T.StructField("url", T.StringType())]
    )
    root = args.dir or tempfile.mkdtemp(prefix="manifest-growth-")
    t = SnapshotTable(None, os.path.join(root, "t"), schema)  # append_rows needs no session
    print("| snapshots | manifest size | one `_read_manifest` | one `append_rows` |")
    print("|---|---|---|---|")
    try:
        for n in range(1, checkpoints[-1] + 1):
            rows = [(n, f"http://h{i}.test/p{n}") for i in range(args.rows)]
            t0 = time.perf_counter()
            t.append_rows(rows, {"round": n})
            append_ms = (time.perf_counter() - t0) * 1e3
            if n not in checkpoints:
                continue
            t0 = time.perf_counter()
            t._read_manifest()
            read_ms = (time.perf_counter() - t0) * 1e3
            mb = os.path.getsize(t._manifest_path) / 1e6
            print(f"| {n} | {mb:.3f} MB | {read_ms:.1f} ms | {append_ms:.1f} ms |", flush=True)
    finally:
        if args.dir is None:
            shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
