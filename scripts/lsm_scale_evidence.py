"""LSM seen-store scale evidence (round-4 VERDICT item 7).

Runs a long multi-round crawl — default 16 rounds x 2M fresh URLs = 32M
cumulative seen keys — and records per-round frontier throughput while the
`SeenKeyShardStore` LSM accumulates one sorted run per shard per round,
compacts at KEYS_COMPACT_RUNS=8, and (mid-crawl) absorbs a merge-on-read
equality-delete snapshot as tombstone runs. The O(delta) claim holds iff
round-wise URLs/s stays flat within noise as the seen set grows 16x:
an O(seen) implementation would degrade linearly.

Each round's seed space is disjoint (`?r=N` suffix) except for an explicit
5% carry-over of the previous round's URLs, which exercises the shard-local
reject path against the full accumulated key set every round. At round 9
(after the first compaction window) 100k keys are MOR-deleted from the seen
table; the next sync absorbs them as tombstone runs — the round throughput
must not step.

Usage:  PYTHONPATH=/root/repo python scripts/lsm_scale_evidence.py \
            [--rounds 16] [--per-round 2000000] [--cpus 32]
Emits one JSON line per round and a summary line; paste into BENCH.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("cpu "):
                return int(line.split()[8])
    return 0


def run_file_count(workdir: str) -> int:
    """Add + tombstone runs of the seen index (vals-/vdel- .npz files)."""
    side = os.path.join(workdir, "seen.keys.d")
    return sum(len(glob.glob(os.path.join(side, f"{p}-*.npz"))) for p in ("vals", "vdel"))


def _count_label(n: int) -> str:
    """32000000 -> '32M', 120000 -> '120k'."""
    if n >= 1_000_000:
        return f"{n / 1e6:g}M"
    return f"{n / 1e3:g}k" if n >= 1_000 else str(n)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=16)
    ap.add_argument("--per-round", type=int, default=2_000_000)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--delete-at-round", type=int, default=9)
    ap.add_argument("--delete-keys", type=int, default=100_000)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from sinew_spark.crawl import Crawler, CrawlOptions
    from sinew_spark.datagen import gen_frontier_seeds
    from sinew_spark.operators.frontier import prepare_frontier
    from sinew_spark.sources.fetch import FixtureFetcher

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.driver.memory", os.environ.get("SINEW_DRIVER_MEM", "96g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    workdir = tempfile.mkdtemp(prefix="sinew_lsm_scale_")
    total = args.rounds * args.per_round
    try:
        opts = CrawlOptions(
            rate_limit=0.0,
            retries=0,
            per_host_cap=None,
            max_rounds=1,
            exact_shards=True,  # the LSM path under test, from round 0
            bloom_capacity=max(total * 2, 1_000_000),
        )
        fetcher = FixtureFetcher(
            seed=42, synthetic=True, synthetic_links=6, synthetic_hosts=1000
        )
        c = Crawler(spark, workdir, fetcher, opts)

        def round_seeds(r: int):
            return gen_frontier_seeds(
                spark, args.per_round, n_hosts=1000, hot_frac=0.2, dup_frac=0.2,
                seed=42 + r,
            ).withColumn("url", F.concat(F.col("url"), F.lit(f"?r={r}")))

        rows = []
        for r in range(args.rounds):
            seeds = round_seeds(r)
            if r > 0:
                # 5% of last round's URLs re-enter (regenerated
                # deterministically — no cross-round lineage chaining):
                # every round probes the FULL accumulated seen set and must
                # reject them shard-locally
                carry = round_seeds(r - 1).where(F.col("seq") % 20 == 0)
                seeds = seeds.unionByName(carry)
            prepared = prepare_frontier(seeds, c.canonicalize)
            c.frontier_t.overwrite(prepared, {"op": "seed", "round": r})

            if r == args.delete_at_round:
                # MOR equality-delete mid-crawl: tombstone runs must absorb
                # without a rebuild and without a throughput step
                keys = [
                    row.key
                    for row in c.seen_t.read().select("key").limit(args.delete_keys).collect()
                ]
                t0 = time.time()
                c.seen_t.delete_keys(keys)
                del_sec = round(time.time() - t0, 2)
            else:
                del_sec = None

            s0, t0 = steal_ticks(), time.time()
            stats = c.run_round()
            wall = time.time() - t0
            row = {
                "round": r,
                "submitted": args.per_round,
                "fetched": stats["fetched"],
                "sec": round(wall, 2),
                "urls_per_sec": round(args.per_round / wall, 1),
                "steal_sec": round((steal_ticks() - s0) / 100.0, 1),
                "lsm_run_files": run_file_count(workdir),
                "cum_seen_rows_approx": c.seen_t.approx_rows(),
            }
            if del_sec is not None:
                row["mor_delete_sec"] = del_sec
            rows.append(row)
            print(json.dumps(row), flush=True)

        # round 0 pays JVM/codegen/page-cache warmup — excluded from the
        # flatness stat (its inclusion would only inflate the ratio upward)
        tps = [x["urls_per_sec"] for x in rows[1:]] or [rows[0]["urls_per_sec"]]
        half = len(tps) // 2
        summary = {
            "metric": (
                "LSM seen-store round throughput flatness "
                f"({_count_label(total)} cumulative keys)"
            ),
            "rounds": args.rounds,
            "per_round_urls": args.per_round,
            "cumulative_urls": total,
            "cpus": args.cpus,
            "first_half_mean_ups": round(sum(tps[:half]) / half, 1),
            "second_half_mean_ups": round(sum(tps[half:]) / (len(tps) - half), 1),
            "flatness_ratio_second_over_first": round(
                (sum(tps[half:]) / (len(tps) - half)) / (sum(tps[:half]) / half), 3
            ),
            "min_ups": min(tps),
            "max_ups": max(tps),
            "total_steal_sec": round(sum(x["steal_sec"] for x in rows), 1),
        }
        print(json.dumps(summary), flush=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
