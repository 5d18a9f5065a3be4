"""Crawl benchmark of record for sinew_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload revisit --seed 1 --seconds 15 --trace 0

One process starts a ``local[<cpus>]`` Spark session through
``sinew_spark.session.get_spark``, synthesises the workload's inputs from
the seed, warms up, and runs the workload's closed loop for ``--seconds``.
It then checks every step's output and prints, as the last line of stdout,
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics, medians over the timed steps:

- ``urls_per_s``: frontier URLs disposed of (fetched, rejected as seen or
  collapsed as in-round duplicates) per second of the step's round wall time
- ``pages_per_s``: pages fetched, parsed and committed per second of the
  step's round wall time
- ``step_s_p50``: wall time of one step (a revisit round with its offer, or
  one recipe); a run has fewer than 20 steps, so no higher percentile has
  ten samples beyond it
- ``peak_rss_mb``: peak resident memory of the whole process tree (driver
  Python, driver JVM, Python workers) as proportional set size, so pages
  the forked Python workers share count once; sampled every 0.5 s
- ``setup_s``: session start, input or state synthesis, and warm-up steps

``--trace 1`` runs a window twice as long whose steps alternate untraced
and traced, and reports the per-layer metrics of the traced steps, the
tracing overhead against the untraced ones, and every layer's share of step
wall time; the spans are written to ``.perfbench_run/traces/``. Everything the run writes stays
under ``.perfbench_run/`` in the checkout. Workloads are described in
``perfbench/workloads.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
DRIVER_MEMORY = "2g"


def _isolate_environment() -> None:
    """Point every scratch location at the run directory and make the
    checkout importable by the driver and by Spark's Python workers."""
    for sub in ("tmp", "spark-local", "traces"):
        os.makedirs(os.path.join(RUN_DIR, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(RUN_DIR, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN_DIR, "spark-local")
    os.environ["PYTHONHASHSEED"] = "0"  # same set/dict layouts in every run
    # the launcher JVM that spark-submit starts before the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    sys.path.insert(0, ROOT)


def _start_spark():
    from sinew_spark.session import get_spark

    tmp = os.path.join(RUN_DIR, "tmp")
    spark = get_spark(
        master=f"local[{len(os.sched_getaffinity(0))}]",
        app_name="sinew-perfbench",
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(RUN_DIR, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse"),
            # a fixed, pre-touched heap: run-to-run differences in heap
            # sizing otherwise show up in both step times and peak RSS
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _summary(steps: list[tuple[float, list]]) -> dict:
    """Medians over (step wall, step's rounds) pairs. A step's throughput is
    its rounds' disposed URLs (or fetched pages) over their wall time;
    medians keep one step slowed by a neighbour on the host from moving the
    run's figure."""
    from perfbench.measure import median

    return {
        "steps": [wall for wall, _ in steps],
        "rounds": [r for _, rounds in steps for r in rounds],
        "urls_per_s": median([
            sum(r.disposed for r in rs) / sum(r.wall for r in rs) for _, rs in steps
        ]),
        "pages_per_s": median([
            sum(r.fetched for r in rs) / sum(r.wall for r in rs) for _, rs in steps
        ]),
    }


def _window(workload, probe, host, seconds: float, tracer=None) -> tuple[dict, dict | None]:
    """One closed-loop window: run steps until ``seconds`` have elapsed (at
    least one step). With a tracer the window is twice as long and steps
    run untraced, traced, traced, untraced, ... so both halves see the same
    warm-up drift, host noise and mix of a workload's alternating steps.
    Returns the (untraced, traced) figures."""
    host.window_start()
    runs = {False: [], True: []}  # traced? -> [(step wall, its rounds)]
    end = time.perf_counter() + seconds * (2 if tracer else 1)
    i = 0
    while i < (2 if tracer else 1) or time.perf_counter() < end:
        traced = tracer is not None and i % 4 in (1, 2)
        if tracer is not None:
            probe.tracer = tracer if traced else None
            workload.use_tracer(probe.tracer)
        first = len(probe.rounds)
        wall = workload.step(probe.tracer)
        runs[traced].append((wall, probe.rounds[first:]))
        i += 1
    probe.tracer = None
    noise = host.window_end()
    plain = {**_summary(runs[False]), "noise": noise}
    return plain, ({**_summary(runs[True]), "noise": noise} if tracer else None)


def run(workload_name: str, seed: int, seconds: float, trace: bool) -> tuple[int, list, dict]:
    """Run one workload; returns (attempted, failure messages, metrics)."""
    from perfbench.measure import HostSampler, median
    from perfbench.tracing import Probe, Tracer, layer_metrics
    from perfbench.workloads import WORKLOADS

    work = os.path.join(RUN_DIR, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    with HostSampler() as host:
        t0 = time.perf_counter()
        spark = _start_spark()
        start_s = time.perf_counter() - t0
        try:
            with Probe() as probe:
                wl = WORKLOADS[workload_name](spark, work, seed)
                synth_s = wl.setup()
                t0 = time.perf_counter()
                wl.warmup()
                warmup_s = time.perf_counter() - t0
                tracer = Tracer(spark) if trace else None
                plain, traced = _window(wl, probe, host, seconds, tracer)
                if trace:
                    tracer.collect_executor_spans()
                    fp_rate = wl.bloom_fp_rate()
                    wl.finish_traced()
                attempted, failures = wl.check()
        finally:
            _stop_spark(spark)
            shutil.rmtree(work, ignore_errors=True)
        peak_rss_mb = host.peak_mem / 1e6

    steps = plain["steps"]
    print(
        # with fewer than 20 samples no percentile above the median has ten
        # samples beyond it, so the median is the only one reported
        f"[perfbench] {workload_name} seed={seed}: median of {len(steps)} timed steps, "
        f"{len(plain['rounds'])} rounds; step walls {[round(s, 2) for s in steps]}; "
        f"failed {len(failures)}/{attempted}; "
        f"noise {json.dumps(plain['noise'])}",
        file=sys.stderr,
    )
    for msg in failures:
        print(f"[perfbench] FAILED {msg}", file=sys.stderr)
    if not trace:
        metrics = {
            "setup_s": start_s + synth_s + warmup_s,
            "step_s_p50": median(steps),
            "urls_per_s": plain["urls_per_s"],
            "pages_per_s": plain["pages_per_s"],
            "peak_rss_mb": peak_rss_mb,
        }
    else:
        layer = layer_metrics(tracer, traced["rounds"])
        layer["bloom.fp_rate"] = fp_rate
        layer["session.start_s"] = start_s
        layer["session.warmup_s"] = warmup_s
        layer["trace.overhead_frac"] = median(traced["steps"]) / median(steps) - 1.0
        for k, v in traced["noise"].items():
            layer[f"host.{k}"] = v
        path = os.path.join(RUN_DIR, "traces", f"{workload_name}-seed{seed}.jsonl")
        tracer.dump(path)
        print(f"[perfbench] traced step walls {[round(s, 2) for s in traced['steps']]}; "
              f"spans written to {path}", file=sys.stderr)
        metrics = layer
    return attempted, failures, metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sinew_spark", "__init__.py")):
        print(f"perfbench: no sinew_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    _isolate_environment()
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {
            m["name"]: m["unit"]
            for m in json.load(f)["per_layer" if args.trace else "end_to_end"]
        }
    attempted, failures, metrics = run(args.workload, args.seed, args.seconds, bool(args.trace))
    if set(metrics) != set(units):
        raise RuntimeError(
            f"metrics {sorted(set(metrics) ^ set(units))} do not match BENCHMARK.json"
        )
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
