"""CDC engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload trickle_fresh --seed 1 --seconds 10 --trace 0

Run from the repository root.  Builds a local Spark session sized to the
host (``local[nproc]``), generates the workload's inputs from the seed,
warms up, measures, checks every output against a DuckDB oracle, shuts
Spark down completely and prints one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json; ``--trace
1`` repeats the timed loop traced (Spark event log plus runtime wrappers
around each engine layer, see perfbench/trace.py) and reports the
per-layer metrics instead.  Everything the run writes lives
in one temporary directory under ``.perfbench_tmp/`` in the repository,
removed at exit.  Exits non-zero without a result line if the engine
package is missing or the run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "aus_land_data_etl_spark"
DRIVER_MEMORY = "2g"


def parse_args(argv: list[str]) -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work: str, cores: int, trace: bool):
    """The engine's session factory, fitted to the host and confined to
    the run directory."""
    from aus_land_data_etl_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(f"{work}/events")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/events",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cores=cores, shuffle_partitions=cores,
                     extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop streams, the context, the py4j gateway and the JVM, and wait
    for the JVM to exit (it holds the Python worker daemon)."""
    from pyspark import SparkContext

    if spark is not None:
        for q in spark.streams.active:
            q.stop()
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - the reaper below kills it
            pass


def end_to_end(res, setup_s: float, mem_mb: float) -> dict[str, float]:
    from perfbench.workloads import percentile

    # reads: few samples, so interpolate between order statistics
    reads = statistics.quantiles(res.reads_ms, n=10, method="inclusive")
    return {
        "setup_s": setup_s,
        "events_per_s": res.events / res.ingest_s,
        "freshness_p50_s": percentile(res.freshness, 0.5),
        "freshness_p90_s": percentile(res.freshness, 0.9),
        "read_p50_ms": statistics.median(res.reads_ms),
        "read_p90_ms": reads[8],
        "peak_memory_mb": mem_mb,
    }


def run(args, work: str, cores: int, sampler) -> tuple[dict, object]:
    """Set up, measure and check; returns (metrics, ctx)."""
    from perfbench import trace as tr
    from perfbench.oracle import Oracle
    from perfbench.workloads import T_START, WORKLOADS, Ctx, log

    spark = None
    try:
        spark = start_spark(work, cores, bool(args.trace))
        log(f"session up, local[{cores}], driver memory {DRIVER_MEMORY}")
        ctx = Ctx(spark, work, args.seed, args.seconds, cores,
                  Oracle(f"{work}/duckdb-tmp", cores))
        wl = WORKLOADS[args.workload](ctx)
        wl.setup()
        wl.prepare()
        setup_s = time.perf_counter() - T_START
        log(f"set-up done in {setup_s:.2f}s")
        if not args.trace:
            res = wl.run(None)
            mem_mb = sampler.peak_mb
            log(f"{res.events} events in {res.ingest_s:.2f}s over {res.batches} batches")
            wl.check()
            ctx.oracle.close()
            return end_to_end(res, setup_s, mem_mb), ctx
        # traced: the untraced base load above was the warm-up; the traced
        # phase starts over on a fresh table
        tracer = tr.Tracer(spark).install()
        try:
            wl.prepare()
            window = (time.perf_counter(), 0.0)
            res = wl.run(tracer)
            window = (window[0], time.perf_counter())
        finally:
            tracer.uninstall()
        log(f"traced: {res.events} events in {res.ingest_s:.2f}s over {res.batches} batches")
        winners = wl.check()
        ctx.oracle.close()
        stop_spark(spark)
        spark = None
        jobs, stages = tr.parse_event_log(f"{work}/events")
        metrics = tr.layer_metrics(tracer, jobs, stages, window, winners)
        return metrics, ctx
    finally:
        stop_spark(spark)


def main(argv: list[str]) -> int:
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: engine package {PACKAGE}/ not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import procs
    from perfbench.workloads import log

    args = parse_args(argv)
    cores = len(os.sched_getaffinity(0))
    runs_dir = ROOT / ".perfbench_tmp"
    runs_dir.mkdir(exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs_dir)
    os.makedirs(f"{work}/tmp")
    os.environ.update({
        "TMPDIR": f"{work}/tmp",
        "SPARK_LOCAL_DIRS": f"{work}/spark-local",
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # every JVM, the spark-submit launcher's included: temp files in
        # the run directory, no hsperfdata files under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "TZ": "UTC",
    })
    time.tzset()
    tempfile.tempdir = None
    sampler = procs.MemorySampler().start()
    metrics, ctx, error = None, None, None
    try:
        metrics, ctx = run(args, work, cores, sampler)
    except Exception as exc:  # noqa: BLE001 - reported, run fails
        import traceback

        traceback.print_exc()
        error = exc
    finally:
        sampler.stop()
        leftovers = procs.reap(sampler.seen)
        shutil.rmtree(work, ignore_errors=True)
        try:
            runs_dir.rmdir()  # only when no other run is using it
        except OSError:
            pass
    if leftovers:
        print(f"perfbench: processes outlived the run: {sorted(leftovers)}",
              file=sys.stderr)
    if error is not None or leftovers:
        return 1
    for p in ctx.problems:
        log(f"FAILED: {p}")
    units = metric_units("per_layer" if args.trace else "end_to_end")
    print(f"# host: cores={cores} driver_memory={DRIVER_MEMORY} "
          f"workload={args.workload} seed={args.seed}")
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def metric_units(kind: str) -> dict[str, str]:
    with open(ROOT / "BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
