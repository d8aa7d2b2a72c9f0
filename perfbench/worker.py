"""One benchmark process: set up, run the workload's operations and
write a JSON result.

Started by ``run.py``; not meant to be run by hand. Set-up is timed from
the moment this process was spawned (the parent passes the spawn
timestamp) to the moment the Spark session is up, the package is
imported and the generated inputs are registered as source frames.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_confs(slots: int, local_dir: str) -> dict[str, str]:
    """The fixed session configuration, stated in every result."""
    return {
        "spark.master": f"local[{slots}]",
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.local.dir": local_dir,
        "spark.sql.warehouse.dir": os.path.join(local_dir, "warehouse"),
        "spark.sql.shuffle.partitions": str(2 * slots),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }


def setup(args, inputs: dict):
    """Session up, package imported, inputs registered. Returns the
    context and the sub-step walls (ms)."""
    t0 = time.perf_counter()
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName(f"perfbench-{args.workload}")
    for k, v in spark_confs(args.slots, args.local_dir).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()

    sys.path.insert(0, ROOT)
    import trendmachine_spark.extensions.clusters as clusters
    import trendmachine_spark.extensions.dedup as dedup
    import trendmachine_spark.pipeline as pipeline
    import trendmachine_spark.sinks as sinks
    from trendmachine_spark.sources.captures import read_captures_parquet
    t2 = time.perf_counter()

    if args.workload == "corpus_dedup":
        sources = {"docs": spark.read.parquet(inputs["docs_dir"])}
    else:
        sources = {"captures": read_captures_parquet(spark, inputs["captures_dir"])}
    t3 = time.perf_counter()

    ctx = types.SimpleNamespace(
        spark=spark, sources=sources, inputs=inputs, seed=args.seed, slots=args.slots,
        tm=types.SimpleNamespace(pipeline=pipeline, sinks=sinks, dedup=dedup, clusters=clusters),
        work_path=lambda name: os.path.join(args.local_dir, name),
    )
    walls = {"setup.session_ms": (t1 - t0) * 1e3, "setup.import_ms": (t2 - t1) * 1e3,
             "setup.sources_ms": (t3 - t2) * 1e3}
    return ctx, walls


def run_ops(args, ctx) -> dict:
    sys.path.insert(0, HERE)
    from spans import Tracer
    from workloads import FORCING, WORKLOADS

    wl = WORKLOADS[args.workload](ctx)

    def attempt(fn, *a) -> dict:
        """One operation; raising counts as a failed operation."""
        try:
            return fn(*a)
        except Exception:  # recorded and reported, the run goes on
            return {"wall_s": None, "errors": [traceback.format_exc(limit=4)]}

    # the cold operation is the only warm-up: the JIT keeps compiling for
    # some ten operations more, and op_cpu_ms takes a fixed count of the
    # operations after it (run.CPU_MEDIAN_OPS) to sit at the same place
    # on that slope whatever the host's speed
    first = attempt(wl.op)

    ops, traced = [], []
    deadline = time.perf_counter() + args.seconds
    while True:
        ops.append(attempt(wl.op))
        if args.trace:
            tr = Tracer(ctx.spark, f"trace{len(traced)}")
            t = attempt(wl.traced_op, tr)
            t["spans"] = tr.records()
            traced.append(t)
        if time.perf_counter() >= deadline:
            break
    everything = [first] + ops + traced
    try:
        wl.finish(everything, Tracer(ctx.spark, "finish") if args.trace else None)
    except Exception:  # the check could not run: no operation counts as checked
        for o in everything:
            o["errors"].append("final check failed:\n" + traceback.format_exc(limit=4))
    timed = [o for o in ops if o["wall_s"] is not None]
    for o in everything:
        o.pop("response", None)
    return {"first": first, "ops": ops, "traced": traced, "forcing": FORCING,
            "summary": wl.summary(timed) if timed else {}}


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=0.0)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--slots", type=int, required=True)
    p.add_argument("--local-dir", required=True)
    p.add_argument("--inputs", required=True)
    p.add_argument("--spawn-ts", type=float, required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args()
    with open(args.inputs) as fh:
        inputs = json.load(fh)

    ctx, walls = setup(args, inputs)
    result = {"setup_s": time.time() - args.spawn_ts, "setup_walls_ms": walls}
    try:
        result.update(run_ops(args, ctx))
    finally:
        result["java"] = ctx.spark.sparkContext._jvm.System.getProperty("java.version")
        stop(ctx.spark)
        with open(args.out, "w") as fh:
            json.dump(result, fh)


def stop(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)


if __name__ == "__main__":
    main()
