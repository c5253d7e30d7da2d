"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Each invocation is one fresh process (one
new JVM) that runs one workload: it generates the workload's inputs from
the seed, starts a Spark session with a fixed number of task slots, runs
one cold op on a small input, measures for about S seconds, checks
every op's output, and prints one JSON result as the last line of
standard output. With --trace 0 it reports the end-to-end metrics; with
--trace 1 it records spans around the calls into each bioio_spark module
and reports the per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import importlib
import os
import shutil
import sys
import time

# the workloads BENCHMARK.json lists
WORKLOADS = ("image_convert", "corpus_curation", "live_acquisition")
MAX_SLOTS = 4


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def per_layer_units() -> dict:
    """Every per-layer metric and its unit. A traced run reports all of
    them; a layer its workload leaves idle reads 0."""
    units = {"session.start_s": "s", "warm.s": "s", "trace.overhead": "ratio",
             "host.steal_share": "ratio",
             "jvm.task_s": "s", "jvm.cpu_s": "s", "jvm.gc_s": "s",
             "jvm.shuffle_mb": "MB", "jvm.spill_mb": "MB", "op.self_s": "s"}
    for name in WORKLOADS:
        wl = importlib.import_module(f"perfbench.workloads.{name}")
        for span in wl.SPANS:
            units.update({f"{span}.s": "s", f"{span}.jobs": "count",
                          f"{span}.tasks": "count"})
        units.update(wl.EXTRAS)
    return units


def _environment(root: str, work: str) -> None:
    """Pin what the session inherits, before pyspark starts the JVM."""
    slots = min(MAX_SLOTS, len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = str(slots)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Spark's Python workers start outside the repository root and must
    # still import bioio_spark
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "bioio_spark")):
        print("perfbench: run from the repository root; bioio_spark/ "
              "is not here", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import harness

    t_start = harness.process_start_time()
    base = os.path.join(root, "perfbench", "_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(root, work)
    wl = importlib.import_module(f"perfbench.workloads.{args.workload}")

    try:
        with harness.TreeUsage() as usage:
            bench = wl.Workload(seed=args.seed, seconds=args.seconds,
                                work=work, cache=os.path.join(base,
                                                              "cache"))
            t = time.perf_counter()
            bench.make_inputs()
            gen_s = time.perf_counter() - t

            from bioio_spark.session import get_session

            t = time.perf_counter()
            spark = get_session(
                app_name=f"perfbench-{args.workload}",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    # keep the JVM's files inside the work dir: its
                    # scratch files, and no perf-counter file under
                    # /tmp/hsperfdata_<user> (a path java.io.tmpdir
                    # does not move)
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                        "-XX:-UsePerfData",
                })
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t
            try:
                tracer = harness.Tracer(spark, enabled=bool(args.trace))
                bench.start(spark, tracer)
                t = time.perf_counter()
                bench.warm()
                warm_s = time.perf_counter() - t
                setup_s = time.time() - t_start - gen_s
                cpu0, steal0 = usage.cpu_s(), harness.host_steal()
                ops, window_s = bench.measure()
                cpu_s = usage.cpu_s() - cpu0
                steal = [b - a for a, b in zip(steal0, harness.host_steal())]
                if args.trace:
                    tracer.write(os.path.join(
                        base, f"spans-{args.workload}-seed{args.seed}"
                              f"-{os.getpid()}.jsonl"))
            finally:
                _stop(spark)
            bench.check(ops)
        peak_mb = usage.peak_mb()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = [o for o in ops if not o["ok"]]
    unexpected = [o for o in failed if not o.get("known")]
    for o in unexpected:
        print(f"perfbench: op {o['id']} failed: {o.get('why')}",
              file=sys.stderr)
    latencies = harness.ranked_latencies(ops)
    if args.trace:
        traced = [o["latency_s"] for o in ops if o["traced"]]
        plain = [o["latency_s"] for o in ops if not o["traced"]]
        units = per_layer_units()
        metrics = {n: (0.0, u) for n, u in units.items()}
        metrics.update({
            "session.start_s": (session_s, "s"),
            "warm.s": (warm_s, "s"),
            "host.steal_share": (steal[0] / steal[1], "ratio"),
            "trace.overhead": (harness.mean(traced) / harness.mean(plain),
                               "ratio"),
        })
        metrics.update(tracer.op_metrics())
        metrics.update(bench.layer_metrics())
        extra = set(metrics) - set(units)
        if extra:
            raise ValueError(f"per-layer metrics not declared: {extra}")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "ops_per_s": ((len(ops) - len(failed)) / window_s, "1/s"),
            "op_mean_s": (harness.mean(latencies), "s"),
            "peak_rss_mb": (peak_mb, "MB"),
            "cpu_s_per_op": (cpu_s / len(ops), "s"),
        }
    try:
        p50 = f"{harness.percentile(latencies, 0.5):.3f}s"
    except harness.TooFewSamples:
        p50 = "refused (too few ops)"
    print(f"perfbench: {args.workload} seed={args.seed} ops={len(ops)} "
          f"failed={len(failed)} window={window_s:.2f}s "
          f"op_p50={p50} host_steal={steal[0] / steal[1]:.3f} "
          f"warm-up={warm_s:.2f}s op="
          f"{[round(o['latency_s'], 2) for o in ops]}",
          file=sys.stderr)
    sys.stdout.flush()
    print(harness.result_line(len(ops), len(failed), len(unexpected),
                              metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
