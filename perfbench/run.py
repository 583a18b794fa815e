"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload signal_queries --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. One run: start the session on
local[<cores>], generate the inputs from --seed, run one untimed
warm-up pass (set-up ends here), then timed passes of the whole mix
until --seconds have passed, then check every output. With --trace 1
the timed passes alternate untraced and traced (at least untraced,
traced, untraced); the per-layer metrics come from the traced passes
and the tracing overhead from comparing the two kinds.

The last stdout line is one JSON object: correct, attempted, failed
and metrics (end-to-end with --trace 0, per-layer with --trace 1). The
line before it holds the details: box fingerprint, tail percentile
and sample counts, failures. Spans of a traced run go to
perfbench/out/. Everything the run writes stays under perfbench/out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
MIN_PASSES = 2  # timed passes per untraced run

# The driver JVM's options. C1 only: its JIT settles within the warm-up
# pass, whereas C2 keeps compiling through every pass a run can afford
# and competes with the work for the cores, which made the CPU of a
# timed pass vary by a quarter between runs. The larger code cache keeps
# C1's code from being flushed and compiled again mid-run. Fixed JIT
# threads: none exits, so their CPU can be read per thread. A 1 GiB
# initial heap and 16 MiB regions: starting from G1's default 252 MiB
# heap with 4 MiB regions, buffers of 2 MiB and more went to humongous
# regions and started concurrent marking cycles, and how far the heap
# grew differed from run to run; some runs spent 5-8 CPU seconds of a
# 17 s pass in the collector.
JVM_OPTS = " ".join([
    "-XX:-UsePerfData",
    "-XX:TieredStopAtLevel=1",
    "-XX:ReservedCodeCacheSize=256m",
    "-XX:-UseDynamicNumberOfCompilerThreads",
    "-Xms1g",
    "-XX:G1HeapRegionSize=16m",
])


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Point every temp and scratch location of Python, the JVM and
    Spark at `work`, before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # -XX:-UsePerfData: no JVM (launcher or driver) writes /tmp/hsperfdata_*.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={work}/warehouse",
        f"--driver-java-options '-Djava.io.tmpdir={tmp} {JVM_OPTS}'",
        "pyspark-shell",
    ])


def live_memory_mb(spark) -> dict:
    """Memory the run holds at the end of the window: the JVM heap
    still in use after full collections, and the driver's peak RSS."""
    import gc

    from perfbench import measure

    # Drop Python's handles first so py4j releases their JVM objects.
    # Spark's cleaner thread frees broadcasts and shuffles only after a
    # collection has found them unreachable, so collect until the live
    # heap stops shrinking.
    gc.collect()
    jvm = spark._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    heap = float("inf")
    for _ in range(8):
        jvm.java.lang.System.gc()
        now = (rt.totalMemory() - rt.freeMemory()) / 2**20
        if heap - now < 1.0:
            break
        heap = now
        time.sleep(0.5)
    return {
        "heap_live_mb": min(heap, now),
        "python_hwm_mb": measure.peak_rss_mb([os.getpid()]),
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
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
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    # Import the package from the repository root, never this directory's
    # modules by their bare names.
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p) != HERE]
    try:
        import timeseriesdb_spark  # noqa: F401  the system under test
        from perfbench import measure, report, tracing, workloads
    except ImportError as exc:
        print(f"perfbench: cannot import the system under test: {exc}",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(OUT, f"work-{tag}-{os.getpid()}")
    isolate(work)
    wl = workloads.WORKLOADS[args.workload]()
    spark = None
    try:
        t0 = time.perf_counter()
        from timeseriesdb_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        tracer = tracing.Tracer(spark.sparkContext) if args.trace else None
        run = workloads.Run(spark, work, args.seed)

        t1 = time.perf_counter()
        wl.prepare(run)
        datagen_s = time.perf_counter() - t1
        t2 = time.perf_counter()
        cpu0 = measure.tree_cpu_seconds(os.getpid())
        warm = wl.one_pass(run, 0)
        warm.cpu = measure.tree_cpu_seconds(os.getpid()) - cpu0
        warmup_s = time.perf_counter() - t2
        setup = {"start_s": session_s, "datagen_s": datagen_s,
                 "warmup_s": warmup_s}

        passes = []
        steal0, ticks0 = measure.host_ticks()
        t3 = time.perf_counter()
        while True:
            traced = bool(args.trace) and len(passes) % 2 == 1
            cpu0 = measure.tree_cpu_seconds(os.getpid())
            svc0 = measure.jvm_service_cpu(run.jvm_pid)
            p = wl.one_pass(run, len(passes) + 1, tracer if traced else None)
            p.cpu = measure.tree_cpu_seconds(os.getpid()) - cpu0
            svc1 = measure.jvm_service_cpu(run.jvm_pid)
            p.extra["jit_s"] = svc1["jit"] - svc0["jit"]
            p.extra["gc_s"] = svc1["gc"] - svc0["gc"]
            passes.append(p)
            # At least MIN_PASSES, so that every run measures the same
            # stretch of the JVM's warm-up however fast the box is; a
            # traced run needs a traced pass between two untraced ones, so
            # that this warm-up does not bias the overhead.
            if time.perf_counter() - t3 >= args.seconds and len(passes) >= (
                3 if args.trace else MIN_PASSES
            ):
                break
        steal1, ticks1 = measure.host_ticks()
        window = {
            "s": time.perf_counter() - t3,
            "steal_share": (steal1 - steal0) / max(1, ticks1 - ticks0),
            "peak_rss_mb": measure.peak_rss_mb([os.getpid(), run.jvm_pid]),
            **live_memory_mb(spark),
        }
        wl.check(run)
        java = spark._jvm.java.lang.System.getProperty("java.version")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if tracer is not None:
        tracer.write(os.path.join(OUT, f"spans-{tag}.jsonl"))

    result = report.build(
        args, wl, run.tally, setup, warm, passes, window,
        tracer.spans if tracer else [],
    )
    details = {
        "workload": args.workload,
        "fingerprint": measure.fingerprint(args.seed, java),
        **result.pop("details"),
    }
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"result-{tag}.json"), "w") as f:
        json.dump({"details": details, **result}, f, indent=1)
    print(json.dumps({"details": details}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
