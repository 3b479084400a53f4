"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. Generates the
workload's inputs from ``--seed`` under ``.perfbench_work/``, starts one
Spark session on ``local[<cores>]``, sets up and warms the workload, then
drives it from one client thread in a closed loop: units of work back to
back until ``--seconds`` have passed (at least one). Every
output is checked; the last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Exits non-zero if any check fails.

``--trace 1`` first repeats the untraced measurement, then restarts the
Spark context with the event log on, runs the same units again with every
call into the program wrapped in a span that tags its Spark jobs, and
folds the event log back into those spans (see ``tracing.py`` and
``layers.py``).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GEN_REPEATS = 3
HEAP = "2g"
WORKLOADS = ("lifecycle", "neardup")


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def make_workload(name: str, spark, work: str, seed: int):
    if name == "lifecycle":
        from lifecycle import Lifecycle

        return Lifecycle(spark, work, seed)
    from neardup import NearDup

    return NearDup(spark, work, seed)


def configure_env(work: str) -> None:
    """Spark, its JVM and its Python workers keep every file inside the
    checkout, and the workers can import the program."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # read by spark-submit: a fixed heap, committed and touched at start
    # (see ``stats.PeakMem``), sized for this benchmark's inputs
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    java = (f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java)} pyspark-shell")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def start_spark():
    from esop_spark.session import get_spark

    spark = get_spark("perfbench", console_progress=False)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def restart_with_eventlog(spark, log_dir: str):
    """Stop the context and start a new one in the same JVM with the
    (uncompressed) event log on; the session factory then attaches to it."""
    from pyspark import SparkContext

    conf = spark.sparkContext.getConf()
    spark.stop()
    os.makedirs(log_dir, exist_ok=True)
    conf.set("spark.eventLog.enabled", "true")
    conf.set("spark.eventLog.dir", "file://" + os.path.abspath(log_dir))
    conf.set("spark.eventLog.compress", "false")
    SparkContext(conf=conf)
    return start_spark()


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and the workers it forked) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(workload, tracer, seconds: float) -> list[dict]:
    """Closed loop: one unit after another until ``seconds`` have passed,
    at least one. Returns the unit spans."""
    t0 = time.perf_counter()
    while True:
        with tracer.span("unit"):
            workload.unit(tracer)
        if time.perf_counter() - t0 >= seconds:
            return tracer.named("unit")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("esop_spark", "__spark_entry__.py", os.path.join("tools", "check_oracle.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found next to perfbench/: run from a checkout of the repository")
    sys.path[:0] = [ROOT, HERE]

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    cache = os.path.join(ROOT, ".perfbench_cache", "oracle")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)

    import stats
    from tracing import Tracer

    spark = start_spark()
    from pyspark import SparkContext

    session_s = time.perf_counter() - T_START
    try:
        heap_bytes = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
            .getMemoryMXBean().getHeapMemoryUsage().getCommitted()
        with stats.PeakMem(SparkContext._gateway.proc.pid, heap_bytes) as mem:
            w = make_workload(args.workload, spark, work, args.seed)
            gen_s = []
            for i in range(GEN_REPEATS):
                t = time.perf_counter()
                w.generate(i)
                gen_s.append(time.perf_counter() - t)
            tracer = Tracer()
            t = time.perf_counter()
            w.warmup(tracer)
            warm_s = time.perf_counter() - t
            # process start to the first timed op, counting the repeated
            # input generation once, at its median
            setup_s = time.perf_counter() - T_START - sum(gen_s) + stats.median(gen_s)
            tracer = Tracer()
            units = measure(w, tracer, args.seconds)
            w.finish(tracer)
            untraced = tracer
            untraced.live_heap = stats.live_heap(spark)
            if args.trace:
                import layers
                from neardup import release_caches

                release_caches(spark)  # cached relations die with the context
                spark = restart_with_eventlog(spark, os.path.join(work, "eventlog"))
                w.spark = spark
                traced = Tracer(spark.sparkContext)
                with layers.instrumentation(traced, args.workload):
                    measure(w, traced, args.seconds)
                    w.finish(traced)
                    layers.probes(args.workload, w, traced)
        t = time.perf_counter()
        failures = w.check(cache)
        check_s = time.perf_counter() - t
    finally:
        shutdown(spark)

    ops = [s for s in untraced.spans if s["name"] == w.op_name]
    op_s = [s["end"] - s["start"] for s in ops]
    attempted = max(w.attempted, 1)
    if args.trace:
        from tracing import eventlog_files, parse_eventlog

        jobs, stage_map = parse_eventlog(eventlog_files(os.path.join(work, "eventlog")))
        metrics = layers.per_layer(args.workload, w, untraced, traced, jobs, stage_map)
        for name, secs in layers.self_time_by_name(traced.spans)[:12]:
            print(f"# self time {secs:8.3f}s  {name}")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (stats.median(untraced.durations("round")), "s"),
            "op_geomean_s": (stats.geomean(op_s), "s"),
            "peak_mem_mb": ((mem.peak + untraced.live_heap) / 2**20, "MB"),
        }
    tl = stats.tail(op_s)
    round_s = " ".join(f"{d:.2f}" for d in untraced.durations("round"))
    print(f"# {args.workload} seed={args.seed}: {len(units)} units, rounds {round_s} s, "
          f"{len(op_s)} ops; "
          f"setup {setup_s:.2f}s (session {session_s:.2f}s, generate {stats.median(gen_s):.2f}s, "
          f"warm-up {warm_s:.2f}s); check {check_s:.2f}s; "
          f"live heap {untraced.live_heap / 2**20:.0f} MB, peak outside the heap "
          f"{mem.peak / 2**20:.0f} MB; run {time.perf_counter() - T_START:.1f}s; op tail: "
          + (f"p{tl[0]:.1f} = {tl[1]:.3f}s over {tl[2]} ops" if tl else
             f"n/a ({len(op_s)} ops, fewer than 11)"))
    for msg in failures:
        print(f"# FAILED {msg}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
