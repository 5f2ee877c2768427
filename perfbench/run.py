"""Benchmark for the validation engine.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload suite_bucketed --seed 1 --seconds 15 --trace 0

Workloads: ``suite_bucketed`` and ``xml_documents`` (see
perfbench/README.md).  One closed-loop client on one driver process with
``local[k]``, k = min(2, cores - 1): each operation starts only after the
previous one has completed.  ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer metrics; the last line of standard output is one
compact JSON object.  Everything the run writes stays under ``.perfbench/``
in the checkout.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 3
DRIVER_MEMORY = "2g"


@dataclass
class Ctx:
    root: str
    cache_dir: str
    run_dir: str
    seed: int
    spark: object = None
    tracer: object = None
    reference: object = None


def start_spark(run_dir: str, threads: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    spark = (
        SparkSession.builder.master(f"local[{threads}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        # a fixed-size heap: no resizing during the run, steadier RSS; the
        # serial collector: one GC thread instead of one per core
        .config("spark.driver.extraJavaOptions",
                f"-Xms{DRIVER_MEMORY} -XX:+UseSerialGC -Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={tmp}")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(threads))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # progress bars are written with \r onto stdout lines
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_spark(spark) -> None:
    """Stop Spark and wait until the driver JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def run(args) -> int:
    from report import Metrics, median, result_line
    from spans import Tracer
    from workloads import END_TO_END, PER_LAYER, WALL, WORKLOADS, Reference

    if not os.path.isdir(os.path.join(ROOT, "sissaschool_xmlschema_spark")):
        print("perfbench: the engine package is not in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    ctx = Ctx(ROOT, os.path.join(WORK, "cache"), run_dir, args.seed)
    os.makedirs(ctx.cache_dir, exist_ok=True)
    # two task threads at most, the other cores left to the driver, the JIT
    # and GC threads: with every core running tasks, run-to-run spread was
    # markedly wider
    threads = max(1, min(2, (os.cpu_count() or 1) - 1))
    traced = bool(args.trace)
    m = Metrics()
    try:
        t = time.perf_counter()
        ctx.spark = start_spark(run_dir, threads)
        session_s = time.perf_counter() - t
        ctx.tracer = Tracer(ctx.spark, f"{args.workload}-s{args.seed}")
        # benchmark machinery, not set-up: before the set-up clock starts
        ctx.reference = Reference(ctx.spark)
        ctx.reference.warm_up()
        w = WORKLOADS[args.workload](ctx)
        w.tracing = traced
        w.prepare()
        setups = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            w.setup_once()
            setups.append(time.perf_counter() - t)
        t = time.perf_counter()
        w.warm_up()
        warm_s = time.perf_counter() - t
        m.put("setup_s", session_s + median(setups) + warm_s, "s",
              [session_s + s + warm_s for s in setups])

        # closed loop: the next operation starts when the previous one has
        # completed, and, once the workload's MIN_OPS have run, only if it
        # is expected to end within --seconds
        attempted = failed = 0
        laps = []
        t0 = time.perf_counter()
        while len(laps) < w.MIN_OPS or (time.perf_counter() - t0
                                        + median(laps) <= args.seconds):
            t = time.perf_counter()
            for mode in ((False, True) if traced else (False,)):
                w.tracing = mode
                try:
                    ctx.reference.run()
                    n, bad = w.op(mode)
                except Exception:
                    traceback.print_exc()
                    n, bad = 1, 1
                attempted += n
                failed += bad
            laps.append(time.perf_counter() - t)
        loop_s = time.perf_counter() - t0 - sum(ctx.reference.walls)
        loop_ops = attempted  # in a traced run, untraced and traced repeats
        w.tracing = traced
        t = time.perf_counter()
        for what, ok in w.final_checks():
            attempted += 1
            if not ok:
                failed += 1
                print(f"check failed: {what}", file=sys.stderr)
        checks_s = time.perf_counter() - t

        w.metrics(m, loop_ops, loop_s)
        w.common_layers(m)
        m.put("failed_frac", failed / attempted, "ratio")
        pid = ctx.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        m.put("peak_rss_mb", _vm_hwm_mb(pid) + _vm_hwm_mb("self"), "MB")
        if traced:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            ctx.tracer.write(os.path.join(
                WORK, "traces", f"{args.workload}-s{args.seed}-{os.getpid()}.jsonl"))
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    names = [n for n, _ in (PER_LAYER if traced else END_TO_END)]
    units = dict(PER_LAYER if traced else END_TO_END)
    for n in names:
        if n not in m.values:  # a layer this workload does not run
            m.put(n, 0.0, units[n])
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} local[{threads}] attempted={attempted} "
          f"failed={failed} inputs_prep_s={w.prep_s:.3f} warm_s={warm_s:.3f} "
          f"loop_s={loop_s:.3f} checks_s={checks_s:.3f}")
    shown = names + ([n for n, _ in WALL] if not traced else [])
    for line in m.table(shown):
        print(line)
    sys.stdout.flush()
    print(result_line(failed == 0, attempted, failed, m.pick(names)),
          flush=True)
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=("suite_bucketed", "xml_documents"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(p.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
