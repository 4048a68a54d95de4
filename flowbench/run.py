"""Seeded collector benchmark: one command, one workload, one seed.

    python3 flowbench/run.py --workload replay_v9 --seed 1 --seconds 15 --trace 0

Generates its inputs from ``--seed``, drives the daemon only through
its public API, checks every output against golden aggregates computed
from the same inputs, and prints one JSON result as the last line of
standard output. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` installs the span recorder and reports the per-layer
metrics instead. See NOTES.md for the workloads and metrics.
"""

from __future__ import annotations

import time

PROC_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# A fixed, pre-touched JVM heap, as a service deployment runs it: the
# JVM's resident size then does not depend on when its GC ran, so
# peak_rss_mb moves with native and Python memory, not with GC timing.
JVM_HEAP = "1g"


def effective_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def start_session(work: str, cores: int):
    """The SparkSession the daemon runs on: the engine's own confs plus
    scratch directories inside the benchmark's work directory. The JVM
    keeps no perf-data file, which it would otherwise write outside."""
    from pyspark.sql import SparkSession

    from pmacct_spark.session import RUNTIME_CONFS, apply_runtime_confs

    tmp = os.path.join(work, "tmp")
    b = (
        SparkSession.builder.appName("flowbench")
        .master(f"local[{cores}]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", JVM_HEAP)
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Xms{JVM_HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
        .config("spark.pmacct.stagingRoot", os.path.join(work, "stage"))
    )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return apply_runtime_confs(spark)


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_gc_s(spark) -> float:
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import pmacct_spark  # noqa: F401  (fails outside a checkout)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".flowbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.path.join(work, "tmp")

    wl = workloads.WORKLOADS[args.workload](args.seed, work)
    spark = None
    try:
        t = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t
        cores = min(4, effective_cores())
        spark = start_session(work, cores)
        session_s = time.perf_counter() - PROC_T0 - gen_s
        rec = None
        if args.trace:
            from spans import Recorder

            rec = Recorder(spark)
            rec.install()
        res = wl.run(spark, args.seconds, rec)
        if rec is not None:
            rec.uninstall()
            os.makedirs(os.path.join(ROOT, ".flowbench_out"), exist_ok=True)
            rec.dump(os.path.join(
                ROOT, ".flowbench_out", f"spans-{args.workload}-{args.seed}.json"))
        import resource

        rss_py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        rss_jvm = jvm_rss_mb(spark)
        gc_s = jvm_gc_s(spark)
    finally:
        if spark is not None:
            try:
                wl.close()
            finally:
                stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(f"flowbench: workload={args.workload} seed={args.seed} cores={cores} "
          f"gen_s={gen_s:.2f} session_s={session_s:.2f} "
          f"daemon_setup_s={[round(x, 3) for x in res.setup_s]} "
          f"rss_py_mb={rss_py:.0f} rss_jvm_mb={rss_jvm:.0f}", flush=True)
    for line in res.notes:
        print(f"flowbench: {line}", flush=True)
    if rec is None:
        metrics = dict(res.e2e)
        metrics["setup_s"] = (session_s + statistics.median(res.setup_s), "s")
        metrics["peak_rss_mb"] = (rss_py + rss_jvm, "MB")
    else:
        metrics = dict(res.layers)
        metrics["jvm.gc_s"] = (gc_s, "s")
    out = {
        "correct": bool(res.correct),
        "attempted": int(res.attempted),
        "failed": int(res.failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
