"""End-to-end benchmark runner.

    python3 e2ebench/run.py --workload <harvest|search> \
        --seed <n> --seconds <s> --trace <0|1>

Runs from the repository root: starts a local Spark session sized to
this host's CPUs, builds the workload's seeded inputs in a private
working directory under the checkout, warms up, runs the workload in a
closed loop (one client, each operation waits for its reply) for
``--seconds`` of measured time, checks the outputs, and prints one JSON
object as the last line of stdout. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` reports the per-layer metrics, attributed from
spans around each layer call and from Spark's status store.

Exit status is non-zero when the engine cannot be imported or any
output check fails.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: input preparation runs this many times on fresh directories; setup_s
#: counts the median one
SETUP_REPEATS = 3


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover — non-Linux
        return os.cpu_count() or 1


class Ctx:
    def __init__(self, spark, tracer, seed, tmp):
        self.spark, self.tracer = spark, tracer
        self.seed, self.tmp = seed, tmp


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "idb_backend_spark")):
        print("engine package idb_backend_spark not found next to "
              f"{HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import layers
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # everything the run writes stays under the checkout
    work = os.path.join(ROOT, ".e2ebench_tmp", str(os.getpid()))
    os.makedirs(work)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    # the inputs are a few MB; a 3 GB heap (the engine defaults to 8 GB)
    # keeps the JVM's lazily grown footprint small on a shared host
    os.environ["SPARK_DRIVER_MEM"] = "3g"
    os.environ["TMPDIR"] = tempfile.tempdir = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    try:
        return _run(args, work, WORKLOADS[args.workload], layers)
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def _stop_spark() -> None:
    """Stop the session and the JVM it launched, and wait for the JVM
    to exit: it exits when its stdin closes, and takes the Python
    workers with it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _run(args, work, Workload, layers) -> int:
    import procstat
    import spans

    t0 = time.perf_counter()
    from idb_backend_spark.session import get_spark

    # C1 only: a run lasts about a minute, too short for C2 to settle.
    # With C2 its compiler threads took about 1.5 of 4 CPUs through the
    # measured phase at local[4], so timings depended on when
    # compilation ended and on host load
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work} -XX:-UsePerfData "
            f"-XX:TieredStopAtLevel=1 -Dderby.system.home={work}",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if args.trace else "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    spark = get_spark("e2ebench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    tracer = spans.Tracer(spark, enabled=bool(args.trace))

    # set-up = session start + input preparation (seeded generation,
    # repeated on fresh directories; the median counts) + store seeding
    # and warm-up (once: a second warm-up would start warm)
    reps = []
    for k in range(SETUP_REPEATS):
        tmp = os.path.join(work, f"setup{k}")
        os.makedirs(tmp)
        for t in spark.catalog.listTables():
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
        w = Workload(Ctx(spark, tracer, args.seed, tmp))
        t = time.perf_counter()
        w.prepare()
        reps.append(time.perf_counter() - t)
    t = time.perf_counter()
    w.warm()
    warm_s = time.perf_counter() - t
    setup_s = session_s + statistics.median(reps) + warm_s

    # the sampler must not change what Spark runs: one probe action with
    # it off and one with it on must issue the same jobs
    sampler = procstat.Sampler()
    jobs_off = _probe_jobs(spark, "probe-off")
    sampler.start()
    jobs_on = _probe_jobs(spark, "probe-on")
    if jobs_off != jobs_on:
        w.fail(f"sampler changed the job count: {jobs_off} -> {jobs_on}")
    w.attempted += 1

    w.reset()
    tracer.phase = "measure"
    measured = 0.0
    ops = 0
    while measured < args.seconds:
        tracer.op = ops
        t = time.perf_counter()
        for key, value in w.step():
            w.sample(key, value)
        measured += time.perf_counter() - t
        ops += 1
    sampler.stop()
    tracer.phase = "check"
    w.check()

    # (value, unit[, samples]) per metric, end-to-end and workload figures
    report = dict(w.metrics(measured))
    report["cpu_ms_per_unit"] = (1000 * sampler.cpu_s / max(w.units, 1), "ms")
    report["peak_rss_mb"] = (sampler.peak_rss / 2**20, "MB")
    report["setup_s"] = (setup_s, "s", SETUP_REPEATS)
    report["failed_share"] = (w.failed / max(w.attempted, 1), "ratio")
    print(f"# {w.name} seed={args.seed} measured={measured:.2f}s ops={ops} "
          f"units={w.units} {w.unit} cpus={_cpus()} "
          f"session_s={session_s:.2f} warm_s={warm_s:.2f} prepare_s="
          + ",".join(f"{x:.2f}" for x in reps))
    for name, v in sorted(report.items()):
        n = f" n={v[2]}" if len(v) > 2 else ""
        print(f"#   {name:36s} {_fmt(v[0]):>12s} {v[1]}{n}")

    if args.trace:
        w.count("process.peak_rss_mb", report["peak_rss_mb"][0])
        metrics = layers.per_layer(spark, tracer, w, measured)
        for name, m in sorted(metrics.items()):
            print(f"#   {name:36s} {_fmt(m['value']):>12s} {m['unit']}")
    else:
        metrics = {k: {"value": report[k][0], "unit": report[k][1]}
                   for k in layers.END_TO_END}
    correct = w.failed == 0
    for k, m in metrics.items():
        if not math.isfinite(m["value"]):
            print(f"metric {k} has no value", file=sys.stderr)
            correct = False
    print(json.dumps({
        "correct": correct, "attempted": int(w.attempted),
        "failed": int(w.failed), "metrics": metrics,
    }, sort_keys=True), flush=True)
    return 0 if correct else 1


def _probe_jobs(spark, group: str) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    spark.range(1000).selectExpr("sum(id)").collect()
    sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


if __name__ == "__main__":
    sys.exit(main())
