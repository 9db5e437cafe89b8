"""dlt_spark ELT benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout.  Workloads: ``ingest_nested``,
``merge_refresh``, ``corpus_ops`` (see ``workloads.py``).  The command
builds the Spark session through ``dlt_spark.session.spark_session()``,
sets the workload up (warm-up and pre-population, reported as
``setup_s``), repeats the workload's timed cycle for ``--seconds``,
checks the engine's outputs, and prints one JSON object as the last line
of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, measured with no
instrumentation installed: ``setup_s``, ``op_p50_s`` (median time of
the workload's unit operation: a batch load, an upsert load, a pass
over the corpus operators) and ``read_p50_s`` (median time of a read
that follows it: a dashboard view of four reads, the pass's summed
execute time).  With ``--trace 1`` at least
two cycles run, every other one with span recorders around each
layer's public functions, and the metrics are the per-layer ones (see
``layers.py``).  The line before the result holds the run's details:
host context, effective Spark conf, sample counts and tails, and
per-cycle numbers against the load index.

Everything the run writes goes to ``perfbench/_work/`` and is removed
at exit.  A failed output check makes the command exit with code 1; a
checkout without the engine sources exits with code 2 and prints no
result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["ingest_nested", "merge_refresh", "corpus_ops"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _isolate(work: str) -> dict:
    """Point every temp/scratch location of Python, the JVM and Spark
    into ``work`` and return the Spark conf that does the JVM half."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no JVM perf-data files under /tmp, from spark-submit's launcher either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = tmp
    return {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
    }


def _calibrate(spark, reps: int = 3) -> float:
    """Fixed host probe: range -> shuffle -> aggregate, median of reps."""
    from pyspark.sql import functions as F

    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        (spark.range(0, 500_000, numPartitions=4)
         .groupBy((F.col("id") % 1009).alias("k")).agg(F.sum("id"))
         .collect())
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _git_commit() -> "str | None":
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.isfile(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    p = os.path.join(ROOT, ".git", ref[5:])
    return open(p).read().strip() if os.path.isfile(p) else ref


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def tail(xs):
    """Highest percentile with at least ten samples beyond it, or None."""
    xs = sorted(xs)
    if len(xs) <= 10:
        return None
    k = len(xs) - 11
    return {"p": round(100 * (k + 1) / len(xs), 1), "value": xs[k]}


class Ctx:
    def __init__(self, spark, seed, work, tracer, trace):
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.trace = trace


def main(argv=None) -> int:
    a = _args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "dlt_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no dlt_spark sources under {ROOT}; run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    work = os.path.join(HERE, "_work", f"run-{os.getpid()}")
    conf = _isolate(work)
    try:
        return _run(a, work, conf)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(a, work, conf) -> int:
    import resource

    from dlt_spark.session import spark_session

    from perfbench import layers
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    nproc = len(os.sched_getaffinity(0))
    conf.update({
        "spark.driver.memory": "4g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
    })
    t0 = time.perf_counter()
    spark = spark_session("perfbench", master=f"local[{nproc}]",
                          shuffle_partitions=3 * nproc, overrides=conf)
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._gateway.proc
    try:
        tracer = Tracer(spark)
        if a.trace:
            layers.install(tracer)
        ctx = Ctx(spark, a.seed, work, tracer, bool(a.trace))
        t_cal = time.perf_counter()
        host = {"nproc": nproc, "loadavg_before": os.getloadavg(),
                "calibration_before_s": _calibrate(spark)}
        wl = WORKLOADS[a.workload](ctx)
        t_setup = time.perf_counter()
        wl.setup()
        setup_s = time.perf_counter() - T_START
        # the first calibration job is the session's first Spark job and
        # pays the JVM's warm-up
        phases = {"start_to_session": t0 - T_START, "session": session_s,
                  "calibration": t_setup - t_cal,
                  "workload_setup": time.perf_counter() - t_setup, **wl.phases}

        samples, traced, errors = [], [], []
        attempted = cycles = 0
        deadline = time.perf_counter() + a.seconds
        # a traced run alternates tracing off, on, off, ... so that the
        # traced cycles can be compared with untraced ones; two cycles at
        # least, which keeps a traced run well inside its time limit
        min_cycles = max(wl.MIN_CYCLES, 2 if a.trace else 1)
        while cycles < min_cycles or time.perf_counter() < deadline:
            tracer.enabled = bool(a.trace and cycles % 2)
            try:
                s = wl.cycle(cycles)
                (traced if tracer.enabled else samples).append(s)
                attempted += s["attempted"]
                errors += s["errors"]
            except Exception as e:  # counted, reported, and the run goes on
                attempted += 1
                errors.append(f"cycle {cycles}: {type(e).__name__}: {e}"[:500])
            finally:
                tracer.enabled = False
            cycles += 1

        phases["timed"] = time.perf_counter() - deadline + a.seconds
        # peak RSS before the output checks, which fetch results to pandas
        host["peak_rss_mb"] = (_vm_hwm_mb(jvm.pid) + resource.getrusage(
            resource.RUSAGE_SELF).ru_maxrss / 1024)
        host.update(calibration_after_s=_calibrate(spark),
                    loadavg_after=os.getloadavg())
        t_check = time.perf_counter()
        check_errors = wl.check()
        check_s = time.perf_counter() - t_check
        stored_mb = wl.stored_mb()

        if not samples:
            raise RuntimeError(f"no cycle succeeded: {errors[:3]}")
        ops = [s["op"] for s in samples]
        reads = [r for s in samples for r in s["reads"]]
        if a.trace:
            tracer.attribute()
            metrics = layers.metrics(tracer, traced, samples, session_s, host,
                                     stored_mb, a.workload)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_p50_s": (statistics.median(ops), "s"),
                "read_p50_s": (statistics.median(reads), "s"),
            }
        details = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "commit": _git_commit(),
            "python": sys.version.split()[0], "spark": spark.version,
            "host": host, "phases": phases, "check_s": check_s,
            "stored_mb": stored_mb,
            "samples": {"ops": len(ops), "reads": len(reads), "traced_ops": len(traced)},
            "tails": {"op": tail(ops), "read": tail(reads)},
            "errors": errors, "check_errors": check_errors,
            "per_index": wl.per_index,
            "conf": {k: v for k, v in spark.sparkContext.getConf().getAll()
                     if k.startswith("spark.sql.") or k in conf or k == "spark.master"},
        }
    finally:
        spark.stop()
        spark.sparkContext._gateway.shutdown()
        jvm.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()

    print(json.dumps(details, default=str))
    ok = not check_errors
    for e in check_errors:
        print(f"perfbench: output check failed: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": ok,
        "attempted": attempted,
        "failed": len(errors),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
