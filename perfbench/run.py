"""Benchmark entry point for the repository's pipeline surfaces.

    python3 perfbench/run.py --workload scrub_pages --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke

Run from the root of a checkout. One run is one process and one workload:

1. inputs are generated from the seed (cached under perfbench/_work/inputs,
   not timed) and the oracle sample for the checks is computed;
2. set-up: start the session on local[N] and make one cold pass over the
   input's first file (1/8 of the records), SETUPS times (the later ones
   restart the SparkContext in the same JVM); ``setup_s`` is the median;
3. timed passes until ``--seconds`` of timed work; ``job_s`` is the median
   pass, and every pass's output is checked outside the timed region;
4. with ``--trace 1``, one set-up, the warm pass, then the per-layer ledger
   instead of the end-to-end metrics: a span around every ladder step and
   stage call, written to perfbench/_work/traces/<run_id>.json when the run
   ends; an untraced checked pass precedes each ladder round.

The last line of stdout is one JSON object: correct, attempted, failed and
the metrics BENCHMARK.json names for the mode, each with its unit.
``--smoke`` runs every workload in both modes at a few hundred records and
checks that every metric BENCHMARK.json names is printed with its unit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")
# local[N]: the host's four cores, fewer where fewer are available to us
CORES = min(4, len(os.sched_getaffinity(0)))
SIZES = {"scrub_pages": 4000, "csv_wide": 8000}
SMOKE_SIZES = {"scrub_pages": 300, "csv_wide": 300}
SETUPS = 3


def configure_env():
    """Process environment for this process, the JVM it launches and the
    Python workers the JVM forks: one native thread per worker, every
    temporary file inside the checkout."""
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def start_session():
    from pii_detection_redaction_spark.plans.session import build_session

    tmp = os.path.join(WORK, "tmp")
    return build_session(
        app_name="perfbench",
        master=f"local[{CORES}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.executorEnv.OMP_NUM_THREADS": "1",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


def stop_jvm():
    """Stop the py4j gateway JVM (and with it the Python workers it forked)
    and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb(spark):
    """Peak resident memory of this process plus the JVM."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    try:
        with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    except OSError:
        pass
    return kb / 1024.0


def metric_spec(mode):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec[mode]}


def run(workload, seed, seconds, trace, size, log=sys.stderr):
    from workloads import WORKLOADS, timed
    from spans import Tracer

    wl = WORKLOADS[workload](WORK, seed, size, CORES)
    wl.make_inputs()
    wl.prepare_check()

    spark, setups, session_start = None, [], None
    for _ in range(1 if trace else SETUPS):
        wl.clear()
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session()
        if session_start is None:
            session_start = time.perf_counter() - t0
        wl.run_pass(spark, wl.setup_input)
        setups.append(time.perf_counter() - t0)
    if trace:
        # one set-up pass over 1/8 of the input; untraced mode's three
        # already carry the JIT past its first full-size pass
        wl.clear()
        wl.run_pass(spark)

    times, failed = [], 0

    def timed_pass():
        nonlocal failed
        wl.clear()
        dt, result = timed(lambda: wl.run_pass(spark))
        times.append(dt)
        problems = wl.check(spark, result)
        if problems:
            failed += 1
            print(f"check failed on pass {len(times)}: {problems}", file=log)

    if trace:
        tracer = Tracer()
        with tracer.span("run", workload=workload, seed=seed):
            layers, problems = wl.layers(spark, tracer, timed_pass)
        tracer.write(os.path.join(WORK, "traces", f"{tracer.run_id}.json"))
        if problems:
            failed += 1
            print(f"traced run check failed: {problems}", file=log)
        attempted = len(times) + 1
        job_s = statistics.median(times)
        layers.update({
            "trace.untraced_job_s": job_s,
            "trace.overhead_s": layers["trace.job_s"] - job_s,
            "session.start_s": session_start,
            "proc.peak_rss_mb": peak_rss_mb(spark),
        })
        spec = metric_spec("per_layer")
        # a layer the workload does not run did no work in it
        values = {name: layers.get(name, 0) for name in spec}
        unknown = set(layers) - set(spec)
        if unknown:
            raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    else:
        while sum(times) < seconds:
            timed_pass()
        attempted = len(times)
        job_s = statistics.median(times)
        spec = metric_spec("end_to_end")
        values = {
            "job_s": job_s,
            "records_per_s": size / job_s,
            "setup_s": statistics.median(setups),
        }
    print(f"{workload} seed={seed} setups={[round(t, 2) for t in setups]} "
          f"passes={[round(t, 2) for t in times]}", file=log)
    spark.stop()
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in spec.items()},
    }


def smoke():
    """Every workload, both modes, a few hundred records: every metric
    BENCHMARK.json names must be printed with its unit, and every check
    must pass."""
    failures = []
    for workload in SIZES:
        for trace in (0, 1):
            res = run(workload, 1, 1, trace, SMOKE_SIZES[workload])
            spec = metric_spec("per_layer" if trace else "end_to_end")
            got = res["metrics"]
            if set(got) != set(spec):
                failures.append(f"{workload}/trace={trace}: metrics {sorted(set(got) ^ set(spec))}")
            for name, m in got.items():
                if m.get("unit") != spec.get(name) or not isinstance(m.get("value"), (int, float)):
                    failures.append(f"{workload}/trace={trace}: bad metric {name}={m}")
            if not res["correct"]:
                failures.append(f"{workload}/trace={trace}: checks failed")
    return failures


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    if not args.smoke and args.workload is None:
        ap.error("--workload is required unless --smoke")

    configure_env()
    try:
        import pii_detection_redaction_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the package under test from {ROOT}: {e}", file=sys.stderr)
        return 2
    try:
        if args.smoke:
            failures = smoke()
            for f in failures:
                print(f, file=sys.stderr)
            print("smoke: " + ("FAILED" if failures else "ok"), file=sys.stderr)
            return 1 if failures else 0
        res = run(args.workload, args.seed, args.seconds, args.trace,
                  SIZES[args.workload])
    finally:
        stop_jvm()
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
