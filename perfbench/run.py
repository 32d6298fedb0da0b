"""Benchmark runner: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. The runner

1. writes the workload's inputs from the seed (perfbench/gen.py), untimed;
2. starts the Spark session and primes the workload: builds what the passes
   use, then warms their code paths up on small inputs. `setup_s` is session
   start plus that priming, what every start of the program pays before it
   serves at speed;
3. repeats timed passes of fixed work until `--seconds` have been measured
   (at least one pass; with `--trace 1`, a traced pass and then an untraced
   one);
4. checks every recorded result outside the timed region;
5. stops Spark and waits for every process it started;
6. prints {"correct", "attempted", "failed", "metrics"} as the last line of
   stdout: the end-to-end metrics untraced, the per-layer metrics traced.

It exits 0 only when every check passed. Everything it writes stays under
perfbench/_work in the checkout and is removed at the end, except that a
traced run leaves its spans in perfbench/_work/spans/<workload>-<seed>.jsonl.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import tracing
from workloads import WORKLOADS, Clock, PassResult

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# One driver memory for every workload: the engine's 32g default exceeds a
# 15 GB box, and at 2g minhash_verified_pairs fails to broadcast its
# shingle sets.
DRIVER_MEMORY = "4g"
START = time.monotonic()

END_TO_END_UNITS = {
    "latency_mean_ms": "ms",
    "docs_per_s": "1/s",
    "setup_s": "s",
}


def end_to_end_metrics(setup_s: float, passes: list) -> dict:
    """The untraced run's metrics from its set-up time and timed passes."""
    lat_ms = [1000.0 * x for r in passes for x in r.latencies_s]
    values = {
        "latency_mean_ms": statistics.mean(lat_ms),
        "docs_per_s": sum(r.docs for r in passes) / sum(r.docs_wall_s for r in passes),
        "setup_s": setup_s,
    }
    return {n: {"value": v, "unit": END_TO_END_UNITS[n]} for n, v in values.items()}


def log(msg: str) -> None:
    print(f"perfbench [{time.monotonic() - START:6.1f} s] {msg}", file=sys.stderr, flush=True)


def configure_environment(work: str) -> None:
    """Point Spark, its Python workers and every temp file at the checkout."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    # no hsperfdata file: every JVM, spark-submit's launcher included, would
    # write one under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    java_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Dderby.system.home={work}"
    # the status store keeps every job and stage of a run, for the trace
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(java_opts),
        "--conf", "spark.ui.retainedJobs=1000000",
        "--conf", "spark.ui.retainedStages=1000000",
        "pyspark-shell",
    ])


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, then wait for every process
    this run started (the JVM and Spark's Python daemon and workers)."""
    from pyspark import SparkContext

    started = tracing.descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    from pyspark.sql import SparkSession

    inputs = os.path.join(work, "inputs")
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
                    "--seed", str(seed), "--out", inputs], check=True)
    log("inputs written")
    try:
        return measure(workload, seed, inputs, seconds, trace, work)
    finally:
        spark = SparkSession.getActiveSession()
        if spark is not None:
            stop_spark(spark)


def measure(workload: str, seed: int, inputs: str, seconds: float, trace: bool, work: str) -> dict:
    from pdf_brain_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - t0
    log(f"session start: {session_start_s:.2f} s")
    tracer = tracing.Tracer(spark, enabled=trace)
    tracer.active = trace
    t0 = time.perf_counter()
    wl = WORKLOADS[workload](spark, inputs, work, tracer)
    wl.setup()
    setup_spans = len(tracer.spans)
    tracer.active = False
    wl.warm_up()
    priming_s = time.perf_counter() - t0
    log(f"priming: {priming_s:.2f} s")

    plain, traced = [], []
    measured = 0.0
    # a traced run alternates traced and untraced passes, starting traced, so
    # that its per-layer figures describe the same first pass after the
    # warm-up that an untraced run measures
    while measured < seconds or not plain or (trace and not traced):
        on = trace and len(traced) <= len(plain)
        tracer.active = on
        result = PassResult()
        wl.run_pass(Clock(result))
        tracer.active = False
        (traced if on else plain).append(result)
        measured += result.wall_s
        log(f"{'traced' if on else 'untraced'} pass: {result.wall_s:.2f} s, operations "
            + " ".join(f"{x:.2f}" for x in result.latencies_s))

    # the process tree: this driver, the driver JVM, Spark's Python workers
    rss = tracing.peak_rss_mb([os.getpid(), *sorted(tracing.descendants(os.getpid()))])
    log("peak RSS MB: " + ", ".join(f"{k} {v:.0f}" for k, v in rss.items()))
    attempted, failures = wl.check()
    log(f"checked {attempted} results, {len(failures)} failed")
    for f in failures:
        print(f"CHECK FAILED: {f}", file=sys.stderr)

    if trace:
        failed_tasks = tracer.job_and_stage_counts()
        spans = os.path.join(HERE, "_work", "spans", f"{workload}-{seed}.jsonl")
        tracer.write(spans)
        log(f"spans written to {os.path.relpath(spans, ROOT)}")
        values = tracer.layer_metrics(len(traced), setup_spans)
        values["session.start_s"] = session_start_s
        values["session.peak_rss_mb"] = sum(rss.values())
        values["spark.failed_tasks"] = failed_tasks
        values["streaming.stored_bytes_per_input_byte"] = getattr(wl, "stored_ratio", 0.0)
        values["trace.overhead_ratio"] = (
            statistics.mean(r.wall_s for r in traced) / statistics.mean(r.wall_s for r in plain) - 1.0)
        metrics = {n: {"value": values[n], "unit": tracing.per_layer_unit(n)}
                   for n in tracing.per_layer_names()}
    else:
        metrics = end_to_end_metrics(session_start_s + priming_s, plain)
    tracer.close()
    log("stopping Spark")
    return {"correct": not failures, "attempted": attempted, "failed": len(failures),
            "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("pdf_brain_spark") is None:
        print("perfbench: the engine package pdf_brain_spark is not in this checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_environment(work)
    try:
        result = run(a.workload, a.seed, a.seconds, bool(a.trace), work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log("done")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
