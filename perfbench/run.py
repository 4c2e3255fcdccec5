#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the extraction package.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout: the package is imported from the current
directory, so the benchmark measures the tree it sits in. The workload's
inputs are generated from the seed in this process (perfbench/gen.py),
written as a parquet table, and run through the package's public entry
points on local[nproc] with the package's own session defaults. Every
output is checked against the expectation built with the inputs.

The last stdout line is one JSON object {correct, attempted, failed,
metrics}; the line before it carries the host, session and corpus
fingerprint. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer ones (in-process kernel passes, Spark's event log, and timed
calls into the package's public functions). All scratch files live under
.perfbench_work/ in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import base64
import contextlib
import itertools
import json
import os
import platform
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
N_SETUPS = 3  # setup_s is the median of this many session builds + warm-ups
MIN_CALLS = 3  # kept calls per measurement, after the warm-up calls
DESC = "perfbench:{}"


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _log(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - T_START:6.1f} s {msg}", file=sys.stderr, flush=True)


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def _slots(spark) -> int:
    """Concurrent tasks of local[nproc] at the session's spark.task.cpus."""
    return max(1, os.cpu_count() // int(spark.conf.get("spark.task.cpus", "1")))


# -- environment -------------------------------------------------------------


def _prepare_env(work: str) -> None:
    """Keep every file the run writes (JVM temp files, Spark local dirs,
    Python temp files, warehouse) inside the work directory."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.chdir(work)


def _host_fingerprint() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "mem_gb": round(mem_kb / 1e6, 1),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


# -- session lifecycle ---------------------------------------------------------


def _warmup(spark) -> None:
    """One small extraction job, one task per slot: Python worker spawn,
    codegen, the Arrow path."""
    import pandas as pd
    from pyspark.sql import functions as F

    from b2xtranslator_spark.pipeline import PAYLOAD_PREFIX, run_extraction

    doc = PAYLOAD_PREFIX + base64.b64encode(b"warm up line\n").decode()
    pdf = pd.DataFrame(
        {
            "conv_id": ["w-0", "w-0", "w-1", "w-1"],
            "turn_idx": [0, 1, 0, 1],
            "text": ["hello", doc, "hi", "ok"],
            "tool": ["", "", doc, ""],
        }
    )
    df = spark.createDataFrame(
        pdf, "conv_id string, turn_idx int, text string, tool string"
    ).coalesce(_slots(spark))
    run_extraction(df).agg(F.count("*"), F.sum("metrics.docs_parsed")).collect()


def build(extra_conf: dict | None = None):
    """build_session with the package defaults on local[nproc], plus one
    warm-up job. Returns (spark, build_s, warmup_s)."""
    from b2xtranslator_spark.plans.session import build_session

    t0 = time.perf_counter()
    spark = build_session(
        app_name="perfbench", master=f"local[{os.cpu_count()}]", extra_conf=extra_conf
    )
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setJobDescription(DESC.format("warmup"))
    _warmup(spark)
    t2 = time.perf_counter()
    _log(f"session built in {t1 - t0:.2f} s, warmed up in {t2 - t1:.2f} s")
    return spark, t1 - t0, t2 - t1


def setups(n: int):
    """n session builds with their warm-ups (the first one starts the JVM;
    later ones restart the SparkContext and its Python workers on the same
    JVM). Returns the last session, still up, and the n setup times."""
    spark, times = None, []
    for _ in range(n):
        if spark is not None:
            spark.stop()
        spark, b, w = build()
        times.append(b + w)
    return spark, times


def shutdown_jvm() -> None:
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def session_fingerprint(spark) -> dict:
    keys = (
        "spark.master",
        "spark.task.cpus",
        "spark.sql.shuffle.partitions",
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.driver.memory",
    )
    return {k: spark.conf.get(k, None) for k in keys}


# -- measurement -----------------------------------------------------------------


def measure(spark, workload, seconds: float, desc: str, sample_rss: bool = False) -> dict:
    """The workload's warm-up calls, then repeat the workload's measured call
    until `seconds` of it are measured and at least MIN_CALLS calls are
    made. Every call's output is checked; the warm-up calls' figures are
    not kept. Per kept call: wall time and process-tree CPU; over the
    kept calls, with sample_rss: the peak RSS of the process tree. The
    sampler walks /proc in this process 20 times a second, so only the
    traced run uses it."""
    from proc import RssSampler, cpu_seconds

    warm, walls, cpus, timings = [], [], [], []
    attempted = failed = 0
    with RssSampler() if sample_rss else contextlib.nullcontext() as rss:
        for i in itertools.count():
            # warm-up calls run under their own job description, so the
            # event log's figures for `desc` cover the kept calls only
            call_desc = desc if i >= workload.warm_calls else DESC.format("warm-up-call")
            spark.sparkContext.setJobDescription(call_desc)
            if i == workload.warm_calls and rss:
                rss.reset()
            c0 = cpu_seconds()
            t0 = time.perf_counter()
            result = workload.iteration(spark, i, call_desc)
            wall = time.perf_counter() - t0
            cpu = cpu_seconds() - c0
            a, f = workload.check(spark, result)
            attempted += a
            failed += f
            if i < workload.warm_calls:
                warm.append(wall)
                continue
            walls.append(wall)
            cpus.append(cpu)
            timings.append(result.get("timings", {}))
            if len(walls) >= MIN_CALLS and sum(walls) >= seconds:
                break
        peak = rss.peak if rss else None
    _log(
        f"{desc}: warm-up calls " + ", ".join(f"{w:.2f}" for w in warm)
        + " s, then " + ", ".join(f"{w:.2f}" for w in walls)
        + " s (CPU " + ", ".join(f"{c:.2f}" for c in cpus) + " s)"
    )
    return {
        "walls": walls,
        "cpus": cpus,
        "peak_rss_mb": peak,
        "attempted": attempted,
        "failed": failed,
        "timings": timings,
    }


def end_to_end(workload, setup_s: float, m: dict) -> dict:
    wall = _median(m["walls"])
    values = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "turns_per_s": (workload.rows / wall, "turns/s"),
        "docs_per_s": (workload.docs / wall, "docs/s"),
        "payload_mb_per_s": (workload.payload_bytes / 1e6 / wall, "MB/s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def trace(workload, args, work: str, fingerprint: dict) -> tuple[dict, int, int]:
    """The per-layer metrics: in-process kernel passes (no Spark), an
    untraced measurement, then the same measurement in a session rebuilt
    with Spark's event log on, read back per job description."""
    import eventlog
    import layers
    import workloads

    metrics = layers.zero_metrics()
    metrics.update(layers.inprocess_passes(workload))

    spark, cold_build, _ = build()
    fingerprint["session"] = session_fingerprint(spark)
    untraced = measure(spark, workload, args.seconds, DESC.format("measure"))
    spark.stop()
    log_dir = os.path.join(work, "events")
    os.makedirs(log_dir)
    spark, build_s, warmup_s = build(
        {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        }
    )
    traced = measure(spark, workload, args.seconds, DESC.format("measure"), sample_rss=True)
    metrics.update(workload.trace_extras(spark, traced))
    attempted = untraced["attempted"] + traced["attempted"]
    failed = untraced["failed"] + traced["failed"]
    for name in workload.trace_sides:  # one checked call each
        side = workloads.make(name, args.seed, os.path.join(work, name))
        spark.sparkContext.setJobDescription(DESC.format(name))
        result = side.iteration(spark, 0, DESC.format(name))
        a, f = side.check(spark, result)
        metrics.update(side.trace_extras(spark, {"timings": [result["timings"]]}))
        attempted += a
        failed += f
    slots = _slots(spark)
    shutdown_jvm()

    by_desc = eventlog.layer_metrics(eventlog.read_events(log_dir), slots)
    measured = [v for d, v in by_desc.items() if d.startswith(DESC.format("measure"))]
    n_iter = len(traced["walls"])
    for key in layers.SPARK_SUM_KEYS:
        metrics[key] = sum(v[key] for v in measured) / n_iter
    for key in ("spark.slot_busy_ratio", "spark.task_skew"):
        heaviest = max(measured, key=lambda v: v["job_s"])
        metrics[key] = heaviest[key]
    metrics.update(workload.trace_from_log(by_desc, n_iter))
    job_s = sum(v["job_s"] for v in measured)
    metrics["trace.coverage"] = job_s / sum(traced["walls"])
    metrics["trace.overhead_s"] = _median(traced["walls"]) - _median(untraced["walls"])
    metrics["process_tree.cpu_s"] = _median(untraced["cpus"])
    metrics["process_tree.peak_rss_mb"] = traced["peak_rss_mb"]
    # the traced session is built on the running JVM, like the setups
    # setup_s takes its median from; the first build also starts the JVM
    metrics["plans.session.build_s"] = build_s
    metrics["plans.session.cold_build_s"] = cold_build
    metrics["pipeline.warmup_s"] = warmup_s
    return layers.with_units(metrics), attempted, failed


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "b2xtranslator_spark", "pipeline.py")):
        _fail(f"no b2xtranslator_spark package under {ROOT}; run from a checkout root")

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sys.path[:0] = [ROOT, HERE]
    _prepare_env(work)
    from proc import reap_all, steal_ticks

    steal0 = steal_ticks()
    try:
        import workloads

        if args.workload not in workloads.WORKLOADS:
            _fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        _log("started")
        workload = workloads.make(args.workload, args.seed, os.path.join(work, "input"))
        _log("inputs written")
        fingerprint = {
            "host": _host_fingerprint(),
            "corpus": {**workload.fingerprint(), "sha256": workload.digest},
        }
        if args.trace:
            metrics, attempted, failed = trace(workload, args, work, fingerprint)
        else:
            spark, setup_times = setups(N_SETUPS)
            fingerprint["session"] = session_fingerprint(spark)
            m = measure(spark, workload, args.seconds, DESC.format("measure"))
            metrics = end_to_end(workload, _median(setup_times), m)
            attempted, failed = m["attempted"], m["failed"]
    finally:
        _log("measured")
        shutdown_jvm()
        reap_all()
        _log("stopped")
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    stolen, total = (b - a for a, b in zip(steal0, steal_ticks()))
    fingerprint["host"]["cpu_steal_frac"] = round(stolen / max(total, 1), 4)
    print(json.dumps({"fingerprint": fingerprint}, sort_keys=True))
    correct = failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
