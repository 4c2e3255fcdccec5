"""Spark event-log reader: per job description, the layer metrics Spark
itself records (stage accumulables, task timings, driver-side SQL
metrics). Logs are read uncompressed, or through the `zstd` CLI when
Spark compressed them."""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
from collections import defaultdict


def _lines(path: str):
    if path.endswith(".zstd") or path.endswith(".zst"):
        out = subprocess.run(
            ["zstd", "-dc", path], check=True, capture_output=True
        ).stdout
        yield from out.decode("utf-8").splitlines()
    else:
        with open(path, encoding="utf-8") as f:
            yield from f


def _index(path: str) -> int:
    name = os.path.basename(path)  # events_<n>_<app id>[.zstd]
    return int(name.split("_")[1]) if name.startswith("events_") else 0


def read_events(log_dir: str) -> list[dict]:
    """Every event of the one application logged under log_dir (rolling
    `eventlog_v2_*` directories and single-file logs alike)."""
    files = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")), key=_index
    )
    if not files:
        files = [
            p for p in glob.glob(os.path.join(log_dir, "*"))
            if os.path.isfile(p) and not p.endswith(".inprogress")
        ]
    return [json.loads(line) for f in files for line in _lines(f) if line.strip()]


def _plan_metric_names(plan: dict, into: dict) -> None:
    for m in plan.get("metrics", []):
        into[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _plan_metric_names(child, into)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _union_s(spans: list[list[float]]) -> float:
    """Seconds covered by the union of [start, end] millisecond spans
    (jobs of one description can run concurrently)."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(spans):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total / 1e3


def layer_metrics(events: list[dict], slots: int) -> dict[str, dict]:
    """{job description: {metric: value}} summed over that description's
    jobs. Times in seconds, sizes in MB."""
    job_desc: dict[int, str] = {}
    job_span: dict[int, list[float]] = {}
    stage_desc: dict[int, str] = {}
    exec_desc: dict[int, str] = {}
    stage_acc: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    task_times: dict[int, list[float]] = defaultdict(list)
    metric_names: dict[int, str] = {}
    driver_acc: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description") or ""
            job_desc[e["Job ID"]] = desc
            job_span[e["Job ID"]] = [e["Submission Time"], e["Submission Time"]]
            for sid in e["Stage IDs"]:
                stage_desc[sid] = desc
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in job_span:
                job_span[e["Job ID"]][1] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            for a in info.get("Accumulables", []):
                stage_acc[info["Stage ID"]][a["Name"]] += _num(a.get("Value"))
        elif kind == "SparkListenerTaskEnd":
            ti = e["Task Info"]
            task_times[e["Stage ID"]].append((ti["Finish Time"] - ti["Launch Time"]) / 1e3)
        elif kind.endswith("SQLExecutionStart"):
            exec_desc[e["executionId"]] = e.get("description") or ""
            _plan_metric_names(e.get("sparkPlanInfo") or {}, metric_names)
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_metric_names(e.get("sparkPlanInfo") or {}, metric_names)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                driver_acc[e["executionId"]][metric_names.get(acc_id, "")] += _num(value)

    out: dict[str, dict] = {}
    for desc in sorted(set(job_desc.values())):
        stages = [s for s, d in stage_desc.items() if d == desc and s in stage_acc]
        acc: dict[str, float] = defaultdict(float)
        for s in stages:
            for k, v in stage_acc[s].items():
                acc[k] += v
        tasks = [t for s in stages for t in task_times.get(s, [])]
        jobs = [j for j, d in job_desc.items() if d == desc]
        job_s = _union_s([job_span[j] for j in jobs])
        # skew of the heaviest stage: where a straggler costs the most wall
        heavy = max(stages, key=lambda s: sum(task_times.get(s, [0.0])), default=None)
        heavy_tasks = task_times.get(heavy, []) if heavy is not None else []
        skew = (
            max(heavy_tasks) / max(statistics.median(heavy_tasks), 1e-3)
            if heavy_tasks else 1.0
        )
        files_read = sum(
            acc_map.get("size of files read", 0.0)
            for ex, acc_map in driver_acc.items()
            if exec_desc.get(ex) == desc
        )
        shuffle_read = (
            acc["internal.metrics.shuffle.read.localBytesRead"]
            + acc["internal.metrics.shuffle.read.remoteBytesRead"]
        )
        out[desc] = {
            "jobs": len(jobs),
            "job_s": job_s,
            "spark.python.start_s": acc["time to start Python workers"] / 1e3,
            "spark.python.init_s": acc["time to initialize Python workers"] / 1e3,
            "spark.python.run_s": acc["time to run Python workers"] / 1e3,
            "spark.python.mb_sent": acc["data sent to Python workers"] / 1e6,
            "spark.python.mb_returned": acc["data returned from Python workers"] / 1e6,
            "spark.executor.run_s": acc["internal.metrics.executorRunTime"] / 1e3,
            "spark.executor.cpu_s": acc["internal.metrics.executorCpuTime"] / 1e9,
            "spark.gc_s": acc["internal.metrics.jvmGCTime"] / 1e3,
            "spark.tasks": float(len(tasks)),
            "spark.slot_busy_ratio": sum(tasks) / max(job_s * slots, 1e-9),
            "spark.task_skew": skew,
            "spark.scan.mb_read": files_read / 1e6,
            "spark.scan.time_s": acc["scan time"] / 1e3,
            "spark.shuffle.mb_written": acc["internal.metrics.shuffle.write.bytesWritten"] / 1e6,
            "spark.shuffle.mb_read": shuffle_read / 1e6,
        }
    return out
