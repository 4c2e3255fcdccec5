"""Per-layer metric catalogue and the in-process layer passes.

The in-process passes call the package's public functions directly, with
no Spark involved: `extractors.extract_payload_text` over the workload's
distinct payloads (the per-format kernels, and the single-core baseline),
and `pipeline.extract_turns` over the workload's table in Arrow-batch-sized
frames (the per-row Python boundary work and the decode cache). Decodes are
counted by wrapping `extractors.extract_payload_text`, which
`pipeline._extract_one` looks up on every call.

A layer a workload does not exercise reads 0 there.
"""

from __future__ import annotations

import statistics
import time

from gen import KINDS

FRAME_ROWS = 128  # the session's spark.sql.execution.arrow.maxRecordsPerBatch

SPARK_SUM_KEYS = (
    "spark.python.start_s",
    "spark.python.init_s",
    "spark.python.run_s",
    "spark.python.mb_sent",
    "spark.python.mb_returned",
    "spark.executor.run_s",
    "spark.executor.cpu_s",
    "spark.gc_s",
    "spark.tasks",
    "spark.scan.mb_read",
    "spark.scan.time_s",
    "spark.shuffle.mb_written",
    "spark.shuffle.mb_read",
)

# name -> (unit, better)
PER_LAYER: dict[str, tuple[str, str]] = {
    "plans.session.build_s": ("s", "lower"),
    "plans.session.cold_build_s": ("s", "lower"),
    "pipeline.warmup_s": ("s", "lower"),
    "extractors.busy_s": ("s", "lower"),
    "extractors.mb_per_s": ("MB/s", "higher"),
    "pipeline.extract_turns.busy_s": ("s", "lower"),
    "pipeline.extract_turns.rows_per_s": ("rows/s", "higher"),
    "pipeline.decode_cache.hit_ratio": ("ratio", "higher"),
    "spark.python.start_s": ("s", "lower"),
    "spark.python.init_s": ("s", "lower"),
    "spark.python.run_s": ("s", "lower"),
    "spark.python.mb_sent": ("MB", "lower"),
    "spark.python.mb_returned": ("MB", "lower"),
    "spark.executor.run_s": ("s", "lower"),
    "spark.executor.cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.slot_busy_ratio": ("ratio", "higher"),
    "spark.task_skew": ("ratio", "lower"),
    "spark.scan.mb_read": ("MB", "lower"),
    "spark.scan.time_s": ("s", "lower"),
    "spark.shuffle.mb_written": ("MB", "lower"),
    "spark.shuffle.mb_read": ("MB", "lower"),
    "pipeline.run_with_checkpoints.s": ("s", "lower"),
    "pipeline.checkpoint.jobs": ("count", "lower"),
    "pipeline.checkpoint.resume_s": ("s", "lower"),
    "operators.dedup.dedup_pipeline_s": ("s", "lower"),
    "operators.dedup.candidate_pairs": ("count", "lower"),
    "operators.dedup.verify_yield": ("ratio", "higher"),
    "operators.textstats.corpus_filter_s": ("s", "lower"),
    "trace.coverage": ("ratio", "higher"),
    "trace.overhead_s": ("s", "lower"),
    # the process tree (JVM, Python workers, this process): CPU per call
    # of the untraced measurement, peak resident memory of the traced
    # one, which samples it. Per-layer, not end-to-end: they follow the
    # JVM's JIT and GC activity and the host's load more than the
    # package's work (see BENCHMARK.md)
    "process_tree.cpu_s": ("s", "lower"),
    "process_tree.peak_rss_mb": ("MB", "lower"),
}
for _kind in KINDS:
    PER_LAYER[f"formats.{_kind}.ms_p50"] = ("ms", "lower")
    PER_LAYER[f"formats.{_kind}.ms_p99"] = ("ms", "lower")
    PER_LAYER[f"formats.{_kind}.mb_per_s"] = ("MB/s", "higher")


def zero_metrics() -> dict[str, float]:
    return {name: 0.0 for name in PER_LAYER}


def with_units(values: dict[str, float]) -> dict:
    return {k: {"value": float(values[k]), "unit": PER_LAYER[k][0]} for k in PER_LAYER}


def _p99(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[98] if len(xs) > 1 else xs[0]


def extractor_pass(docs: list[tuple[str, bytes]]) -> dict[str, float]:
    """extract_payload_text over every distinct payload, timed per call."""
    from b2xtranslator_spark.extractors import extract_payload_text

    per_kind: dict[str, list[tuple[float, int]]] = {}
    busy = total = 0
    for kind, payload in docs:
        t0 = time.perf_counter()
        extract_payload_text(payload)
        dt = time.perf_counter() - t0
        busy += dt
        total += len(payload)
        per_kind.setdefault(kind, []).append((dt, len(payload)))
    out = {"extractors.busy_s": busy, "extractors.mb_per_s": total / 1e6 / busy}
    for kind in KINDS:
        samples = per_kind.get(kind)
        if not samples:
            continue
        ms = [dt * 1e3 for dt, _ in samples]
        out[f"formats.{kind}.ms_p50"] = statistics.median(ms)
        out[f"formats.{kind}.ms_p99"] = _p99(ms)
        out[f"formats.{kind}.mb_per_s"] = (
            sum(n for _, n in samples) / 1e6 / sum(dt for dt, _ in samples)
        )
    return out


def extract_turns_pass(table) -> dict[str, float]:
    """pipeline.extract_turns over the table in FRAME_ROWS-row frames,
    counting the decodes that miss the per-worker cache."""
    import b2xtranslator_spark.extractors as extractors
    from b2xtranslator_spark import pipeline

    original = extractors.extract_payload_text
    decodes = 0

    def counting(*args, **kwargs):
        nonlocal decodes
        decodes += 1
        return original(*args, **kwargs)

    frames = [table.iloc[i : i + FRAME_ROWS] for i in range(0, len(table), FRAME_ROWS)]
    doc_rows = int(
        (
            table["text"].str.startswith(pipeline.PAYLOAD_PREFIX)
            | table["tool"].str.startswith(pipeline.PAYLOAD_PREFIX)
        ).sum()
    )
    extractors.extract_payload_text = counting
    try:
        t0 = time.perf_counter()
        for _ in pipeline.extract_turns(iter(frames)):
            pass
        busy = time.perf_counter() - t0
    finally:
        extractors.extract_payload_text = original
    return {
        "pipeline.extract_turns.busy_s": busy,
        "pipeline.extract_turns.rows_per_s": len(table) / busy,
        "pipeline.decode_cache.hit_ratio": 1.0 - decodes / max(doc_rows, 1),
    }


def inprocess_passes(workload) -> dict[str, float]:
    if not workload.distinct_docs:
        return {}
    out = extractor_pass([(k, p) for k, p in workload.distinct_docs if k in KINDS])
    out.update(extract_turns_pass(workload.table))
    return out
