"""The three workloads: inputs written as a parquet table, the measured
call into the package, and the check of its output."""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from collections import Counter

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen

# Group count of the checkpointed write. scripts/job.py defaults to 64,
# but each group costs two Spark jobs (~3 s on a 4-CPU host), so 64 groups
# (~130 s per call) do not fit a run; one group keeps the staging write,
# the group's extraction write and the checkpoint table in every call.
N_GROUPS = 1


def _write_table(columns: dict, schema: pa.Schema, out_dir: str, file_rows: list[int]) -> str:
    """Write the generated rows, in their generated order, as zstd parquet
    files of file_rows rows each; returns a content digest of the rows."""
    os.makedirs(out_dir)
    table = pa.table({k: columns[k] for k in schema.names}, schema=schema)
    start = 0
    for k, n in enumerate(file_rows):
        pq.write_table(
            table.slice(start, n), os.path.join(out_dir, f"part-{k:03d}.parquet"), compression="zstd"
        )
        start += n
    digest = hashlib.sha256()
    for name in schema.names:
        for v in columns[name]:
            digest.update(str(v).encode("utf-8"))
            digest.update(b"\x1f")
    return digest.hexdigest()


def _row_hash(conv: str, turn: int, status: str, text: str) -> tuple[int, int]:
    d = hashlib.md5(f"{conv}\x1f{turn}\x1f{status}\x1f{text}".encode("utf-8")).hexdigest()
    return int(d[:8], 16), int(d[8:16], 16)


def _hash_aggs():
    """Spark-side twin of _row_hash, summed: order-free digest of every
    output turn, compared against the expectation's sum."""
    from pyspark.sql import functions as F

    h = F.md5(
        F.concat_ws(
            "\x1f", "conv_id", F.col("turn_idx").cast("string"), "status",
            F.coalesce("text", F.lit("")),
        )
    )
    return [
        F.count("*").alias("rows"),
        F.sum(F.conv(F.substring(h, 1, 8), 16, 10).cast("long")).alias("h1"),
        F.sum(F.conv(F.substring(h, 9, 8), 16, 10).cast("long")).alias("h2"),
    ]


TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


class Workload:
    """A generated input table, the measured call into the package
    (`iteration`) and the check of its result (`check`, returning items
    attempted and failed). The hooks below add per-layer metrics to the
    traced run."""

    name = ""
    # calls made before measuring: the first pays one-off costs (first
    # reads of the table, code generation), and the JVM keeps compiling
    # the plans' hot code for a few calls more before its figures settle
    warm_calls = 2
    trace_sides: tuple[str, ...] = ()  # workloads run once in the traced run
    distinct_docs = ()  # (kind, payload) for the in-process passes
    table = None  # the transcript table as pandas, for the in-process passes

    def __init__(self, seed: int, input_dir: str):
        self.seed, self.input_dir = seed, input_dir

    def trace_extras(self, spark, traced: dict) -> dict:
        """Per-layer metrics from timed calls after the traced measurement."""
        return {}

    def trace_from_log(self, by_desc: dict, n_iter: int) -> dict:
        """Per-layer metrics from the event log, per job description."""
        return {}


class Extraction(Workload):
    """Shared by the two extraction workloads: a transcript table and the
    text and status each turn must come back with."""

    def __init__(self, seed: int, input_dir: str):
        super().__init__(seed, input_dir)
        g = gen.gen_extraction(seed, self.name)
        rows = g["rows"]
        self.table = pd.DataFrame({k: rows[k] for k in ("conv_id", "turn_idx", "text", "tool")})
        self.digest = _write_table(rows, TRANSCRIPT_SCHEMA, input_dir, g["file_rows"])
        self.expect = {
            (c, int(t)): (x, s)
            for c, t, x, s in zip(rows["conv_id"], rows["turn_idx"], g["expect_text"], g["expect_status"])
        }
        h1 = h2 = 0
        for (c, t), (x, s) in self.expect.items():
            a, b = _row_hash(c, t, s, x)
            h1, h2 = h1 + a, h2 + b
        self.expect_hash = (len(self.expect), h1, h2)
        self.distinct_docs = [(k, p) for k, p, _, _ in g["docs"]]
        size_of = {c: len(p) for c, (_, p, _, _) in zip(g["cells"], g["docs"])}
        doc_cells = [
            cell
            for text, tool in zip(rows["text"], rows["tool"])
            for cell in (tool if tool.startswith(gen.PAYLOAD_PREFIX) else text,)
            if cell.startswith(gen.PAYLOAD_PREFIX)
        ]
        self.rows = len(self.expect)
        self.docs = len(doc_cells)
        self.payload_bytes = sum(size_of[c] for c in doc_cells)
        self.kind_mix = dict(Counter(k.split(":")[0] for k, _, _, _ in g["docs"]))
        self.distinct = len(set(doc_cells))

    def fingerprint(self) -> dict:
        return {
            "workload": self.name,
            "seed": self.seed,
            "rows": self.rows,
            "doc_rows": self.docs,
            "payload_bytes": self.payload_bytes,
            "distinct_payloads": self.distinct,
            "kind_mix": self.kind_mix,
        }

    def check_rows(self, pdf: pd.DataFrame) -> int:
        """Per-turn text and status equality; returns the number of turns
        that are missing, duplicated or differ."""
        seen: set = set()
        bad = 0
        for c, t, x, s in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"], pdf["status"]):
            key = (c, int(t))
            if key in seen or self.expect.get(key) != ((x or ""), s):
                bad += 1
            seen.add(key)
        return bad + len(set(self.expect) - seen)


class MixedDistinct(Extraction):
    """Read-only extraction of distinct documents of every kind:
    run_extraction followed by an aggregate collect. Its traced run also
    runs dedup_filter once, which is too slow to be a workload of its own
    (one iteration costs 25-40 s of Spark job overhead on a 4-CPU host)."""

    name = "mixed_distinct"
    trace_sides = ("dedup_filter",)

    def iteration(self, spark, i: int, desc: str) -> dict:
        from b2xtranslator_spark.pipeline import run_extraction

        df = spark.read.parquet(self.input_dir)
        row = run_extraction(df).agg(*_hash_aggs()).collect()[0]
        return {"hash": (row["rows"], row["h1"], row["h2"])}

    def check(self, spark, result: dict) -> tuple[int, int]:
        if tuple(result["hash"]) == self.expect_hash:
            return self.rows, 0
        # the digest differs: find the turns that do
        from b2xtranslator_spark.pipeline import run_extraction

        pdf = run_extraction(spark.read.parquet(self.input_dir)).select(
            "conv_id", "turn_idx", "text", "status"
        ).toPandas()
        return self.rows, max(1, self.check_rows(pdf))


class ForwardedWrite(Extraction):
    """The deployed job: run_with_checkpoints into a fresh directory, then
    the output read back."""

    name = "forwarded_write"
    # five Spark jobs per call, each with its own planning: the JVM's JIT
    # compiler works through the first five calls or so (wall time per
    # call falls by a fifth over them, CPU per call by half) before the
    # per-call figures settle
    warm_calls = 5

    def __init__(self, seed: int, input_dir: str):
        super().__init__(seed, input_dir)
        self.out_root = os.path.join(os.path.dirname(input_dir), "out")
        self.last_out = None

    def iteration(self, spark, i: int, desc: str) -> dict:
        from b2xtranslator_spark.pipeline import read_extracted, run_with_checkpoints

        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        out = os.path.join(self.out_root, f"run-{i}")
        self.last_out = out
        sc = spark.sparkContext
        t0 = time.perf_counter()
        sc.setJobDescription(desc + ":write")
        run_with_checkpoints(spark, self.input_dir, out, "bench", n_groups=N_GROUPS)
        t1 = time.perf_counter()
        sc.setJobDescription(desc + ":readback")
        row = read_extracted(spark, out, N_GROUPS).agg(*_hash_aggs()).collect()[0]
        sc.setJobDescription(desc)
        return {
            "hash": (row["rows"], row["h1"], row["h2"]),
            "out": out,
            "timings": {"write_s": t1 - t0},
        }

    def check(self, spark, result: dict) -> tuple[int, int]:
        """Every turn exactly once with its expected text and status, and
        (conv_id, turn_idx) order inside every output file."""
        frames, disorder = [], 0
        for root, _, files in sorted(os.walk(result["out"])):
            if not os.path.basename(root).startswith("group="):
                continue
            for f in sorted(files):
                if not f.endswith(".parquet"):
                    continue
                pdf = pq.read_table(
                    os.path.join(root, f), columns=["conv_id", "turn_idx", "text", "status"]
                ).to_pandas()
                keys = list(zip(pdf["conv_id"], pdf["turn_idx"]))
                disorder += sum(1 for a, b in zip(keys, keys[1:]) if a >= b)
                frames.append(pdf)
        if not frames:
            return self.rows, self.rows
        bad = self.check_rows(pd.concat(frames, ignore_index=True)) + disorder
        if bad == 0 and tuple(result["hash"]) != self.expect_hash:
            bad = 1  # the files are right but the read-back disagrees
        return self.rows, bad

    def trace_extras(self, spark, traced: dict) -> dict:
        from b2xtranslator_spark.pipeline import run_with_checkpoints

        spark.sparkContext.setJobDescription("perfbench:resume")
        t0 = time.perf_counter()
        stats = run_with_checkpoints(spark, self.input_dir, self.last_out, "bench", n_groups=N_GROUPS)
        resume = time.perf_counter() - t0
        if stats["groups_run"]:
            raise RuntimeError(f"resume with the same run id re-ran groups: {stats}")
        return {
            "pipeline.run_with_checkpoints.s": statistics.median(
                t["write_s"] for t in traced["timings"]
            ),
            "pipeline.checkpoint.resume_s": resume,
        }

    def trace_from_log(self, by_desc: dict, n_iter: int) -> dict:
        write = by_desc.get("perfbench:measure:write", {"jobs": 0})
        return {"pipeline.checkpoint.jobs": write["jobs"] / n_iter}


DOCS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


class DedupFilter(Workload):
    """dedup_pipeline, then corpus_filter over the documents it keeps."""

    name = "dedup_filter"

    def __init__(self, seed: int, input_dir: str):
        super().__init__(seed, input_dir)
        g = gen.gen_dedup(seed)
        self.digest = _write_table(g["rows"], DOCS_SCHEMA, input_dir, g["file_rows"])
        self.expect_cluster = g["expect_cluster"]
        self.expect_reason = g["expect_reason"]
        self.rows = self.docs = len(g["rows"]["doc_id"])
        self.payload_bytes = sum(len(t.encode("utf-8")) for t in g["rows"]["text"])

    def fingerprint(self) -> dict:
        return {
            "workload": self.name,
            "seed": self.seed,
            "rows": self.rows,
            "text_bytes": self.payload_bytes,
            "clusters": len(set(self.expect_cluster.values())),
            "reasons": dict(Counter(self.expect_reason.values())),
        }

    def iteration(self, spark, i: int, desc: str) -> dict:
        from pyspark.sql import functions as F

        from b2xtranslator_spark.operators.dedup import dedup_pipeline
        from b2xtranslator_spark.operators.textstats import corpus_filter

        docs = spark.read.parquet(self.input_dir)
        t0 = time.perf_counter()
        clusters = dedup_pipeline(docs).collect()
        t1 = time.perf_counter()
        kept_ids = spark.createDataFrame(
            pd.DataFrame({"doc_id": [r["doc_id"] for r in clusters if r["keep"]]})
        )
        kept = docs.join(F.broadcast(kept_ids), "doc_id")
        decisions = corpus_filter(kept).collect()
        t2 = time.perf_counter()
        return {
            "clusters": clusters,
            "decisions": decisions,
            "timings": {"dedup_s": t1 - t0, "filter_s": t2 - t1},
        }

    def check(self, spark, result: dict) -> tuple[int, int]:
        """Planted clusters collapse to their min-doc_id keeper, everything
        else keeps itself; each keeper gets its planted filter reason."""
        bad = 0
        seen = Counter(r["doc_id"] for r in result["clusters"])
        for r in result["clusters"]:
            want = self.expect_cluster.get(r["doc_id"])
            if want != r["cluster_id"] or r["keep"] != (r["doc_id"] == want):
                bad += 1
        bad += sum(n - 1 for n in seen.values()) + len(set(self.expect_cluster) - set(seen))
        got = {r["doc_id"]: (r["keep"], r["reason"]) for r in result["decisions"]}
        for doc_id, reason in self.expect_reason.items():
            if got.get(doc_id) != (reason == "ok", reason):
                bad += 1
        bad += len(set(got) - set(self.expect_reason))
        return self.rows + len(self.expect_reason), bad

    def trace_extras(self, spark, traced: dict) -> dict:
        from b2xtranslator_spark.operators.dedup import (
            jaccard_verify_pairs,
            minhash_lsh_candidates,
        )

        spark.sparkContext.setJobDescription("perfbench:pairs")
        docs = spark.read.parquet(self.input_dir)
        pairs = minhash_lsh_candidates(docs).localCheckpoint(eager=True)
        n_pairs = pairs.count()
        verified = jaccard_verify_pairs(docs, pairs).count()
        return {
            "operators.dedup.dedup_pipeline_s": statistics.median(
                t["dedup_s"] for t in traced["timings"]
            ),
            "operators.textstats.corpus_filter_s": statistics.median(
                t["filter_s"] for t in traced["timings"]
            ),
            "operators.dedup.candidate_pairs": float(n_pairs),
            "operators.dedup.verify_yield": verified / max(n_pairs, 1),
        }


WORKLOADS = {w.name: w for w in (MixedDistinct, ForwardedWrite, DedupFilter)}


def make(name: str, seed: int, input_dir: str) -> Workload:
    return WORKLOADS[name](seed, input_dir)
