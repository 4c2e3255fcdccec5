"""Tier-3: checkpoint/resume — kill after the first commits, re-run with the
same run_id, assert completed groups are not recomputed and the final output
equals an uninterrupted run (FIXTURES.md §6.3)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from b2xtranslator_spark.pipeline import (
    EXTRACTED_SCHEMA,
    read_extracted,
    run_with_checkpoints,
)
from b2xtranslator_spark.sources.transcripts import (
    load_sample_corpus,
    synthesize_transcripts,
)

N_GROUPS = 4

# The checkpoint table as it has always been written (createDataFrame with
# this DDL): resume must keep reading tables that hold such rows.
CHECKPOINT_DDL = (
    "run_id string, partition_id int, conv_bucket int, n_groups int, "
    "state string, docs_parsed long, records_decoded long, failures long, ts long"
)


@pytest.fixture(scope="module")
def transcripts_path(spark, tmp_path_factory):
    corpus = load_sample_corpus()
    if corpus.empty:
        pytest.skip("reference sample corpus unavailable")
    path = str(tmp_path_factory.mktemp("transcripts") / "t.parquet")
    transcripts, _ = synthesize_transcripts(
        spark, n_turns=400, doc_fraction=0.3, corpus=corpus
    )
    transcripts.write.mode("overwrite").parquet(path)
    return path


def _canonical(df):
    return (
        df.select("conv_id", "turn_idx", "text", "status")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )


def test_resume_skips_completed_and_matches_uninterrupted(
    spark, transcripts_path, tmp_path_factory
):
    out_killed = str(tmp_path_factory.mktemp("out_killed"))
    out_clean = str(tmp_path_factory.mktemp("out_clean"))

    # uninterrupted reference run
    stats = run_with_checkpoints(
        spark, transcripts_path, out_clean, run_id="r1", n_groups=N_GROUPS
    )
    assert stats["groups_run"] == N_GROUPS

    # killed mid-run after 2 group commits
    stats = run_with_checkpoints(
        spark,
        transcripts_path,
        out_killed,
        run_id="r2",
        n_groups=N_GROUPS,
        fail_after_groups=2,
    )
    assert stats.get("killed") and stats["groups_run"] == 2

    # resume: only the remaining groups run
    stats = run_with_checkpoints(
        spark, transcripts_path, out_killed, run_id="r2", n_groups=N_GROUPS
    )
    assert stats["groups_skipped"] == 2
    assert stats["groups_run"] == N_GROUPS - 2

    a = _canonical(read_extracted(spark, out_killed, N_GROUPS))
    b = _canonical(read_extracted(spark, out_clean, N_GROUPS))
    assert a.equals(b)

    # checkpoint table carries lineage + metrics
    ckpt = spark.read.parquet(f"{out_killed}/_checkpoints")
    rows = ckpt.where(F.col("run_id") == "r2").collect()
    assert len(rows) == N_GROUPS
    assert all(r["state"] == "done" for r in rows)
    assert sum(r["docs_parsed"] for r in rows) > 0


def test_rerun_same_run_id_is_noop(spark, transcripts_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("out_noop"))
    run_with_checkpoints(spark, transcripts_path, out, run_id="r3", n_groups=2)
    stats = run_with_checkpoints(spark, transcripts_path, out, run_id="r3", n_groups=2)
    assert stats["groups_run"] == 0
    assert stats["groups_skipped"] == 2


def test_write_extracted_files_are_sorted(spark, transcripts_path, tmp_path_factory):
    """The sink contract: every output file is sorted by (conv_id, turn_idx)
    — including under partitionBy, whose writer re-sorts tasks by partition
    columns (the sort must lead with conv_bucket or ordering is destroyed)."""
    import glob

    import pandas as pd

    from b2xtranslator_spark.pipeline import run_extraction, write_extracted

    out = str(tmp_path_factory.mktemp("sink"))
    transcripts = spark.read.parquet(transcripts_path)
    write_extracted(run_extraction(transcripts), out, n_buckets=8)
    files = glob.glob(f"{out}/conv_bucket=*/*.parquet")
    assert files
    for f in files:
        pdf = pd.read_parquet(f)[["conv_id", "turn_idx"]]
        expected = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        assert pdf.equals(expected), f"unsorted output file: {f}"


def test_group_selection_prunes_staged_partitions(
    spark, transcripts_path, tmp_path_factory
):
    """Resume I/O contract: per-group work reads ONLY that group's staged
    partition directory (partition pruning), never the full corpus — the
    pmod(xxhash64) predicate alone cannot push into a parquet scan, which
    would make n_groups resumed groups cost n_groups full rescans."""
    out = str(tmp_path_factory.mktemp("out_prune"))
    run_with_checkpoints(spark, transcripts_path, out, run_id="r4", n_groups=N_GROUPS)

    staged = spark.read.parquet(f"{out}/_staged_g{N_GROUPS}")
    one_group = staged.where(F.col("grp") == 1)
    plan = one_group._jdf.queryExecution().executedPlan().toString()
    # the group predicate must land in PartitionFilters (metadata pruning),
    # not PushedFilters/post-scan Filter (which would still list all files)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "grp" in pf and "= 1" in pf, f"group filter not pruned: {pf}"
    # and the staged layout is physically partitioned by group
    import glob

    assert glob.glob(f"{out}/_staged_g{N_GROUPS}/grp=1/*.parquet")
    assert len(glob.glob(f"{out}/_staged_g{N_GROUPS}/grp=*")) == N_GROUPS


def test_resume_with_different_n_groups_reruns_everything(
    spark, transcripts_path, tmp_path_factory
):
    """Review finding (r3): group numbers are meaningless across different
    n_groups — resuming the same run_id with a new group count must re-run
    all groups, never skip 'done-numbered' groups of the old partitioning."""
    out = str(tmp_path_factory.mktemp("out_regroup"))
    s1 = run_with_checkpoints(spark, transcripts_path, out, run_id="rg", n_groups=2)
    assert s1 == {"groups_run": 2, "groups_skipped": 0}
    s2 = run_with_checkpoints(spark, transcripts_path, out, run_id="rg", n_groups=4)
    assert s2["groups_skipped"] == 0 and s2["groups_run"] == 4
    # and the original partitioning still resumes as fully done
    s3 = run_with_checkpoints(spark, transcripts_path, out, run_id="rg", n_groups=2)
    assert s3 == {"groups_run": 0, "groups_skipped": 2}


def test_checkpoint_table_columns_and_types(spark, transcripts_path, tmp_path_factory):
    """The checkpoint table read back keeps its column names, order, types
    and nullability, and holds one row per committed group."""
    out = str(tmp_path_factory.mktemp("out_schema"))
    run_with_checkpoints(spark, transcripts_path, out, run_id="rs", n_groups=2)
    ckpt = spark.read.parquet(f"{out}/_checkpoints")
    assert ckpt.schema == StructType.fromDDL(CHECKPOINT_DDL)
    rows = sorted(ckpt.collect(), key=lambda r: r["partition_id"])
    assert [(r["run_id"], r["partition_id"], r["conv_bucket"]) for r in rows] == [
        ("rs", 0, 0),
        ("rs", 1, 1),
    ]
    assert all(r["n_groups"] == 2 and r["state"] == "done" for r in rows)
    assert all(r["ts"] > 0 and r["failures"] >= 0 for r in rows)


def test_resume_over_createdataframe_checkpoint_row(
    spark, transcripts_path, tmp_path_factory
):
    """A table that already holds a row written through createDataFrame with
    the checkpoint DDL resumes: that group is skipped, the rest run, and the
    mixed table then reads as fully done."""
    out = str(tmp_path_factory.mktemp("out_legacy_row"))
    spark.createDataFrame(
        [("rl", 0, 0, 2, "done", 1, 1, 0, 1)], CHECKPOINT_DDL
    ).coalesce(1).write.mode("append").parquet(f"{out}/_checkpoints")
    s1 = run_with_checkpoints(spark, transcripts_path, out, run_id="rl", n_groups=2)
    assert s1 == {"groups_run": 1, "groups_skipped": 1}
    ckpt = spark.read.parquet(f"{out}/_checkpoints")
    assert ckpt.schema == StructType.fromDDL(CHECKPOINT_DDL)
    assert sorted(r["partition_id"] for r in ckpt.collect()) == [0, 1]
    s2 = run_with_checkpoints(spark, transcripts_path, out, run_id="rl", n_groups=2)
    assert s2 == {"groups_run": 0, "groups_skipped": 2}


def test_checkpoint_append_stays_in_the_jvm(
    spark, transcripts_path, tmp_path_factory, monkeypatch
):
    """The checkpoint row never goes through createDataFrame: it is written
    as parquet bytes through the Hadoop FileSystem, so a run completes with
    createDataFrame unusable."""

    def no_python_rows(*args, **kwargs):
        raise AssertionError("checkpoint row shipped through createDataFrame")

    monkeypatch.setattr(SparkSession, "createDataFrame", no_python_rows)
    out = str(tmp_path_factory.mktemp("out_jvm_row"))
    stats = run_with_checkpoints(spark, transcripts_path, out, run_id="rj", n_groups=2)
    assert stats == {"groups_run": 2, "groups_skipped": 0}
    assert spark.read.parquet(f"{out}/_checkpoints").count() == 2


def test_corrupt_checkpoint_file_raises(spark, transcripts_path, tmp_path_factory):
    """An unreadable checkpoint table is an error, not a fresh start: resume
    must not silently re-run every group over it."""
    import glob

    from py4j.protocol import Py4JJavaError

    out = str(tmp_path_factory.mktemp("out_corrupt"))
    run_with_checkpoints(spark, transcripts_path, out, run_id="rc", n_groups=2)
    files = glob.glob(f"{out}/_checkpoints/*.parquet")
    assert files
    for f in files:
        with open(f, "wb") as fh:
            fh.write(b"not a parquet file")
    with pytest.raises(Py4JJavaError):
        run_with_checkpoints(spark, transcripts_path, out, run_id="rc", n_groups=2)


def test_read_extracted_on_file_uri(spark, transcripts_path, tmp_path_factory):
    """out_dir given as a file:// URI (as for hdfs:// or s3a://): the group
    directories are found through the Hadoop FileSystem, not os.path."""
    out = str(tmp_path_factory.mktemp("out_uri"))
    uri = f"file://{out}"
    stats = run_with_checkpoints(spark, transcripts_path, uri, run_id="ru", n_groups=2)
    assert stats == {"groups_run": 2, "groups_skipped": 0}
    got = read_extracted(spark, uri, 2)
    assert got.count() == spark.read.parquet(transcripts_path).count()
    assert _canonical(got).equals(_canonical(read_extracted(spark, out, 2)))


def test_checkpointed_run_costs_one_job_per_group(
    spark, transcripts_path, tmp_path_factory
):
    """A fresh run makes 2 + n_groups Spark jobs: the source's schema read,
    the staging write and one extraction write per group. The staged table
    is read back with the schema just written and the checkpoint rows are
    committed through the FileSystem, so neither costs a job; building
    read_extracted runs none either."""
    sc = spark.sparkContext
    group_id = "test-ckpt-job-count"
    out = str(tmp_path_factory.mktemp("out_jobs"))

    def jobs():
        # job-start events reach the status store through the listener bus
        spark._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group_id))

    sc.setJobGroup(group_id, "run_with_checkpoints job count")
    try:
        stats = run_with_checkpoints(
            spark, transcripts_path, out, run_id="rn", n_groups=2
        )
        after_run = jobs()
        got = read_extracted(spark, out, 2)
        after_read = jobs()
    finally:
        for key in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(key, None)
    assert stats == {"groups_run": 2, "groups_skipped": 0}
    assert after_run == 2 + 2
    assert after_read == after_run
    assert got.schema == EXTRACTED_SCHEMA


def test_uncommitted_checkpoint_file_is_ignored(
    spark, transcripts_path, tmp_path_factory
):
    """A `_tmp-*` checkpoint file is a row whose create never reached its
    rename (a crash mid-commit). Resume and spark.read.parquet skip it,
    also when it is the only file in the table."""
    out = str(tmp_path_factory.mktemp("out_tmp_row"))
    ckpt = os.path.join(out, "_checkpoints")
    os.makedirs(ckpt)
    with open(os.path.join(ckpt, "_tmp-crashed0.parquet"), "wb") as fh:
        fh.write(b"PAR1 truncated")
    s1 = run_with_checkpoints(
        spark, transcripts_path, out, run_id="rt", n_groups=2, fail_after_groups=1
    )
    assert s1 == {"groups_run": 1, "groups_skipped": 0, "killed": True}
    with open(os.path.join(ckpt, "_tmp-crashed1.parquet"), "wb") as fh:
        fh.write(b"PAR1 truncated")
    s2 = run_with_checkpoints(spark, transcripts_path, out, run_id="rt", n_groups=2)
    assert s2 == {"groups_run": 1, "groups_skipped": 1}
    table = spark.read.parquet(ckpt)
    assert table.schema == StructType.fromDDL(CHECKPOINT_DDL)
    assert sorted(r["partition_id"] for r in table.collect()) == [0, 1]


def test_resume_over_committed_staging_needs_no_source(
    spark, transcripts_path, tmp_path_factory
):
    """A resume that finds the staging directory committed reads it back by
    itself: with the source gone it still runs only the missing groups."""
    src = str(tmp_path_factory.mktemp("src_gone") / "t.parquet")
    shutil.copytree(transcripts_path, src)
    out = str(tmp_path_factory.mktemp("out_staged"))
    s1 = run_with_checkpoints(
        spark, src, out, run_id="rsg", n_groups=N_GROUPS, fail_after_groups=2
    )
    assert s1.get("killed") and s1["groups_run"] == 2
    shutil.rmtree(src)
    s2 = run_with_checkpoints(spark, src, out, run_id="rsg", n_groups=N_GROUPS)
    assert s2 == {"groups_run": N_GROUPS - 2, "groups_skipped": 2}
    got = read_extracted(spark, out, N_GROUPS)
    n = spark.read.parquet(transcripts_path).count()
    assert got.count() == n
    assert got.select("conv_id", "turn_idx").distinct().count() == n


def test_read_extracted_with_no_committed_group_is_empty(spark, tmp_path_factory):
    """An output with no committed group reads as an empty frame with the
    declared schema, not a schema-inference error."""
    got = read_extracted(spark, str(tmp_path_factory.mktemp("out_none")), 2)
    assert got.schema == EXTRACTED_SCHEMA
    assert got.count() == 0
