"""Checkpoint/resume + lineage (SURVEY §5 test 4): kill after stage k,
resume, identical triple set; lineage rows recorded per partition."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from amr_kg_spark.fixtures import synth_transcripts
from amr_kg_spark.lineage import StageRunner, _data_files, partition_row_counts
from amr_kg_spark.pipeline import run_pipeline


def _triple_set(d):
    return {(r.subj, r.pred, r.obj) for r in d["triples"].collect()}


def test_resume_after_partial_run_yields_identical_triples(spark):
    t = synth_transcripts(spark, n_turns=2000, n_convs=50)
    with tempfile.TemporaryDirectory() as w1, tempfile.TemporaryDirectory() as w2:
        full = run_pipeline(spark, t, w1, run_id="full")
        expected = _triple_set(full)

        # simulate a crash: run only the first stages, then "resume"
        partial = StageRunner(spark, w2, run_id="crashed")
        from amr_kg_spark.operators.mentions import detect_mentions
        from amr_kg_spark.operators.triples import cooccurrence_pairs

        partial.run(
            "mentions",
            lambda: detect_mentions(t).select(
                "conv_id", "turn_idx", "text", "mentions"
            ),
        )
        partial.run(
            "pairs",
            lambda: cooccurrence_pairs(
                spark.read.parquet(f"{w2}/stages/mentions")
            ),
        )
        assert partial.is_committed("pairs")
        assert not partial.is_committed("triples")

        resumed = run_pipeline(spark, t, w2, run_id="resumed")
        assert _triple_set(resumed) == expected

        # committed stages were NOT recomputed on resume: lineage for
        # 'mentions'/'pairs' carries only the crashed run's id
        lin = resumed["lineage"].collect()
        by_stage = {}
        for r in lin:
            by_stage.setdefault(r.stage, set()).add(r.run_id)
        assert by_stage["mentions"] == {"crashed"}
        assert by_stage["pairs"] == {"crashed"}
        assert by_stage["triples"] == {"resumed"}


class _Recorder:
    """runner= wrapper that keeps the frame each stage's run() returned."""

    def __init__(self, inner):
        self.inner, self.out = inner, {}

    def run(self, stage, build):
        self.out[stage] = self.inner.run(stage, build)
        return self.out[stage]

    def __getattr__(self, name):
        return getattr(self.inner, name)


def test_lineage_partition_counts_sum_to_rows(spark):
    """For every stage of the canonicalizing pipeline: the footer-derived
    lineage rows sum to the stage's count(), and the schema-pinned
    read-back equals what schema inference reads from the stage dir."""
    t = synth_transcripts(spark, n_turns=1000, n_convs=20)
    with tempfile.TemporaryDirectory() as w:
        rec = _Recorder(StageRunner(spark, w, run_id="r1"))
        d = run_pipeline(spark, t, runner=rec, canonicalize=True)
        got = {
            r.stage: r.total
            for r in d["lineage"].groupBy("stage").agg(F.sum("rows").alias("total")).collect()
        }
        assert set(got) == set(rec.out) and len(got) == 9
        for stage, df in rec.out.items():
            assert got[stage] == df.count(), stage
            inferred = spark.read.parquet(f"{w}/stages/{stage}").schema
            assert df.schema == inferred, stage
        m = {r.stage: r.rows_per_sec for r in d["metrics"].collect()}
        assert all(v is not None for v in m.values())


def test_stage_commit_is_one_spark_job(spark, monkeypatch):
    """A fresh commit launches exactly one Spark job (the stage write);
    building lineage()/metrics() launches none; a crash between the
    lineage temp write and its rename leaves nothing lineage() reads."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()

    def jobs_in(group, fn):
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        bus.waitUntilEmpty()
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    with tempfile.TemporaryDirectory() as w:
        runner = StageRunner(spark, w, run_id="one")
        df, n = jobs_in("commit-one-job", lambda: runner.run(
            "s", lambda: spark.range(0, 1000, 1, 4).selectExpr("id", "id % 7 AS k")
        ))
        assert n == 1
        (lin, _), n = jobs_in("lineage-reads", lambda: (runner.lineage(), runner.metrics()))
        assert n == 0
        assert {(r.partition_id, r.rows) for r in lin.collect()} == {
            (p, 250) for p in range(4)
        }
        assert df.count() == 1000

        def crash(src, dst):
            raise OSError("crash before the lineage rename")

        with monkeypatch.context() as m:
            m.setattr(os, "replace", crash)
            with pytest.raises(OSError, match="lineage rename"):
                runner.run("t", lambda: spark.range(0, 10))
        assert any(f.startswith(".") for f in os.listdir(f"{w}/lineage"))
        assert {r.stage: r.rows for r in runner.metrics().collect()} == {"s": 1000}


def test_partition_row_counts_rejects_misnamed_file(spark):
    """Footer counting never skips a data file it cannot attribute to a
    write task: a file in a committed dir not named part-<int>-... raises,
    naming the file."""
    with tempfile.TemporaryDirectory() as w:
        out = f"{w}/out"
        spark.range(0, 100, 1, 2).write.parquet(out)
        assert partition_row_counts(_data_files(out)) == {0: 50, 1: 50}
        shutil.copy(_data_files(out)[0], f"{out}/misnamed.parquet")
        with pytest.raises(ValueError, match="misnamed.parquet"):
            partition_row_counts(_data_files(out))


def test_pipeline_with_canonicalization_stage(spark):
    t = synth_transcripts(spark, n_turns=600, n_convs=15)
    with tempfile.TemporaryDirectory() as w:
        d = run_pipeline(spark, t, w, run_id="canon", canonicalize=True)
        # clean vocabulary -> canonicalization is an identity pass
        assert d["nodes"].count() > 0
        assert {"canonical_id", "label", "name", "curie", "props", "merged_from"} <= set(
            d["nodes"].columns
        )
        assert d["nodes"].filter("merged_from > 1").count() == 0
        assert d["edges"].count() > 0


def test_catalog_runner_resume_and_partition_overwrite(spark):
    """S5 on the session catalog: commit-log resume semantics, crash-before-
    commit recovery, and idempotent overwrite-by-partition with version
    bumps (the Iceberg snapshot protocol on the sandbox catalog)."""
    import pyspark.sql.functions as F

    from amr_kg_spark.lineage import CatalogStageRunner

    t = synth_transcripts(spark, n_turns=800, n_convs=10)
    db = "amr_stages_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    with tempfile.TemporaryDirectory() as loc:
        runner = CatalogStageRunner(spark, database=db, run_id="r1", location=loc)

        calls = {"n": 0}

        def build():
            calls["n"] += 1
            return t.withColumn("part", (F.col("turn_idx") % 3).cast("int"))

        out1 = runner.run("turns", build, partition_by=["part"])
        n1 = out1.count()
        assert calls["n"] == 1 and runner.is_committed("turns")
        assert runner.committed_version("turns") == 1

        # resume: committed stage read back, never recomputed
        out2 = runner.run("turns", build, partition_by=["part"])
        assert calls["n"] == 1 and out2.count() == n1

        # crash-before-commit: data written, no commit row -> the stage is
        # NOT committed; a resumed run recomputes idempotently (partition
        # overwrite replaces, never appends)
        crashed = CatalogStageRunner(
            spark, database=db, run_id="crash", location=loc
        )
        assert crashed.is_committed("uncommitted_stage") is False
        build().write.mode("overwrite").format("parquet").saveAsTable(
            f"{db}.orphan"
        )
        calls["n"] -= 1  # that write was the simulated crash, not a build
        assert spark.catalog.tableExists(f"{db}.orphan")
        assert not crashed.is_committed("orphan"), (
            "table existence must never imply committed"
        )

        # force: re-materialize a committed stage as a NEW version; dynamic
        # partition overwrite keeps the row count stable (no duplicates)
        out3 = runner.run("turns", build, partition_by=["part"], force=True)
        assert calls["n"] == 2
        assert out3.count() == n1, "partition overwrite must not duplicate rows"
        assert runner.committed_version("turns") == 2

        # lineage rows carry the snapshot version they audited
        lin = runner.lineage()
        vers = {r.version for r in lin.filter(F.col("stage") == "turns").collect()}
        assert vers == {1, 2}
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_catalog_runner_column_order_and_orphan_lineage(spark):
    """Round-4 audit fixes:

    1. insertInto matches columns by POSITION and saveAsTable(partitionBy)
       moves the partition column to the END of the table schema — a
       build() whose partition column is NOT last must still land aligned
       on the force/resume path (name-based realignment in run()).
    2. lineage rows are appended before the commit row; a crash between
       the two leaves orphan audit rows tagged with a version the
       recovery re-run mints again — lineage()/metrics() must not see
       them (commit-gated semi-join)."""
    import tempfile

    import pyspark.sql.functions as F

    from amr_kg_spark.lineage import CatalogStageRunner

    db = "amr_stages_order_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    with tempfile.TemporaryDirectory() as loc:
        runner = CatalogStageRunner(spark, database=db, run_id="r1", location=loc)

        # partition column 'part' FIRST, a value column after it
        def build():
            return spark.range(0, 30).select(
                (F.col("id") % 3).cast("int").alias("part"),
                (F.col("id") * 10).alias("val"),
            )

        out1 = runner.run("ordered", build, partition_by=["part"])
        expect = {(r.part, r.val) for r in build().collect()}
        assert {(r.part, r.val) for r in out1.collect()} == expect

        # force re-run takes the insertInto path: values must stay aligned
        # (positional insert would write val into part and vice versa)
        out2 = runner.run("ordered", build, partition_by=["part"], force=True)
        assert {(r.part, r.val) for r in out2.collect()} == expect
        assert runner.committed_version("ordered") == 2

        # orphan lineage: simulate the crash window by appending audit rows
        # for a version that never got its commit row
        orphan = spark.createDataFrame(
            [("ghost", "ordered", 7, 999, 1, 3)],
            "run_id string, stage string, partition_id int, rows long,"
            " wall_ms long, version long",
        ).select(  # match the lineage table column order
            "run_id", "stage", "partition_id", "rows", "wall_ms", "version"
        )
        orphan.write.mode("append").format("parquet").saveAsTable(
            runner._lineage()
        )
        lin = runner.lineage()
        assert lin.filter("run_id = 'ghost'").count() == 0, (
            "uncommitted audit rows must be invisible"
        )
        m = {r.stage: r.rows for r in runner.metrics().collect()}
        assert m["ordered"] == 30, "metrics must not double-count versions"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
