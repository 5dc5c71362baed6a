"""Resume audit (SURVEY.md §5): kill after partial commit, resume,
verify committed buckets are NOT recomputed and the final table equals
the uninterrupted run — mirrors the reference's pending-session
checkpoint (src/pipeline/master.py:675-760)."""

from __future__ import annotations

import tempfile

import pytest

from astrospectro_spark.engine.lineage import FeatureRun
from astrospectro_spark.engine.windows import featurize_expr

from .conftest import assert_frames_match

SORT = ["conv_id", "ts", "turn_idx"]


def test_kill_and_resume(spark, transcripts_sdf):
    with tempfile.TemporaryDirectory() as base:
        # uninterrupted reference run
        ref = FeatureRun(spark, f"{base}/ref", n_buckets=8, run_id="ref")
        stats = ref.run(transcripts_sdf)
        assert stats["buckets_processed"] == 8

        # killed mid-run after 4 bucket commits
        killed = FeatureRun(spark, f"{base}/killed", n_buckets=8, run_id="r1")
        with pytest.raises(RuntimeError, match="injected failure"):
            killed.run(transcripts_sdf, fail_after=4)
        assert len(killed.committed_buckets()) == 4

        # the staged copy survives the kill and is NOT rewritten on
        # resume (single input scan across the whole run+resume)
        import os

        marker = os.path.join(killed.stage_dir, "_SUCCESS")
        stage_mtime = os.path.getmtime(marker)

        # resume: only the remaining 4 buckets run
        resume = FeatureRun(spark, f"{base}/killed", n_buckets=8, run_id="r2")
        stats2 = resume.run(transcripts_sdf)
        assert stats2["buckets_skipped"] == 4
        assert stats2["buckets_processed"] == 4
        assert os.path.getmtime(marker) == stage_mtime

        # exactly one lineage record per bucket → zero recompute
        lin = resume.lineage().toPandas()
        assert sorted(lin["bucket"]) == list(range(8))
        assert (lin["status"] == "committed").all()
        # first 4 commits carry the pre-kill run_id (not recomputed)
        assert (lin["run_id"] == "r1").sum() == 4

        # final output identical to the uninterrupted run
        assert_frames_match(
            resume.result().toPandas(), ref.result().toPandas(), SORT, rtol=0, atol=0
        )
        # per-bucket checksums match across independent runs
        ref_sums = ref.lineage().toPandas().set_index("bucket")["checksum"].to_dict()
        res_sums = lin.set_index("bucket")["checksum"].to_dict()
        assert ref_sums == res_sums


def test_rerun_is_noop(spark, transcripts_sdf):
    with tempfile.TemporaryDirectory() as base:
        r = FeatureRun(spark, f"{base}/x", n_buckets=4)
        r.run(transcripts_sdf)
        again = FeatureRun(spark, f"{base}/x", n_buckets=4)
        stats = again.run(transcripts_sdf)
        assert stats["buckets_processed"] == 0
        assert stats["buckets_skipped"] == 4


def test_bucket_reads_are_partition_pruned(spark, transcripts_sdf):
    """The per-bucket read must be a partition-pruned directory scan of
    the staged copy — the raw input is scanned exactly once (the stage
    write), never once per bucket."""
    with tempfile.TemporaryDirectory() as base:
        r = FeatureRun(spark, f"{base}/p", n_buckets=4)
        staged = r._stage(transcripts_sdf)
        from pyspark.sql import functions as F

        plan = (
            staged.filter(F.col("_bucket") == 2)
            .drop("_bucket")
            ._jdf.queryExecution()
            .explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        )
        assert "PartitionFilters" in plan and "_bucket" in plan.split("PartitionFilters", 1)[1].split("\n", 1)[0]
        # and staging is idempotent: a second call reuses the marker
        import os

        m = os.path.getmtime(os.path.join(r.stage_dir, "_SUCCESS"))
        r._stage(transcripts_sdf)
        assert os.path.getmtime(os.path.join(r.stage_dir, "_SUCCESS")) == m


def test_prebucketed_input_skips_staging(spark, transcripts_sdf):
    """An input already laid out by bucket (bucketize + partitionBy)
    must be consumed directly: NO staging copy is written (zero extra
    write+read at 100 TB), per-bucket reads partition-prune the source
    layout, and kill-and-resume stays green."""
    import os

    from pyspark.sql import functions as F

    from astrospectro_spark.engine.lineage import bucketize

    with tempfile.TemporaryDirectory() as base:
        src = f"{base}/prebucketed"
        bucketize(transcripts_sdf, 4).write.partitionBy("_bucket").parquet(src)
        pre = spark.read.parquet(src)

        r = FeatureRun(spark, f"{base}/out", n_buckets=4, run_id="p1")
        with pytest.raises(RuntimeError, match="injected failure"):
            r.run(pre, fail_after=2)
        assert not os.path.exists(r.stage_dir)  # staging skipped

        resume = FeatureRun(spark, f"{base}/out", n_buckets=4, run_id="p2")
        stats = resume.run(pre)
        assert stats["buckets_skipped"] == 2 and stats["buckets_processed"] == 2
        assert not os.path.exists(resume.stage_dir)

        # the per-bucket read prunes the SOURCE partition layout
        plan = (
            pre.filter(F.col("_bucket") == 1)
            ._jdf.queryExecution()
            .explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        )
        assert "PartitionFilters" in plan
        assert "_bucket" in plan.split("PartitionFilters", 1)[1].split("\n", 1)[0]

        plain = featurize_expr(transcripts_sdf).toPandas()
        assert_frames_match(resume.result().toPandas(), plain, SORT, rtol=0, atol=0)


def test_resume_with_different_input_fails_loudly(spark, transcripts_sdf):
    """Resuming against a staged snapshot with a DIFFERENT input must
    raise instead of silently emitting buckets from two inputs."""
    with tempfile.TemporaryDirectory() as base:
        r = FeatureRun(spark, f"{base}/x", n_buckets=4, run_id="a")
        with pytest.raises(RuntimeError, match="injected failure"):
            r.run(transcripts_sdf, fail_after=1)

        other = transcripts_sdf.limit(50)
        resume = FeatureRun(spark, f"{base}/x", n_buckets=4, run_id="b")
        with pytest.raises(ValueError, match="different input"):
            resume.run(other)

        # same input resumes fine, including the opt-in content audit
        stats = resume.run(transcripts_sdf, verify_input=True)
        assert stats["buckets_processed"] == 3


def test_featurizer_is_pluggable(spark, transcripts_sdf):
    from astrospectro_spark.engine.skew import featurize_salted

    with tempfile.TemporaryDirectory() as base:
        r = FeatureRun(
            spark,
            f"{base}/s",
            n_buckets=2,
            featurizer=lambda df: featurize_salted(df, hot_threshold=50, chunk_target_rows=64),
        )
        r.run(transcripts_sdf)
        plain = featurize_expr(transcripts_sdf).toPandas()
        assert_frames_match(r.result().toPandas(), plain, SORT, rtol=0, atol=0)


def test_lineage_holds_one_file_per_bucket(spark, transcripts_sdf):
    """Each bucket commit appends its lineage record as one parquet
    file, not one file per default-parallelism slice."""
    import os

    with tempfile.TemporaryDirectory() as base:
        r = FeatureRun(spark, f"{base}/x", n_buckets=3)
        r.run(transcripts_sdf)
        files = [f for f in os.listdir(r.lineage_dir) if f.endswith(".parquet")]
        assert len(files) == len(r.committed_buckets()) == 3


def test_fresh_dir_ledger_check_runs_no_spark_job(spark, tmp_path):
    """On a new output dir there is no ledger to read: committed_buckets
    answers from the filesystem without starting a Spark job."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    assert FeatureRun(spark, str(tmp_path / "fresh"), n_buckets=2).committed_buckets() == set()
    assert set(tracker.getJobIdsForGroup()) == before
