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


def test_resume_with_changed_content_fails_audit(
    spark, transcripts_pdf, transcripts_sdf, tmp_path, monkeypatch
):
    """A resume input with the same row count but one changed ``text``
    in a committed bucket passes the row-count guard; the opt-in content
    audit names that bucket, in one grouped pass for all committed
    buckets: the jobs of one ``_bucket_checksums`` call (under adaptive
    execution its shuffle-map stage is a job of its own), not a pass per
    bucket."""
    from astrospectro_spark.engine.lineage import _bucket_checksums, bucketize

    out = str(tmp_path / "x")
    with pytest.raises(RuntimeError, match="injected failure"):
        FeatureRun(spark, out, n_buckets=4, run_id="a").run(transcripts_sdf, fail_after=2)
    resume = FeatureRun(spark, out, n_buckets=4, run_id="b")
    done = resume.committed_buckets()
    assert len(done) == 2

    buckets = bucketize(transcripts_sdf, 4).select("_bucket").toPandas()["_bucket"]
    row = int(buckets[buckets.isin(done)].index[0])
    changed = transcripts_pdf.copy()
    changed.loc[row, "text"] = f"{changed.loc[row, 'text']} (edited)"
    b = int(buckets[row])

    changed = spark.createDataFrame(changed)

    sc = spark.sparkContext
    tracker, bus = sc.statusTracker(), sc._jsc.sc().listenerBus()

    def jobs_of(fn, *args):
        bus.waitUntilEmpty()  # the tracker is fed by the listener bus
        before = set(tracker.getJobIdsForGroup())
        try:
            return fn(*args)
        finally:
            bus.waitUntilEmpty()
            jobs.append(len(set(tracker.getJobIdsForGroup()) - before))

    jobs = []
    jobs_of(_bucket_checksums, bucketize(changed, 4), sorted(done))
    real = FeatureRun._verify_committed
    monkeypatch.setattr(
        FeatureRun, "_verify_committed", lambda self, *a: jobs_of(real, self, *a)
    )
    with pytest.raises(ValueError, match=rf"bucket {b}: input content changed since commit"):
        resume.run(changed, verify_input=True)
    one_pass, audit = jobs
    assert 1 <= audit == one_pass <= 2
    assert resume.committed_buckets() == done


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


def _salted_hot(df):
    from astrospectro_spark.engine.skew import featurize_salted

    return featurize_salted(df, hot_threshold=50, chunk_target_rows=64)


@pytest.mark.parametrize(
    "featurizer, n_convs, n_buckets",
    [
        pytest.param(_salted_hot, None, 2, id="salted-hot"),
        pytest.param(featurize_expr, None, 2, id="plain"),
        pytest.param(lambda df: featurize_expr(df, wide=True), None, 2, id="wide"),
        # two conversations over four buckets leave at least two empty
        pytest.param(featurize_expr, 2, 4, id="empty"),
    ],
)
def test_observed_checksums_equal_read_back(
    spark, transcripts_sdf, tmp_path, monkeypatch, featurizer, n_convs, n_buckets
):
    """The lineage's (n_rows, checksum) is observed on the feature write
    and (input_rows, input_checksum) on the stage write, through the
    stage fingerprint; both equal a read-back checksum, in the crash
    half and the resume. Staging reads nothing back, and the fingerprint
    lists exactly the non-empty buckets."""
    import json
    import os

    from pyspark.sql import functions as F

    from astrospectro_spark.engine import lineage
    from astrospectro_spark.engine.lineage import _checksum

    turns = transcripts_sdf
    if n_convs:
        turns = turns.where(F.col("conv_id").isin([f"conv-{i:08d}" for i in range(n_convs)]))
    out = str(tmp_path / "x")

    def no_pass(*a, **kw):
        raise AssertionError("staging must not read the staged copy back")

    with monkeypatch.context() as mp:
        mp.setattr(lineage, "_checksum", no_pass)
        mp.setattr(lineage, "_bucket_checksums", no_pass)
        with pytest.raises(RuntimeError, match="injected failure"):
            FeatureRun(spark, out, n_buckets=n_buckets, featurizer=featurizer).run(
                turns, fail_after=1
            )
    r = FeatureRun(spark, out, n_buckets=n_buckets, featurizer=featurizer, run_id="r2")
    stats = r.run(turns)
    assert stats["buckets_processed"] == n_buckets - 1

    staged = spark.read.parquet(r.stage_dir)
    with open(r.fingerprint_path) as f:
        fingerprint = json.load(f)
    lin = {row.bucket: row for row in r.lineage().collect()}
    assert sorted(lin) == list(range(n_buckets))
    sizes = []
    for b, row in lin.items():
        staged_in = _checksum(staged.filter(F.col("_bucket") == b).drop("_bucket"))
        assert (row.input_rows, row.input_checksum) == staged_in
        assert tuple(fingerprint["buckets"].get(str(b), (0, 0))) == staged_in
        written = _checksum(spark.read.parquet(os.path.join(r.data_dir, f"bucket={b}")))
        assert (row.n_rows, row.checksum) == written
        sizes.append(row.n_rows)
    assert fingerprint["input_rows"] == turns.count() == sum(sizes)
    assert sorted(fingerprint["buckets"]) == sorted(
        str(b) for b, row in lin.items() if row.input_rows
    )
    if n_convs:
        assert sizes.count(0) >= n_buckets - n_convs
    # the run's own records are those of its lineage rows
    assert len(r.records) == stats["buckets_processed"]
    for rec in r.records:
        row = lin[rec["bucket"]]
        assert (rec["rows_in"], rec["checksum_in"], rec["rows_out"], rec["checksum_out"]) == (
            row.input_rows, row.input_checksum, row.n_rows, row.checksum
        )


def test_input_checksums_without_fingerprint_sums(spark, transcripts_sdf, tmp_path):
    """A stage fingerprint without the per-bucket sums is incomplete, so
    the resume rewrites the stage and its fingerprint; a pre-bucketed
    input gets the input checksums from one grouped pass over the
    pending buckets. Both equal the per-bucket checksum."""
    import json

    from pyspark.sql import functions as F

    from astrospectro_spark.engine.lineage import _checksum, bucketize

    out = str(tmp_path / "old")
    with pytest.raises(RuntimeError, match="injected failure"):
        FeatureRun(spark, out, n_buckets=3).run(transcripts_sdf, fail_after=1)
    r = FeatureRun(spark, out, n_buckets=3, run_id="r2")
    with open(r.fingerprint_path) as f:
        n = json.load(f)["input_rows"]
    with open(r.fingerprint_path, "w") as f:
        json.dump({"input_rows": n}, f)
    assert r.run(transcripts_sdf)["buckets_processed"] == 2

    src = str(tmp_path / "pre")
    bucketize(transcripts_sdf, 3).write.partitionBy("_bucket").parquet(src)
    pre = spark.read.parquet(src)
    p = FeatureRun(spark, str(tmp_path / "p"), n_buckets=3)
    p.run(pre)

    staged = spark.read.parquet(r.stage_dir)
    for run, src_df in ((r, staged), (p, pre)):
        for row in run.lineage().collect():
            part = src_df.filter(F.col("_bucket") == row.bucket).drop("_bucket")
            assert (row.input_rows, row.input_checksum) == _checksum(part)


def test_torn_fingerprint_restages(spark, transcripts_sdf, tmp_path, monkeypatch):
    """A run killed while it writes the stage fingerprint leaves no
    fingerprint behind, so the resume writes the stage again and records
    the same lineage as an uninterrupted run."""
    import json

    from astrospectro_spark.engine import lineage

    def torn_dump(obj, f, **kw):
        text = json.dumps(obj)
        f.write(text[: len(text) // 2])
        raise RuntimeError("killed mid-dump")

    out = str(tmp_path / "torn")
    with monkeypatch.context() as mp:
        mp.setattr(lineage.json, "dump", torn_dump)
        with pytest.raises(RuntimeError, match="killed mid-dump"):
            FeatureRun(spark, out, n_buckets=3).run(transcripts_sdf)
    r = FeatureRun(spark, out, n_buckets=3, run_id="r2")
    assert r.run(transcripts_sdf)["buckets_processed"] == 3
    ref = FeatureRun(spark, str(tmp_path / "ref"), n_buckets=3, run_id="r2")
    ref.run(transcripts_sdf)

    def records(run):
        return sorted(tuple(row) for row in run.lineage().collect())

    assert records(r) == records(ref)
    with open(r.fingerprint_path) as f:
        assert json.load(f)["input_rows"] == transcripts_sdf.count()


@pytest.fixture(scope="module")
def job_resume(spark, transcripts_pdf, anchors_pdf, tmp_path_factory):
    """featurize_job.main resuming a run killed after 1 of 2 buckets,
    with the salted hot path, enum dims and the as-of join.

    The outputs are written concurrently, so jobs are told apart by job
    group: each observed write moves its own thread's jobs, from then
    on, into a group named after its path (local properties are per
    thread). Records each group's jobs when its write returns and when
    main returns, and every job of the resume."""
    from astrospectro_spark.engine import lineage
    from astrospectro_spark.engine.skew import featurize_salted
    from astrospectro_spark.jobs import featurize_job

    base = tmp_path_factory.mktemp("job_resume")
    src, anchors, out = str(base / "turns"), str(base / "anchors"), str(base / "out")
    spark.createDataFrame(transcripts_pdf).write.parquet(src)
    spark.createDataFrame(anchors_pdf).write.parquet(anchors)
    hot, chunk = 500, 200

    def featurizer(df):
        return featurize_salted(
            df, hot_threshold=hot, chunk_target_rows=chunk, include_text=False, enum_shuffle=True
        )

    with pytest.raises(RuntimeError, match="injected failure"):
        FeatureRun(spark, out, n_buckets=2, featurizer=featurizer).run(
            spark.read.parquet(src), fail_after=1
        )

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()

    def jobs(group=None):
        bus.waitUntilEmpty()  # the tracker is fed by the listener bus
        return set(tracker.getJobIdsForGroup(group))

    at_write = {}
    real_write = lineage.write_observed

    def write_observed(df, path, *aggs, **kw):
        sc.setLocalProperty("spark.jobGroup.id", path)
        got = real_write(df, path, *aggs, **kw)
        at_write[path] = jobs(path)
        return got

    def no_pass(*a, **kw):
        raise AssertionError("a resume bucket commit must not run a separate checksum pass")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(lineage, "write_observed", write_observed)
        mp.setattr(lineage, "_checksum", no_pass)
        mp.setattr(lineage, "_bucket_checksums", no_pass)
        before = jobs()
        try:
            featurize_job.main(
                ["--input", src, "--output", out, "--buckets", "2", "--enum-shuffle",
                 "--hot-threshold", str(hot), "--chunk-rows", str(chunk), "--anchors", anchors]
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    at_end = {path: jobs(path) for path in at_write}
    every = (jobs() - before).union(*at_end.values())
    return {"out": out, "at_write": at_write, "at_end": at_end, "jobs": every}


def test_featurize_job_resume_job_budget(job_resume):
    """The resume commits its bucket in one pass: no input-checksum pass
    (the fixture fails on one), and after each write its branch runs no
    job but the bucket's lineage append — no read-back. The report is
    written on the bucket loop's thread, after its branches are joined,
    so a job it ran would count in that branch too."""
    import os

    out = job_resume["out"]
    bucket = os.path.join(out, "features", "bucket=1")
    at_write, at_end = job_resume["at_write"], job_resume["at_end"]
    assert sorted(at_write) == sorted(
        [bucket, os.path.join(out, "enum_dims", "_writing"), f"{out}/asof"]
    )
    after_write = {path: len(at_end[path] - at_write[path]) for path in at_write}
    assert after_write == {path: int(path == bucket) for path in at_write}
    assert len(job_resume["jobs"]) <= 16


def test_featurize_job_report(spark, job_resume, transcripts_pdf, anchors_pdf):
    """report.json holds the lineage records of the processed bucket,
    the enum dim sizes and the as-of match counts of the pandas oracle."""
    import json
    import os

    from astrospectro_spark.oracle.pandas_oracle import oracle_asof

    out = job_resume["out"]
    with open(os.path.join(out, "report.json")) as f:
        report = json.load(f)
    assert report["buckets_skipped"] == 1 and report["buckets_processed"] == 1
    lin = {row.bucket: row for row in FeatureRun(spark, out, n_buckets=2).lineage().collect()}
    assert [rec["bucket"] for rec in report["buckets"]] == [b for b in lin if b != 0] == [1]
    for rec in report["buckets"]:
        row = lin[rec["bucket"]]
        assert (rec["rows_in"], rec["checksum_in"], rec["rows_out"], rec["checksum_out"]) == (
            row.input_rows, row.input_checksum, row.n_rows, row.checksum
        )
        assert rec["wall_s"] > 0
    for col in ("role", "tool"):
        assert report["enum_dims"][col] == spark.read.parquet(f"{out}/enum_dims/{col}").count()
        assert report["enum_dims"][col] == transcripts_pdf[col].nunique()
    want = oracle_asof(
        transcripts_pdf, anchors_pdf, value_cols=["turn_idx", "ts"], tolerance_col="tolerance_s"
    )
    matched = int(want["asof_turn_idx"].notna().sum())
    assert report["asof"] == {
        "rows": len(anchors_pdf),
        "matched": matched,
        "match_frac": matched / len(anchors_pdf),
    }
