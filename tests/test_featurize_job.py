"""featurize_job's enum-coded output: the code->string dims it writes
decode the feature table back to the string engine's values, and a
code shared by two values fails the job loudly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from .conftest import assert_frames_match


def test_enum_dims_decode_job_output(spark, transcripts_pdf, tmp_path):
    from astrospectro_spark.engine.windows import enum_decode, featurize_expr
    from astrospectro_spark.jobs import featurize_job

    src = str(tmp_path / "turns.parquet")
    out = str(tmp_path / "out")
    spark.createDataFrame(transcripts_pdf).write.parquet(src)
    featurize_job.main(
        ["--input", src, "--output", out, "--buckets", "2", "--enum-shuffle",
         "--hot-threshold", "10", "--chunk-rows", "37"]
    )
    feats = spark.read.parquet(f"{out}/features").drop("bucket")
    assert dict(feats.dtypes)["role"] == "bigint"
    dims = {c: spark.read.parquet(f"{out}/enum_dims/{c}") for c in ("role", "tool")}
    for dim in dims.values():
        assert dim.filter(F.col("code") != F.xxhash64("value")).count() == 0
    decoded = enum_decode(feats, dims["role"], {"role": "value"})
    decoded = enum_decode(decoded, dims["tool"], {"tool": "value", "tool_backfill": "value"})
    want = featurize_expr(spark.read.parquet(src), include_text=False).toPandas()
    assert_frames_match(
        decoded.toPandas(), want, ["conv_id", "ts", "turn_idx"], rtol=0.0, atol=0.0
    )


def test_enum_dim_collision_fails_loudly(spark, tmp_path, monkeypatch):
    """No two real strings are known to share an xxhash64 code, so a
    collision is simulated with a weaker code: the string's length. One
    scan feeds both dims; a collision in either publishes neither."""
    import os

    from astrospectro_spark.jobs.featurize_job import write_enum_dims

    turns = spark.createDataFrame(
        [("ab", "x"), ("cd", "y"), ("e", None), (None, "zz")], "role string, tool string"
    )
    ok = str(tmp_path / "ok")
    assert write_enum_dims(turns, ("role", "tool"), ok) == {"role": 3, "tool": 3}
    assert sorted(os.listdir(ok)) == ["role", "tool"]
    for col in ("role", "tool"):
        dim = spark.read.parquet(f"{ok}/{col}")
        assert dim.dtypes == [("code", "bigint"), ("value", "string")]
        assert dim.filter(F.col("code") != F.xxhash64("value")).count() == 0
    # an all-NULL column still gets a readable, empty dim
    no_tool = turns.select("role", F.lit(None).cast("string").alias("tool"))
    assert write_enum_dims(no_tool, ("role", "tool"), ok) == {"role": 3, "tool": 0}
    assert spark.read.parquet(f"{ok}/tool").dtypes == [("code", "bigint"), ("value", "string")]
    assert spark.read.parquet(f"{ok}/tool").count() == 0
    monkeypatch.setattr(F, "xxhash64", lambda c: F.length(c).cast("long"))
    bad = str(tmp_path / "bad")
    with pytest.raises(Exception, match="enum code collision in 'role': ab and cd share a code"):
        write_enum_dims(turns, ("role", "tool"), bad)
    assert not os.path.exists(bad) or os.listdir(bad) == []
    # the collision is in the second dim only: the first is not published
    only_tool = spark.createDataFrame([("ab", "x"), ("c", "y")], "role string, tool string")
    with pytest.raises(Exception, match="enum code collision in 'tool': x and y share a code"):
        write_enum_dims(only_tool, ("role", "tool"), bad)
    assert not os.path.exists(bad) or os.listdir(bad) == []


def _job_args(spark, transcripts_pdf, anchors_pdf, base):
    src, anchors = str(base / "turns.parquet"), str(base / "anchors.parquet")
    spark.createDataFrame(transcripts_pdf).write.parquet(src)
    spark.createDataFrame(anchors_pdf).write.parquet(anchors)
    out = str(base / "out")
    return out, ["--input", src, "--output", out, "--buckets", "2", "--enum-shuffle",
                 "--anchors", anchors]


def _worker_threads():
    import threading

    return [t for t in threading.enumerate() if t.name.startswith("featurize_job.")]


def _committed(spark, out):
    from astrospectro_spark.engine.lineage import FeatureRun

    return sorted(
        (r.bucket, r.status) for r in FeatureRun(spark, out, n_buckets=2).lineage().collect()
    )


def test_failed_side_output_raises_after_every_branch(
    spark, transcripts_pdf, anchors_pdf, tmp_path, monkeypatch
):
    """A failing as-of write fails the job, but only once every branch
    has ended: the bucket loop committed both buckets, the enum dims
    (held back until the loop is done) are published, no worker thread
    is left and no report is written. A rerun completes."""
    import json
    import os
    import threading

    from astrospectro_spark.engine import asof
    from astrospectro_spark.engine.lineage import FeatureRun
    from astrospectro_spark.jobs import featurize_job

    out, argv = _job_args(spark, transcripts_pdf, anchors_pdf, tmp_path)
    loop_done = threading.Event()
    real_run, real_dims = FeatureRun.run, featurize_job.write_enum_dims

    def run(self, turns, **kw):
        try:
            return real_run(self, turns, **kw)
        finally:
            loop_done.set()

    def late_dims(*a, **kw):
        assert loop_done.wait(120)
        return real_dims(*a, **kw)

    def broken_asof(*a, **kw):
        raise RuntimeError("as-of join failed")

    with monkeypatch.context() as mp:
        mp.setattr(FeatureRun, "run", run)
        mp.setattr(featurize_job, "write_enum_dims", late_dims)
        mp.setattr(asof, "asof_join", broken_asof)
        with pytest.raises(RuntimeError, match="as-of join failed"):
            featurize_job.main(argv)
    assert _worker_threads() == []
    assert not os.path.exists(os.path.join(out, "report.json"))
    assert not os.path.exists(os.path.join(out, "asof"))
    assert _committed(spark, out) == [(0, "committed"), (1, "committed")]
    for col in ("role", "tool"):
        assert os.path.exists(os.path.join(out, "enum_dims", col, "_SUCCESS"))

    assert featurize_job.main(argv) == 0
    assert _worker_threads() == []
    with open(os.path.join(out, "report.json")) as f:
        report = json.load(f)
    assert (report["buckets_skipped"], report["buckets_processed"]) == (2, 0)
    assert report["asof"]["rows"] == len(anchors_pdf)
    assert _committed(spark, out) == [(0, "committed"), (1, "committed")]


def test_resume_with_different_input_rewrites_no_side_output(
    spark, transcripts_pdf, anchors_pdf, tmp_path, monkeypatch
):
    """The input guard runs before the side outputs start: resuming with
    an input of another row count raises and leaves ``asof/`` and
    ``enum_dims/`` as they were (same files, same mtimes)."""
    import os

    from astrospectro_spark.engine.lineage import FeatureRun
    from astrospectro_spark.jobs import featurize_job

    out, argv = _job_args(spark, transcripts_pdf, anchors_pdf, tmp_path)
    # the bucket loop dies after one bucket; the side outputs land
    real_run = FeatureRun.run
    with monkeypatch.context() as mp:
        mp.setattr(FeatureRun, "run", lambda self, turns, **kw: real_run(self, turns, fail_after=1))
        with pytest.raises(RuntimeError, match="injected failure"):
            featurize_job.main(argv)
    assert _worker_threads() == []
    assert _committed(spark, out) == [(0, "committed")]

    def listing():
        got = {}
        for d in ("asof", "enum_dims"):
            for root, dirs, files in os.walk(os.path.join(out, d)):
                for name in dirs + files:
                    path = os.path.join(root, name)
                    got[os.path.relpath(path, out)] = os.stat(path).st_mtime_ns
        return got

    side = listing()
    assert any(p.startswith("asof") for p in side) and any(p.startswith("enum_dims") for p in side)
    fewer = str(tmp_path / "fewer.parquet")
    spark.createDataFrame(transcripts_pdf.iloc[:-7]).write.parquet(fewer)
    with pytest.raises(ValueError, match="resume with a different input"):
        featurize_job.main([fewer if a == argv[1] else a for a in argv])
    assert listing() == side
    assert _worker_threads() == []

    assert featurize_job.main(argv) == 0
    assert _committed(spark, out) == [(0, "committed"), (1, "committed")]
