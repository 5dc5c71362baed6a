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
