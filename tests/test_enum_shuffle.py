"""enum_shuffle: role/tool carried as 64-bit codes through every
exchange — string-free shuffle rows (round-4 judge item 7).

The enum output KEEPS the codes (the feature-table contract: BIGINT
role/tool/tool_backfill/prev_role), decoded at read via
``enum_decode`` with ``enum_decode_map``. The decoded table is locked
bit-identical to the string engine here."""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F


def _sorted(df):
    return (
        df.toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def _decoded(coded, src, wide=False):
    """The coded output decoded at read, in its own column order."""
    from astrospectro_spark.engine.windows import enum_decode, enum_decode_map

    return enum_decode(coded, src, enum_decode_map(wide)).select(*coded.columns)


def _assert_bit_equal(got, want):
    assert list(got.columns) == list(want.columns)
    pd.testing.assert_frame_equal(got, want, rtol=0, atol=0)


def test_enum_shuffle_bit_parity_expr(spark, transcripts_sdf):
    from astrospectro_spark.engine.windows import featurize_expr

    want = _sorted(featurize_expr(transcripts_sdf, include_text=False))
    coded = featurize_expr(transcripts_sdf, include_text=False, enum_shuffle=True)
    _assert_bit_equal(_sorted(_decoded(coded, transcripts_sdf)), want)


def test_enum_shuffle_default_keeps_codes_and_decodes_at_read(
    spark, transcripts_sdf
):
    """The feature-table contract: the default enum output carries
    BIGINT codes (no decode joins in the plan), and a read-time
    enum_decode against the source restores bit-parity with the string
    engine."""
    from astrospectro_spark.engine.windows import (
        enum_decode,
        enum_decode_map,
        featurize_expr,
    )

    coded = featurize_expr(transcripts_sdf, include_text=False, enum_shuffle=True)
    types = dict(coded.dtypes)
    assert types["role"] == "bigint"
    assert types["tool"] == "bigint"
    assert types["tool_backfill"] == "bigint"
    plan = coded._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan  # no in-plan decode dims

    want = _sorted(featurize_expr(transcripts_sdf, include_text=False))
    got = _sorted(
        enum_decode(coded, transcripts_sdf, enum_decode_map(wide=False)).select(
            *coded.columns
        )
    )
    pd.testing.assert_frame_equal(got, want, rtol=0, atol=0)


def test_enum_shuffle_bit_parity_salted(spark, transcripts_sdf):
    """Salted path with chunking FORCED ON: cold + hot branches both
    carry codes; decoded at read, the output is bit-identical."""
    from astrospectro_spark.engine.skew import featurize_salted

    want_df = featurize_salted(
        transcripts_sdf, hot_threshold=50, chunk_target_rows=40,
        include_text=False,
    )
    want = _sorted(want_df)
    got_df = featurize_salted(
        transcripts_sdf, hot_threshold=50, chunk_target_rows=40,
        include_text=False, enum_shuffle=True,
    )
    got = _sorted(_decoded(got_df, transcripts_sdf))
    _assert_bit_equal(got, want)


def test_enum_shuffle_handles_null_and_exotic_values(spark):
    """NULL roles stay NULL (no xxhash64(NULL) aliasing); values outside
    the ROLES registry pass through the decode exactly."""
    rows = [
        ("c1", 0, None, None, "2024-01-01 00:00:00"),
        ("c1", 1, "moderator", "weird tool name", "2024-01-01 00:00:30"),
        ("c1", 2, "assistant", None, "2024-01-01 00:01:00"),
        ("c2", 0, "user", "search", "2024-01-01 00:00:00"),
    ]
    df = (
        spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, tool string, s string"
        )
        .withColumn("ts", F.col("s").cast("timestamp_ntz"))
        .withColumn("text", F.lit("x"))
        .drop("s")
    )
    from astrospectro_spark.engine.windows import featurize_expr

    want = _sorted(featurize_expr(df, include_text=False))
    got = _sorted(
        _decoded(featurize_expr(df, include_text=False, enum_shuffle=True), df)
    )
    _assert_bit_equal(got, want)
    r = got.set_index(["conv_id", "turn_idx"])
    assert r.loc[("c1", 0), "role"] is None or pd.isna(r.loc[("c1", 0), "role"])
    assert r.loc[("c1", 1), "role"] == "moderator"
    assert r.loc[("c1", 1), "tool_backfill"] == "weird tool name"
    assert r.loc[("c1", 2), "tool_backfill"] == "weird tool name"


def test_enum_shuffle_exchange_carries_no_strings_but_key(spark, transcripts_sdf):
    """Plan-level lock: in the enum featurize plan, role/tool cross the
    hash exchange as LONG codes (attr suffix ``L`` in the formatted
    explain), never as bare string attributes."""
    import re

    from astrospectro_spark.engine.windows import featurize_expr

    out = featurize_expr(transcripts_sdf, include_text=False, enum_shuffle=True)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    blocks = re.findall(
        r"^\(\d+\) Exchange\n(.*?)(?=^\(\d+\)|\Z)", plan, re.M | re.S
    )
    # the TABLE exchanges partition by conv_id; the decode-dim distinct
    # aggregations legitimately shuffle their own single string column
    # (a handful of rows) and partition by it
    table_blocks = [b for b in blocks if "hashpartitioning(conv_id" in b]
    assert table_blocks, plan
    saw_codes = False
    for block in table_blocks:
        assert not re.search(r"\b(role|tool)#\d+(?![\dL])", block), block
        if re.search(r"\b(role|tool)#\d+L\b", block):
            saw_codes = True
    assert saw_codes, plan


def test_enum_shuffle_rejects_text_variant(spark, transcripts_sdf):
    """enum requires the feature-table contract: the text-carrying
    variant ships the corpus through the exchange anyway, so coding
    role/tool there would be pointless complexity — rejected loudly.
    (The wide tier IS supported since round 5.)"""
    from astrospectro_spark.engine.windows import featurize_expr

    with pytest.raises(ValueError):
        featurize_expr(transcripts_sdf, enum_shuffle=True)  # include_text


def test_enum_shuffle_bit_parity_wide_expr(spark, transcripts_sdf):
    """Wide tier (175 locked columns incl. prev_role strings and
    tool_len string-derived ints): enum path bit-identical."""
    from astrospectro_spark.engine.windows import featurize_expr

    want = _sorted(featurize_expr(transcripts_sdf, include_text=False, wide=True))
    coded = featurize_expr(
        transcripts_sdf, include_text=False, wide=True, enum_shuffle=True
    )
    _assert_bit_equal(_sorted(_decoded(coded, transcripts_sdf, wide=True)), want)


def test_enum_shuffle_bit_parity_wide_salted(spark, transcripts_sdf):
    """Salted wide path with chunking forced on: coded cold+hot
    branches, decoded at read, 175-column bit parity."""
    from astrospectro_spark.engine.skew import featurize_salted

    want_df = featurize_salted(
        transcripts_sdf, hot_threshold=50, chunk_target_rows=40,
        include_text=False, wide=True,
    )
    want = _sorted(want_df)
    got_df = featurize_salted(
        transcripts_sdf, hot_threshold=50, chunk_target_rows=40,
        include_text=False, wide=True, enum_shuffle=True,
    )
    got = _sorted(_decoded(got_df, transcripts_sdf, wide=True))
    _assert_bit_equal(got, want)


def test_enum_shuffle_wide_exchange_carries_no_strings_but_key(
    spark, transcripts_sdf
):
    """The 175-column wide plan's conv_id exchanges carry role/tool/
    prev_role only as longs."""
    import re

    from astrospectro_spark.engine.windows import featurize_expr

    out = featurize_expr(
        transcripts_sdf, include_text=False, wide=True, enum_shuffle=True
    )
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    blocks = re.findall(
        r"^\(\d+\) Exchange\n(.*?)(?=^\(\d+\)|\Z)", plan, re.M | re.S
    )
    table_blocks = [b for b in blocks if "hashpartitioning(conv_id" in b]
    assert table_blocks, plan
    for block in table_blocks:
        assert not re.search(r"\b(role|tool|prev_role)#\d+(?![\dL])", block), block
