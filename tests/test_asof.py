"""As-of correctness properties (SURVEY.md §5): boundary inclusion,
turn_idx tie-breaking, empty-lookback NULLs, tolerance nulling —
mirrors the best-match-per-objid semantics of the reference
(src/tools/gaia_crossmatcher.py:735-744)."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from astrospectro_spark.engine.asof import asof_join, asof_join_grouped
from astrospectro_spark.oracle import oracle_asof

from .conftest import assert_frames_match

ASOF_COLS = ["asof_turn_idx", "asof_role", "asof_text", "asof_tool", "asof_ts"]


@pytest.fixture(scope="module", params=["window", "grouped"])
def asof_impl(request):
    return {"window": asof_join, "grouped": asof_join_grouped}[request.param]


def test_asof_matches_oracle(asof_impl, spark, transcripts_sdf, anchors_sdf, transcripts_pdf, anchors_pdf):
    got = asof_impl(transcripts_sdf, anchors_sdf, tolerance_col="tolerance_s").toPandas()
    want = oracle_asof(transcripts_pdf, anchors_pdf, tolerance_col="tolerance_s")
    assert_frames_match(
        got[["anchor_id"] + ASOF_COLS], want[["anchor_id"] + ASOF_COLS], ["anchor_id"]
    )


def _mk(spark, turns_rows, anchor_rows):
    turns = pd.DataFrame(
        turns_rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    anchors = pd.DataFrame(anchor_rows, columns=["conv_id", "anchor_id", "anchor_ts"])
    return spark.createDataFrame(turns), spark.createDataFrame(anchors)


T = lambda s: dt.datetime(2025, 1, 1, 0, 0, s)  # noqa: E731


def test_boundary_ts_equal_is_included(asof_impl, spark):
    t, a = _mk(
        spark,
        [("c", 0, "user", "a", None, T(10)), ("c", 1, "assistant", "b", None, T(20))],
        [("c", 0, T(20))],
    )
    out = asof_impl(t, a).toPandas()
    assert out["asof_turn_idx"].iloc[0] == 1  # ts == anchor_ts → included


def test_duplicate_ts_tiebreak_takes_max_turn_idx(asof_impl, spark):
    t, a = _mk(
        spark,
        [
            ("c", 0, "user", "a", None, T(10)),
            ("c", 1, "assistant", "b", None, T(10)),
            ("c", 2, "user", "c", None, T(10)),
        ],
        [("c", 0, T(10)), ("c", 1, T(15))],
    )
    out = asof_impl(t, a).toPandas().sort_values("anchor_id")
    assert list(out["asof_turn_idx"]) == [2, 2]


def test_before_first_turn_gives_nulls(asof_impl, spark):
    t, a = _mk(
        spark,
        [("c", 0, "user", "a", None, T(10))],
        [("c", 0, T(5))],
    )
    out = asof_impl(t, a).toPandas()
    assert out["asof_turn_idx"].isna().all()


def test_unmatched_conv_id_gives_null_row(asof_impl, spark):
    t, a = _mk(
        spark,
        [("c", 0, "user", "a", None, T(10))],
        [("nope", 0, T(50))],
    )
    out = asof_impl(t, a).toPandas()
    assert len(out) == 1 and out["asof_turn_idx"].isna().all()


def test_tolerance_nulls_stale_matches(asof_impl, spark):
    turns = pd.DataFrame(
        [("c", 0, "user", "a", None, T(0))],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )
    anchors = pd.DataFrame(
        [("c", 0, T(30), 10), ("c", 1, T(30), 60)],
        columns=["conv_id", "anchor_id", "anchor_ts", "tolerance_s"],
    )
    out = (
        asof_impl(
            spark.createDataFrame(turns),
            spark.createDataFrame(anchors),
            tolerance_col="tolerance_s",
        )
        .toPandas()
        .sort_values("anchor_id")
    )
    assert out["asof_turn_idx"].isna().iloc[0]  # 30s gap > 10s tolerance
    assert out["asof_turn_idx"].iloc[1] == 0  # 30s gap <= 60s tolerance


def test_fractional_tolerance_is_not_truncated(asof_impl, spark):
    """A tolerance in fractional seconds keeps a match 0.3 s old under
    0.5 s and nulls it under 0.2 s."""
    turns = pd.DataFrame(
        [("c", 0, "user", "a", None, T(10) - dt.timedelta(milliseconds=300))],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )
    anchors = pd.DataFrame(
        [("c", 0, T(10), 0.5), ("c", 1, T(10), 0.2)],
        columns=["conv_id", "anchor_id", "anchor_ts", "tolerance_s"],
    )
    out = (
        asof_impl(
            spark.createDataFrame(turns),
            spark.createDataFrame(anchors),
            tolerance_col="tolerance_s",
        )
        .toPandas()
        .sort_values("anchor_id")
    )
    assert out["asof_turn_idx"].iloc[0] == 0  # 0.3 s gap <= 0.5 s
    assert out["asof_turn_idx"].isna().iloc[1]  # 0.3 s gap > 0.2 s
