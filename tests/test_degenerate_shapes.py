"""Hand-crafted degenerate conversation shapes through every featurize
path vs the pandas oracle.

The synthetic generator injects *random* singles and duplicate-ts pairs,
but some conventions can only be pinned with deterministic inputs:

- a gap of EXACTLY ``SESSION_GAP_S`` (1800.0 s) must NOT open a new
  session (both engine and oracle use strict ``>``), while 1 µs over
  must — a float-comparison drift here would silently shift every
  downstream SESS-family feature;
- a conversation whose turns all share one timestamp (every gap 0,
  ordering carried entirely by ``turn_idx``);
- empty-string text (``text_len = 0``) and empty-string tool, which are
  distinct from NULL under the cum-count and backfill semantics;
- timestamps at the far edges of the synthetic range.

Reference analog: the edge-spectra regression set in
``/root/reference/src/tools/check_pipeline.py`` (degenerate FITS:
single-pixel, constant-flux, saturated) — same idea, transcript domain.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from astrospectro_spark.engine.featurize import featurize_grouped
from astrospectro_spark.engine.skew import featurize_salted
from astrospectro_spark.engine.windows import (
    FEATURE_COLS,
    KEY_COLS,
    SESSION_GAP_S,
    WIDE_FEATURE_COLS,
    featurize_expr,
)
from astrospectro_spark.oracle import oracle_features

from .conftest import assert_frames_match

SORT = ["conv_id", "ts", "turn_idx"]
_T0 = np.datetime64("2024-01-01T00:00:00", "us")


def _mk(conv_id: str, offsets_us: list[int], roles: list[str],
        texts: list[str], tools: list[str | None]) -> pd.DataFrame:
    n = len(offsets_us)
    return pd.DataFrame(
        {
            "conv_id": pd.array([conv_id] * n, dtype="string"),
            "turn_idx": np.arange(n, dtype=np.int32),
            "role": pd.array(roles, dtype="string"),
            "text": pd.array(texts, dtype="string"),
            "tool": pd.array(tools, dtype="string"),
            "ts": _T0 + np.asarray(offsets_us, dtype=np.int64).astype("timedelta64[us]"),
        }
    )


GAP_US = int(SESSION_GAP_S * 1_000_000)  # 1_800_000_000


@pytest.fixture(scope="module")
def degenerate_pdf() -> pd.DataFrame:
    frames = [
        # one-turn conversation: every lag/roll/rate must degrade cleanly
        _mk("deg-single", [0], ["user"], ["only turn"], [None]),
        # all five turns share ONE timestamp: ordering is turn_idx alone
        _mk(
            "deg-tied",
            [0, 0, 0, 0, 0],
            ["system", "user", "assistant", "tool", "assistant"],
            ["a", "bb", "ccc", "dddd", "eeeee"],
            [None, None, "search", "search", None],
        ),
        # session boundary law: exactly 1800.0 s stays in-session;
        # 1800.000001 s opens a new one; 1799.999999 s stays.
        _mk(
            "deg-boundary",
            [0, GAP_US, 2 * GAP_US + 1, 4 * GAP_US, 6 * GAP_US - 1],
            ["user", "assistant", "user", "assistant", "user"],
            ["t0", "t1", "t2", "t3", "t4"],
            [None, "exec", None, "exec", None],
        ),
        # empty strings are NOT nulls: text_len 0, tool "" participates
        # in backfill/count semantics differently from NULL
        _mk(
            "deg-empty",
            [0, 10_000_000, 20_000_000, 30_000_000],
            ["user", "assistant", "user", "assistant"],
            ["", "  ", "", "x"],
            [None, "", None, "exec"],
        ),
        # far edges of the synthetic timestamp range, one huge gap
        _mk(
            "deg-extreme",
            [0, 1, 365 * 86_400_000_000],
            ["user", "assistant", "user"],
            ["start", "fast reply", "one year later"],
            [None, None, None],
        ),
    ]
    pdf = pd.concat(frames, ignore_index=True)
    # shuffle: the engine must not rely on input order
    return pdf.sample(frac=1.0, random_state=7).reset_index(drop=True)


@pytest.fixture(scope="module")
def degenerate_sdf(spark, degenerate_pdf):
    return spark.createDataFrame(degenerate_pdf)


def test_expr_matches_oracle_on_degenerates(spark, degenerate_sdf, degenerate_pdf):
    got = featurize_expr(degenerate_sdf).toPandas()
    want = oracle_features(degenerate_pdf)
    assert list(got.columns) == KEY_COLS + FEATURE_COLS
    assert_frames_match(got, want, SORT)


def test_wide_expr_matches_oracle_on_degenerates(spark, degenerate_sdf, degenerate_pdf):
    got = featurize_expr(degenerate_sdf, wide=True).toPandas()
    want = oracle_features(degenerate_pdf, wide=True)
    assert list(got.columns) == KEY_COLS + FEATURE_COLS + WIDE_FEATURE_COLS
    assert_frames_match(got, want, SORT)


def test_grouped_wide_matches_expr_on_degenerates(spark, degenerate_sdf):
    grouped = featurize_grouped(degenerate_sdf, wide=True).toPandas()
    expr = featurize_expr(degenerate_sdf, wide=True).toPandas()
    assert_frames_match(grouped, expr, SORT)


def test_salted_matches_expr_on_degenerates(spark, degenerate_sdf):
    # hot_threshold=3 forces deg-tied/deg-boundary/deg-empty through the
    # chunked hot path with chunk_target_rows=2 → real stitching
    got = featurize_salted(
        degenerate_sdf, hot_threshold=3, chunk_target_rows=2, wide=True
    ).toPandas()
    expr = featurize_expr(degenerate_sdf, wide=True).toPandas()
    assert_frames_match(got, expr, SORT)


def test_session_boundary_is_strictly_greater(spark, degenerate_sdf):
    rows = (
        featurize_expr(degenerate_sdf)
        .filter("conv_id = 'deg-boundary'")
        .select("turn_idx", "session_id")
        .toPandas()
        .sort_values("turn_idx")
    )
    # gaps: 1800.0 (stay) | 1800.000001 (new) | 2*1800-1µs... wait:
    # turn3 gap = 4G - (2G+1) = 2G-1 µs = 3599.999999 s (> 1800 → new)
    # turn4 gap = 6G-1 - 4G = 2G-1 µs (> 1800 → new)
    assert rows["session_id"].tolist() == [0, 0, 1, 2, 3]


def test_tied_timestamps_order_by_turn_idx(spark, degenerate_sdf):
    rows = (
        featurize_expr(degenerate_sdf)
        .filter("conv_id = 'deg-tied'")
        .select("turn_idx", "lag1_ts_gap_s", "cum_count_assistant", "session_id")
        .toPandas()
        .sort_values("turn_idx")
    )
    # every non-first gap is exactly 0.0, never NULL, never negative
    gaps = rows["lag1_ts_gap_s"].tolist()
    assert np.isnan(gaps[0]) and gaps[1:] == [0.0, 0.0, 0.0, 0.0]
    assert rows["session_id"].tolist() == [0, 0, 0, 0, 0]
    # inclusive cum-count follows turn_idx order despite zero time span
    assert rows["cum_count_assistant"].tolist() == [0, 0, 1, 1, 2]


def test_empty_string_is_not_null(spark, degenerate_sdf):
    rows = (
        featurize_expr(degenerate_sdf)
        .filter("conv_id = 'deg-empty'")
        .select("turn_idx", "text_len", "tool")
        .toPandas()
        .sort_values("turn_idx")
    )
    assert rows["text_len"].tolist() == [0, 2, 0, 1]
    vals = rows["tool"].astype(object).where(rows["tool"].notna(), None).tolist()
    assert vals == [None, "", None, "exec"]
