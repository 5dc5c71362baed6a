"""Regression fits, kernels, CSV round-trip."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_fit_poly_matches_numpy(spark):
    from astrospectro_spark.engine.regression import fit_poly, with_poly_residuals

    rng = np.random.default_rng(3)
    x = rng.uniform(-2, 2, 500)
    y = 1.5 - 0.7 * x + 0.3 * x**2 + 0.05 * x**3 + rng.normal(0, 0.01, 500)
    sdf = spark.createDataFrame(pd.DataFrame({"x": x, "y": y}))
    got = fit_poly(sdf, "x", "y", deg=3)
    want = np.polyfit(x, y, 3)[::-1]
    assert np.allclose(got, want, rtol=1e-6)
    out = with_poly_residuals(sdf, "x", "y", deg=3).toPandas()
    assert abs(out["residual"].mean()) < 1e-3
    assert out["residual"].abs().max() < 0.1


def test_fit_poly_too_few_rows_gives_null(spark):
    from astrospectro_spark.engine.regression import with_poly_residuals

    sdf = spark.createDataFrame(pd.DataFrame({"x": [1.0, 2.0], "y": [1.0, 2.0]}))
    out = with_poly_residuals(sdf, "x", "y", deg=3, min_rows=200).toPandas()
    assert out["residual"].isna().all()


def test_sigma_clip_slope_rejects_outliers(spark):
    from astrospectro_spark.engine.regression import sigma_clip_slope

    rng = np.random.default_rng(4)
    x = np.arange(200, dtype=float)
    y = 2.0 * x + 5 + rng.normal(0, 0.5, 200)
    y[::37] += 500  # gross outliers
    sdf = spark.createDataFrame(pd.DataFrame({"g": ["a"] * 200, "x": x, "y": y}))
    out = sigma_clip_slope(sdf, "x", "y", group_col="g", sigma=2.5, n_iter=3).toPandas()
    assert out["slope"].iloc[0] == pytest.approx(2.0, abs=0.05)
    # without clipping the outliers bias the slope visibly
    naive = sigma_clip_slope(sdf, "x", "y", group_col="g", n_iter=1).toPandas()
    assert abs(naive["slope"].iloc[0] - 2.0) > abs(out["slope"].iloc[0] - 2.0)


def test_savgol_smoothing_properties():
    from astrospectro_spark.engine.kernels import savgol_smooth

    # smoothing pulls a noisy trajectory towards its underlying trend
    rng = np.random.default_rng(5)
    t = np.arange(200, dtype=float)
    trend = 300 + 2.0 * t
    y = trend + rng.normal(0, 40, t.size)
    assert np.var(savgol_smooth(y, 5, 2) - trend) < np.var(y - trend)
    # exact quadratic is reproduced exactly (savgol order-2 invariance)
    y = (0.5 * np.arange(40) ** 2 - 3 * np.arange(40) + 7).astype(float)
    assert np.allclose(savgol_smooth(y, 5, 2), y, atol=1e-8)


def test_gaussian_profile_recovers_params():
    from astrospectro_spark.engine.kernels import gaussian_profile_features

    t = np.linspace(0, 100, 2001)
    y = 10 * np.exp(-0.5 * ((t - 40) / 7) ** 2)
    f = gaussian_profile_features(t, y)
    assert f["mu"] == pytest.approx(40, abs=0.5)
    assert f["sigma"] == pytest.approx(7, abs=0.3)
    assert f["fwhm"] == pytest.approx(2.3548 * 7, rel=0.05)


def test_session_profiles_runs(spark, transcripts_sdf):
    from astrospectro_spark.engine.kernels import session_profiles
    from astrospectro_spark.engine.windows import sessionize

    s = sessionize(transcripts_sdf)
    out = session_profiles(s).toPandas()
    assert (out["n_turns"] >= 1).all()
    assert out["sigma_s"].dropna().ge(0).all()


def test_csv_roundtrip_preserves_pipes_newlines_unicode(spark, transcripts_pdf, tmp_path):
    from astrospectro_spark.sources.io import read_catalog_csv, write_catalog_csv

    sdf = spark.createDataFrame(transcripts_pdf.head(500))
    path = str(tmp_path / "cat_csv")
    write_catalog_csv(sdf, path)
    back = read_catalog_csv(
        spark, path, schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    a = sdf.select("conv_id", "turn_idx", "text").toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    b = back.select("conv_id", "turn_idx", "text").toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(a) == len(b)
    assert (a["text"].fillna("") == b["text"].fillna("")).all()


def test_csv_sentinel_coercion(spark, tmp_path):
    from astrospectro_spark.sources.io import read_catalog_csv, write_catalog_csv

    pdf = pd.DataFrame({"id": [1, 2, 3], "mag": [12.5, 99.0, -9999.0], "name": ["a", "UNKNOWN", "c"]})
    sdf = spark.createDataFrame(pdf)
    path = str(tmp_path / "sent_csv")
    write_catalog_csv(sdf, path)
    back = read_catalog_csv(
        spark, path, schema="id long, mag double, name string",
        sentinel_99_cols=("mag",), sentinel_unknown_cols=("name",),
    ).toPandas().sort_values("id")
    assert back["mag"].isna().tolist() == [False, True, True]
    assert back["name"].isna().tolist() == [False, True, False]


def test_winsorize_approx_within_tolerance_of_exact(spark):
    """Production approx_percentile bounds must land inside the
    quantile neighbourhood of the exact bounds, and the clipped column
    must differ only inside the tail mass the sketch may misplace."""
    import numpy as np

    from astrospectro_spark.functions.stats import quantile_bounds, winsorize

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    exact = quantile_bounds(ev, "value", exact=True).collect()[0]
    approx = quantile_bounds(ev, "value", exact=False).collect()[0]
    vals = np.sort(np.array([r.value for r in ev.select("value").collect()]))
    # rank error bound: 1/accuracy of n ranks (plus one for ties)
    tol = max(3, int(len(vals) / 10_000) + 1)

    def rank(x):
        return np.searchsorted(vals, x)

    assert abs(rank(approx.lo) - rank(exact.lo)) <= tol
    assert abs(rank(approx.hi) - rank(exact.hi)) <= tol
    out = winsorize(ev, "value", exact=False).select("value", "value_winsor").collect()
    n_clipped = sum(1 for r in out if r.value != r.value_winsor)
    assert 0 < n_clipped <= int(0.011 * len(vals)) + tol


def test_latest_version_by_mtime(tmp_path):
    import os
    import time

    from astrospectro_spark.sources.io import latest_version

    for i, name in enumerate(["cat_a.csv", "cat_b.csv", "cat_c.csv"]):
        p = tmp_path / name
        p.write_text("x")
        os.utime(p, (time.time() - 100 + i, time.time() - 100 + i))
    assert latest_version(str(tmp_path), "cat_*.csv").endswith("cat_c.csv")
    assert latest_version(str(tmp_path), "nope_*.csv") is None
