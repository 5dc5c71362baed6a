"""Per-entity NumPy kernels behind ``applyInPandas`` — the operators
that genuinely need array math (SURVEY §2.5 W3/W6: Savitzky-Golay
smoothing, src/pipeline/feature_engineering.py:726-737,1277-1280, and
Gaussian profile fitting, :435-441,1283-1291).

No SciPy in this container, so both kernels are implemented from the
underlying linear algebra (savgol = sliding local least-squares
polynomial; gaussian fit = moment method), NumPy-only. The kernel
functions double as their own oracle: tests run them per-group in plain
pandas and compare with the distributed output.

Worker-init pattern: coefficient matrices are computed once per
(window, polyorder) via ``functools.lru_cache`` at module level — the
graft of the reference's ``_init_cpu_worker`` once-per-process init
(src/pipeline/processing.py:124-143).
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame


@lru_cache(maxsize=32)
def savgol_projection(npts: int, polyorder: int) -> np.ndarray:
    """The npts×npts local least-squares projection matrix
    H = A·pinv(A), A = Vandermonde(0..npts-1, polyorder). Row i gives
    the smoothed value at position i as a fixed linear combination of
    the window's samples — H[center] equals the classic SG convolution
    coefficients, the other rows are scipy's mode='interp' edge
    evaluations. Precomputing H makes the smoother a pure
    multiply-accumulate, so the DuckDB oracle can embed the SAME
    literal coefficients and hash-match."""
    x = np.arange(npts, dtype=np.float64)
    a = np.vander(x, polyorder + 1, increasing=True)
    return a @ np.linalg.pinv(a)


def _mac(coeffs: np.ndarray, samples) -> float | np.ndarray:
    """Left-to-right multiply-accumulate: ((c0*y0 + c1*y1) + c2*y2)...
    — the exact FP op order the SQL oracle's `c0*a + c1*b + ...`
    expression uses, so results are bit-identical."""
    acc = coeffs[0] * samples[0]
    for j in range(1, len(coeffs)):
        acc = acc + coeffs[j] * samples[j]
    return acc


def savgol_smooth(y: np.ndarray, window: int = 5, polyorder: int = 2) -> np.ndarray:
    """Savitzky-Golay smoothing; short series fall back to a local
    least-squares projection over all points (exact copy when
    n <= polyorder+1); edges use the local polynomial evaluated
    off-centre (scipy's mode='interp' semantics). All arithmetic is
    ordered multiply-accumulate against precomputed projection rows —
    bit-identical to the generated DuckDB oracle."""
    y = np.asarray(y, dtype=np.float64)
    n = len(y)
    if n == 0:
        return y
    if n <= polyorder + 1:
        return y.copy()
    if n < window:
        h = savgol_projection(n, polyorder)
        return np.array([_mac(h[i], y) for i in range(n)])
    h = savgol_projection(window, polyorder)
    half = window // 2
    out = np.empty(n, dtype=np.float64)
    # interior: sliding MAC with the centre row (vectorised, same
    # left-to-right accumulation order per output element)
    m = n - window + 1
    out[half : half + m] = _mac(h[half], [y[j : j + m] for j in range(window)])
    # edges: off-centre rows over the first/last full window
    for i in range(half):
        out[i] = _mac(h[i], y[:window])
        out[n - half + i] = _mac(h[window - half + i], y[n - window :])
    return out


def gaussian_profile_features(t: np.ndarray, y: np.ndarray) -> dict[str, float]:
    """Moment-method Gaussian fit of an activity profile y(t):
    amplitude/centre/sigma/FWHM — deterministic, optimizer-free. The
    weights are y clipped at 0; a profile whose weights do not sum
    above 0 (empty, all non-positive, or NaN) fits nothing (all NaN)."""
    w = np.clip(y, 0, None).astype(np.float64)
    tot = w.sum()
    if not tot > 0:
        return {"amp": np.nan, "mu": np.nan, "sigma": np.nan, "fwhm": np.nan}
    mu = float((t * w).sum() / tot)
    var = float(((t - mu) ** 2 * w).sum() / tot)
    sigma = float(np.sqrt(var))
    amp = float(w.max())
    return {
        "amp": amp,
        "mu": mu,
        "sigma": sigma,
        "fwhm": 2.0 * np.sqrt(2.0 * np.log(2.0)) * sigma,
    }


PROFILE_SCHEMA = (
    "conv_id string, session_id int, n_turns long, amp double, mu_s double, "
    "sigma_s double, fwhm_s double"
)


def profile_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    g = pdf.sort_values(["ts", "turn_idx"], kind="mergesort")
    t0 = g["ts"].iloc[0]
    t = (g["ts"] - t0).dt.total_seconds().to_numpy(np.float64)
    y = g["text"].fillna("").str.len().to_numpy(np.float64)
    f = gaussian_profile_features(t, y)
    return pd.DataFrame(
        [
            {
                "conv_id": g["conv_id"].iloc[0],
                "session_id": int(g["session_id"].iloc[0]),
                "n_turns": len(g),
                "amp": f["amp"],
                "mu_s": f["mu"],
                "sigma_s": f["sigma"],
                "fwhm_s": f["fwhm"],
            }
        ]
    )


def session_profiles(df_with_sessions: DataFrame) -> DataFrame:
    """Per-(conv, session) Gaussian activity-profile features (W6
    analog: line-profile FWHM per detected feature window)."""
    return df_with_sessions.groupBy("conv_id", "session_id").applyInPandas(
        profile_kernel, schema=PROFILE_SCHEMA
    )
