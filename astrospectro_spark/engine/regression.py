"""Global model-fit operators: the two-pass fit-then-broadcast pattern.

Graft analogues of the reference's population polynomial fit
(``np.polyfit(bp_rp0, M_G, 3)`` over quality-filtered rows, then
per-row residual ``delta_ms`` — reference:
src/pipeline/feature_engineering.py:1715-1752) and the sigma-clipped
band-slope fit (iterative sigma=2.5 clip then linear polyfit —
src/pipeline/feature_engineering.py:700-721).

Scale shape: pass 1 reduces the table to k+1 moment sums (one
distributed agg, constant-size result); the (k+1)x(k+1) normal-equation
solve happens on the driver (constant work); pass 2 broadcasts the
coefficients into a per-row expression. Nothing materialises rows on
the driver beyond one aggregate row — valid at any input size.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def fit_poly(df: DataFrame, x: str | Column, y: str | Column, deg: int = 3,
             min_rows: int = 1) -> np.ndarray | None:
    """Least-squares polynomial fit via normal equations on moment sums.

    Returns coefficients [c0..c_deg] (c0 = intercept) or None when the
    filtered input has fewer than ``min_rows`` rows (the reference
    requires >= 200 rows, feature_engineering.py:1726).
    """
    xc = F.col(x) if isinstance(x, str) else x
    yc = F.col(y) if isinstance(y, str) else y
    ok = df.filter(xc.isNotNull() & yc.isNotNull())
    aggs = [F.count(F.lit(1)).alias("n")]
    for p in range(1, 2 * deg + 1):
        aggs.append(F.sum(xc ** p).alias(f"sx{p}"))
    for p in range(0, deg + 1):
        aggs.append(F.sum(yc * xc ** p).alias(f"sxy{p}"))
    row = ok.agg(*aggs).collect()[0]
    n = row["n"]
    if n < max(min_rows, deg + 1):
        return None
    sx = [float(n)] + [float(row[f"sx{p}"]) for p in range(1, 2 * deg + 1)]
    a = np.array([[sx[i + j] for j in range(deg + 1)] for i in range(deg + 1)])
    b = np.array([float(row[f"sxy{p}"]) for p in range(deg + 1)])
    return np.linalg.solve(a, b)


def poly_expr(coeffs: np.ndarray, x: str | Column) -> Column:
    """Horner-evaluated polynomial as a column expression."""
    xc = F.col(x) if isinstance(x, str) else x
    e: Column = F.lit(float(coeffs[-1]))
    for c in reversed(coeffs[:-1]):
        e = e * xc + F.lit(float(c))
    return e


def with_poly_residuals(
    df: DataFrame,
    x: str,
    y: str,
    deg: int = 3,
    out_col: str = "residual",
    min_rows: int = 1,
) -> DataFrame:
    """Two-pass: fit globally, then per-row residual y - poly(x).
    NULL residuals when the fit could not run (too few rows)."""
    coeffs = fit_poly(df, x, y, deg, min_rows)
    if coeffs is None:
        return df.withColumn(out_col, F.lit(None).cast("double"))
    return df.withColumn(out_col, F.col(y) - poly_expr(coeffs, x))


def sigma_clip_slope(
    df: DataFrame,
    x: str,
    y: str,
    group_col: str | None = None,
    sigma: float = 2.5,
    n_iter: int = 3,
) -> DataFrame:
    """Fixed-iteration sigma-clipped linear slope per group.

    Each iteration: fit slope/intercept per group with covar_pop /
    var_pop aggregates (one shuffle), then drop rows whose residual
    exceeds sigma * stddev(residual). Expression-only — the reference's
    while-loop becomes a bounded unrolled plan (the iterative version
    belongs in a grouped pandas kernel; this is the Catalyst-friendly
    fixed-point form).

    Conditioning: x is centered at the per-group min BEFORE the
    co-moment aggregates (large-offset x, e.g. raw epoch seconds, makes
    covar_pop/var_pop catastrophically ill-conditioned). The slope is
    shift-invariant; the returned intercept is mapped back to the
    caller's x origin (b - slope*xmin). For already-centered x the
    adjustment is exactly b - slope*0.0 = b, bit-for-bit.

    Join strategy: the per-group fit/bound joins carry NO broadcast
    hint — with ``group_col`` the build side is one row per entity and
    grows with the table (a forced broadcast OOMs at 10^9 entities);
    AQE chooses broadcast vs SMJ from runtime sizes. The ungrouped
    (global-fit) path still broadcasts: its build side is exactly one
    row.
    """
    keys = [group_col] if group_col else []
    wmin = Window.partitionBy(*keys) if keys else Window.partitionBy()
    work = df.withColumn("_xc", F.col(x) - F.min(x).over(wmin))
    xmin = work.groupBy(*keys).agg(F.min(x).alias("_xmin"))
    cur = work
    fit = None
    for _ in range(n_iter):
        fit = cur.groupBy(*keys).agg(
            (F.covar_pop("_xc", y) / F.var_pop("_xc")).alias("_slope"),
            (F.avg(y) - F.covar_pop("_xc", y) / F.var_pop("_xc") * F.avg("_xc")).alias("_icept"),
        )
        joined = cur.join(fit, keys) if keys else cur.crossJoin(F.broadcast(fit))
        resid = F.col(y) - (F.col("_slope") * F.col("_xc") + F.col("_icept"))
        stats = joined.withColumn("_r", resid)
        bound = stats.groupBy(*keys).agg(F.stddev_pop("_r").alias("_s"))
        stats = stats.join(bound, keys) if keys else stats.crossJoin(F.broadcast(bound))
        cur = stats.filter(
            (F.col("_s") == 0) | (F.abs(F.col("_r")) <= sigma * F.col("_s"))
        ).select(work.columns)
    out = fit if not keys else fit.join(xmin, keys)
    if not keys:
        out = out.crossJoin(F.broadcast(xmin))
    return out.select(
        *keys,
        F.col("_slope").alias("slope"),
        (F.col("_icept") - F.col("_slope") * F.col("_xmin")).alias("intercept"),
    )


def cramer2(n, s1, s2, s3, s4, t0, t1, t2) -> tuple[Column, Column, Column, Column]:
    """Cramer's rule for the degree-2 normal equations from the moment
    sums ``n = Σ1, s_k = Σx^k, t_k = Σx^k·y``: returns ``(det, d0, d1,
    d2)``, with coefficient ``c_k = d_k / det``. The terms are written
    as in the DuckDB oracle, so the fits hash-match it."""
    det = n * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s3 * s2) + s2 * (s1 * s3 - s2 * s2)
    d0 = t0 * (s2 * s4 - s3 * s3) - s1 * (t1 * s4 - s3 * t2) + s2 * (t1 * s3 - s2 * t2)
    d1 = n * (t1 * s4 - s3 * t2) - t0 * (s1 * s4 - s3 * s2) + s2 * (s1 * t2 - t1 * s2)
    d2 = n * (s2 * t2 - s3 * t1) - s1 * (s1 * t2 - s3 * t0) + t0 * (s1 * s3 - s2 * s2)
    return det, d0, d1, d2


def poly2_residuals_per_entity(
    df: DataFrame,
    x: str,
    y: str,
    group_col: str,
    min_rows: int = 10,
    out_col: str = "residual",
) -> DataFrame:
    """Distributed per-entity degree-2 least-squares fit + residual.

    One shuffle reduces each entity to 8 moment sums; Cramer's rule in
    closed-form expressions solves the 3x3 normal equations; an
    UNHINTED join (one coefficient row per entity — AQE picks the
    strategy; a forced broadcast would OOM at 10^9 entities) evaluates
    the per-row residual. Fully scales (no driver-side solve, unlike
    :func:`with_poly_residuals`).

    Caller must supply a well-conditioned ``x`` (normalize to [0,1] per
    entity). The solve is :func:`cramer2`, written term-for-term as the
    DuckDB oracle so residuals hash-match at round(4).
    Entities with fewer than ``min_rows`` rows or a singular system get
    NULL residuals (the reference requires >= 200 rows for its global
    fit, feature_engineering.py:1726).
    """
    xc, yc = F.col(x), F.col(y)
    g = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(xc).alias("s1"),
        F.sum(xc * xc).alias("s2"),
        F.sum(xc * xc * xc).alias("s3"),
        F.sum(xc * xc * xc * xc).alias("s4"),
        F.sum(yc).alias("t0"),
        F.sum(xc * yc).alias("t1"),
        F.sum(xc * xc * yc).alias("t2"),
    )
    solved = cramer2(*[F.col(c) for c in ("n", "s1", "s2", "s3", "s4", "t0", "t1", "t2")])
    coeffs = g.select(
        group_col,
        "n",
        *[c.alias(name) for c, name in zip(solved, ("det", "d0", "d1", "d2"))],
    )
    det, d0, d1, d2 = F.col("det"), F.col("d0"), F.col("d1"), F.col("d2")
    fitted = d0 / det + (d1 / det) * xc + (d2 / det) * xc * xc
    return df.join(coeffs, group_col).withColumn(
        out_col,
        F.when((F.col("n") >= min_rows) & (det != 0), yc - fitted),
    )
