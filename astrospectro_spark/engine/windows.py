"""Windowed / ordered-sequence operators — the heart of the engine.

Everything here is a pure DataFrame expression over
``Window.partitionBy(conv_id).orderBy(ts, turn_idx)`` — JVM-side,
whole-stage-codegen'd, ONE shuffle for the whole feature set (all
windows share the same partitioning, so Catalyst reuses the exchange).
No Python crosses the hot path.

Sort-pass discipline: windows are CLUSTERED by ordering family — the
(ts, turn_idx) row/cumulative frames, and every rangeBetween frame
ordered by ONE staged epoch-µs column (``_usq``; a fresh
``unix_micros(ts)`` projection per window would give each frame its own
sort key). Catalyst inserts one Sort per family switch, so the 175-
column wide plan runs 3 sorts instead of 16 — at 10^12 rows each
avoided Sort is a full pass over every partition.

One definition, three plans: :func:`window_layers` stages every windowed
column with a stitch :class:`Kind`, and :func:`derive` computes the rest
with no windows. :func:`featurize_expr` runs them over ``conv_id``; the
salted plan (``engine/skew.py``) runs the same layers over ts-range
chunks of hot conversations, the stream over each micro-batch, and the
stitch (:func:`chunk_carry`, :func:`stitch`) merges chunks per kind.
The window algebra itself — growing-frame counts and sums, lag-difference
rolling sums, tiled-block min/max, struct-max session extremes and the
boundary carry — is one set of builders (:func:`grow_count` …
:func:`carry`) that these layers and the driver's 183-column flagship
(``queries.q_feature_vector_wide``, over ``user_id``) both call.

Leakage contract: every frame ends at the CURRENT ROW
(``rowsBetween(..., 0)`` / ``rangeBetween(..., 0)``) — no feature may
read turns with ``ts >`` the current turn. Lead-based columns are
emitted only under ``include_labels=True`` with a ``label_`` prefix:
they are training *targets*, never features (SURVEY.md §4 hard part c).

Reference parity: these are the graft analogues of the reference's
wavelength-axis kernels — sessionization ≙ peak detection
(reference: src/pipeline/peak_detector.py:94-132), lag/lead deltas ≙
np.gradient derivatives (src/pipeline/feature_engineering.py:683-698),
rolling means ≙ band means (src/pipeline/feature_engineering.py:291-337),
backfill ≙ post-merge NaN fill (src/pipeline/feature_engineering.py:1586-1615).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

SESSION_GAP_S = 1800.0
RATE_WINDOW_S = 60
ROLL_ROWS = 5
ROLES = ("assistant", "system", "tool", "user")

# Locked output schema — the analogue of the reference's dry-run
# feature-name lock (reference: src/pipeline/feature_engineering.py:277-285,
# 1354-1358), but explicit in code instead of runtime-discovered.
# Keys first, then features in alphabetical order.
KEY_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
FEATURE_COLS = [
    "cum_count_assistant",
    "cum_count_system",
    "cum_count_tool",
    "cum_count_user",
    "lag1_text_len_delta",
    "lag1_ts_gap_s",
    "rate_60s",
    "roll_mean_text_len_5",
    "session_id",
    "text_len",
    "tool_backfill",
    "turn_in_session",
]
LABEL_COLS = ["label_lead1_text_len", "label_lead1_ts_gap_s"]
# Wide tier (featurize_expr(wide=True)): row-local composites, extra
# bounded lags/rolls, range windows, and stitched cumulative/carry
# features. Alphabetical, appended after FEATURE_COLS.
WIDE_FEATURE_COLS = [
    "accel_text_len",
    "active_time_run_s",
    "alpha_proxy_idx",
    "cbrt_text_len",
    "clip_text_len_600",
    "conv_first_text_len",
    "cos_dow",
    "cos_hour",
    "cum_empty_text",
    "cum_long_text",
    "cum_mean_text_len",
    "cum_role_changes",
    "cum_text_len",
    "cum_tool_set",
    "day_of_month",
    "day_of_week",
    "days_since_start",
    "ew_balance_text",
    "exp_decay_text_len",
    "feh_proxy_idx",
    "gap_bucket_min",
    "gap_capped_600",
    "gap_is_long",
    "gap_max_run",
    "gap_over_text",
    "gap_roll_max_10",
    "gap_roll_max_5",
    "gap_roll_mean_10",
    "gap_roll_mean_5",
    "gap_roll_min_10",
    "gap_roll_min_5",
    "gap_roll_range_5",
    "gauss_narrow_text_len",
    "gauss_text_len",
    "geo_mean_text_tool",
    "harmonic_text_tool",
    "high_gap_count_run",
    "hour_bucket",
    "hour_of_day",
    "hour_of_week",
    "inv1p_text_len",
    "is_assistant",
    "is_business_hours",
    "is_dawn",
    "is_empty_text",
    "is_evening",
    "is_first_turn",
    "is_long_text",
    "is_month_start",
    "is_night",
    "is_prev_assistant",
    "is_prev_user",
    "is_session_start",
    "is_short_text",
    "is_system",
    "is_tool",
    "is_user",
    "is_very_long_text",
    "is_weekend",
    "is_zero_gap",
    "lag2_text_len_delta",
    "lag2_ts_gap_s",
    "lag3_text_len_delta",
    "lag3_ts_gap_s",
    "lag4_text_len_delta",
    "lag5_text_len_delta",
    "lag6_text_len_delta",
    "lag7_text_len_delta",
    "log10_text_len",
    "log1p_gap",
    "log1p_text_len",
    "log2_text_len",
    "logg_proxy_idx",
    "mean_gap_run",
    "minute_of_day",
    "minute_of_hour",
    "month",
    "pct_assistant_so_far",
    "pct_change_text_len",
    "pct_system_so_far",
    "pct_tool_set_so_far",
    "pct_tool_so_far",
    "pct_user_so_far",
    "prev_role",
    "quarter",
    "ramp_text_len",
    "rate_300s",
    "rate_3600s",
    "rate_900s",
    "relu_text_len",
    "role_changed",
    "role_code",
    "roll_assistant_rate_10",
    "roll_max_text_len_10",
    "roll_max_text_len_20",
    "roll_max_text_len_5",
    "roll_mean_text_len_10",
    "roll_mean_text_len_20",
    "roll_min_text_len_10",
    "roll_min_text_len_20",
    "roll_min_text_len_5",
    "roll_range_text_len_10",
    "roll_range_text_len_20",
    "roll_role_changes_10",
    "roll_std_text_len_10",
    "roll_std_text_len_20",
    "roll_std_text_len_5",
    "roll_sum_text_len_10",
    "roll_sum_text_len_20",
    "roll_sum_text_len_5",
    "roll_tool_rate_10",
    "run_depth_text_len",
    "run_max_text_len",
    "run_min_text_len",
    "run_std_text_len",
    "second_of_minute",
    "sess_auc_trapezoid",
    "sess_cum_text_len",
    "sess_depth_text_len",
    "sess_frac_of_turns",
    "sess_gap_max_s",
    "sess_max_text_len",
    "sess_mean_text_len",
    "sess_min_text_len",
    "sess_start_hour",
    "sess_std_text_len",
    "session_elapsed_s",
    "sigmoid_steep_text_len",
    "sigmoid_text_len",
    "signed_log1p_delta",
    "sin_dow",
    "sin_hour",
    "softsign_text_len",
    "sqrt_text_len",
    "tanh_text_len",
    "teff_proxy_idx",
    "text_kb_bucket",
    "text_len_bin",
    "text_len_cube_scaled",
    "text_len_is_even",
    "text_len_range_norm",
    "text_len_sq",
    "text_len_vs_first",
    "text_len_zscore_run",
    "text_minus_tool",
    "text_sum_300s",
    "text_sum_3600s",
    "text_sum_60s",
    "text_sum_900s",
    "text_tool_ratio",
    "time_since_start_s",
    "tool_changed",
    "tool_is_set",
    "tool_len",
    "turn_frac_day",
    "turn_idx_conv",
    "turn_rate_conv",
    "turn_rate_session",
    "week_of_month",
    "wing_asym_5",
    "wing_auc_4",
    "zscore_roll_text_len_10",
    "zscore_roll_text_len_5",
]
WIDE_RATE_S = 300
WIDE_RATE_MAX_S = 3600
WIDE_ROLL10 = 10
WIDE_ROLL20 = 20


_TAU = 6.283185307179586  # 2π, identical literal in the pandas oracle


def wide_local_exprs(enum_shuffle: bool = False) -> dict[str, Column]:
    """Row-local wide-tier composites (the graft of the reference's
    post-merge composite battery, src/pipeline/feature_engineering.py:
    1403-1712): pure per-row expressions over already-present columns
    (``text_len``, ``lag1_ts_gap_s``, ``prev_role``, ``tool``, ``ts``).
    Part of :func:`derive`, which the plain and the salted plans both
    apply last. ``prev_role`` and ``lag1_ts_gap_s`` must exist before
    applying.

    ``enum_shuffle``: role/prev_role hold 64-bit codes, ``tool_len`` is
    already staged below the exchange (length can't be read off a
    code), and registry comparisons use constant-folded code literals —
    value-identical outputs, locked by the wide bit-parity tests."""
    tl = F.col("text_len")
    tll = tl.cast("long")
    ssx = (tl - 300) / F.lit(150.0)
    nsx = (tl - 300) / F.lit(50.0)

    def rlit(r: str) -> Column:
        return enum_code_lit(r) if enum_shuffle else F.lit(r)

    tool_len = (
        F.col("tool_len")
        if enum_shuffle
        else F.coalesce(F.length("tool"), F.lit(0)).cast("int")
    )
    return {
        "clip_text_len_600": F.least(F.greatest(tl, F.lit(50)), F.lit(600)).cast("double"),
        "day_of_month": F.dayofmonth("ts").cast("int"),
        "exp_decay_text_len": F.exp(-tl / F.lit(500.0)),
        "gap_capped_600": F.when(
            F.col("lag1_ts_gap_s").isNotNull(),
            F.least(F.col("lag1_ts_gap_s"), F.lit(600.0)),
        ),
        "gauss_narrow_text_len": F.exp(F.lit(-0.5) * nsx * nsx),
        "hour_of_week": ((F.dayofweek("ts") - 1) * 24 + F.hour("ts")).cast("int"),
        "is_month_start": (F.dayofmonth("ts") == 1).cast("int"),
        "is_night": (F.hour("ts") < 6).cast("int"),
        "is_zero_gap": F.when(F.col("lag1_ts_gap_s") == 0, 1).otherwise(0).cast("int"),
        "log2_text_len": F.when(tl > 0, F.log2(tl)),
        "relu_text_len": F.greatest(F.lit(0.0), (tl - 300).cast("double")),
        "sigmoid_steep_text_len": F.lit(1.0)
        / (F.lit(1.0) + F.exp(-(tl - 200) / F.lit(20.0))),
        "text_len_cube_scaled": (tll * tll * tll).cast("double") / F.lit(1_000_000.0),
        "text_len_is_even": (tl % 2 == 0).cast("int"),
        "tool_len": tool_len,
        "week_of_month": (F.floor((F.dayofmonth("ts") - 1) / 7) + 1).cast("long"),
        # least/greatest SKIP nulls in Spark (unlike numpy's NaN
        # propagation), so the first-row null gap must be guarded
        "gap_bucket_min": F.floor(
            F.when(
                F.col("lag1_ts_gap_s").isNotNull(),
                F.least(F.col("lag1_ts_gap_s"), F.lit(86_400.0)),
            )
            / 60
        ).cast("long"),
        "gauss_text_len": F.exp(F.lit(-0.5) * ssx * ssx),
        "hour_bucket": F.floor(F.hour("ts") / 6).cast("long"),
        "inv1p_text_len": F.lit(1.0) / (1 + tl),
        "is_business_hours": F.hour("ts").between(9, 17).cast("int"),
        "is_empty_text": (tl == 0).cast("int"),
        "is_long_text": (tl > 500).cast("int"),
        "is_prev_assistant": F.when(F.col("prev_role") == rlit("assistant"), 1)
        .otherwise(0)
        .cast("int"),
        "is_prev_user": F.when(F.col("prev_role") == rlit("user"), 1)
        .otherwise(0)
        .cast("int"),
        "log1p_gap": F.when(
            F.col("lag1_ts_gap_s").isNotNull(),
            F.log1p(F.greatest(F.col("lag1_ts_gap_s"), F.lit(0.0))),
        ),
        "month": F.month("ts").cast("int"),
        "quarter": F.quarter("ts").cast("int"),
        "ramp_text_len": F.greatest(
            F.lit(0.0), F.least(F.lit(1.0), (tl - 100) / F.lit(400.0))
        ),
        "softsign_text_len": ssx / (1 + F.abs(ssx)),
        "sqrt_text_len": F.sqrt(tl),
        "text_len_bin": (F.floor(tl / 100) * 100).cast("long"),
        "text_len_sq": (tll * tll).cast("double"),
        "tool_is_set": F.col("tool").isNotNull().cast("int"),
        # ---- growth tier 4: proxy composites (graft of the reference's
        # Teff/logg/[Fe/H]/[α/Fe] composite indices,
        # src/pipeline/feature_engineering.py:1044-1114), cyclical time
        # encodings, text×tool interactions, signed-log1p stabilizer
        # (src/pipeline/feature_engineering.py:1755-1793) ----
        "alpha_proxy_idx": (F.greatest(F.lit(0.0), (tl - 300).cast("double")) / 100)
        * (F.lit(1.0) / (F.lit(1.0) + F.exp(-(tl - 200) / F.lit(80.0)))),
        "cbrt_text_len": F.cbrt(tl),
        "cos_dow": F.cos(F.lit(_TAU) * (F.dayofweek("ts") - 1) / F.lit(7.0)),
        "cos_hour": F.cos(F.lit(_TAU) * F.hour("ts") / F.lit(24.0)),
        "ew_balance_text": (tl - 120) / (tl + 120),
        "feh_proxy_idx": F.exp(F.lit(-0.5) * ssx * ssx) - F.exp(F.lit(-0.5) * nsx * nsx),
        "gap_is_long": F.when(
            F.col("lag1_ts_gap_s").isNotNull(),
            (F.col("lag1_ts_gap_s") > 600).cast("double"),
        ),
        "gap_over_text": F.col("lag1_ts_gap_s") / (tl + 1),
        "geo_mean_text_tool": F.sqrt(tll * tool_len),
        "harmonic_text_tool": (F.lit(2) * tll * tool_len).cast("double")
        / (tll + tool_len + F.lit(1)),
        "is_dawn": ((F.hour("ts") >= 6) & (F.hour("ts") < 9)).cast("int"),
        "is_evening": (F.hour("ts") >= 18).cast("int"),
        "is_first_turn": F.col("lag1_ts_gap_s").isNull().cast("int"),
        "is_short_text": (tl < 50).cast("int"),
        "is_very_long_text": (tl > 1000).cast("int"),
        "log10_text_len": F.when(tl > 0, F.log10(tl)),
        "logg_proxy_idx": F.lit(0.6) * F.log1p(tl) + F.lit(0.4) * F.sqrt(tl),
        "minute_of_day": (F.hour("ts") * 60 + F.minute("ts")).cast("int"),
        "role_code": F.when(F.col("role") == rlit("assistant"), 1)
        .when(F.col("role") == rlit("user"), 2)
        .when(F.col("role") == rlit("system"), 3)
        .when(F.col("role") == rlit("tool"), 4)
        .otherwise(0)
        .cast("int"),
        "second_of_minute": F.second("ts").cast("int"),
        "signed_log1p_delta": F.signum("lag1_text_len_delta")
        * F.log1p(F.abs("lag1_text_len_delta")),
        "sin_dow": F.sin(F.lit(_TAU) * (F.dayofweek("ts") - 1) / F.lit(7.0)),
        "sin_hour": F.sin(F.lit(_TAU) * F.hour("ts") / F.lit(24.0)),
        "tanh_text_len": F.tanh((tl - 300) / F.lit(150.0)),
        "teff_proxy_idx": F.lit(0.5)
        * (F.lit(1.0) / (F.lit(1.0) + F.exp(-(tl - 200) / F.lit(80.0))))
        + F.lit(0.3) * F.exp(F.lit(-0.5) * ssx * ssx)
        + F.lit(0.2)
        * F.greatest(F.lit(0.0), F.least(F.lit(1.0), (tl - 100) / F.lit(400.0))),
        "text_kb_bucket": F.floor(tl / F.lit(1024)).cast("long"),
        "text_minus_tool": (tl - tool_len).cast("int"),
        "text_tool_ratio": tl / (tool_len + F.lit(1)),
    }


def _enum_code(c: str) -> Column:
    """64-bit shuffle code for a short string column (NULL stays NULL —
    ``xxhash64(NULL)`` would return the seed, aliasing NULL with a real
    value). The code is globally consistent with no dictionary pass:
    any executor computes the same code for the same string."""
    return F.expr(f"case when {c} is null then cast(null as bigint) else xxhash64({c}) end")


def enum_code_lit(value: str) -> Column:
    """The enum code of a literal — constant-folded by Catalyst, so
    coded-column equality against registry values stays codegen."""
    return F.xxhash64(F.lit(value))


def enum_decode(out: DataFrame, src: DataFrame, cols: dict[str, str]) -> DataFrame:
    """Decode enum-coded string columns via tiny broadcast dims.

    ``cols`` maps output column → source column (several outputs may
    share one source dim, e.g. ``tool`` and ``tool_backfill``). Each
    dim is a column-pruned distinct scan of ``src`` — at 100 TB that
    reads ONE dictionary-encoded parquet column and partial-aggregates
    map-side to a handful of rows, which is the trade: a cheap narrow
    scan buys string-free shuffle rows for the whole wide table. The
    joins are broadcast (no exchange added). 64-bit codes make a
    cross-string collision (which would duplicate rows through the dim
    join) ~2e-20·n² — the row-parity tests would catch one at any
    realistic domain size."""
    for out_col, src_col in cols.items():
        dim = (
            src.select(src_col)
            .where(F.col(src_col).isNotNull())
            .distinct()
            .select(
                F.xxhash64(src_col).alias("__code"),
                F.col(src_col).alias("__str"),
            )
        )
        out = (
            out.join(F.broadcast(dim), out[out_col] == dim["__code"], "left")
            .drop(out_col, "__code")
            .withColumnRenamed("__str", out_col)
        )
    return out


def _ts_us(col: str = "ts") -> Column:
    """Exact integer microseconds — gap arithmetic stays in int64 and
    divides once, so Spark and the pandas oracle produce bit-identical
    doubles (SURVEY.md §7.3 hard part a: float parity via fixed
    reduction order)."""
    return F.unix_micros(F.col(col).cast("timestamp"))


def _ts_us_sql(col: str = "ts") -> str:
    """:func:`_ts_us` as SQL text, for expressions built as text."""
    return f"unix_micros(cast({col} as timestamp))"


class Kind(NamedTuple):
    """Stitch kind of a staged column: how its value over one chunk of a
    conversation (the chunk's rows preceded by context rows, a contiguous
    suffix of its history) becomes its value over the whole
    conversation. :func:`stitch_chunks` applies one rule per kind.

    - ``rule="local"``: row-local (``rows == secs == 0``) or bounded,
      reading at most ``rows`` earlier rows or ``secs`` seconds back;
      exact as computed once the chunk carries that much history;
    - ``"sum"``: cumulative sum or count (never NULL);
    - ``"max"``/``"min"``: cumulative extreme;
    - ``"first"``: the conversation's first value (never NULL);
    - ``"last"``: the last non-null value so far;
    - ``session=True``: ``"sum"``/``"max"``/``"min"`` over the current
      session only.
    """

    rule: str = "local"
    rows: int = 0
    secs: int = 0
    session: bool = False


LOCAL = Kind()
SUM, MAX, MIN, FIRST, LAST = (Kind(r) for r in ("sum", "max", "min", "first", "last"))
SESS_SUM, SESS_MAX, SESS_MIN = (Kind(r, session=True) for r in ("sum", "max", "min"))
# the staged count of session boundaries: session-scoped stitches find a
# chunk's open-session rows by it
SESSION_COUNTER = "session_id"

# one projection of staged columns, each tagged with its stitch kind
Layer = dict[str, tuple[Kind, Column]]


def _rows(k: int) -> Kind:
    return Kind(rows=k)


def _secs(s: int) -> Kind:
    return Kind(secs=s)


def layer_kinds(layers: list[Layer]) -> dict[str, Kind]:
    return {c: k for layer in layers for c, (k, _) in layer.items()}


def apply_layers(df: DataFrame, layers: list[Layer]) -> DataFrame:
    for layer in layers:
        df = df.withColumns({c: e for c, (_, e) in layer.items()})
    return df


def project_inputs(
    df: DataFrame, include_text: bool, enum_shuffle: bool, wide: bool
) -> tuple[DataFrame, list[str]]:
    """The row projection below the exchange, shared by the plain and
    salted paths: ``text`` becomes ``text_len`` (and is dropped unless
    ``include_text``); under ``enum_shuffle`` ``role``/``tool`` become
    64-bit codes and the wide tier's ``tool_len`` (a length of the
    STRING, which a code does not carry) is staged here. Returns the
    projected rows and the output key columns."""
    if enum_shuffle and include_text:
        raise ValueError(
            "enum_shuffle supports the include_text=False feature-table "
            "contract only (the text-carrying variant keeps strings)"
        )
    text_len = F.length(F.coalesce(F.col("text"), F.lit(""))).cast("int")
    if include_text:
        return df.withColumn("text_len", text_len), KEY_COLS
    key_cols = [c for c in KEY_COLS if c != "text"]
    if not enum_shuffle:
        return df.select(*key_cols, text_len.alias("text_len")), key_cols
    extra = (
        [F.coalesce(F.length("tool"), F.lit(0)).cast("int").alias("tool_len")]
        if wide
        else []
    )
    coded = df.select(
        "conv_id",
        "turn_idx",
        _enum_code("role").alias("role"),
        _enum_code("tool").alias("tool"),
        "ts",
        text_len.alias("text_len"),
        *extra,
    )
    return coded, key_cols


# ---- the window builders: each trick is stated once here, over the
# window spec (or partition and order columns) it is given, and the
# transcript layers below and queries.q_feature_vector_wide both build
# from them. Every one is exact: integer sums and differences, and
# comparisons.


def _grow(part: str, order: str, span_us: int | None) -> str:
    upper = "current row" if span_us is None else f"{span_us + 1}L preceding"
    return (
        f"over (partition by {part} order by {order} "
        f"range between unbounded preceding and {upper})"
    )


# Growing-frame difference instead of a sliding [-X, 0] range frame
# (round-6): a sliding range frame is re-aggregated from scratch for
# every row by Spark's SlidingWindowFunctionFrame — O(rows-in-frame)
# updates PER ROW, which on a dense mega-conversation (3600 s frame ≈ 110
# rows at ~33 s/turn) dominated the hot task. A frame with an UNBOUNDED
# PRECEDING lower bound runs incrementally (O(1)/row):
#   rows in [t-X, t]  =  rows in (-inf, t]  -  rows in (-inf, t-X)
# Bounds are integer microseconds, so (-inf, t-X) == (-inf, t-X-1µs]
# exactly; counts are ints and sums int64 over int columns, so the
# differences are bit-identical to the sliding originals (empty "before"
# frame: count 0, sum NULL → coalesce 0). Rows sharing the current order
# value count regardless of the tiebreak (time-based semantics; equal-ts
# is not leakage). SQL text, so that a caller builds each column with
# one parse (see window_layers).
def grow_count(part: str, order: str, span_us: int) -> str:
    """SQL: rows of partition ``part`` with ``order`` in ``[t - span_us, t]``."""
    return f"count(1) {_grow(part, order, None)} - count(1) {_grow(part, order, span_us)}"


def grow_sum(c: str, part: str, order: str, span_us: int) -> str:
    """SQL: sum of integer column ``c`` over the frame of :func:`grow_count`."""
    return (
        f"sum({c}) {_grow(part, order, None)} "
        f"- coalesce(sum({c}) {_grow(part, order, span_us)}, 0)"
    )


def lagz(c: Column, k: int, w: WindowSpec) -> Column:
    """``lag(c, k)`` over ``w``, with a missing lag (partition head) as 0."""
    return F.coalesce(F.lag(c, k).over(w), F.lit(0))


def roll_sum(cum: Column, k: int, w: WindowSpec) -> Column:
    """Sum over the last ``k`` rows as a lag difference of the running
    sum ``cum`` (round-6): Spark re-aggregates a sliding rows frame from
    scratch per row (O(k) updates/row/function), while the difference is
    O(1) and, over int64 sums, bit-identical. At a partition head the
    missing lag counts as 0, so the running sum itself is the frame sum."""
    return cum - lagz(cum, k, w)


def blocks(c: str, combine, width: int, w: WindowSpec) -> Column:
    """Min/max over the last ``width`` rows composed EXACTLY from a
    staged :data:`ROLL_ROWS`-row min/max ``c``: ``combine`` (greatest or
    least) of ``c`` at lags 0, 5, 10, ... — the blocks tile the frame,
    so only the base-width frame slides. At partition heads the early
    blocks already cover [1, t] and missing lags are NULL, which
    greatest/least skip — identical to the frame extreme."""
    return combine(
        F.col(c), *[F.lag(c, j * ROLL_ROWS).over(w) for j in range(1, width // ROLL_ROWS)]
    )


def sess_max(x: Column, sid: Column, wcum: WindowSpec) -> Column:
    """Within-session running max of ``x`` with no (key, session)
    window (round-6; such a window costs its own Sort and buffer pass):
    the session counter ``sid`` is nondecreasing in order, so the
    lexicographic ``max(struct(sid, x))`` over the cumulative frame
    ``wcum`` lands in the CURRENT session. Min via negation."""
    return F.max(F.struct(sid.alias("s"), x.alias("x"))).over(wcum).getField("x")


def carry(cum: Column, flag: Column, at_flag: Column, wcum: WindowSpec) -> Column:
    """Boundary carry: ``cum`` minus ``at_flag`` as of the last row where
    ``flag`` held (0 before any). With ``cum`` a running sum and
    ``at_flag`` its value just before a session boundary, the
    within-session running sum, exact over int64; with ``cum`` the row
    number, the rows since the flag."""
    return cum - F.coalesce(F.last(F.when(flag, at_flag), ignorenulls=True).over(wcum), F.lit(0))


def window_layers(
    key: list[str],
    gap_s: float = SESSION_GAP_S,
    wide: bool = False,
    enum_shuffle: bool = False,
) -> list[Layer]:
    """Every windowed column of the feature plan, in DEPENDENCY LAYERS
    partitioned by ``key``: ``["conv_id"]`` for the plain plan,
    ``["conv_id", "_tgt"]`` for the salted plan's chunks. Each layer is
    one projection of mutually independent window expressions, so
    Catalyst extracts it into a single WindowExec pass (one row-copy
    per layer instead of one per column). Base layers:

    - ``_usq``: ONE staged epoch-µs column that every rangeBetween frame
      orders by, so the whole range family shares a single us-Sort (a
      fresh unix_micros projection per window would give each frame its
      own sort key);
    - layer 0: every window over raw columns (lags, running counts,
      the tool fill-forward, the 5-row mean);
    - ``_sb`` and layer 1: session boundaries, then ``session_id`` and
      ``turn_in_session`` in ONE pass. turn_in_session avoids a second
      exchange: instead of a (conv, session) partition it counts rows
      since the most recent boundary inside the SAME window;
    - the range family: ``rate_60s`` (plus the wide tier's rates and
      sums), run EARLY while the row is still narrow — its us-Sort
      materializes ~20 fields per row here, vs ~100 after the wide tier.

    The wide tier adds W0 and W1 (:func:`_wide_layers`). Everything
    without a window is left to :func:`derive`.
    """
    # SQL text: one parse per column instead of a Py4J round trip per
    # operator. The layers are built for every bucket of a job (twice
    # for a salted one), and the Column API form takes ~20x as long to
    # build, a measurable share of each bucket's driver time.
    part = ", ".join(key)
    w = f"over (partition by {part} order by ts, turn_idx)"
    wcum = (
        f"over (partition by {part} order by ts, turn_idx "
        "rows between unbounded preceding and current row)"
    )
    us = _ts_us_sql("ts")
    gap_us = f"({us} - lag({us}) {w})"

    def rlit(r: str) -> str:
        return f"xxhash64('{r}')" if enum_shuffle else f"'{r}'"

    # the range family orders by the staged epoch-µs _usq
    def rate(sec: int) -> tuple[Kind, Column]:
        return _secs(sec), F.expr(
            f"cast({grow_count(part, '_usq', sec * 1_000_000)} as double)"
        )

    def tsum(sec: int) -> tuple[Kind, Column]:
        return _secs(sec), F.expr(grow_sum("text_len", part, "_usq", sec * 1_000_000))

    range_family = {"rate_60s": rate(RATE_WINDOW_S)}
    if wide:
        range_family.update(
            {
                "rate_300s": rate(WIDE_RATE_S),
                "text_sum_300s": tsum(WIDE_RATE_S),
                "rate_3600s": rate(WIDE_RATE_MAX_S),
                "text_sum_3600s": tsum(WIDE_RATE_MAX_S),
                "rate_900s": rate(900),
                "text_sum_900s": tsum(900),
                "text_sum_60s": tsum(RATE_WINDOW_S),
            }
        )

    def sql(kind: Kind, text: str) -> tuple[Kind, Column]:
        return kind, F.expr(text)

    layers: list[Layer] = [
        {"_usq": sql(LOCAL, us)},
        {
            "lag1_ts_gap_s": sql(_rows(1), f"cast({gap_us} as double) / 1000000D"),
            "_gap_us": sql(_rows(1), gap_us),
            "lag1_text_len_delta": sql(
                _rows(1), f"cast(text_len - lag(text_len) {w} as double)"
            ),
            "_rn": sql(SUM, f"row_number() {w}"),
            # fill-forward graft (≙ add_photometric_composites, reference:
            # src/pipeline/feature_engineering.py:1586-1615)
            "tool_backfill": sql(LAST, f"last(tool, true) {wcum}"),
            **{
                f"cum_count_{r}": sql(
                    SUM,
                    f"cast(sum(case when role = {rlit(r)} then 1 else 0 end) {wcum} as int)",
                )
                for r in ROLES
            },
            "roll_mean_text_len_5": sql(
                _rows(ROLL_ROWS - 1),
                f"avg(text_len) over (partition by {part} order by ts, turn_idx "
                f"rows between {ROLL_ROWS - 1} preceding and current row)",
            ),
        },
        {
            "_sb": sql(
                _rows(1), f"case when lag1_ts_gap_s > {float(gap_s)!r}D then 1 else 0 end"
            )
        },
        {
            SESSION_COUNTER: sql(SUM, f"cast(sum(_sb) {wcum} as int)"),
            # carry() as SQL text: the rows since the last boundary
            "turn_in_session": sql(
                SESS_SUM,
                f"cast(_rn - coalesce(last(case when _sb = 1 then _rn - 1 end, true) "
                f"{wcum}, 0) as int)",
            ),
        },
        range_family,
    ]
    if wide:
        spec = Window.partitionBy(*key).orderBy("ts", "turn_idx")
        cum = spec.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        layers += _wide_layers(spec, cum, _ts_us("ts"), gap_s)
    return layers


def _wide_layers(w, wcum, us, gap_s) -> list[Layer]:
    """The wide tier's window layers, after the base layers:

    - **W0** — every window over raw/base-staged columns (lags, the
      base-width min/max frames, cumulative sums/extremes, boundary
      carries that only read base columns). One node.
    - three bounded row-locals W1 reads (role change, trapezoids).
    - **W1** — windows over W0 outputs: rolling sums/means/stds as lag
      differences of W0's running sums, 10/20-row min/max as block
      compositions, and the session family. One node.

    Running mean/std, ratios and the composite battery are
    :func:`derive`'s. Requires ``_sb``, ``_rn``, ``_gap_us`` from the
    base layers."""
    w5 = w.rowsBetween(-(ROLL_ROWS - 1), Window.currentRow)
    w10 = w.rowsBetween(-(WIDE_ROLL10 - 1), Window.currentRow)
    tl = F.col("text_len")
    tll = tl.cast("long")
    gap = F.col("lag1_ts_gap_s")
    rn = F.col("_rn")
    sb = F.col("_sb")
    r5, r10, r20 = _rows(ROLL_ROWS - 1), _rows(WIDE_ROLL10 - 1), _rows(WIDE_ROLL20 - 1)
    # a gap reads its predecessor: gap frames reach one row further
    g5, g10 = _rows(ROLL_ROWS), _rows(WIDE_ROLL10)

    def lag_delta(k: int) -> tuple[Kind, Column]:
        return _rows(k), (tl - F.lag(tl, k).over(w)).cast("double")

    def lag_gap(k: int) -> tuple[Kind, Column]:
        return _rows(k), (us - F.lag(us, k).over(w)).cast("double") / F.lit(1e6)

    # ---- W0: one WindowExec over (conv)(ts, turn_idx) frames. Only the
    # base-width min/max frames slide; W1 composes the 10/20-row ones
    # from them (:func:`blocks`).
    w0: Layer = {
        "_lag_tll": (_rows(1), F.lag(tll).over(w)),
        "_lag2_tll": (_rows(2), F.lag(tll, 2).over(w)),
        "prev_role": (_rows(1), F.lag("role").over(w)),
        "_prev_tool": (_rows(1), F.lag("tool").over(w)),
        "cum_text_len": (SUM, F.sum(tl).over(wcum).cast("long")),
        "_ctl2": (SUM, F.sum(tll * tll).over(wcum).cast("long")),
        **{f"lag{k}_text_len_delta": lag_delta(k) for k in range(2, 8)},
        "lag2_ts_gap_s": lag_gap(2),
        "lag3_ts_gap_s": lag_gap(3),
        "roll_max_text_len_5": (r5, F.max(tl).over(w5).cast("double")),
        "roll_min_text_len_5": (r5, F.min(tl).over(w5).cast("double")),
        "gap_roll_max_5": (g5, F.max(gap).over(w5)),
        "gap_roll_min_5": (g5, F.min(gap).over(w5)),
        "wing_asym_5": (
            _rows(4),
            (
                F.sum(tll).over(w.rowsBetween(-1, 0)) - F.sum(tll).over(w.rowsBetween(-4, -3))
            ).cast("double"),
        ),
        "run_max_text_len": (MAX, F.max(tl).over(wcum).cast("int")),
        "run_min_text_len": (MIN, F.min(tl).over(wcum).cast("int")),
        "conv_first_text_len": (FIRST, F.first(tl).over(wcum).cast("int")),
        "cum_tool_set": (
            SUM,
            F.sum(F.col("tool").isNotNull().cast("int")).over(wcum).cast("long"),
        ),
        "cum_empty_text": (SUM, F.sum((tl == 0).cast("int")).over(wcum).cast("long")),
        "cum_long_text": (SUM, F.sum((tl > 500).cast("int")).over(wcum).cast("long")),
        "gap_max_run": (MAX, F.max(gap).over(wcum)),
        "high_gap_count_run": (
            SUM,
            F.sum(F.when(gap > 3600, 1).otherwise(0)).over(wcum).cast("long"),
        ),
        "_active_us": (
            SUM,
            F.coalesce(F.sum("_gap_us").over(wcum), F.lit(0)).cast("long"),
        ),
        # us is non-decreasing within a conversation, so first == min and
        # the unordered partition-only window (its own WindowExec) is not
        # needed; the session start is the last boundary's us, else it
        "_first_us": (FIRST, F.first(us).over(wcum)),
        "_last_sb_us": (LAST, F.last(F.when(gap > gap_s, us), ignorenulls=True).over(wcum)),
    }

    # ---- the row-locals W1 reads. Trapezoid areas in exact integers:
    # (len_i + len_{i-1}) × the gap floored to whole ms (floor via % is
    # exact long arithmetic in both engines). The wing trap caps the gap
    # at 3600 s so int64 holds for ~10^9-row frames; the session trap's
    # gap is <= gap_s by definition of a non-boundary row.
    gap_us = F.col("_gap_us")
    gl = F.least(gap_us, F.lit(3_600_000_000))
    gms_cap = ((gl - gl % 1000) / 1000).cast("long")
    gms_sess = ((gap_us - gap_us % 1000) / 1000).cast("long")
    lag_tll = F.col("_lag_tll")
    locals_: Layer = {
        "role_changed": (
            _rows(1),
            (~F.col("role").eqNullSafe(F.col("prev_role"))).cast("int"),
        ),
        "_trap_w": (_rows(1), F.when(gap_us.isNotNull(), (tll + lag_tll) * gms_cap)),
        "_trap_s": (
            _rows(1),
            F.when((sb == 0) & gap_us.isNotNull(), (tll + lag_tll) * gms_sess),
        ),
    }

    # ---- W1: windows over W0-derived columns, one node. The rolling
    # sum/mean/std family is lag differences of the W0 running sums
    # (:func:`roll_sum`); all sums are exact int64 (and Average's double
    # accumulation over small ints is exact), so sum, sum/count and the
    # moment formulas are bit-identical to the sliding originals. The
    # session family rides the wcum frame (:func:`sess_max`,
    # :func:`carry`); sentinel −1 stands in for "no real gap yet" (gaps
    # are >= 0; boundary rows and the rn=1 NULL-gap row map to −1,
    # translated back to NULL by derive).
    cum_tl = F.col("cum_text_len")
    ctl2 = F.col("_ctl2")
    act = F.col("_active_us")
    n5 = F.least(rn, F.lit(ROLL_ROWS))
    n10 = F.least(rn, F.lit(WIDE_ROLL10))
    n20 = F.least(rn, F.lit(WIDE_ROLL20))
    s5 = roll_sum(cum_tl, ROLL_ROWS, w)
    s10 = roll_sum(cum_tl, WIDE_ROLL10, w)
    s20 = roll_sum(cum_tl, WIDE_ROLL20, w)
    m5, m10, m20 = s5 / n5, s10 / n10, s20 / n20
    v5 = roll_sum(ctl2, ROLL_ROWS, w) / n5 - m5 * m5
    v10 = roll_sum(ctl2, WIDE_ROLL10, w) / n10 - m10 * m10
    v20 = roll_sum(ctl2, WIDE_ROLL20, w) / n20 - m20 * m20
    sid = F.col(SESSION_COUNTER)
    b = sb == 1
    ctrap = F.coalesce(F.sum("_trap_s").over(wcum), F.lit(0))
    ctrapn = F.count("_trap_s").over(wcum)
    w1: Layer = {
        "sess_max_text_len": (SESS_MAX, sess_max(tl, sid, wcum).cast("int")),
        "sess_min_text_len": (SESS_MIN, (-sess_max(-tl, sid, wcum)).cast("int")),
        "_sgap": (
            SESS_MAX,
            sess_max(
                F.when((sb == 0) & gap.isNotNull(), gap).otherwise(F.lit(-1.0)), sid, wcum
            ),
        ),
        "sess_cum_text_len": (SESS_SUM, carry(cum_tl, b, cum_tl - tll, wcum).cast("long")),
        "_sess_tlen2": (SESS_SUM, carry(ctl2, b, ctl2 - tll * tll, wcum)),
        "_sess_trap": (SESS_SUM, carry(ctrap, b, ctrap, wcum)),
        "_trapn_sess": (SESS_SUM, carry(ctrapn, b, ctrapn, wcum)),
        "cum_role_changes": (SUM, F.sum("role_changed").over(wcum).cast("long")),
        "roll_role_changes_10": (
            _rows(WIDE_ROLL10),
            F.sum("role_changed").over(w10).cast("long"),
        ),
        "wing_auc_4": (
            _rows(4),
            F.sum("_trap_w").over(w.rowsBetween(-3, 0)) / F.lit(2000.0),
        ),
        "roll_sum_text_len_5": (r5, s5.cast("long")),
        "roll_sum_text_len_10": (r10, s10.cast("long")),
        "roll_sum_text_len_20": (r20, s20.cast("long")),
        "roll_mean_text_len_10": (r10, m10),
        "roll_mean_text_len_20": (r20, m20),
        "roll_std_text_len_5": (r5, F.sqrt(F.greatest(F.lit(0.0), v5))),
        "roll_std_text_len_10": (r10, F.sqrt(F.greatest(F.lit(0.0), v10))),
        "roll_std_text_len_20": (r20, F.sqrt(F.greatest(F.lit(0.0), v20))),
        "zscore_roll_text_len_5": (
            r5,
            F.when(v5 > 0, (tll - m5) / F.sqrt(v5)).otherwise(F.lit(0.0)),
        ),
        "zscore_roll_text_len_10": (
            r10,
            F.when(v10 > 0, (tll - m10) / F.sqrt(v10)).otherwise(F.lit(0.0)),
        ),
        "roll_assistant_rate_10": (
            r10,
            roll_sum(F.col("cum_count_assistant"), WIDE_ROLL10, w) / n10,
        ),
        "roll_tool_rate_10": (r10, roll_sum(F.col("cum_tool_set"), WIDE_ROLL10, w) / n10),
        # rn=1 guard: the sliding original divided a NULL sum by a zero
        # count (NULL under ANSI); the diff form's dividend is 0, which
        # ANSI-errors on /0 — so the head row is NULLed explicitly, which
        # is the identical value.
        "gap_roll_mean_5": (
            g5,
            F.when(rn > 1, roll_sum(act, ROLL_ROWS, w) / F.least(rn - 1, F.lit(ROLL_ROWS)))
            / F.lit(1e6),
        ),
        "gap_roll_mean_10": (
            g10,
            F.when(rn > 1, roll_sum(act, WIDE_ROLL10, w) / F.least(rn - 1, F.lit(WIDE_ROLL10)))
            / F.lit(1e6),
        ),
        "roll_max_text_len_10": (r10, blocks("roll_max_text_len_5", F.greatest, WIDE_ROLL10, w)),
        "roll_min_text_len_10": (r10, blocks("roll_min_text_len_5", F.least, WIDE_ROLL10, w)),
        "roll_max_text_len_20": (r20, blocks("roll_max_text_len_5", F.greatest, WIDE_ROLL20, w)),
        "roll_min_text_len_20": (r20, blocks("roll_min_text_len_5", F.least, WIDE_ROLL20, w)),
        "gap_roll_max_10": (g10, blocks("gap_roll_max_5", F.greatest, WIDE_ROLL10, w)),
        "gap_roll_min_10": (g10, blocks("gap_roll_min_5", F.least, WIDE_ROLL10, w)),
    }
    return [w0, locals_, w1]


def derive(df: DataFrame, wide: bool, enum_shuffle: bool = False) -> DataFrame:
    """The layer with no windows: every feature that is a row-wise
    function of staged columns. The narrow tier has none; the wide tier
    derives running mean/std, ratios, session statistics, the calendar
    and :func:`wide_local_exprs`. Both plans apply it last — the salted
    plan after :func:`stitch_chunks` has made every staged column
    global."""
    if not wide:
        return df
    tl = F.col("text_len")
    tll = tl.cast("long")
    us = F.col("_usq")
    rn = F.col("_rn")
    tis = F.col("turn_in_session")
    first_us = F.col("_first_us")
    start = F.coalesce(F.col("_last_sb_us"), first_us)
    elapsed = (us - start).cast("double") / F.lit(1e6)
    since_start = (us - first_us).cast("double") / F.lit(1e6)
    lag_tll = F.col("_lag_tll")
    run_max, run_min = F.col("run_max_text_len"), F.col("run_min_text_len")
    m_run = F.col("cum_text_len") / rn
    var_run = F.col("_ctl2") / rn - m_run * m_run
    sess_mean = F.col("sess_cum_text_len").cast("double") / tis

    def rlit(r: str) -> Column:
        return enum_code_lit(r) if enum_shuffle else F.lit(r)

    def so_far(c: str) -> Column:
        return F.col(c).cast("double") / rn

    df = df.withColumns(
        {
            "turn_idx_conv": rn.cast("int"),
            "text_len_zscore_run": F.when(
                var_run > 0, (tll - m_run) / F.sqrt(var_run)
            ).otherwise(F.lit(0.0)),
            "run_std_text_len": F.sqrt(F.greatest(F.lit(0.0), var_run)),
            "session_elapsed_s": elapsed,
            "sess_start_hour": F.hour(F.timestamp_micros(start.cast("long"))).cast("int"),
            "time_since_start_s": since_start,
            "days_since_start": F.floor((us - first_us) / F.lit(86_400_000_000)).cast(
                "long"
            ),
            "tool_changed": (~F.col("tool").eqNullSafe(F.col("_prev_tool"))).cast("int"),
            "accel_text_len": (tll - 2 * lag_tll + F.col("_lag2_tll")).cast("double"),
            "pct_change_text_len": F.when(lag_tll > 0, (tl - lag_tll) / lag_tll),
            "gap_roll_range_5": F.col("gap_roll_max_5") - F.col("gap_roll_min_5"),
            "text_len_vs_first": (tl - F.col("conv_first_text_len")).cast("int"),
            "run_depth_text_len": (run_max - run_min).cast("int"),
            "text_len_range_norm": F.when(
                run_max - run_min > 0,
                (tl - run_min).cast("double") / (run_max - run_min),
            ),
            "active_time_run_s": F.col("_active_us").cast("double") / F.lit(1e6),
            "is_session_start": (tis == 1).cast("int"),
            "pct_assistant_so_far": so_far("cum_count_assistant"),
            "pct_tool_so_far": so_far("cum_count_tool"),
            "pct_user_so_far": so_far("cum_count_user"),
            "pct_system_so_far": so_far("cum_count_system"),
            "pct_tool_set_so_far": so_far("cum_tool_set"),
            "cum_mean_text_len": F.col("cum_text_len") / rn,
            "mean_gap_run": F.when(
                rn > 1, (F.col("_active_us") / (rn - 1)) / F.lit(1e6)
            ),
            "turn_rate_session": tis.cast("double") / (elapsed + F.lit(1.0)),
            "turn_rate_conv": rn.cast("double") / (since_start + F.lit(1.0)),
            "sess_frac_of_turns": tis.cast("double") / rn,
            "sess_mean_text_len": sess_mean,
            "roll_range_text_len_10": F.col("roll_max_text_len_10")
            - F.col("roll_min_text_len_10"),
            "roll_range_text_len_20": F.col("roll_max_text_len_20")
            - F.col("roll_min_text_len_20"),
            "sess_depth_text_len": (
                F.col("sess_max_text_len") - F.col("sess_min_text_len")
            ).cast("int"),
            "sess_gap_max_s": F.when(F.col("_sgap") >= 0, F.col("_sgap")),
            "sess_std_text_len": F.sqrt(
                F.greatest(F.lit(0.0), F.col("_sess_tlen2") / tis - sess_mean * sess_mean)
            ),
            "sess_auc_trapezoid": F.when(F.col("_trapn_sess") > 0, F.col("_sess_trap"))
            / F.lit(2000.0),
            "day_of_week": F.dayofweek("ts").cast("int"),
            "hour_of_day": F.hour("ts").cast("int"),
            "minute_of_hour": F.minute("ts").cast("int"),
            "is_assistant": (F.col("role") == rlit("assistant")).cast("int"),
            "is_system": (F.col("role") == rlit("system")).cast("int"),
            "is_tool": (F.col("role") == rlit("tool")).cast("int"),
            "is_user": (F.col("role") == rlit("user")).cast("int"),
            "is_weekend": F.dayofweek("ts").isin(1, 7).cast("int"),
            "log1p_text_len": F.log1p(tl),
            "sigmoid_text_len": F.lit(1.0)
            / (F.lit(1.0) + F.exp(-(tl - 200) / F.lit(80.0))),
            "turn_frac_day": (us % F.lit(86_400_000_000)).cast("double")
            / F.lit(86_400_000_000.0),
        }
    )
    return df.withColumns(wide_local_exprs(enum_shuffle))


def context_margin(kinds: dict[str, Kind]) -> tuple[int, int]:
    """The history a chunk needs for its bounded columns: the longest
    lookback in rows (at least one: a chunk's first gap reads its
    predecessor) and in microseconds."""
    k_rows = max(1, *(k.rows for k in kinds.values()))
    return k_rows, max(k.secs for k in kinds.values()) * 1_000_000


def _carried(kinds: dict[str, Kind]) -> dict[str, Kind]:
    return {c: k for c, k in kinds.items() if k.rule != "local"}


def last_row(kinds: dict[str, Kind], cond: str) -> Column:
    """Aggregate: the columns a stitch carries at the last row, in
    (ts, turn_idx) order, of the rows where SQL ``cond`` holds."""
    fields = ", ".join(["ts", "turn_idx", *(f"`{c}`" for c in _carried(kinds))])
    return F.expr(f"max(if({cond}, struct({fields}), null))")


def _x0(c: str) -> str:
    return f"coalesce(_x.`{c}`, 0)"


def stitch_chunks(u: DataFrame, kinds: dict[str, Kind]) -> DataFrame:
    """Make the staged columns of a chunked window pass global, one rule
    per :class:`Kind` — the merge of DS2-style partial states.

    ``u`` holds :func:`window_layers` partitioned by ``(conv_id, _tgt)``:
    each chunk's real rows (``_ctx == 0``) preceded by context rows
    (``_ctx == 1``) that form a contiguous suffix of the history before
    the chunk, so bounded columns are exact as computed. The rest are
    made global from their local values at the chunk's last context row
    (``_x``) and last real row (``_e``) by :func:`chunk_carry`, then
    :func:`stitch`. Returns the real rows only."""
    summ = u.groupBy("conv_id", "_tgt").agg(
        last_row(kinds, "_ctx = 1").alias("_x"), last_row(kinds, "_ctx = 0").alias("_e")
    )
    summ = chunk_carry(summ, kinds)
    return stitch(u.filter("_ctx = 0").join(F.broadcast(summ), ["conv_id", "_tgt"]), kinds)


def chunk_carry(summ: DataFrame, kinds: dict[str, Kind]) -> DataFrame:
    """The summary step of a stitch: exclusive prefix windows over the
    chunks' ``(conv_id, _tgt, _x, _e)`` rows give the global value at
    the previous chunk's end (``_c_<column>``). A chunk row with global
    ``_e`` and no ``_x`` (a stream's committed state) serves as the
    first chunk. SQL text: one parse per expression, not a Py4J call
    per operator."""
    frame = "over (partition by conv_id order by _tgt rows between unbounded preceding and {})"
    prev, upto = frame.format("1 preceding"), frame.format("current row")

    def e(c: str) -> str:
        return f"_e.`{c}`"

    has_b = f"({e(SESSION_COUNTER)} - {_x0(SESSION_COUNTER)} > 0)"
    # chunks holding a session boundary, up to and including this one
    n_b = f"sum(cast({has_b} as int)) {upto}"

    def carry(c: str, k: Kind) -> str:
        if k.rule == "sum":
            run = f"coalesce(sum({e(c)} - {_x0(c)}) {prev}, 0)"
            if not k.session:
                return run
            # the value at the end of the last boundary chunk B plus the
            # real parts of the chunks after it: x(B) - run(B) + run
            return f"{run} + coalesce(last(if({has_b}, {_x0(c)} - {run}, null), true) {prev}, 0)"
        if k.session:
            # struct-extreme over the earlier chunks with the highest
            # n_b: the last boundary chunk and the chunks after it
            b = n_b if k.rule == "max" else f"-{n_b}"
            return f"({k.rule}(named_struct('b', {b}, 'v', {e(c)})) {prev}).v"
        return f"{k.rule}({e(c)}{', true' if k.rule == 'last' else ''}) {prev}"

    carry_cols = [f"{carry(c, k)} as `_c_{c}`" for c, k in _carried(kinds).items()]
    return summ.selectExpr("conv_id", "_tgt", "_x", *carry_cols)


def stitch(rows: DataFrame, kinds: dict[str, Kind]) -> DataFrame:
    """The apply step of a stitch: real rows that carry their chunk's
    ``_x`` and ``_c_<column>`` (:func:`chunk_carry`) get every carried
    staged column made global, one rule per kind:

    - sum: ``local − x + c``;
    - max/min: ``combine(c, local)`` (context rows are history, so
      counting them twice is harmless);
    - first: ``c``, or the local value in the first chunk;
    - last: the local value, or ``c`` where it is NULL.

    Session-scoped columns take the same rule on the rows before the
    chunk's first real session boundary ("open" rows) and keep their
    local value elsewhere. The summary columns are dropped."""
    carried = _carried(kinds)
    types = dict(rows.dtypes)
    is_open = f"{SESSION_COUNTER} = {_x0(SESSION_COUNTER)}"

    def rule(c: str, k: Kind) -> str:
        v, cv = f"`{c}`", f"`_c_{c}`"
        g = {
            "sum": f"{v} - {_x0(c)} + {cv}",
            "max": f"greatest({v}, {cv})",
            "min": f"least({v}, {cv})",
            "first": f"coalesce({cv}, {v})",
            "last": f"coalesce({v}, {cv})",
        }[k.rule]
        return f"cast({f'if({is_open}, {g}, {v})' if k.session else g} as {types[c]})"

    out = rows.withColumns({c: F.expr(rule(c, k)) for c, k in carried.items()})
    return out.drop("_x", "_ctx", *(f"_c_{c}" for c in carried))


def sessionize(
    df: DataFrame,
    gap_s: float = SESSION_GAP_S,
    entity_col: str = "conv_id",
    ts_col: str = "ts",
    tiebreak_col: str = "turn_idx",
) -> DataFrame:
    """ts-gap sessionization: ``session_id`` = running count of gaps
    > ``gap_s`` (graft analogue of find_peaks boundary detection,
    reference: src/pipeline/peak_detector.py:94-132)."""
    w = Window.partitionBy(entity_col).orderBy(ts_col, tiebreak_col)
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = (_ts_us(ts_col) - F.lag(_ts_us(ts_col)).over(w)).cast("double") / F.lit(1e6)
    return df.withColumn(
        "session_id",
        F.sum(F.when(gap > gap_s, 1).otherwise(0)).over(wcum).cast("int"),
    )


def featurize_expr(
    df: DataFrame,
    gap_s: float = SESSION_GAP_S,
    include_labels: bool = False,
    include_text: bool = True,
    wide: bool = False,
    enum_shuffle: bool = False,
) -> DataFrame:
    """The full per-turn feature vector as ONE window-expression plan:
    :func:`project_inputs`, then :func:`window_layers` over
    ``partitionBy(conv_id)``, then :func:`derive`.

    ``enum_shuffle=True`` (narrow ``include_text=False`` contract only)
    replaces the ``role``/``tool`` strings with 64-bit hash codes BELOW
    the exchange — the shuffle rows then carry no string except the
    conv_id key. Features only need equality on these columns
    (registry-literal comparisons use the code of the literal).

    The feature-table contract KEEPS the codes in the output
    (``role``/``tool``/``tool_backfill`` — and ``prev_role`` in the
    wide tier — come back as BIGINT): strings are recovered lazily at
    read time via :func:`enum_decode` with :func:`enum_decode_map`
    against the source table (or the dims ``featurize_job`` writes
    next to the feature table); the decoded table is bit-identical to
    the string path (pytest-locked). Decoding inside this plan would
    cost one column-pruned distinct scan plus a broadcast join per dim,
    pure overhead for consumers that only ever compare these columns
    for equality.

    Scale notes (100 TB): all windows share ``partitionBy(conv_id)`` —
    Catalyst plans a single hash exchange on conv_id followed by one
    sort; every feature is computed in that one pipelined stage. A
    mega-conversation lands in a single task: for that case use
    :func:`astrospectro_spark.engine.skew.featurize_salted`, which runs
    these same layers over ts-range chunks of hot conversations.

    ``include_text=False`` projects ``text`` down to ``text_len``
    BEFORE the exchange: the feature table is keyed by
    (conv_id, turn_idx) and the raw text stays in the source table, so
    the shuffle carries an int instead of the corpus — at 10^12 turns
    this cuts shuffled bytes by roughly the mean turn length. This is
    the production featurize-job default; the text-carrying variant
    exists for pipelines that materialise a denormalised table.
    """
    df, key_cols = project_inputs(df, include_text, enum_shuffle, wide)
    layers = window_layers(["conv_id"], gap_s, wide, enum_shuffle)
    df = derive(apply_layers(df, layers), wide, enum_shuffle)
    cols = output_cols(key_cols, wide)
    if include_labels:
        w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
        us = F.col("_usq")
        df = df.withColumns(
            {
                "label_lead1_text_len": F.lead("text_len").over(w).cast("double"),
                "label_lead1_ts_gap_s": (F.lead(us).over(w) - us).cast("double")
                / F.lit(1e6),
            }
        )
        cols = cols + LABEL_COLS
    return df.select(*cols)


def output_cols(key_cols: list[str], wide: bool) -> list[str]:
    """The locked output columns: keys, then the tier's features."""
    return key_cols + FEATURE_COLS + (WIDE_FEATURE_COLS if wide else [])


def enum_decode_map(wide: bool) -> dict[str, str]:
    """Coded output column → source dim column, per tier."""
    m = {"role": "role", "tool": "tool", "tool_backfill": "tool"}
    if wide:
        m["prev_role"] = "role"
    return m
