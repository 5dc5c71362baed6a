"""Salted range partitioning for mega-conversations (skew engine).

``Window.partitionBy(conv_id)`` puts an entire conversation in ONE
task; a conversation holding 30% of a 10^12-turn table would serialise
the job. AQE's skew-join splitting cannot split a window/groupBy key
(SURVEY.md §4 custom-work 1), so this module does it explicitly:

1. **Census** — row counts per conv_id, run once as an eager action
   (:func:`collect_hot_ids`) that brings the hot ids (non-null, more
   than ``hot_threshold`` rows; at most rows ÷ threshold of them) to the
   driver. Input with no hot conversation gets the plain
   :func:`engine.windows.featurize_expr` plan, with no salted branch;
   otherwise a null-safe ``conv_id IN (hot ids)`` filter splits hot rows
   from the cold ones, which take the normal single-window path.
2. **Range salting** — per hot conversation, ``approx_percentile`` of
   the ts axis yields k-1 boundaries → ``chunk_id`` per row (array
   fold, no window). This is the graft analogue of the reference's
   5,000-row chunking (reference: src/pipeline/processing.py:108-110),
   but range-based so chunks are contiguous in event time.
3. **Overlap margin** — bounded-lookback features need history:
   the last ``roll_rows-1`` rows of each chunk plus every row within
   ``rate_window_s`` of a later chunk's start are COPIED into that
   chunk flagged ``_ctx=1`` (context only: they feed frames, then drop).
   Context rows always sort strictly before real rows (chunk ranges are
   half-open on ts), so row frames stay contiguous.
4. **Local pass** — one window over ``(conv_id, chunk_id)`` computes
   bounded features exactly (context supplies history) and *local*
   unbounded partials (masked to real rows).
5. **Stitch pass** — a per-(conv, chunk) summary (rows, per-role
   counts, session-boundary count, rows-after-last-boundary, last
   tool) is tiny (k chunks per hot conv); exclusive prefix windows over
   it yield the offsets that convert local unbounded partials into
   global values. Summary joins back broadcast.

The result is bit-identical to :func:`engine.windows.featurize_expr`
(asserted in tests with chunking forced on, including pathological
tiny chunks from duplicate-ts boundaries — the row margin reaches back
across as many chunks as needed to collect ``roll_rows-1`` rows).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from astrospectro_spark.engine.windows import (
    FEATURE_COLS,
    KEY_COLS,
    RATE_WINDOW_S,
    ROLES,
    ROLL_ROWS,
    SESSION_GAP_S,
    WIDE_FEATURE_COLS,
    WIDE_RATE_MAX_S,
    WIDE_RATE_S,
    WIDE_ROLL10,
    WIDE_ROLL20,
    featurize_expr,
    wide_local_exprs,
)

DEFAULT_HOT_THRESHOLD = 2_000_000
DEFAULT_CHUNK_TARGET = 500_000


def _us(col="ts"):
    return F.unix_micros(F.col(col).cast("timestamp"))


def featurize_salted(
    df: DataFrame,
    gap_s: float = SESSION_GAP_S,
    rate_window_s: int = RATE_WINDOW_S,
    roll_rows: int = ROLL_ROWS,
    hot_threshold: int = DEFAULT_HOT_THRESHOLD,
    chunk_target_rows: int = DEFAULT_CHUNK_TARGET,
    persist_hot: bool = True,
    include_text: bool = True,
    wide: bool = False,
    enum_shuffle: bool = False,
    decode_enums: bool = False,
) -> DataFrame:
    """featurize_expr semantics with hot conversations split into
    ts-range chunks that run as parallel tasks.

    The census runs HERE, eagerly: one action collects the hot
    conversation ids (:func:`collect_hot_ids`) before any plan is
    built. When nothing is hot, the result IS the
    :func:`featurize_expr` plan (no union, no broadcast joins, no
    persist, an empty cached-handle list); otherwise the hot rows are
    split off with a null-safe ``conv_id IN (hot ids)`` filter. Rows
    with a null ``conv_id`` are never hot, whatever their count.

    ``enum_shuffle=True`` (narrow ``include_text=False`` contract only,
    see :func:`featurize_expr`) carries ``role``/``tool`` as 64-bit
    codes through every exchange of BOTH the cold and hot branches.
    The default output KEEPS the codes (BIGINT columns; decode lazily
    at read via ``windows.enum_decode``); ``decode_enums=True`` decodes
    once after the union via broadcast dims — bit-identical to the
    string path.

    ``persist_hot`` caches the hot slice after chunk assignment: the
    salted plan consumes it three times (real rows + two context-copy
    branches) and without a persist each consumer re-scans and
    re-decompresses the source (string decode dominates CPU). The hot
    slice is by definition a bounded fraction of the table (the skewed
    conversations), so MEMORY_AND_DISK is safe at scale. The cached
    handle is registered on the returned DataFrame — call
    :func:`release_cached` (FeatureRun does) after materialising the
    result so long multi-bucket runs don't accumulate cached blocks.
    """
    hot_ids = collect_hot_ids(df, hot_threshold)
    cold_out = featurize_expr(
        df.filter(~is_hot(hot_ids)) if hot_ids else df,
        gap_s=gap_s,
        rate_window_s=rate_window_s,
        roll_rows=roll_rows,
        include_text=include_text,
        wide=wide,
        enum_shuffle=enum_shuffle,
    )
    out, handles = cold_out, []
    if hot_ids:
        hot_out, handles = _featurize_hot(
            df.filter(is_hot(hot_ids)),
            gap_s=gap_s,
            rate_window_s=rate_window_s,
            roll_rows=roll_rows,
            chunk_target_rows=chunk_target_rows,
            persist_hot=persist_hot,
            include_text=include_text,
            wide=wide,
            enum_shuffle=enum_shuffle,
        )
        out = cold_out.unionByName(hot_out.select(cold_out.columns))
    if enum_shuffle and decode_enums:
        from astrospectro_spark.engine.windows import enum_decode, enum_decode_map

        out = enum_decode(out, df, enum_decode_map(wide)).select(cold_out.columns)
    out._astrospectro_cached = handles  # fast path for the exact object
    with _REGISTRY_LOCK:
        _CACHE_REGISTRY.extend(handles)  # survives downstream transformations
    return out


# Handles of every hot-slice persist not yet released. The dynamic
# attribute on the returned DataFrame is lost as soon as a caller
# transforms it (.select/.filter return new objects), so the registry is
# the source of truth; the attribute just lets release_cached target one
# specific result when several are in flight. All mutations go through
# _REGISTRY_LOCK so concurrent featurize_salted calls from multiple
# driver threads cannot race extend() against the drain (a double
# unpersist or a skipped handle).
_CACHE_REGISTRY: list[DataFrame] = []
_REGISTRY_LOCK = threading.Lock()


def release_cached(df: DataFrame | None = None) -> None:
    """Unpersist intermediates the salted featurizer cached.

    Pass the DataFrame returned by :func:`featurize_salted` to release
    exactly that result's handles. If the dynamic attribute was lost in
    a transformation (``.select``/``.filter`` return new objects), or
    no argument is given, the WHOLE registry is drained — including
    handles belonging to any other in-flight salted result. The
    fallback is therefore only safe when a single salted result is in
    flight (the FeatureRun loop's case: one bucket at a time); callers
    running several salted featurizations concurrently must keep the
    returned DataFrame and pass it here untransformed. A result with no
    hot branch carries an EMPTY handle list: releasing it releases
    nothing. Call after the output is materialised (write/collect);
    idempotent either way.
    """
    handles = getattr(df, "_astrospectro_cached", None) if df is not None else None
    with _REGISTRY_LOCK:
        if handles is None:
            handles, _CACHE_REGISTRY[:] = list(_CACHE_REGISTRY), []
        else:
            drop = {id(g) for g in handles}
            _CACHE_REGISTRY[:] = [h for h in _CACHE_REGISTRY if id(h) not in drop]
    for h in handles:
        try:
            h.unpersist()
        except Exception:  # noqa: BLE001 — session may already be gone
            pass


def collect_hot_ids(df: DataFrame, hot_threshold: int, entity_col: str = "conv_id") -> list:
    """The census, as an eager action: the non-null ``entity_col``
    values with more than ``hot_threshold`` rows, collected to the
    driver. There are at most ``rows // hot_threshold`` of them."""
    return [
        r[0]
        for r in df.filter(F.col(entity_col).isNotNull())
        .groupBy(entity_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > hot_threshold)
        .select(entity_col)
        .collect()
    ]


def is_hot(hot_ids: list, entity_col: str = "conv_id") -> "F.Column":
    """Null-safe membership in the census's hot set: a null entity is
    never hot, so ``~is_hot`` keeps it on the cold path."""
    return F.coalesce(F.col(entity_col).isin(hot_ids), F.lit(False))


GRID = 128


def compute_ts_bounds(
    df: DataFrame, chunk_target_rows: int, ts_col: str = "ts", entity_col: str = "conv_id"
) -> DataFrame:
    """Per-entity ts-range chunk boundaries: a fixed GRID-point
    approx-quantile grid, subsampled to ceil(n/target) chunks.
    Boundaries are actual data values, so after array_distinct every
    interior chunk holds >= 1 row; parallelism per entity caps at GRID.
    Returns (entity, _bounds array<bigint> of epoch-us cut points)."""
    fracs = ", ".join(str((i + 1) / GRID) for i in range(GRID - 1))
    return (
        df.groupBy(entity_col)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.expr(
                f"percentile_approx(unix_micros(cast({ts_col} as timestamp)), "
                f"array({fracs}), 10000)"
            ).alias("_raw"),
        )
        .withColumn(
            "_k",
            F.least(
                F.ceil(F.col("_n") / F.lit(chunk_target_rows)), F.lit(GRID)
            ).cast("int"),
        )
        .withColumn(
            "_bounds",
            F.when(F.col("_k") <= 1, F.expr("cast(array() as array<bigint>)")).otherwise(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.greatest(F.col("_k") - 1, F.lit(1))),
                        lambda i: F.element_at(
                            "_raw",
                            F.least(
                                F.greatest(
                                    F.round(i * GRID / F.col("_k")).cast("int"),
                                    F.lit(1),
                                ),
                                F.lit(GRID - 1),
                            ),
                        ),
                    )
                )
            ),
        )
        .select(entity_col, "_bounds")
    )


def chunk_of(ts_col: str = "ts") -> "F.Column":
    """chunk id = number of boundaries <= ts (requires joined _bounds)."""
    us = _us(ts_col)
    return F.aggregate(
        "_bounds", F.lit(0), lambda acc, b: acc + F.when(us >= b, 1).otherwise(0)
    )


def _featurize_hot(
    hot: DataFrame,
    gap_s: float,
    rate_window_s: int,
    roll_rows: int,
    chunk_target_rows: int,
    persist_hot: bool = True,
    include_text: bool = True,
    wide: bool = False,
    enum_shuffle: bool = False,
) -> tuple[DataFrame, list[DataFrame]]:
    # row-lookback margin: rolling frames need roll_rows-1, wide lag5
    # needs 5, gap-rolling needs WIDE_ROLL10+1 (the oldest gap in a
    # real row's frame needs ITS predecessor) and the 20-row rolls need
    # WIDE_ROLL20-1; time margin must cover the LARGEST range window
    # (the wide tier's 3600s rate/sum)
    k_rows = max(WIDE_ROLL20 - 1, WIDE_ROLL10 + 1, roll_rows, 5) if wide else roll_rows - 1
    margin_us = max(rate_window_s, WIDE_RATE_MAX_S if wide else 0) * 1_000_000

    key_cols = KEY_COLS if include_text else [c for c in KEY_COLS if c != "text"]
    text_len = F.length(F.coalesce(F.col("text"), F.lit(""))).cast("int")
    if enum_shuffle and include_text:
        raise ValueError(
            "enum_shuffle supports the include_text=False contract only"
        )
    if include_text:
        hot = hot.withColumn("text_len", text_len)
    elif enum_shuffle:
        # project corpus → length AND role/tool → 64-bit codes BEFORE
        # any shuffle/persist; decode happens once in featurize_salted.
        # tool_len (a row-local wide feature of the STRING) is staged
        # here too — a code carries no length.
        from astrospectro_spark.engine.windows import _enum_code

        extra = (
            [F.coalesce(F.length("tool"), F.lit(0)).cast("int").alias("tool_len")]
            if wide
            else []
        )
        hot = hot.select(
            "conv_id",
            "turn_idx",
            _enum_code("role").alias("role"),
            _enum_code("tool").alias("tool"),
            "ts",
            text_len.alias("text_len"),
            *extra,
        )
    else:
        # project the corpus column down to its length BEFORE any
        # shuffle/persist — same contract as featurize_expr
        hot = hot.select(*key_cols, text_len.alias("text_len"))

    def _role_lit(r: str):
        from astrospectro_spark.engine.windows import enum_code_lit

        return enum_code_lit(r) if enum_shuffle else F.lit(r)

    # ---- 2. range salting: ts-quantile boundaries per hot conv
    bounds = compute_ts_bounds(hot, chunk_target_rows)
    hot = hot.join(F.broadcast(bounds), "conv_id")
    us = _us("ts")
    hot = hot.withColumn("_chunk", chunk_of("ts"))
    handles: list[DataFrame] = []
    if persist_hot:
        hot = hot.persist()
        handles.append(hot)

    # ---- 3. overlap margin: copy context rows into later chunks
    real = hot.withColumn("_ctx", F.lit(0)).withColumn("_tgt", F.col("_chunk"))
    # (a) time margin: a row is context for every chunk whose lower
    # boundary b satisfies ts < b <= ts + margin (multi-chunk reach).
    n_time_copies = F.size(
        F.filter("_bounds", lambda b: (us < b) & (b <= us + F.lit(margin_us)))
    )
    time_ctx = (
        hot.withColumn("_ncopies", n_time_copies)
        .filter(F.col("_ncopies") > 0)
        .withColumn("_k", F.explode(F.sequence(F.lit(1), F.col("_ncopies"))))
        .withColumn("_tgt", F.col("_chunk") + F.col("_k"))
        .withColumn("_ctx", F.lit(1))
        .drop("_ncopies", "_k")
    )
    # (b) row margin with MULTI-CHUNK reach-back: a row must serve every
    # later chunk that starts fewer than k_rows rows after it — one
    # chunk back is not enough when duplicate-ts boundaries produce a
    # tiny chunk. Per-conv chunk row-counts (a <=GRID-entry array,
    # broadcast) give the rows-between prefix; only rows in the last
    # k_rows of their own chunk can ever qualify, so the O(k_chunks²)
    # fold runs on ~k_rows rows per chunk.
    ccounts = hot.groupBy("conv_id", "_chunk").agg(F.count(F.lit(1)).alias("_cnt"))
    carr = ccounts.groupBy("conv_id").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("_chunk").alias("c"), F.col("_cnt").alias("n")))
        ).alias("_carr")
    )
    wdesc = Window.partitionBy("conv_id", "_chunk").orderBy(
        F.col("ts").desc(), F.col("turn_idx").desc()
    )

    def _rows_between(t):
        return F.aggregate(
            F.filter(
                "_carr",
                lambda e: (e.getField("c") > F.col("_chunk")) & (e.getField("c") < t),
            ),
            F.lit(0).cast("long"),
            lambda acc, e: acc + e.getField("n"),
        )

    row_ctx = (
        hot.withColumn("_rn_end", F.row_number().over(wdesc))
        .filter(F.col("_rn_end") <= k_rows)
        .join(F.broadcast(carr), "conv_id")
        .withColumn(
            "_tgts",
            F.filter(
                F.transform("_carr", lambda e: e.getField("c")),
                lambda t: (t > F.col("_chunk"))
                & (_rows_between(t) + F.col("_rn_end") <= k_rows),
            ),
        )
        .withColumn("_tgt", F.explode("_tgts"))
        .withColumn("_ctx", F.lit(1))
        .drop("_rn_end", "_carr", "_tgts")
    )
    ctx = time_ctx.unionByName(row_ctx).dropDuplicates(
        ["conv_id", "turn_idx", "ts", "_tgt"]
    )
    u = real.unionByName(ctx).drop("_bounds", "_chunk")

    # ---- 4. local pass: one window over (conv, target-chunk)
    w = Window.partitionBy("conv_id", "_tgt").orderBy("ts", "turn_idx")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    is_real = F.col("_ctx") == 0

    u = u.withColumn("_usq", _us())  # shared sort key for range frames
    tl = F.col("text_len")
    tll = tl.cast("long")
    us_e = _us()
    gap_expr = (us_e - F.lag(us_e).over(w)).cast("double") / F.lit(1e6)
    w5 = w.rowsBetween(-(roll_rows - 1), Window.currentRow)
    w10 = w.rowsBetween(-(WIDE_ROLL10 - 1), Window.currentRow)
    w20 = w.rowsBetween(-(WIDE_ROLL20 - 1), Window.currentRow)
    w4a = w.rowsBetween(-1, 0)
    w4b = w.rowsBetween(-4, -3)
    wtrap = w.rowsBetween(-3, 0)
    w5_m = F.avg(tll).over(w5)
    w5_m2 = F.avg(tll * tll).over(w5)
    w10_m = F.avg(tll).over(w10)
    w10_m2 = F.avg(tll * tll).over(w10)
    w20_m = F.avg(tll).over(w20)
    w20_m2 = F.avg(tll * tll).over(w20)
    # ---- time-range family FIRST, while the row is narrow: one
    # contiguous us-ordered run (single sort for every rangeBetween
    # frame — mirrors windows._wide_exprs). The rate frame is the
    # FEATURE's window (60s); margin_us is the context-copy horizon,
    # which may be wider (wide tier's 3600s range). ----
    wrange = (
        Window.partitionBy("conv_id", "_tgt")
        .orderBy(F.col("_usq"))
        .rangeBetween(-rate_window_s * 1_000_000, 0)
    )
    u = u.withColumn("rate_60s", F.count(F.lit(1)).over(wrange).cast("double"))
    if wide:
        def _wrr(seconds):
            return (
                Window.partitionBy("conv_id", "_tgt")
                .orderBy(F.col("_usq"))
                .rangeBetween(-seconds * 1_000_000, 0)
            )
        wr300, wr3600 = _wrr(WIDE_RATE_S), _wrr(WIDE_RATE_MAX_S)
        wr900, wr60 = _wrr(900), _wrr(RATE_WINDOW_S)
        u = u.withColumns(
            {
                "rate_300s": F.count(F.lit(1)).over(wr300).cast("double"),
                "text_sum_300s": F.sum(tl).over(wr300).cast("long"),
                "rate_3600s": F.count(F.lit(1)).over(wr3600).cast("double"),
                "text_sum_3600s": F.sum(tl).over(wr3600).cast("long"),
                "rate_900s": F.count(F.lit(1)).over(wr900).cast("double"),
                "text_sum_900s": F.sum(tl).over(wr900).cast("long"),
                "text_sum_60s": F.sum(tl).over(wr60).cast("long"),
            }
        )
    # ---- W0: every window over raw columns, ONE batched projection →
    # one WindowExec pass (same layering discipline as
    # windows._wide_exprs). Context rows are a contiguous suffix of the
    # true history, so local lag/rolling chains reproduce the global
    # ones; running partials are masked to real rows. ----
    l0 = {
        "lag1_ts_gap_s": gap_expr,
        "_gap_us": us_e - F.lag(us_e).over(w),
        "lag1_text_len_delta": (tl - F.lag("text_len").over(w)).cast("double"),
        "_cumreal": F.sum(F.when(is_real, 1).otherwise(0)).over(wcum),
        "_local_backfill": F.last(
            F.when(is_real, F.col("tool")), ignorenulls=True
        ).over(wcum),
        **{
            f"_lc_{r}": F.sum(
                F.when(is_real & (F.col("role") == _role_lit(r)), 1).otherwise(0)
            )
            .over(wcum)
            .cast("int")
            for r in ROLES
        },
        "roll_mean_text_len_5": F.avg("text_len").over(
            w.rowsBetween(-(roll_rows - 1), Window.currentRow)
        ),
    }
    if wide:
        l0.update(
            {
                "_lag_tll": F.lag(tll).over(w),
                "_lag2_tll": F.lag(tll, 2).over(w),
                "prev_role": F.lag("role").over(w),
                "_prev_tool": F.lag("tool").over(w),
                "lag2_text_len_delta": (tl - F.lag(tl, 2).over(w)).cast("double"),
                "lag3_text_len_delta": (tl - F.lag(tl, 3).over(w)).cast("double"),
                "lag4_text_len_delta": (tl - F.lag(tl, 4).over(w)).cast("double"),
                "lag5_text_len_delta": (tl - F.lag(tl, 5).over(w)).cast("double"),
                "lag6_text_len_delta": (tl - F.lag(tl, 6).over(w)).cast("double"),
                "lag7_text_len_delta": (tl - F.lag(tl, 7).over(w)).cast("double"),
                "lag2_ts_gap_s": (us_e - F.lag(us_e, 2).over(w)).cast("double")
                / F.lit(1e6),
                "lag3_ts_gap_s": (us_e - F.lag(us_e, 3).over(w)).cast("double")
                / F.lit(1e6),
                "roll_max_text_len_5": F.max(tl).over(w5).cast("double"),
                "roll_min_text_len_5": F.min(tl).over(w5).cast("double"),
                "roll_sum_text_len_5": F.sum(tl).over(w5).cast("long"),
                "roll_std_text_len_5": F.sqrt(
                    F.greatest(F.lit(0.0), w5_m2 - w5_m * w5_m)
                ),
                "zscore_roll_text_len_5": F.when(
                    w5_m2 - w5_m * w5_m > 0,
                    (tll - w5_m) / F.sqrt(w5_m2 - w5_m * w5_m),
                ).otherwise(F.lit(0.0)),
                "roll_mean_text_len_10": F.avg(tl).over(w10),
                "roll_min_text_len_10": F.min(tl).over(w10).cast("double"),
                "roll_max_text_len_10": F.max(tl).over(w10).cast("double"),
                "roll_sum_text_len_10": F.sum(tl).over(w10).cast("long"),
                "roll_std_text_len_10": F.sqrt(
                    F.greatest(F.lit(0.0), w10_m2 - w10_m * w10_m)
                ),
                "zscore_roll_text_len_10": F.when(
                    w10_m2 - w10_m * w10_m > 0,
                    (tll - w10_m) / F.sqrt(w10_m2 - w10_m * w10_m),
                ).otherwise(F.lit(0.0)),
                "roll_mean_text_len_20": F.avg(tl).over(w20),
                "roll_min_text_len_20": F.min(tl).over(w20).cast("double"),
                "roll_max_text_len_20": F.max(tl).over(w20).cast("double"),
                "roll_sum_text_len_20": F.sum(tl).over(w20).cast("long"),
                "roll_std_text_len_20": F.sqrt(
                    F.greatest(F.lit(0.0), w20_m2 - w20_m * w20_m)
                ),
                "roll_assistant_rate_10": F.sum(
                    (F.col("role") == _role_lit("assistant")).cast("int")
                ).over(w10)
                / F.count(F.lit(1)).over(w10),
                "roll_tool_rate_10": F.sum(
                    F.col("tool").isNotNull().cast("int")
                ).over(w10)
                / F.count(F.lit(1)).over(w10),
                "wing_asym_5": (
                    F.sum(tll).over(w4a) - F.sum(tll).over(w4b)
                ).cast("double"),
                "_lc_tlen": F.sum(F.when(is_real, tl).otherwise(0))
                .over(wcum)
                .cast("long"),
                "_lc_tlen2": F.sum(F.when(is_real, tll * tll).otherwise(0))
                .over(wcum)
                .cast("long"),
                "_lc_max": F.max(F.when(is_real, tl)).over(wcum).cast("int"),
                "_lc_min": F.min(F.when(is_real, tl)).over(wcum).cast("int"),
                "_lc_tset": F.sum(
                    F.when(is_real & F.col("tool").isNotNull(), 1).otherwise(0)
                )
                .over(wcum)
                .cast("long"),
                "_lc_empty": F.sum(F.when(is_real & (tl == 0), 1).otherwise(0))
                .over(wcum)
                .cast("long"),
                "_lc_long": F.sum(F.when(is_real & (tl > 500), 1).otherwise(0))
                .over(wcum)
                .cast("long"),
            }
        )
    u = u.withColumns(l0)
    # ---- locals over W0 (no window). Session boundary flags only
    # meaningful on real rows; the first real row's lag reaches the
    # true previous row (row-margin guarantees one), so the cross-chunk
    # gap is detected locally. ----
    u = u.withColumn(
        "_sb", F.when(is_real & (F.col("lag1_ts_gap_s") > gap_s), 1).otherwise(0)
    )
    if wide:
        gl = F.least(F.col("_gap_us"), F.lit(3_600_000_000))
        gms_cap = ((gl - gl % 1000) / 1000).cast("long")
        gms_sess = ((F.col("_gap_us") - F.col("_gap_us") % 1000) / 1000).cast("long")
        lag_tll = F.col("_lag_tll")
        u = u.withColumns(
            {
                "role_changed": (
                    ~F.col("role").eqNullSafe(F.col("prev_role"))
                ).cast("int"),
                "tool_changed": (
                    ~F.col("tool").eqNullSafe(F.col("_prev_tool"))
                ).cast("int"),
                "accel_text_len": (
                    tll - 2 * lag_tll + F.col("_lag2_tll")
                ).cast("double"),
                "pct_change_text_len": F.when(
                    lag_tll > 0, (tl - lag_tll) / lag_tll
                ),
                "_trap_w": F.when(
                    F.col("_gap_us").isNotNull(), (tll + lag_tll) * gms_cap
                ),
                "_trap_s": F.when(
                    (F.col("_sb") == 0) & F.col("_gap_us").isNotNull(),
                    (tll + lag_tll) * gms_sess,
                ),
                "roll_range_text_len_10": F.col("roll_max_text_len_10")
                - F.col("roll_min_text_len_10"),
                "roll_range_text_len_20": F.col("roll_max_text_len_20")
                - F.col("roll_min_text_len_20"),
            }
        )
    # ---- W1: windows over W0/local outputs, one node. _local_tis =
    # rows since the last boundary (cumulative real-row count minus its
    # value just before the most recent boundary row); _cumreal stays
    # staged — the wide tier stitches turn_idx_conv from it. ----
    l1 = {
        "_local_sid": F.sum("_sb").over(wcum).cast("int"),
        "_local_tis": (
            F.col("_cumreal")
            - F.coalesce(
                F.last(
                    F.when(F.col("_sb") == 1, F.col("_cumreal") - 1),
                    ignorenulls=True,
                ).over(wcum),
                F.lit(0),
            )
        ).cast("int"),
    }
    if wide:
        l1.update(
            {
                "gap_roll_max_5": F.max(F.col("lag1_ts_gap_s")).over(w5),
                "gap_roll_min_5": F.min(F.col("lag1_ts_gap_s")).over(w5),
                "gap_roll_mean_5": F.sum("_gap_us").over(w5)
                / F.count("_gap_us").over(w5)
                / F.lit(1e6),
                "gap_roll_max_10": F.max(F.col("lag1_ts_gap_s")).over(w10),
                "gap_roll_min_10": F.min(F.col("lag1_ts_gap_s")).over(w10),
                "gap_roll_mean_10": F.sum("_gap_us").over(w10)
                / F.count("_gap_us").over(w10)
                / F.lit(1e6),
                "_local_start": F.last(
                    F.when(F.col("_sb") == 1, us_e), ignorenulls=True
                ).over(wcum),
                "_lc_gmax": F.max(F.when(is_real, F.col("lag1_ts_gap_s"))).over(
                    wcum
                ),
                "_lc_gsum": F.sum(F.when(is_real, F.col("_gap_us")))
                .over(wcum)
                .cast("long"),
                "_lc_hg": F.sum(
                    F.when(
                        is_real & (F.col("lag1_ts_gap_s") > 3600), 1
                    ).otherwise(0)
                )
                .over(wcum)
                .cast("long"),
                "_lc_rc": F.sum(F.when(is_real, F.col("role_changed")).otherwise(0))
                .over(wcum)
                .cast("long"),
                "roll_role_changes_10": F.sum("role_changed")
                .over(w10)
                .cast("long"),
                "wing_auc_4": F.sum("_trap_w").over(wtrap) / F.lit(2000.0),
                # within-chunk session text-len cum (same carry as
                # _local_tis, with sums instead of counts)
                "_local_sess_tlen": F.col("_lc_tlen")
                - F.coalesce(
                    F.last(
                        F.when(F.col("_sb") == 1, F.col("_lc_tlen") - tll),
                        ignorenulls=True,
                    ).over(wcum),
                    F.lit(0),
                ),
            }
        )
    u = u.withColumns(l1)
    if wide:
        # ---- session-scoped partials over (conv, chunk, local-session)
        # — same exchange, one more sort key, ONE node. Rows before the
        # chunk's first boundary (_local_sid == 0) get the open-session
        # carry joined in from the summary. ----
        wsl = Window.partitionBy("conv_id", "_tgt", "_local_sid").orderBy(
            "ts", "turn_idx"
        )
        wslc = wsl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        u = u.withColumns(
            {
                "_ls_max": F.max(F.when(is_real, tl)).over(wslc).cast("int"),
                "_ls_min": F.min(F.when(is_real, tl)).over(wslc).cast("int"),
                "_ls_gmax": F.max(
                    F.when(
                        is_real & (F.col("_sb") == 0), F.col("lag1_ts_gap_s")
                    )
                ).over(wslc),
                "_ls_tlen2": F.sum(F.when(is_real, tll * tll).otherwise(0))
                .over(wslc)
                .cast("long"),
                "_ls_trap": F.sum(F.when(is_real, F.col("_trap_s"))).over(wslc),
            }
        )
        # row-local composites + calendar locals: identical expressions
        # as the plain path (imported), so parity holds by construction
        u = u.withColumns(
            {
                "day_of_week": F.dayofweek("ts").cast("int"),
                "hour_of_day": F.hour("ts").cast("int"),
                "minute_of_hour": F.minute("ts").cast("int"),
                "is_assistant": (F.col("role") == _role_lit("assistant")).cast("int"),
                "is_system": (F.col("role") == _role_lit("system")).cast("int"),
                "is_tool": (F.col("role") == _role_lit("tool")).cast("int"),
                "is_user": (F.col("role") == _role_lit("user")).cast("int"),
                "is_weekend": F.dayofweek("ts").isin(1, 7).cast("int"),
                "log1p_text_len": F.log1p(tl),
                "sigmoid_text_len": F.lit(1.0)
                / (F.lit(1.0) + F.exp(-(tl - 200) / F.lit(80.0))),
                "turn_frac_day": (us_e % F.lit(86_400_000_000)).cast("double")
                / F.lit(86_400_000_000.0),
                "gap_roll_range_5": F.col("gap_roll_max_5")
                - F.col("gap_roll_min_5"),
            }
        )
        u = u.withColumns(wide_local_exprs(enum_shuffle))
    local = u.filter(is_real).drop("_ctx")

    # ---- 5. stitch: per-chunk summary → exclusive prefix offsets
    wchunk = Window.partitionBy("conv_id", "_tgt")
    local = local.withColumn("_sid_max", F.max("_local_sid").over(wchunk))
    wide_aggs = (
        [
            F.sum("text_len").cast("long").alias("_c_tlen"),
            F.sum(F.col("text_len").cast("long") * F.col("text_len").cast("long"))
            .cast("long")
            .alias("_c_tlen2"),
            F.max("text_len").cast("int").alias("_c_max"),
            F.min("text_len").cast("int").alias("_c_min"),
            # text-len sum of the chunk's trailing (open) session
            F.sum(
                F.when(F.col("_local_sid") == F.col("_sid_max"), F.col("text_len")).otherwise(0)
            )
            .cast("long")
            .alias("_t_last_tlen"),
            F.max(F.when(F.col("_sb") == 1, _us())).alias("_last_b_us"),
            F.min(_us()).alias("_min_us"),
            F.max("lag1_ts_gap_s").alias("_c_gmax"),
            F.sum("_gap_us").cast("long").alias("_c_gsum"),
            F.sum(F.when(F.col("lag1_ts_gap_s") > 3600, 1).otherwise(0))
            .cast("long")
            .alias("_c_hg"),
            F.sum(F.col("tool").isNotNull().cast("int")).cast("long").alias("_c_tset"),
            # growth tier 4: whole-chunk + trailing-open-session partials
            F.sum("role_changed").cast("long").alias("_c_rc"),
            F.sum((F.col("text_len") == 0).cast("int")).cast("long").alias("_c_empty"),
            F.sum((F.col("text_len") > 500).cast("int")).cast("long").alias("_c_long"),
            F.min_by(
                F.col("text_len"), F.struct(F.col("ts"), F.col("turn_idx"))
            ).alias("_c_firsttl"),
            F.max(F.when(F.col("_sb") == 0, F.col("lag1_ts_gap_s"))).alias("_c_sgmax"),
            F.sum("_trap_s").alias("_c_strap"),
            F.max(
                F.when(F.col("_local_sid") == F.col("_sid_max"), F.col("text_len"))
            )
            .cast("int")
            .alias("_t_max"),
            F.min(
                F.when(F.col("_local_sid") == F.col("_sid_max"), F.col("text_len"))
            )
            .cast("int")
            .alias("_t_min"),
            F.max(
                F.when(
                    (F.col("_local_sid") == F.col("_sid_max")) & (F.col("_sb") == 0),
                    F.col("lag1_ts_gap_s"),
                )
            ).alias("_t_gmax"),
            F.sum(
                F.when(
                    F.col("_local_sid") == F.col("_sid_max"),
                    F.col("text_len").cast("long") * F.col("text_len"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("_t_tlen2"),
            F.sum(
                F.when(F.col("_local_sid") == F.col("_sid_max"), F.col("_trap_s"))
            ).alias("_t_trap"),
        ]
        if wide
        else []
    )
    summ = local.groupBy("conv_id", "_tgt").agg(
        F.count(F.lit(1)).alias("_n"),
        F.max("_local_sid").alias("_sb_total"),
        *[
            F.sum(F.when(F.col("role") == _role_lit(r), 1).otherwise(0))
            .cast("int")
            .alias(f"_c_{r}")
            for r in ROLES
        ],
        # rows after the last session boundary (= all rows if none)
        F.sum(F.when(F.col("_local_sid") == F.col("_sid_max"), 1).otherwise(0))
        .cast("long")
        .alias("_t_last"),
        F.max_by("_local_backfill", F.struct(F.col("ts"), F.col("turn_idx"))).alias(
            "_last_tool"
        ),
        *wide_aggs,
    )
    wc = Window.partitionBy("conv_id").orderBy("_tgt")
    wprev = wc.rowsBetween(Window.unboundedPreceding, -1)
    summ = summ.withColumn("_S", F.coalesce(F.sum("_sb_total").over(wprev), F.lit(0)))
    for r in ROLES:
        summ = summ.withColumn(
            f"_O_{r}", F.coalesce(F.sum(f"_c_{r}").over(wprev), F.lit(0))
        )
    summ = summ.withColumn("_carry", F.last("_last_tool", ignorenulls=True).over(wprev))
    summ = summ.withColumn("_CN_prev", F.coalesce(F.sum("_n").over(wprev), F.lit(0)))
    # last chunk before this one that contained a session boundary:
    # T = rows since the most recent boundary at this chunk's start
    summ = summ.withColumn("_CN", F.col("_CN_prev") + F.col("_n"))
    last_b = F.last(
        F.when(F.col("_sb_total") > 0, F.struct(F.col("_CN"), F.col("_t_last"))),
        ignorenulls=True,
    ).over(wprev)
    wide_summ_cols = []
    if wide:
        summ = summ.withColumn(
            "_O_tlen", F.coalesce(F.sum("_c_tlen").over(wprev), F.lit(0))
        )
        summ = summ.withColumn(
            "_O_tlen2", F.coalesce(F.sum("_c_tlen2").over(wprev), F.lit(0))
        )
        summ = summ.withColumn("_O_max", F.max("_c_max").over(wprev))
        summ = summ.withColumn("_O_min", F.min("_c_min").over(wprev))
        summ = summ.withColumn("_O_gmax", F.max("_c_gmax").over(wprev))
        summ = summ.withColumn(
            "_O_gsum", F.coalesce(F.sum("_c_gsum").over(wprev), F.lit(0)).cast("long")
        )
        summ = summ.withColumn(
            "_O_hg", F.coalesce(F.sum("_c_hg").over(wprev), F.lit(0)).cast("long")
        )
        summ = summ.withColumn(
            "_O_tset", F.coalesce(F.sum("_c_tset").over(wprev), F.lit(0)).cast("long")
        )
        summ = summ.withColumn(
            "_carry_bus", F.last("_last_b_us", ignorenulls=True).over(wprev)
        )
        summ = summ.withColumn(
            "_first_us", F.min("_min_us").over(Window.partitionBy("conv_id"))
        )
        # text-len analogue of _T: sum of text_len since the most recent
        # boundary at this chunk's start (mirrors the _CN/_t_last logic)
        summ = summ.withColumn("_CTLEN", F.col("_O_tlen") + F.col("_c_tlen"))
        last_bw = F.last(
            F.when(
                F.col("_sb_total") > 0,
                F.struct(F.col("_CTLEN"), F.col("_t_last_tlen")),
            ),
            ignorenulls=True,
        ).over(wprev)
        summ = summ.withColumn(
            "_Tsum",
            F.when(last_bw.isNull(), F.col("_O_tlen")).otherwise(
                F.col("_O_tlen")
                - last_bw.getField("_CTLEN")
                + last_bw.getField("_t_last_tlen")
            ),
        )
        # growth tier 4: open-session carry via a segmented group scan.
        # _g = running count of boundary-containing chunks (inclusive):
        # a boundary chunk and the boundary-free chunks after it share a
        # group, so "aggregate over my group's prefix INCLUDING me" is
        # exactly the open-session aggregate at each chunk's END
        # (trailing segment for the boundary chunk, whole chunks after);
        # the value carried INTO a chunk is then simply lag() of that
        # carry-out — correct for boundary and non-boundary chunks alike.
        summ = summ.withColumn(
            "_g",
            F.sum((F.col("_sb_total") > 0).cast("int")).over(
                wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        wgc = (
            Window.partitionBy("conv_id", "_g")
            .orderBy("_tgt")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        has_b = F.col("_sb_total") > 0
        summ = (
            summ.withColumn(
                "_co_max",
                F.max(F.when(has_b, F.col("_t_max")).otherwise(F.col("_c_max"))).over(
                    wgc
                ),
            )
            .withColumn(
                "_co_min",
                F.min(F.when(has_b, F.col("_t_min")).otherwise(F.col("_c_min"))).over(
                    wgc
                ),
            )
            .withColumn(
                "_co_gmax",
                F.max(
                    F.when(has_b, F.col("_t_gmax")).otherwise(F.col("_c_sgmax"))
                ).over(wgc),
            )
            .withColumn(
                "_co_tlen2",
                F.sum(
                    F.when(has_b, F.col("_t_tlen2")).otherwise(F.col("_c_tlen2"))
                ).over(wgc),
            )
            .withColumn(
                "_co_trap",
                F.sum(
                    F.when(has_b, F.col("_t_trap")).otherwise(F.col("_c_strap"))
                ).over(wgc),
            )
        )
        summ = (
            summ.withColumn("_P_smax", F.lag("_co_max").over(wc))
            .withColumn("_P_smin", F.lag("_co_min").over(wc))
            .withColumn("_P_sgmax", F.lag("_co_gmax").over(wc))
            .withColumn("_P_tlen2", F.lag("_co_tlen2").over(wc))
            .withColumn("_P_trap", F.lag("_co_trap").over(wc))
            .withColumn(
                "_O_firsttl",
                F.first("_c_firsttl").over(
                    wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ),
            )
            .withColumn("_O_rc", F.coalesce(F.sum("_c_rc").over(wprev), F.lit(0)))
            .withColumn(
                "_O_empty", F.coalesce(F.sum("_c_empty").over(wprev), F.lit(0))
            )
            .withColumn("_O_long", F.coalesce(F.sum("_c_long").over(wprev), F.lit(0)))
        )
        wide_summ_cols = [
            "_O_tlen", "_O_tlen2", "_O_max", "_O_min", "_carry_bus", "_first_us",
            "_Tsum", "_CN_prev", "_O_gmax", "_O_gsum", "_O_hg", "_O_tset",
            "_P_smax", "_P_smin", "_P_sgmax", "_P_tlen2", "_P_trap",
            "_O_firsttl", "_O_rc", "_O_empty", "_O_long",
        ]
    summ = summ.withColumn(
        "_T",
        F.when(last_b.isNull(), F.col("_CN_prev")).otherwise(
            F.col("_CN_prev") - last_b.getField("_CN") + last_b.getField("_t_last")
        ),
    ).select(
        "conv_id",
        "_tgt",
        "_S",
        "_T",
        "_carry",
        *[F.col(f"_O_{r}") for r in ROLES],
        *wide_summ_cols,
    )

    out = local.join(F.broadcast(summ), ["conv_id", "_tgt"])
    out = out.withColumn("session_id", (F.col("_S") + F.col("_local_sid")).cast("int"))
    out = out.withColumn(
        "turn_in_session",
        F.when(
            F.col("_local_sid") == 0, (F.col("_T") + F.col("_local_tis")).cast("int")
        ).otherwise(F.col("_local_tis")),
    )
    out = out.withColumn(
        "tool_backfill", F.coalesce(F.col("_local_backfill"), F.col("_carry"))
    )
    for r in ROLES:
        out = out.withColumn(
            f"cum_count_{r}", (F.col(f"_O_{r}") + F.col(f"_lc_{r}")).cast("int")
        )
    feature_cols = FEATURE_COLS
    if wide:
        out = out.withColumn(
            "cum_text_len", (F.col("_O_tlen") + F.col("_lc_tlen")).cast("long")
        )
        start_global = F.coalesce(
            F.col("_local_start"), F.col("_carry_bus"), F.col("_first_us")
        )
        out = out.withColumn(
            "session_elapsed_s", (_us() - start_global).cast("double") / F.lit(1e6)
        )
        # global row index among real rows (offset + local real rank)
        out = out.withColumn(
            "turn_idx_conv", (F.col("_CN_prev") + F.col("_cumreal")).cast("int")
        )
        out = out.withColumn(
            "pct_assistant_so_far",
            F.col("cum_count_assistant").cast("double") / F.col("turn_idx_conv"),
        ).withColumn(
            "pct_tool_so_far",
            F.col("cum_count_tool").cast("double") / F.col("turn_idx_conv"),
        )
        # running extremes: max/least are associative → offset stitch
        # (greatest/least skip NULL offsets on chunk 0)
        out = out.withColumn(
            "run_max_text_len", F.greatest("_lc_max", "_O_max").cast("int")
        ).withColumn("run_min_text_len", F.least("_lc_min", "_O_min").cast("int"))
        # within-session text-len cum: chunk-local value, plus the
        # carried open-session sum for rows before this chunk's first
        # boundary (exact mirror of turn_in_session's _T logic)
        out = out.withColumn(
            "sess_cum_text_len",
            F.when(
                F.col("_local_sid") == 0, F.col("_Tsum") + F.col("_local_sess_tlen")
            )
            .otherwise(F.col("_local_sess_tlen"))
            .cast("long"),
        )
        out = out.withColumn(
            "sess_mean_text_len",
            F.col("sess_cum_text_len").cast("double") / F.col("turn_in_session"),
        )
        # running zscore from stitched exact int sums (expr-path mirror)
        m_run = (F.col("_O_tlen") + F.col("_lc_tlen")).cast("long") / F.col("turn_idx_conv")
        ctl2 = (F.col("_O_tlen2") + F.col("_lc_tlen2")).cast("long")
        var_run = ctl2 / F.col("turn_idx_conv") - m_run * m_run
        out = out.withColumn(
            "text_len_zscore_run",
            F.when(
                var_run > 0,
                (F.col("text_len").cast("long") - m_run) / F.sqrt(var_run),
            ).otherwise(F.lit(0.0)),
        )
        out = out.withColumn(
            "turn_rate_session",
            F.col("turn_in_session").cast("double")
            / (F.col("session_elapsed_s") + F.lit(1.0)),
        )
        # ---- growth: stitched running features (offset + local) ----
        out = out.withColumn("gap_max_run", F.greatest("_lc_gmax", "_O_gmax"))
        active_us = (F.col("_O_gsum") + F.coalesce(F.col("_lc_gsum"), F.lit(0))).cast(
            "long"
        )
        out = out.withColumn("active_time_run_s", active_us.cast("double") / F.lit(1e6))
        out = out.withColumn(
            "mean_gap_run",
            F.when(
                F.col("turn_idx_conv") > 1,
                (active_us / (F.col("turn_idx_conv") - 1)) / F.lit(1e6),
            ),
        )
        out = out.withColumn(
            "high_gap_count_run", (F.col("_O_hg") + F.col("_lc_hg")).cast("long")
        )
        out = out.withColumn(
            "cum_tool_set", (F.col("_O_tset") + F.col("_lc_tset")).cast("long")
        )
        out = out.withColumn(
            "time_since_start_s", (_us() - F.col("_first_us")).cast("double") / F.lit(1e6)
        )
        out = out.withColumn(
            "days_since_start",
            F.floor((_us() - F.col("_first_us")) / F.lit(86_400_000_000)).cast("long"),
        )
        out = out.withColumn(
            "cum_mean_text_len", F.col("cum_text_len") / F.col("turn_idx_conv")
        )
        out = out.withColumn(
            "pct_user_so_far",
            F.col("cum_count_user").cast("double") / F.col("turn_idx_conv"),
        )
        out = out.withColumn(
            "pct_system_so_far",
            F.col("cum_count_system").cast("double") / F.col("turn_idx_conv"),
        )
        out = out.withColumn(
            "pct_tool_set_so_far",
            F.col("cum_tool_set").cast("double") / F.col("turn_idx_conv"),
        )
        out = out.withColumn(
            "run_depth_text_len",
            (F.col("run_max_text_len") - F.col("run_min_text_len")).cast("int"),
        )
        out = out.withColumn(
            "text_len_range_norm",
            F.when(
                F.col("run_max_text_len") - F.col("run_min_text_len") > 0,
                (F.col("text_len") - F.col("run_min_text_len")).cast("double")
                / (F.col("run_max_text_len") - F.col("run_min_text_len")),
            ),
        )
        out = out.withColumn(
            "sess_frac_of_turns",
            F.col("turn_in_session").cast("double") / F.col("turn_idx_conv"),
        )
        out = out.withColumn(
            "turn_rate_conv",
            F.col("turn_idx_conv").cast("double")
            / (F.col("time_since_start_s") + F.lit(1.0)),
        )
        # ---- growth tier 4: stitched running + session-scoped combines
        tl_c = F.col("text_len")
        out = (
            out.withColumn("conv_first_text_len", F.col("_O_firsttl").cast("int"))
            .withColumn(
                "text_len_vs_first", (tl_c - F.col("conv_first_text_len")).cast("int")
            )
            .withColumn(
                "cum_role_changes", (F.col("_O_rc") + F.col("_lc_rc")).cast("long")
            )
            .withColumn(
                "cum_empty_text", (F.col("_O_empty") + F.col("_lc_empty")).cast("long")
            )
            .withColumn(
                "cum_long_text", (F.col("_O_long") + F.col("_lc_long")).cast("long")
            )
            .withColumn("is_session_start", (F.col("turn_in_session") == 1).cast("int"))
            .withColumn("run_std_text_len", F.sqrt(F.greatest(F.lit(0.0), var_run)))
        )
        sid0 = F.col("_local_sid") == 0
        smax_g = F.when(sid0, F.greatest("_ls_max", "_P_smax")).otherwise(
            F.col("_ls_max")
        ).cast("int")
        smin_g = F.when(sid0, F.least("_ls_min", "_P_smin")).otherwise(
            F.col("_ls_min")
        ).cast("int")
        sess2 = F.when(
            sid0, F.col("_ls_tlen2") + F.coalesce(F.col("_P_tlen2"), F.lit(0))
        ).otherwise(F.col("_ls_tlen2")).cast("long")
        trap_g = F.when(
            sid0,
            F.when(
                F.col("_ls_trap").isNull() & F.col("_P_trap").isNull(),
                F.lit(None).cast("long"),
            ).otherwise(
                F.coalesce(F.col("_ls_trap"), F.lit(0))
                + F.coalesce(F.col("_P_trap"), F.lit(0))
            ),
        ).otherwise(F.col("_ls_trap"))
        tis_c = F.col("turn_in_session")
        out = (
            out.withColumn("sess_max_text_len", smax_g)
            .withColumn("sess_min_text_len", smin_g)
            .withColumn(
                "sess_depth_text_len",
                (F.col("sess_max_text_len") - F.col("sess_min_text_len")).cast("int"),
            )
            .withColumn(
                "sess_gap_max_s",
                F.when(sid0, F.greatest("_ls_gmax", "_P_sgmax")).otherwise(
                    F.col("_ls_gmax")
                ),
            )
            .withColumn("_sess_tlen2", sess2)
            .withColumn(
                "sess_std_text_len",
                F.sqrt(
                    F.greatest(
                        F.lit(0.0),
                        F.col("_sess_tlen2") / tis_c
                        - F.col("sess_mean_text_len") * F.col("sess_mean_text_len"),
                    )
                ),
            )
            .withColumn("sess_auc_trapezoid", trap_g / F.lit(2000.0))
            .withColumn(
                "sess_start_hour",
                F.hour(F.timestamp_micros(start_global.cast("long"))).cast("int"),
            )
        )
        feature_cols = FEATURE_COLS + WIDE_FEATURE_COLS
    return out.select(*key_cols, *feature_cols), handles
