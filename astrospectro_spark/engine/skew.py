"""Salted range partitioning for mega-conversations (skew engine).

``Window.partitionBy(conv_id)`` puts an entire conversation in ONE
task; a conversation holding 30% of a 10^12-turn table would serialise
the job. AQE's skew-join splitting cannot split a window/groupBy key
(SURVEY.md §4 custom-work 1), so this module does it explicitly. It
holds only the staging; the features themselves are the plain plan's
(:mod:`engine.windows`), defined once:

1. **Census** — row counts per conv_id, run once as an eager action
   (:func:`collect_hot_ids`) that brings the hot ids (non-null, more
   than ``hot_threshold`` rows; at most rows ÷ threshold of them) to the
   driver. Input with no hot conversation gets the plain
   :func:`engine.windows.featurize_expr` plan, with no salted branch;
   otherwise a null-safe ``conv_id IN (hot ids)`` filter splits hot rows
   from the cold ones, which take the plain plan.
2. **Range salting** — per hot conversation, ``approx_percentile`` of
   the ts axis yields k-1 boundaries → ``chunk_id`` per row (array
   fold, no window). This is the graft analogue of the reference's
   5,000-row chunking (reference: src/pipeline/processing.py:108-110),
   but range-based so chunks are contiguous in event time.
3. **Overlap margin** — bounded-lookback features need history. The
   margin is read off the stitch kinds of the staged columns
   (:class:`engine.windows.Kind`): the longest lookback in rows and in
   seconds. The last that-many rows before each chunk plus every row
   within the time margin of its start are COPIED into the chunk
   flagged ``_ctx=1``, in one explode that also emits each row into its
   own chunk (``_ctx=0``). Context rows always sort strictly before real
   rows (chunk ranges are half-open on ts), so each chunk's context is
   a contiguous suffix of its history.
4. **Local pass** — :func:`engine.windows.window_layers`, the plain
   plan's window layers, partitioned by ``(conv_id, chunk)``. Bounded
   features come out exact as computed.
5. **Stitch** — :func:`engine.windows.stitch_chunks` makes the
   cumulative and session-scoped columns global with one rule per
   kind, from a per-chunk summary of k rows per hot conversation that
   joins back broadcast. The cold and hot staged rows are unioned and
   take the plain :func:`engine.windows.derive` layer once.

The result is bit-identical to :func:`engine.windows.featurize_expr`
(asserted in tests with chunking forced on, including pathological
tiny chunks from duplicate-ts boundaries — the row margin reaches back
across as many chunks as needed), and any feature added to the plain
plan is correct here by construction once its columns carry a kind.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from astrospectro_spark.engine.windows import (
    Layer,
    SESSION_GAP_S,
    _ts_us_sql,
    apply_layers,
    context_margin,
    derive,
    featurize_expr,
    layer_kinds,
    output_cols,
    project_inputs,
    stitch_chunks,
    window_layers,
)

DEFAULT_HOT_THRESHOLD = 2_000_000
DEFAULT_CHUNK_TARGET = 500_000


def featurize_salted(
    df: DataFrame,
    gap_s: float = SESSION_GAP_S,
    hot_threshold: int = DEFAULT_HOT_THRESHOLD,
    chunk_target_rows: int = DEFAULT_CHUNK_TARGET,
    include_text: bool = True,
    wide: bool = False,
    enum_shuffle: bool = False,
) -> DataFrame:
    """featurize_expr semantics with hot conversations split into
    ts-range chunks that run as parallel tasks.

    The census runs HERE, eagerly: one action collects the hot
    conversation ids (:func:`collect_hot_ids`) before any plan is
    built. When nothing is hot, the result IS the
    :func:`featurize_expr` plan (no union, no broadcast joins);
    otherwise the hot rows are split off with a null-safe
    ``conv_id IN (hot ids)`` filter. Rows with a null ``conv_id`` are
    never hot, whatever their count. The cold rows run the plain plan's
    window layers, the hot rows run the same layers per chunk and the
    per-kind stitch, and the union of both takes the plain derive layer
    (module docstring).

    ``enum_shuffle=True`` (narrow ``include_text=False`` contract only,
    see :func:`featurize_expr`) carries ``role``/``tool`` as 64-bit
    codes through every exchange of BOTH the cold and hot branches.
    The output KEEPS the codes (BIGINT columns; decode at read via
    ``windows.enum_decode`` with ``windows.enum_decode_map``).

    The hot slice is repartitioned by ``(conv_id, _chunk)`` after chunk
    assignment. Its two consumers (the row-number window partitioned by
    ``(conv_id, _chunk)`` that feeds the rows with their context copies,
    and the per-chunk row counts grouped by ``(conv_id, _chunk)``) read
    that one exchange, which AQE reuses: nothing is cached (the executed
    plan holds a ``ReusedExchange`` and no ``InMemoryRelation``), and the
    scan, hot filter and bounds join run once for the hot rows instead
    of once per consumer. On a 4-core host the plan without the exchange
    measured within run-to-run spread of it (``featurize_job_resume``
    ``wall_s`` median 5.99 against 5.85 s over 5 pairs; the sf0.1 salted
    leaf 5.99–6.55 against 6.09–6.46 s warm): the exchange is kept for
    the two scans per hot branch it saves, not for a measured gain.
    """
    hot_ids = collect_hot_ids(df, hot_threshold)
    if not hot_ids:
        return featurize_expr(
            df, gap_s=gap_s, include_text=include_text, wide=wide, enum_shuffle=enum_shuffle
        )
    rows, key_cols = project_inputs(df, include_text, enum_shuffle, wide)

    def layers(key: list[str]):
        return window_layers(key, gap_s, wide, enum_shuffle)

    cold = apply_layers(rows.filter(~is_hot(hot_ids)), layers(["conv_id"]))
    hot = _featurize_hot(
        rows.filter(is_hot(hot_ids)), layers(["conv_id", "_tgt"]), chunk_target_rows
    )
    staged = cold.unionByName(hot.select(cold.columns))
    return derive(staged, wide, enum_shuffle).select(*output_cols(key_cols, wide))


def release_cached(df: DataFrame | None = None) -> None:
    """No-op: the salted featurizer caches nothing. Its only caller is
    the ``perfbench`` traced run (``perfbench/workloads.py``)."""


def collect_hot_ids(df: DataFrame, hot_threshold: int) -> list:
    """The census, as an eager action: the non-null ``conv_id`` values
    with more than ``hot_threshold`` rows, collected to the driver.
    There are at most ``rows // hot_threshold`` of them."""
    return [
        r[0]
        for r in df.filter(F.col("conv_id").isNotNull())
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > hot_threshold)
        .select("conv_id")
        .collect()
    ]


def is_hot(hot_ids: list) -> "F.Column":
    """Null-safe membership in the census's hot set: a null conv_id is
    never hot, so ``~is_hot`` keeps it on the cold path."""
    return F.coalesce(F.col("conv_id").isin(hot_ids), F.lit(False))


GRID = 128


def compute_ts_bounds(df: DataFrame, chunk_target_rows: int) -> DataFrame:
    """Per-conversation ts-range chunk boundaries: a fixed GRID-point
    approx-quantile grid, subsampled to ceil(n/target) chunks.
    Boundaries are actual data values, so after array_distinct every
    interior chunk holds >= 1 row; parallelism per conversation caps at
    GRID. Returns (conv_id, _bounds array<bigint> of epoch-us cut
    points)."""
    fracs = ", ".join(str((i + 1) / GRID) for i in range(GRID - 1))
    return (
        df.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.expr(
                f"percentile_approx({_ts_us_sql('ts')}, "
                f"array({fracs}), 10000)"
            ).alias("_raw"),
        )
        .withColumn(
            "_k", F.expr(f"cast(least(ceil(_n / {chunk_target_rows}), {GRID}) as int)")
        )
        .withColumn(
            "_bounds",
            F.expr(
                "case when _k <= 1 then cast(array() as array<bigint>) else "
                "array_distinct(transform(sequence(1, greatest(_k - 1, 1)), i -> "
                f"element_at(_raw, least(greatest(cast(round(i * {GRID} / _k) as int), 1), "
                f"{GRID - 1})))) end"
            ),
        )
        .select("conv_id", "_bounds")
    )


def chunk_of() -> "F.Column":
    """chunk id = number of boundaries <= ts (requires joined _bounds)."""
    us = _ts_us_sql("ts")
    return F.expr(
        f"aggregate(_bounds, 0, (acc, b) -> acc + case when {us} >= b then 1 else 0 end)"
    )


def _featurize_hot(hot: DataFrame, layers: list[Layer], chunk_target_rows: int) -> DataFrame:
    """Steps 2-5 on the projected hot rows: the staged columns of
    ``layers`` (partitioned by conv_id and ``_tgt``), made global."""
    kinds = layer_kinds(layers)
    k_rows, margin_us = context_margin(kinds)

    # ---- 2. range salting: ts-quantile boundaries per hot conv. The
    # hot slice has two consumers keyed by (conv_id, _chunk): the rows
    # with their context copies and the chunk counts. Both read this
    # one exchange, which AQE reuses, so the source is scanned once for
    # the hot rows and not once per consumer (featurize_salted
    # docstring).
    bounds = compute_ts_bounds(hot, chunk_target_rows)
    hot = hot.join(F.broadcast(bounds), "conv_id")
    hot = hot.withColumn("_chunk", chunk_of()).repartition("conv_id", "_chunk")
    us = _ts_us_sql("ts")

    # ---- 3. overlap margin, in one explode: each row goes to its own
    # chunk and, as context, to every later chunk t whose lower boundary
    # _bounds[t] lies within the time margin after it, or that starts
    # fewer than k_rows rows after it — MULTI-CHUNK reach-back, since
    # duplicate-ts boundaries can produce a tiny chunk. Per-conv chunk
    # row-counts (a <=GRID-entry array, broadcast) give the rows-between
    # prefix, folded only for rows in the last k_rows of their chunk.
    # Boundaries are data values, so every chunk after a row's own is
    # counted. SQL text, one parse each: the Column API's lambda
    # builders cost a Py4J round trip per operator.
    carr = (
        hot.groupBy("conv_id", "_chunk")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .groupBy("conv_id")
        .agg(F.expr("sort_array(collect_list(struct(_chunk as c, _cnt as n)))").alias("_carr"))
    )
    rows_between = (
        "aggregate(filter(_carr, e -> e.c > _chunk and e.c < t), "
        "cast(0 as bigint), (acc, e) -> acc + e.n)"
    )
    u = (
        hot.withColumn(
            "_rn_end",
            F.expr(
                "row_number() over (partition by conv_id, _chunk "
                "order by ts desc, turn_idx desc)"
            ),
        )
        .join(F.broadcast(carr), "conv_id")
        .withColumn(
            "_tgt",
            F.expr(
                "explode(filter(transform(_carr, e -> e.c), t -> t = _chunk or (t > _chunk "
                f"and (element_at(_bounds, t) <= {us} + {margin_us} or (_rn_end <= {k_rows} "
                f"and {rows_between} + _rn_end <= {k_rows})))))"
            ),
        )
        .withColumn("_ctx", F.expr("cast(_tgt != _chunk as int)"))
        .drop("_rn_end", "_carr", "_bounds", "_chunk")
    )

    # ---- 4. local pass: the plain feature plan's window layers over
    # (conv, target chunk); 5. stitch
    return stitch_chunks(apply_layers(u, layers), kinds)
