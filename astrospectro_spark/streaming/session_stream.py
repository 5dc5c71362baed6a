"""Structured Streaming variants (SURVEY §2.9: optional extension).

The reference is resumable batch, not streaming; its incremental unit
is the session ledger. These streaming forms cover the same semantics
for a continuously-arriving transcript feed:

- :func:`stream_session_stats` — per-(conv, session) aggregates with
  ``session_window`` (gap-based, the native analogue of our batch
  ts-gap sessionization) + watermark for late data;
- :func:`stream_featurize` — the batch engine's per-turn features,
  full history included, over micro-batches via ``foreachBatch``: the
  salted plan's stitch makes each batch global from a per-conversation
  ``_state/`` sidecar (Trigger.AvailableNow ≙ the reference's
  run-to-completion sessions);
- :func:`stateful_asof_enrich` — streaming as-of enrichment: the batch
  ``asof_join`` per micro-batch over a ``_state/`` carry of each
  conversation's last turn, with an optional TTL on that carry.

Both stateful operators write through one ``foreachBatch`` helper,
:func:`_state_batches`, that reads the newest state before a batch and
overwrites the batch's output and state, so a replay is exactly-once.

Tested with file sources + AvailableNow in tests/test_streaming_events.py.
"""

from __future__ import annotations

import glob
import shutil
from contextlib import contextmanager

from pyspark.errors import ParseException
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from astrospectro_spark.engine.asof import asof_join
from astrospectro_spark.engine.windows import (
    _ts_us_sql,
    apply_layers,
    chunk_carry,
    context_margin,
    derive,
    last_row,
    layer_kinds,
    output_cols,
    project_inputs,
    stitch,
    window_layers,
)


def stream_session_stats(
    stream_df: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based session aggregates on a streaming transcripts feed.

    ``session_window(ts, gap)`` merges events closer than ``gap`` into
    one window per conv_id — semantically the streaming twin of the
    batch ``sessionize`` (boundary when ts-gap > gap). The watermark
    bounds state: turns later than ``watermark`` behind the max seen ts
    are dropped (the batch engine instead sorts them in — SURVEY §2.9).
    """
    return (
        stream_df.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("conv_id"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length(F.coalesce(F.col("text"), F.lit("")))).alias("total_chars"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select(
            "conv_id",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_turns",
            "total_chars",
            "session_start",
            "session_end",
        )
    )


def stateful_asof_enrich(
    stream_df: DataFrame, out_path: str, checkpoint: str, retention: str | None = None
):
    """Streaming point-in-time enrichment: the batch as-of join
    (:func:`engine.asof.asof_join`) run on each micro-batch over a
    one-row-per-conversation carry.

    Input is ONE interleaved feed per conversation with a ``kind``
    discriminator: ``'turn'`` rows carry (turn_idx, role, tool, ts),
    ``'anchor'`` rows carry (anchor_id, ts). The ``_state/`` carry holds
    each conversation's last committed turn, ``(conv_id, ts, turn_idx,
    role, tool)``, whose ``tool`` is the backfill at that turn. A batch
    joins the carried turns of its conversations to its own turns,
    forward-fills ``tool`` over ``(ts, turn_idx)``, and answers each
    anchor with the latest turn at ``ts <= anchor_ts`` (boundary
    inclusive, ties broken by the largest turn_idx, NULLs when none):
    the law of the batch oracle (reference analog: best-match-per-objid,
    src/tools/gaia_crossmatcher.py:735-744; unmatched anchors get NULLs,
    :808-809). Its anchor rows (``conv_id, anchor_id, anchor_ts,
    asof_turn_idx, asof_role, tool_backfill, asof_gap_s``) go to
    ``<out_path>/batch_id=<n>/``, exactly once as in
    :func:`_state_batches`; turns only advance the carry.

    ``retention`` (a Spark interval string, e.g. ``"7 days"``) bounds
    the carry: a conversation whose last turn is older than the batch's
    max ts minus ``retention`` leaves the state, and its later anchors
    answer NULL (the feature-store TTL). That is the event-time timeout
    of a 0 s watermark; no watermark on ``stream_df`` is read. An
    unparseable value fails here, not in the first batch. ``None`` keeps
    the carry forever: exact parity with the batch as-of at any
    horizon, at one row per conversation.

    Cross-batch order is the source's contract and is not checked: a
    turn older than its conversation's carried turn still answers later
    anchors of its own batch, but does not become the carry."""
    keep = None
    if retention is not None:
        quoted = retention.replace("\\", "\\\\").replace("'", "\\'")  # one SQL string literal
        keep = F.col("ts") >= F.col("_hi") - F.expr(f"INTERVAL '{quoted}'")
        try:  # a Column is parsed when a plan first uses it
            stream_df.withColumn("_hi", F.col("ts")).filter(keep)
        except ParseException as e:
            raise ValueError(f"unparseable retention: {retention!r}") from e
    w = (
        Window.partitionBy("conv_id")
        .orderBy("ts", "turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    @contextmanager
    def step(batch_df: DataFrame, batch_id: int, state: DataFrame | None):
        convs = batch_df.select("conv_id")
        turns = batch_df.filter("kind = 'turn'").select("conv_id", "ts", "turn_idx", "role", "tool")
        if state is not None:
            turns = turns.unionByName(_join_conv(state, convs, "left_semi"))
        turns = turns.withColumn("tool", F.last("tool", True).over(w))
        anchors = batch_df.filter("kind = 'anchor'").selectExpr("conv_id", "anchor_id", "ts as anchor_ts")
        out = asof_join(turns, anchors, value_cols=["turn_idx", "role", "tool", "ts"]).selectExpr(
            "conv_id", "anchor_id", "anchor_ts", "asof_turn_idx", "asof_role",
            "asof_tool as tool_backfill",
            f"({_ts_us_sql('anchor_ts')} - {_ts_us_sql('asof_ts')}) / 1e6 as asof_gap_s",
        )
        new = turns.groupBy("conv_id").agg(
            F.max(F.struct("ts", "turn_idx", "role", "tool")).alias("_t")
        ).select("conv_id", "_t.*")
        if state is not None:
            new = new.unionByName(_join_conv(state, convs, "left_anti"))
        if keep is not None:
            new = new.crossJoin(batch_df.agg(F.max("ts").alias("_hi"))).filter(keep).drop("_hi")
        yield out, new

    return _state_batches(stream_df, out_path, checkpoint, step)


def stream_featurize(
    stream_df: DataFrame, out_path: str, checkpoint: str, wide: bool = False
):
    """Micro-batch featurization equal to the batch engine: every output
    column of :func:`engine.windows.featurize_expr` (18 narrow, 181 with
    ``wide=True``), valued as by one batch run over all rows so far.

    A micro-batch is one more chunk of each of its conversations,
    stitched as the salted plan stitches chunks, with its carry from the
    ``_state/`` sidecar, a row per conversation: ``_last``, the global
    staged values of its last committed row, is the chunk before the
    batch for :func:`engine.windows.chunk_carry`; ``_tail``, the rows the
    bounded windows still read (:func:`engine.windows.context_margin`
    back from the last row), joins the batch as context rows. State is
    bounded by that margin, not by the history.

    Exactly-once as in :func:`_state_batches`. A turn at or before its
    conversation's last committed ts fails the query, naming it: the
    range frames count same-ts peers, so even an equal ts would change
    a committed row."""
    layers = window_layers(["conv_id"], wide=wide)
    kinds = layer_kinds(layers)
    k_rows, margin_us = context_margin(kinds)
    # a tail keeps what the window layers read (the text-free
    # projection), (ts, turn_idx) first so that sort_array orders it
    read = project_inputs(stream_df, include_text=False, enum_shuffle=False, wide=wide)[0].columns
    rest = [c for c in read if c not in ("conv_id", "ts", "turn_idx")]
    tail = ", ".join(["ts", "turn_idx", *rest])

    @contextmanager
    def step(batch_df: DataFrame, batch_id: int, state: DataFrame | None):
        rows, key_cols = project_inputs(batch_df, include_text=True, enum_shuffle=False, wide=wide)
        u = rows.withColumn("_ctx", F.lit(0))
        if state is not None:
            prior = _join_conv(state, u.select("conv_id"), "left_semi")
            ctx = prior.selectExpr("conv_id", "inline(_tail)", "1 as _ctx")
            u = u.unionByName(ctx, allowMissingColumns=True)
        staged = apply_layers(u, layers).persist()
        try:
            summ = chunks = staged.groupBy("conv_id").agg(
                last_row(kinds, "_ctx = 1").alias("_x"),
                last_row(kinds, "_ctx = 0").alias("_e"),
                F.expr("min(if(_ctx = 0, ts, null))").alias("_first_ts"),
                F.lit(1).alias("_tgt"),
            )
            if state is not None:
                # _x is the last tail row: the last committed row
                late = summ.filter("_first_ts <= _x.ts").limit(1).collect()
                if late:
                    raise ValueError(
                        f"stream_featurize: a turn of conv_id {late[0].conv_id!r} in batch "
                        f"{batch_id} is at or before its last committed ts"
                    )
                first = prior.selectExpr("conv_id", "_last as _e", "0 as _tgt")
                chunks = summ.unionByName(first, allowMissingColumns=True)
            carry = chunk_carry(chunks, kinds).filter("_tgt = 1").drop("_tgt")
            real = stitch(_join_conv(staged.filter("_ctx = 0"), carry), kinds)
            out = derive(real, wide).select(*output_cols(key_cols, wide))
            # new state: the last stitched row, and the tail by the local
            # row number and epoch-µs that window_layers stages
            ends = summ.selectExpr("conv_id", "_e._rn as _n", f"{_ts_us_sql('_e.ts')} as _us")
            new_tail = (
                _join_conv(staged, ends)
                .filter(f"_rn > _n - {k_rows} or _usq >= _us - {margin_us}")
                .groupBy("conv_id")
                .agg(F.expr(f"sort_array(collect_list(struct({tail})))").alias("_tail"))
            )
            last = real.groupBy("conv_id").agg(last_row(kinds, "true").alias("_last"))
            new = _join_conv(new_tail, last)
            if state is not None:
                new = new.unionByName(_join_conv(state, new.select("conv_id"), "left_anti"))
            yield out, new
        finally:
            staged.unpersist()

    return _state_batches(stream_df, out_path, checkpoint, step)


def _state_batches(stream_df: DataFrame, out_path: str, checkpoint: str, step):
    """The foreachBatch writer of both stateful stream operators.

    ``step(batch_df, n, state)`` is a context manager that yields batch
    ``n``'s output and its new state, from ``state``: the newest
    ``<out_path>/_state/batch_id=<m>/`` with ``m < n``, or None. Both
    are written while the step is open, overwriting
    ``<out_path>/batch_id=<n>/`` and ``<out_path>/_state/batch_id=<n>/``,
    so a batch Spark replays after a crash rewrites the same rows from
    the same state; the states older than ``m`` are then deleted.
    ``out_path`` is a local directory that belongs to one checkpoint."""
    state_dir = f"{out_path}/_state"

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ids = [int(p.rsplit("=", 1)[1]) for p in glob.glob(f"{state_dir}/batch_id=*")]
        prev = max((i for i in ids if i < batch_id), default=None)
        state = None if prev is None else batch_df.sparkSession.read.parquet(f"{state_dir}/batch_id={prev}")
        with step(batch_df, batch_id, state) as (out, new):
            out.write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")
            new.write.mode("overwrite").parquet(f"{state_dir}/batch_id={batch_id}")
        for i in ids:  # a replay of this batch reads `prev`
            if prev is not None and i < prev:
                shutil.rmtree(f"{state_dir}/batch_id={i}", ignore_errors=True)

    return (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def _join_conv(left: DataFrame, right: DataFrame, how: str = "inner") -> DataFrame:
    """Join on conv_id, null-safe: the batch engine keeps rows with a
    NULL conv_id as one conversation, and so does the stream."""
    r = right.withColumnRenamed("conv_id", "_k")
    return left.join(r, left["conv_id"].eqNullSafe(r["_k"]), how).drop("_k")
