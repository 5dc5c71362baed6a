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
- :func:`stateful_asof_enrich` — streaming as-of enrichment.

Tested with file sources + AvailableNow in tests/test_streaming_events.py.
"""

from __future__ import annotations

import glob
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


ASOF_ENRICH_SCHEMA = (
    "conv_id string, anchor_id long, anchor_ts timestamp, "
    "asof_turn_idx int, asof_role string, tool_backfill string, "
    "asof_gap_s double"
)
_ASOF_STATE_SCHEMA = (
    "has_turn boolean, last_us long, last_idx int, "
    "last_role string, last_tool string"
)
# STATE-SCHEMA VERSION NOTE (round-5 ADVICE): applyInPandasWithState
# state is positional; the round-5 addition of ``has_turn`` (replacing
# the pre-1970 ts-sign sentinel) is a BREAKING change for streaming
# checkpoints written by earlier revisions — a restore would mis-bind
# the 4-field legacy tuple into this 5-field layout. Upgrading a live
# pipeline across that revision requires a fresh checkpoint directory.


def stateful_asof_enrich(stream_df: DataFrame, retention: str | None = None):
    """Streaming point-in-time enrichment: the online-feature-store form
    of the batch as-of join (``engine/asof.py``).

    ``retention`` (e.g. ``"7 days"``) bounds TOTAL state at scale: a
    conversation idle longer than that past the watermark is evicted
    (event-time timeout), and later anchors for it answer NULL — the
    standard feature-store TTL contract. Requires the caller to set
    ``stream_df.withWatermark("ts", ...)`` upstream. ``None`` keeps
    state forever (exact parity with the batch as-of at any horizon;
    fine when live conversations are bounded — state is 4 scalars per
    conv, so even 10^9 live convs hold ~100 GB cluster-wide, but an
    unbounded conv_id universe needs the TTL).

    Input is ONE interleaved feed per conversation with a ``kind``
    discriminator — ``'turn'`` rows carry (turn_idx, role, tool, ts),
    ``'anchor'`` rows carry (anchor_id, ts). State per conv_id is the
    latest turn seen plus the running tool backfill (4 scalars, O(1) —
    the whole-history as-of collapses to "remember the frontier", which
    is why the streaming form exists). Each anchor is answered from
    state at arrival: the latest turn with ts <= anchor_ts, boundary
    inclusive, ties broken by largest turn_idx — identical law to the
    batch oracle (reference analog: best-match-per-objid,
    src/tools/gaia_crossmatcher.py:735-744; unmatched anchors get
    NULLs, :808-809).

    Ordering: within a micro-batch the group's rows are materialized
    and sorted by (ts, turns-before-anchors, turn_idx), so a turn at
    exactly anchor_ts is visible to that anchor (boundary-inclusive
    law). Cross-batch order is the source's contract and is not checked
    here (:func:`stream_featurize` fails on an out-of-order turn) —
    including that a same-ts turn/anchor pair must not be split
    turn-last across micro-batches.

    Emits anchor rows only (append mode); turns only advance state.
    """

    retention_ms = None
    if retention is not None:
        import re as _re

        m = _re.fullmatch(
            r"\s*(\d+)\s*(second|minute|hour|day)s?\s*", retention
        )
        if not m:
            raise ValueError(f"unparseable retention: {retention!r}")
        retention_ms = int(m.group(1)) * {
            "second": 1_000,
            "minute": 60_000,
            "hour": 3_600_000,
            "day": 86_400_000,
        }[m.group(2)]

    def fn(key, pdf_iter, state):
        import pandas as _pd

        (conv_id,) = key
        empty = _pd.DataFrame(
            columns=[
                "conv_id", "anchor_id", "anchor_ts", "asof_turn_idx",
                "asof_role", "tool_backfill", "asof_gap_s",
            ]
        )
        if state.hasTimedOut:
            # idle past retention: evict — later anchors answer NULL
            state.remove()
            yield empty
            return
        if state.exists:
            has_turn, last_us, last_idx, last_role, last_tool = state.get
        else:
            # explicit has_turn flag, NOT a sentinel timestamp: pre-1970
            # event times are negative epoch micros and must remain
            # distinguishable from "no turn seen yet"
            has_turn, last_us, last_idx, last_role, last_tool = (
                False, 0, -1, None, None)
        out = []
        chunks = [p for p in pdf_iter if len(p)]
        if chunks:
            g = _pd.concat(chunks, ignore_index=True)
            # same-ts turns apply BEFORE anchors (boundary inclusive)
            g["_k"] = (g["kind"] == "anchor").astype(int)
            g = g.sort_values(["ts", "_k", "turn_idx"], kind="mergesort")
            us_arr = g["ts"].to_numpy("datetime64[us]").astype("int64")
            for i, r in enumerate(g.itertuples(index=False)):
                us = int(us_arr[i])
                if r.kind == "turn":
                    has_turn, last_us, last_idx, last_role = (
                        True, us, int(r.turn_idx), r.role)
                    if r.tool is not None and not _pd.isna(r.tool):
                        last_tool = r.tool
                else:
                    matched = has_turn and last_us <= us
                    out.append(
                        {
                            "conv_id": conv_id,
                            "anchor_id": int(r.anchor_id),
                            "anchor_ts": r.ts,
                            "asof_turn_idx": last_idx if matched else None,
                            "asof_role": last_role if matched else None,
                            "tool_backfill": last_tool if matched else None,
                            "asof_gap_s": (us - last_us) / 1e6 if matched else None,
                        }
                    )
        state.update((has_turn, last_us, last_idx, last_role, last_tool))
        if retention_ms is not None:
            # evict when the WATERMARK passes last-activity + retention;
            # must be set strictly beyond the current watermark
            wm = state.getCurrentWatermarkMs()
            last_ms = last_us // 1000 if has_turn else wm
            state.setTimeoutTimestamp(max(last_ms + retention_ms, wm + 1))
        yield _pd.DataFrame(
            out,
            columns=[
                "conv_id", "anchor_id", "anchor_ts", "asof_turn_idx",
                "asof_role", "tool_backfill", "asof_gap_s",
            ],
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream_df.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=ASOF_ENRICH_SCHEMA,
        stateStructType=_ASOF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if retention_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


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

    Exactly-once: batch ``n`` overwrites ``<out_path>/batch_id=<n>/`` and
    ``<out_path>/_state/batch_id=<n>/`` from the newest state below
    ``n``, so a batch Spark replays after a crash rewrites the same
    rows; older states are then deleted. ``out_path`` is a local
    directory that belongs to one checkpoint. A turn at or before its
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
    state_dir = f"{out_path}/_state"

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ids = [int(p.rsplit("=", 1)[1]) for p in glob.glob(f"{state_dir}/batch_id=*")]
        prev = max((i for i in ids if i < batch_id), default=None)
        rows, key_cols = project_inputs(batch_df, include_text=True, enum_shuffle=False, wide=wide)
        u = rows.withColumn("_ctx", F.lit(0))
        if prev is not None:
            state = batch_df.sparkSession.read.parquet(f"{state_dir}/batch_id={prev}")
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
            if prev is not None:
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
            out.write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")
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
            if prev is not None:
                new = new.unionByName(_join_conv(state, new.select("conv_id"), "left_anti"))
            new.write.mode("overwrite").parquet(f"{state_dir}/batch_id={batch_id}")
        finally:
            staged.unpersist()
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
