"""Structured Streaming variants (SURVEY §2.9: optional extension).

The reference is resumable batch, not streaming; its incremental unit
is the session ledger. These streaming forms cover the same semantics
for a continuously-arriving transcript feed:

- :func:`stream_session_stats` — per-(conv, session) aggregates with
  ``session_window`` (gap-based, the native analogue of our batch
  ts-gap sessionization) + watermark for late data;
- :func:`stream_featurize` — per-turn features over micro-batches via
  ``foreachBatch`` running the BATCH engine on each increment. Windows
  that need full history (cumulative counts) are out of scope for pure
  streaming; foreachBatch + the lineage table is the honest production
  pattern (Trigger.AvailableNow ≙ the reference's run-to-completion
  sessions).

Tested with file sources + AvailableNow in tests/test_streaming_events.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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


STATEFUL_OUT_SCHEMA = (
    "conv_id string, turn_idx int, ts timestamp, session_id int, "
    "turn_in_session int, cum_count_assistant int, cum_count_system int, "
    "cum_count_tool int, cum_count_user int, tool_backfill string, "
    "lag1_ts_gap_s double"
)
_STATE_SCHEMA = (
    "last_us long, sid int, tis int, n_assistant int, n_system int, "
    "n_tool int, n_user int, last_tool string"
)


def stateful_featurize(stream_df: DataFrame, gap_s: float = 1800.0):
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (the north_star's named API): per-conversation running state
    (last ts, session counter, per-role cumulative counts, tool
    backfill) carried across micro-batches, emitting per-turn
    incremental features.

    Ordering: ``applyInPandasWithState`` delivers a group's micro-batch
    rows as an ITERATOR of Arrow chunks in arbitrary order, so the
    kernel materializes the whole per-group increment
    (``pd.concat(list(pdf_iter))``) and sorts ONCE by (ts, turn_idx)
    before applying state transitions — sorting each chunk separately
    would corrupt session ids whenever one conversation's batch spans
    multiple chunks. Memory is bounded by the per-conversation
    INCREMENT (one micro-batch), never the history. Cross-batch order
    is the source's contract (watermark + sort upstream); with it, the
    emitted cumulative features equal the batch engine's — asserted
    stream==batch in tests, including a forced multi-chunk group
    (arrow maxRecordsPerBatch < group size). State is O(1) per
    conversation (8 scalars), so 10^9 live conversations hold ~tens of
    GB of state cluster-wide, partitioned by the same conv_id hash as
    every other operator.

    This is the stateful-kernel tier (per-row Python over state
    transitions); the batch path stays expression-only — kernel cost is
    bounded by the increment size, never the history.
    """
    import pandas as pd  # noqa: F401

    def fn(key, pdf_iter, state):
        import pandas as _pd

        (conv_id,) = key
        if state.exists:
            last_us, sid, tis, na, ns, nt, nu, last_tool = state.get
        else:
            last_us, sid, tis, na, ns, nt, nu, last_tool = (-1, 0, 0, 0, 0, 0, 0, None)
        out = []
        # materialize the group's whole increment: chunks arrive in
        # arbitrary order, so a per-chunk sort is NOT a total order
        chunks = [p for p in pdf_iter if len(p)]
        if chunks:
            g = _pd.concat(chunks, ignore_index=True).sort_values(
                ["ts", "turn_idx"], kind="mergesort"
            )
            us_arr = g["ts"].to_numpy("datetime64[us]").astype("int64")
            for i, r in enumerate(g.itertuples(index=False)):
                us = int(us_arr[i])
                gap = None if last_us < 0 else (us - last_us) / 1e6
                if gap is not None and gap > gap_s:
                    sid += 1
                    tis = 1
                else:
                    tis += 1
                role = r.role
                na += role == "assistant"
                ns += role == "system"
                nt += role == "tool"
                nu += role == "user"
                if r.tool is not None and not _pd.isna(r.tool):
                    last_tool = r.tool
                out.append(
                    {
                        "conv_id": conv_id,
                        "turn_idx": r.turn_idx,
                        "ts": r.ts,
                        "session_id": sid,
                        "turn_in_session": tis,
                        "cum_count_assistant": na,
                        "cum_count_system": ns,
                        "cum_count_tool": nt,
                        "cum_count_user": nu,
                        "tool_backfill": last_tool,
                        "lag1_ts_gap_s": gap,
                    }
                )
                last_us = us
        state.update((last_us, sid, tis, na, ns, nt, nu, last_tool))
        yield _pd.DataFrame(
            out,
            columns=[
                "conv_id", "turn_idx", "ts", "session_id", "turn_in_session",
                "cum_count_assistant", "cum_count_system", "cum_count_tool",
                "cum_count_user", "tool_backfill", "lag1_ts_gap_s",
            ],
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream_df.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=STATEFUL_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
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
    law). Cross-batch order is the source's contract, as in
    :func:`stateful_featurize` — including that a same-ts turn/anchor
    pair must not be split turn-last across micro-batches.

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
    """Micro-batch featurization: each increment runs the batch engine
    and appends to the features table — exactly-once via checkpoint +
    idempotent paths. ``wide=True`` emits the full 175-column locked
    wide tier per micro-batch (same layered single-exchange plan as the
    batch path)."""
    from astrospectro_spark.engine.windows import featurize_expr

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        featurize_expr(batch_df, wide=wide).withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("append").parquet(out_path)

    return (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
