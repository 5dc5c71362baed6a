"""Structured Streaming variants + ref-event association."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_stream_session_stats_matches_batch(spark, transcripts_pdf, tmp_path):
    """AvailableNow file-stream sessionization must agree with the
    batch engine on session count per conversation (for gap-separated
    data with no late rows)."""
    from astrospectro_spark.engine.windows import sessionize
    from astrospectro_spark.streaming import stream_session_stats

    src = str(tmp_path / "stream_src")
    spark.createDataFrame(transcripts_pdf).write.parquet(src)
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    stream = spark.readStream.schema(schema).parquet(src)
    out_q = (
        stream_session_stats(stream)
        .writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    out_q.awaitTermination(120)
    got = spark.sql("select * from sess_stream").toPandas()

    batch = sessionize(spark.createDataFrame(transcripts_pdf))
    want = (
        batch.groupBy("conv_id")
        .agg((F.max("session_id") + 1).alias("n_sessions"), F.count(F.lit(1)).alias("n_turns"))
        .toPandas()
    )
    got_sessions = got.groupby("conv_id").size().rename("n_sessions").reset_index()
    m = want.merge(got_sessions, on="conv_id", suffixes=("_batch", "_stream"))
    assert len(m) == len(want)
    assert (m["n_sessions_batch"] == m["n_sessions_stream"]).all()
    assert got["n_turns"].sum() == len(transcripts_pdf)


_TURNS_SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def _write_batches(spark, src, parts) -> str:
    """One parquet file per part with increasing mtimes, so a file source
    with maxFilesPerTrigger=1 delivers the parts as micro-batches in
    order. Returns the glob of the files."""
    import time

    for i, part in enumerate(parts):
        spark.createDataFrame(part).coalesce(1).write.parquet(str(src / f"part-{i:03d}.parquet"))
        time.sleep(1.1)  # distinct mtimes → deterministic batch order
    return str(src / "part-*.parquet")


@pytest.fixture(scope="module")
def stream_split(spark, transcripts_pdf, tmp_path_factory):
    """The transcripts sorted by (ts, turn_idx) and cut into 3 files,
    written once per module. Returns the files' glob and every row's
    micro-batch."""
    pdf = transcripts_pdf.sort_values(["ts", "turn_idx"], kind="mergesort").reset_index(drop=True)
    cuts = [0, len(pdf) // 3, 2 * len(pdf) // 3, len(pdf)]
    parts = [pdf.iloc[cuts[i] : cuts[i + 1]] for i in range(3)]
    pattern = _write_batches(spark, tmp_path_factory.mktemp("stream_split"), parts)
    batch = pd.concat([p[["conv_id", "turn_idx"]].assign(batch=i) for i, p in enumerate(parts)])
    return pattern, batch


def _run_stream(spark, pattern, tmp_path, wide=False) -> str:
    from astrospectro_spark.streaming import stream_featurize

    out = str(tmp_path / "out")
    stream = (
        spark.readStream.schema(_TURNS_SCHEMA).option("maxFilesPerTrigger", 1).parquet(pattern)
    )
    q = stream_featurize(stream, out, str(tmp_path / "ckpt"), wide=wide).start()
    assert q.awaitTermination(600)
    return out


def _assert_matches_batch(spark, out, pattern, wide) -> pd.DataFrame:
    """The streamed table equals featurize_expr over the whole input,
    exactly and NULL-safe, on every output column. Returns the batch
    engine's rows."""
    from astrospectro_spark.engine.windows import featurize_expr

    from .conftest import assert_frames_match

    got = spark.read.parquet(out).drop("batch_id").toPandas()
    want = featurize_expr(spark.read.parquet(pattern), wide=wide).toPandas()
    assert sorted(got.columns) == sorted(want.columns)
    assert len(want.columns) == (181 if wide else 18)
    assert_frames_match(got, want, ["conv_id", "ts", "turn_idx"], rtol=0.0, atol=0.0)
    return want


@pytest.mark.parametrize("wide", [False, True], ids=["narrow", "wide"])
def test_stream_featurize_matches_batch(spark, stream_split, tmp_path, wide):
    """Three micro-batches featurized through the stitch carry equal one
    batch run over the whole input, on all 18 narrow or 181 wide
    columns. Each micro-batch alone restarts every running feature."""
    pattern, batch = stream_split
    out = _run_stream(spark, pattern, tmp_path, wide)
    assert sorted(r[0] for r in spark.read.parquet(out).select("batch_id").distinct().collect()) == [0, 1, 2]
    want = _assert_matches_batch(spark, out, pattern, wide)

    # the split exercises every carry: a conversation crosses a batch
    # edge inside a session that is not its first, and starts new
    # sessions after it; and some conversation starts with no state
    w = want.merge(batch, on=["conv_id", "turn_idx"]).sort_values(
        ["conv_id", "ts", "turn_idx"], kind="mergesort"
    )
    prev = w.groupby("conv_id")[["batch", "session_id"]].shift()
    crossing = w[prev["batch"].notna() & (prev["batch"] != w["batch"])]
    open_cross = crossing[
        (crossing["session_id"] == prev.loc[crossing.index, "session_id"])
        & (crossing["session_id"] > 0)
    ]
    assert any(
        (w[(w.conv_id == r.conv_id) & (w.batch == r.batch)].session_id > r.session_id).any()
        for r in open_cross.itertuples()
    )
    assert (w.groupby("conv_id")["batch"].first() > 0).any()


def test_stream_featurize_replay_is_exactly_once(spark, stream_split, tmp_path):
    """A batch Spark replays after a crash between its write and its
    commit rewrites its own rows from the state before it: no duplicate
    (conv_id, turn_idx), and the table still equals the batch engine."""
    pattern, _ = stream_split
    _run_stream(spark, pattern, tmp_path)
    commits = tmp_path / "ckpt" / "commits"
    last = max(int(f.name) for f in commits.iterdir() if f.name.isdigit())
    for f in (commits / str(last), commits / f".{last}.crc"):
        f.unlink(missing_ok=True)
    out = _run_stream(spark, pattern, tmp_path)
    assert (commits / str(last)).exists()  # the batch ran again
    feats = spark.read.parquet(out)
    assert feats.groupBy("conv_id", "turn_idx").count().filter("count > 1").count() == 0
    _assert_matches_batch(spark, out, pattern, wide=False)


def test_stream_featurize_timestamp_ntz(spark, transcripts_pdf, tmp_path):
    """Parquet written by pandas stores naive timestamps, which Spark
    reads as TIMESTAMP_NTZ: a 2-batch stream over such files equals
    featurize_expr on all 18 narrow columns."""
    import time

    from astrospectro_spark.streaming import stream_featurize

    pdf = transcripts_pdf.sort_values(["ts", "turn_idx"], kind="mergesort").reset_index(drop=True)
    src = tmp_path / "src"
    src.mkdir()
    half = len(pdf) // 2
    for i, part in enumerate((pdf.iloc[:half], pdf.iloc[half:])):
        part.to_parquet(src / f"part-{i:03d}.parquet", index=False)
        time.sleep(1.1)  # distinct mtimes → deterministic batch order
    pattern = str(src / "part-*.parquet")
    schema = spark.read.parquet(pattern).schema
    assert schema["ts"].dataType.typeName() == "timestamp_ntz"

    out = str(tmp_path / "out")
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(pattern)
    q = stream_featurize(stream, out, str(tmp_path / "ckpt")).start()
    assert q.awaitTermination(600)
    assert q.exception() is None
    _assert_matches_batch(spark, out, pattern, wide=False)


def test_stream_featurize_out_of_order_turn_fails(spark, transcripts_pdf, tmp_path):
    """A turn at or before its conversation's last committed ts cannot
    be featurized without rewriting committed rows: the query fails and
    names the conversation, and the batch writes nothing."""
    from pyspark.errors import StreamingQueryException

    pdf = transcripts_pdf.sort_values(["ts", "turn_idx"], kind="mergesort").reset_index(drop=True)
    first, second = pdf.iloc[:300], pdf.iloc[300:600]
    conv = first["conv_id"].iloc[-1]
    late = first[first["conv_id"] == conv].iloc[[0]].copy()
    late["turn_idx"] = late["turn_idx"] + 1_000_000
    src = tmp_path / "src"
    src.mkdir()
    pattern = _write_batches(spark, src, [first, pd.concat([second, late])])
    with pytest.raises(StreamingQueryException, match=f"conv_id '{conv}'"):
        _run_stream(spark, pattern, tmp_path)
    assert (tmp_path / "out" / "batch_id=0").exists()
    assert not (tmp_path / "out" / "batch_id=1").exists()


def test_associate_ref_events(spark, transcripts_sdf):
    from astrospectro_spark.engine.events import associate_ref_events, flatten_event_matches
    from astrospectro_spark.engine.windows import sessionize
    from astrospectro_spark.synth import generate_ref_events

    ref = spark.createDataFrame(generate_ref_events())
    s = sessionize(transcripts_sdf)
    m = associate_ref_events(s, ref)
    pdf = m.toPandas()
    assert len(pdf) > 0
    # at most one match per (conv, session, event)
    assert not pdf.duplicated(["conv_id", "session_id", "event_name"]).any()
    # every match respects the dim pattern: check one named event
    tool_rows = pdf[pdf.event_name == "tool_call"]
    if len(tool_rows):
        joined = tool_rows.merge(
            s.toPandas()[["conv_id", "turn_idx", "role", "tool"]],
            on=["conv_id", "turn_idx"],
        )
        assert (joined["role"] == "assistant").all()
        assert (joined["tool"] == "search").all()
    # pandas oracle for best-match semantics on one event pattern
    sp = s.toPandas()
    cand = sp[(sp.role == "system")]
    if len(cand):
        cand = cand.assign(prom=cand["text"].fillna("").str.len())
        best = (
            cand.sort_values(["prom", "ts", "turn_idx"], ascending=[False, True, True], kind="mergesort")
            .groupby(["conv_id", "session_id"], as_index=False)
            .first()
        )
        got = pdf[pdf.event_name == "system_boot"].sort_values(["conv_id", "session_id"]).reset_index(drop=True)
        want = best.sort_values(["conv_id", "session_id"]).reset_index(drop=True)
        assert len(got) == len(want)
        assert (got["turn_idx"].to_numpy() == want["turn_idx"].to_numpy()).all()
    wide = flatten_event_matches(m, sorted(pdf.event_name.unique()))
    assert wide.count() > 0


def test_stateful_asof_enrich_matches_oracle(spark, transcripts_pdf, anchors_pdf, tmp_path):
    """Streaming point-in-time enrichment: an interleaved turn/anchor
    feed delivered as 3 ts-ordered micro-batches must answer every
    anchor exactly like the batch as-of oracle (boundary inclusive,
    largest-turn_idx tiebreak, NULLs for unmatched / before-first-turn
    anchors), with tool_backfill equal to an as-of over the ffilled
    tool column."""
    import time

    import numpy as np

    from astrospectro_spark.oracle.pandas_oracle import oracle_asof
    from astrospectro_spark.streaming import stateful_asof_enrich

    turns = transcripts_pdf[["conv_id", "turn_idx", "role", "tool", "ts"]].copy()
    turns["kind"] = "turn"
    turns["anchor_id"] = pd.array([None] * len(turns), dtype="Int64")
    anchors = anchors_pdf[["conv_id", "anchor_id", "anchor_ts"]].rename(
        columns={"anchor_ts": "ts"}
    )
    anchors["kind"] = "anchor"
    anchors["turn_idx"] = pd.array([None] * len(anchors), dtype="Int32")
    anchors["role"] = pd.array([None] * len(anchors), dtype="string")
    anchors["tool"] = pd.array([None] * len(anchors), dtype="string")
    cols = ["conv_id", "kind", "turn_idx", "role", "tool", "ts", "anchor_id"]
    feed = pd.concat([turns[cols], anchors[cols]], ignore_index=True)
    feed["turn_idx"] = feed["turn_idx"].astype("Int32")
    # global order: ts, turns before anchors at equal ts, then turn_idx —
    # so a same-ts turn/anchor pair is never split anchor-first
    feed["_k"] = (feed["kind"] == "anchor").astype(int)
    feed = (
        feed.sort_values(["ts", "_k", "turn_idx"], kind="mergesort")
        .drop(columns="_k")
        .reset_index(drop=True)
    )

    src = tmp_path / "asof_feed"
    src.mkdir()
    cuts = [0, len(feed) // 3, 2 * len(feed) // 3, len(feed)]
    for i in range(3):
        part = feed.iloc[cuts[i] : cuts[i + 1]]
        p = str(src / f"part-{i:03d}.parquet")
        spark.createDataFrame(part).coalesce(1).write.mode("overwrite").parquet(p)
        time.sleep(1.1)

    schema = (
        "conv_id string, kind string, turn_idx int, role string, "
        "tool string, ts timestamp, anchor_id long"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "part-*.parquet"))
    )
    q = (
        stateful_asof_enrich(stream)
        .writeStream.format("memory")
        .queryName("asof_enrich_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = (
        spark.sql("select * from asof_enrich_stream")
        .toPandas()
        .sort_values("anchor_id", kind="mergesort")
        .reset_index(drop=True)
    )

    want = oracle_asof(
        transcripts_pdf, anchors_pdf, value_cols=["turn_idx", "role", "ts"]
    )
    # backfill law: as-of over the per-conversation ffilled tool column
    tf = transcripts_pdf.sort_values(["ts", "turn_idx"], kind="mergesort").copy()
    tf["tool"] = tf.groupby("conv_id")["tool"].ffill()
    want_bf = oracle_asof(tf, anchors_pdf, value_cols=["tool", "ts"])

    assert len(got) == len(anchors_pdf)
    assert got["anchor_id"].tolist() == want["anchor_id"].tolist()

    def vals(s):
        return s.astype(object).where(s.notna(), None).tolist()

    assert vals(got["asof_turn_idx"]) == vals(want["asof_turn_idx"])
    assert vals(got["asof_role"]) == vals(want["asof_role"])
    assert vals(got["tool_backfill"]) == vals(want_bf["asof_tool"])
    gap_want = (
        want["anchor_ts"].to_numpy("datetime64[us]").astype(np.int64)
        - want["asof_ts"].to_numpy("datetime64[us]").astype(np.float64)
    ) / 1e6
    gap_want[want["asof_ts"].isna().to_numpy()] = np.nan
    assert np.allclose(
        got["asof_gap_s"].to_numpy(float), gap_want, rtol=0, atol=0, equal_nan=True
    )


def _asof_ttl_feed(tmp_path, spark):
    """4 mtime-ordered micro-batch files exercising state TTL.

    t0: A and B each post a turn. B stays active (batches 2-3) which
    advances the watermark past A's retention horizon, so A is evicted
    during batch 3 (no data for A in that batch — timeout fires). Batch
    4 carries one anchor each: A must answer NULL (evicted), B must
    match its latest turn.
    """
    import time

    t0 = pd.Timestamp("2025-01-01 00:00:00")
    H = pd.Timedelta(hours=1)

    def row(conv, kind, ts, idx=None, tool=None, aid=None):
        return {
            "conv_id": conv, "kind": kind, "turn_idx": idx,
            "role": "user" if kind == "turn" else None, "tool": tool,
            "ts": ts, "anchor_id": aid,
        }

    batches = [
        [row("A", "turn", t0, idx=0, tool="exec"), row("B", "turn", t0, idx=0)],
        [row("B", "turn", t0 + 3 * H, idx=1)],
        [row("B", "turn", t0 + 3 * H + pd.Timedelta(minutes=10), idx=2, tool="search")],
        [row("A", "anchor", t0 + 5 * H, aid=0), row("B", "anchor", t0 + 5 * H, aid=1)],
    ]
    src = tmp_path / "ttl_feed"
    src.mkdir()
    schema = (
        "conv_id string, kind string, turn_idx int, role string, "
        "tool string, ts timestamp, anchor_id long"
    )
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(rows)
        sdf = spark.createDataFrame(pdf, schema=schema)
        sdf.coalesce(1).write.mode("overwrite").parquet(str(src / f"part-{i:03d}.parquet"))
        time.sleep(1.1)
    return str(src / "part-*.parquet"), schema


def _run_asof_ttl(spark, pattern, schema, name, retention):
    from astrospectro_spark.streaming import stateful_asof_enrich

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(pattern)
        .withWatermark("ts", "0 seconds")
    )
    q = (
        stateful_asof_enrich(stream, retention=retention)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return (
        spark.sql(f"select * from {name}")
        .toPandas()
        .sort_values("anchor_id")
        .reset_index(drop=True)
    )


def test_asof_enrich_state_ttl_evicts_idle_conversations(spark, tmp_path):
    pattern, schema = _asof_ttl_feed(tmp_path, spark)
    got = _run_asof_ttl(spark, pattern, schema, "asof_ttl", retention="1 hour")
    assert len(got) == 2
    a, b = got.iloc[0], got.iloc[1]
    # A idle > 1h behind the watermark: evicted, anchor answers NULL
    assert a["conv_id"] == "A" and pd.isna(a["asof_turn_idx"])
    assert pd.isna(a["tool_backfill"])
    # B stayed active: answered from its latest turn
    assert b["conv_id"] == "B" and b["asof_turn_idx"] == 2
    assert b["tool_backfill"] == "search"


def test_asof_enrich_no_ttl_keeps_state_forever(spark, tmp_path):
    """Same feed, retention=None: A's anchor is answered from the turn
    4 batches earlier — proving the TTL (not late-row filtering or a
    state bug) caused the NULL above."""
    pattern, schema = _asof_ttl_feed(tmp_path, spark)
    got = _run_asof_ttl(spark, pattern, schema, "asof_nottl", retention=None)
    assert len(got) == 2
    a, b = got.iloc[0], got.iloc[1]
    assert a["conv_id"] == "A" and a["asof_turn_idx"] == 0
    assert a["tool_backfill"] == "exec"
    assert b["asof_turn_idx"] == 2


def test_stateful_asof_pre1970_turns_match(spark, tmp_path):
    """Round-4 ADVICE: a turn with a NEGATIVE epoch timestamp (pre-1970)
    must still match later anchors — the state carries an explicit
    has_turn flag, not a sentinel timestamp sign."""
    import time

    from astrospectro_spark.streaming import stateful_asof_enrich

    rows = [
        # conv 'old': one turn in 1969 (negative micros), anchor in 1970
        ("old", "turn", 0, "user", "hammer", "1969-12-31 23:00:00", None),
        ("old", "anchor", None, None, None, "1970-01-01 00:10:00", 1),
        # conv 'neg': anchor BEFORE any turn, also pre-1970 → NULL match
        ("neg", "anchor", None, None, None, "1969-12-30 00:00:00", 2),
    ]
    pdf = pd.DataFrame(
        rows,
        columns=["conv_id", "kind", "turn_idx", "role", "tool", "s", "anchor_id"],
    )
    src = tmp_path / "pre1970_feed"
    src.mkdir()
    halves = [pdf.iloc[:1], pdf.iloc[1:]]
    schema = (
        "conv_id string, kind string, turn_idx int, role string, "
        "tool string, ts timestamp, anchor_id long"
    )
    for i, part in enumerate(halves):
        sdf = (
            spark.createDataFrame(
                part.astype(object).where(part.notna(), None),
                "conv_id string, kind string, turn_idx int, role string, "
                "tool string, s string, anchor_id long",
            )
            .withColumn("ts", F.col("s").cast("timestamp"))
            .drop("s")
            .select(
                "conv_id", "kind", "turn_idx", "role", "tool", "ts", "anchor_id"
            )
        )
        sdf.coalesce(1).write.mode("overwrite").parquet(
            str(src / f"part-{i:03d}.parquet")
        )
        time.sleep(1.1)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "part-*.parquet"))
    )
    q = (
        stateful_asof_enrich(stream)
        .writeStream.format("memory")
        .queryName("asof_pre1970")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql("select * from asof_pre1970")
        .toPandas()
        .set_index("anchor_id")
    )
    assert got.loc[1, "asof_turn_idx"] == 0  # pre-1970 turn matched
    assert got.loc[1, "tool_backfill"] == "hammer"
    assert got.loc[1, "asof_gap_s"] == pytest.approx(4200.0)
    assert pd.isna(got.loc[2, "asof_turn_idx"])  # no turn yet → NULL
