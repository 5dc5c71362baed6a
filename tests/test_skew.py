"""Skew engine: salted range partitioning must be bit-identical to the
single-window path, while splitting hot conversations into parallel
chunks (SURVEY.md §4 custom-work 1; north_rule skew gate)."""

from __future__ import annotations

from astrospectro_spark.engine.skew import featurize_salted
from astrospectro_spark.engine.windows import featurize_expr

from .conftest import assert_frames_match

SORT = ["conv_id", "ts", "turn_idx"]


def test_salted_identical_under_forced_chunking(spark, transcripts_sdf):
    """Every conversation chunked (~37 rows/chunk → the mega-conv splits
    into ~48 chunks) — exercises cross-chunk session stitches, backfill
    carry, cumulative offsets, and rate/roll overlap margins."""
    salted = featurize_salted(
        transcripts_sdf, hot_threshold=10, chunk_target_rows=37
    ).toPandas()
    plain = featurize_expr(transcripts_sdf).toPandas()
    assert_frames_match(salted, plain, SORT, rtol=0.0, atol=0.0)


def test_salted_noop_when_nothing_hot(spark, transcripts_sdf):
    salted = featurize_salted(transcripts_sdf, hot_threshold=10**9).toPandas()
    plain = featurize_expr(transcripts_sdf).toPandas()
    assert_frames_match(salted, plain, SORT, rtol=0.0, atol=0.0)


def test_salted_feature_only_matches_plain(spark, transcripts_sdf):
    """include_text=False (production contract: text projected to
    text_len below the exchange) must equal the text-carrying output
    minus the text column, on both the plain and salted paths."""
    plain = featurize_expr(transcripts_sdf, include_text=False).toPandas()
    full = featurize_expr(transcripts_sdf).toPandas()
    assert "text" not in plain.columns
    assert_frames_match(plain, full.drop(columns=["text"]), SORT, rtol=0.0, atol=0.0)
    salted = featurize_salted(
        transcripts_sdf, hot_threshold=10, chunk_target_rows=37, include_text=False
    ).toPandas()
    assert_frames_match(salted, plain, SORT, rtol=0.0, atol=0.0)


def test_salted_wide_identical_under_forced_chunking(spark, transcripts_sdf):
    """The wide tier's extra stitched features (cum_text_len,
    session_elapsed_s boundary carry) and bounded features (lag2/3,
    rate_300s, roll min/max/sum) must survive chunking bit-for-bit."""
    salted = featurize_salted(
        transcripts_sdf, hot_threshold=10, chunk_target_rows=37, wide=True
    ).toPandas()
    plain = featurize_expr(transcripts_sdf, wide=True).toPandas()
    assert_frames_match(salted, plain, SORT, rtol=0.0, atol=0.0)


def test_salted_identical_with_pathological_tiny_chunks(spark):
    """Heavy duplicate-ts boundaries make quantile chunks legitimately
    smaller than ROLL_ROWS-1: the row margin must reach back across
    multiple chunks or rolling features near chunk starts silently lose
    history."""
    import pandas as pd

    rows = []
    ts = pd.Timestamp("2024-01-01 00:00:00")
    rn = 0
    # bursts of duplicate timestamps; many distinct ts appear once, so
    # tiny chunk_target forces chunks with 1-2 rows between bursts
    for i in range(400):
        n_dup = 1 if i % 3 else 7
        for j in range(n_dup):
            rows.append(
                {
                    "conv_id": "conv-hot",
                    "turn_idx": rn,
                    "role": ["user", "assistant", "tool", "system"][rn % 4],
                    "text": "x" * (1 + (rn * 37) % 90),
                    "tool": None if rn % 5 else f"tool{rn % 3}",
                    "ts": ts,
                }
            )
            rn += 1
        ts += pd.Timedelta(seconds=[7, 45, 2401][i % 3])
    sdf = spark.createDataFrame(pd.DataFrame(rows))
    salted = featurize_salted(sdf, hot_threshold=10, chunk_target_rows=2).toPandas()
    plain = featurize_expr(sdf).toPandas()
    assert_frames_match(salted, plain, SORT, rtol=0.0, atol=0.0)


def test_salted_only_mega_conv_hot(spark, transcripts_sdf, transcripts_pdf):
    """Realistic setting: only the 30%-mega-conversation crosses the
    threshold; cold convs take the plain path, outputs must agree."""
    sizes = transcripts_pdf.groupby("conv_id").size()
    thr = int(sizes.max()) - 1
    salted = featurize_salted(
        transcripts_sdf, hot_threshold=thr, chunk_target_rows=100
    ).toPandas()
    plain = featurize_expr(transcripts_sdf).toPandas()
    assert_frames_match(salted, plain, SORT, rtol=0.0, atol=0.0)


def test_session_stitch_adversarial_boundaries(spark):
    """Session-family stitch (group-carry: carry_out lags into the next
    chunk) under adversarial shapes: adjacent session boundaries,
    multiple boundary-free chunks inside one open session (the carry
    must accumulate across >1 chunk), duplicate timestamps at chunk
    cut points, a single-turn conversation, and an all-equal-ts
    conversation. Tiny chunk_target forces ~10 chunks through the
    120-turn conversation."""
    import numpy as np
    import pandas as pd

    rows = []
    t0 = pd.Timestamp("2025-03-01 12:00:00")
    # conv a: engineered gap pattern
    gaps = [10.0] * 120
    gaps[17] = 2000.0  # boundary
    gaps[18] = 2500.0  # ADJACENT boundary (1-row session)
    gaps[55] = 4000.0  # boundary after a long boundary-free stretch
    gaps[30] = 0.0     # duplicate ts pair mid-session
    gaps[56] = 0.0     # duplicate ts right after a boundary
    ts = t0 + pd.to_timedelta(np.cumsum([0.0] + gaps[1:]), unit="s")
    for i in range(120):
        rows.append(("conv-a", i, "user" if i % 2 else "assistant",
                     "x" * ((i * 37) % 700), "grep" if i % 7 == 0 else None, ts[i]))
    # conv b: single turn
    rows.append(("conv-b", 0, "system", "solo", None, t0))
    # conv c: all rows share one timestamp (turn_idx tiebreak only)
    for i in range(25):
        rows.append(("conv-c", i, "user", "y" * (i % 50), None, t0))
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    sdf = spark.createDataFrame(pdf)
    salted = featurize_salted(
        sdf, hot_threshold=5, chunk_target_rows=13, wide=True
    ).toPandas()
    plain = featurize_expr(sdf, wide=True).toPandas()
    assert_frames_match(salted, plain, SORT, rtol=0.0, atol=0.0)
    # the fixture really exercised multi-chunk open sessions
    one = plain[plain.conv_id == "conv-a"]
    assert one["session_id"].nunique() == 4


def test_salted_nothing_hot_gets_plain_plan(spark, transcripts_sdf):
    """With no conversation above the threshold the census leaves
    nothing to split: the result is featurize_expr's plan, with no
    union, broadcast join or cached hot slice behind it."""
    from .test_plan_shape import _formatted, _op_counts

    salted = featurize_salted(transcripts_sdf, hot_threshold=10**9)
    plan = _formatted(spark, salted)
    got = _op_counts(plan)
    want = _op_counts(_formatted(spark, featurize_expr(transcripts_sdf)))
    for op in ("Window", "Sort", "Exchange"):
        assert got.get(op, 0) == want.get(op, 0), (op, got, want)
    for op in ("Union", "InMemoryRelation", "InMemoryTableScan", "BroadcastHashJoin"):
        assert op not in plan, op


def test_null_conv_id_stays_cold(spark, transcripts_sdf, transcripts_pdf):
    """Null conv_ids are never hot, even as a group larger than the
    threshold: they take the cold path, whose window groups them like
    featurize_expr does."""
    nulls = transcripts_pdf.head(30).assign(conv_id=None, turn_idx=range(30))
    sdf = transcripts_sdf.unionByName(
        spark.createDataFrame(nulls, schema=transcripts_sdf.schema)
    )
    salted = featurize_salted(sdf, hot_threshold=10, chunk_target_rows=37).toPandas()
    plain = featurize_expr(sdf).toPandas()
    assert salted.conv_id.isna().sum() == 30
    assert_frames_match(salted, plain, SORT, rtol=0.0, atol=0.0)


def test_salted_hot_slice_is_one_reused_exchange(spark, transcripts_sdf):
    """The hot slice's three consumers (the time-margin rows, the
    row-margin window and the per-chunk counts) read one exchange that
    AQE reuses, not a cached copy and not three scans of the source."""
    salted = featurize_salted(transcripts_sdf, hot_threshold=10, chunk_target_rows=37)
    salted.collect()
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan
    assert "InMemoryRelation" not in plan


def test_salted_run_caches_nothing(spark, transcripts_sdf, tmp_path):
    """Neither a written hot result nor a FeatureRun over hot buckets
    pins storage, so there is nothing to release: a 64-bucket run
    cannot accumulate 64 cached slices."""
    from functools import partial

    from astrospectro_spark.engine.lineage import FeatureRun

    def cached():
        return {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = cached()
    featurizer = partial(featurize_salted, hot_threshold=10, chunk_target_rows=37)
    featurizer(transcripts_sdf).write.format("noop").mode("overwrite").save()
    assert cached() - before == set()
    FeatureRun(spark, str(tmp_path), n_buckets=2, featurizer=featurizer).run(transcripts_sdf)
    assert cached() - before == set()
