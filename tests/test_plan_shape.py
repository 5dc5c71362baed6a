"""Plan-shape regression guards: the scale properties we rely on must
survive refactors — one hash exchange for the whole feature vector,
column pruning reaching the scan, broadcast joins for small dims."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from astrospectro_spark.engine.asof import asof_join
from astrospectro_spark.engine.windows import featurize_expr


def _formatted(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _op_counts(plan: str) -> dict[str, int]:
    ops = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    out: dict[str, int] = {}
    for o in ops:
        out[o] = out.get(o, 0) + 1
    return out


def test_featurize_single_exchange(spark, transcripts_sdf):
    plan = _formatted(spark, featurize_expr(transcripts_sdf))
    c = _op_counts(plan)
    assert c.get("Exchange", 0) == 1, c
    assert "PythonUDF" not in plan and "ArrowEval" not in plan


def test_featurize_projection_prunes_scan(spark, transcripts_pdf, tmp_path):
    # pruning must reach a real parquet scan (ReadSchema), so write one
    src = str(tmp_path / "t.parquet")
    spark.createDataFrame(transcripts_pdf).write.parquet(src)
    turns = spark.read.parquet(src)
    plan = _formatted(spark, featurize_expr(turns).select("conv_id", "session_id"))
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m, plan
    # only the columns session_id needs reach the scan — not text/role/tool
    assert "text" not in m.group(1) and "role" not in m.group(1)
    # and unused windows are pruned from the plan
    assert _op_counts(plan).get("Window", 99) <= 3


def test_featurize_wide_single_exchange(spark, transcripts_sdf):
    """The 60-feature wide tier must keep the one-exchange property:
    10-row rolls, 300s range windows, cumulative carries and the
    row-local composite battery all share partitionBy(conv_id)."""
    plan = _formatted(spark, featurize_expr(transcripts_sdf, wide=True))
    c = _op_counts(plan)
    assert c.get("Exchange", 0) == 1, c
    assert "PythonUDF" not in plan and "ArrowEval" not in plan


def test_asof_single_exchange_no_python(spark, transcripts_sdf, anchors_sdf):
    plan = _formatted(
        spark, asof_join(transcripts_sdf, anchors_sdf, tolerance_col="tolerance_s")
    )
    c = _op_counts(plan)
    assert c.get("Exchange", 0) == 1, c
    assert c.get("Window", 0) == 1
    assert "PythonUDF" not in plan


def test_feature_vector_wide_single_exchange(spark):
    """The 183-column wide vector must keep the one-exchange property:
    every window variant (ordered, row-frame x4, range-frame x4,
    unordered, nested cum-sum stages, struct-max session windows, and
    the per-entity poly-fit moment sums) shares partitionBy(user_id)."""
    from astrospectro_spark.queries import q_feature_vector_wide

    df = q_feature_vector_wide(spark, "/root/testdata/sf0.001")
    plan = _formatted(spark, df)
    c = _op_counts(plan)
    assert c.get("Exchange", 0) == 1, c
    assert "PythonUDF" not in plan
    assert len(df.columns) == 183


def test_window_pass_budget(spark, transcripts_sdf):
    """Layering regression guard: window expressions are batched into
    dependency layers, so the number of WindowExec passes (each a full
    partition scan with a row copy) and Sorts must stay at the layered
    minimum — base 3 windows / 2 sorts, the 175-column wide tier 6
    windows / 3 sorts (base layers, range family EARLY while the row is
    narrow, W0/W1; the session family rides the cumulative frame). The
    early range family costs one extra ts-re-sort but its sort
    materializes narrow rows instead of wide ones. A
    withColumn-per-feature regression reads as dozens of nodes here
    (the pre-layering plan had 38 windows / 16 sorts)."""
    c = _op_counts(_formatted(spark, featurize_expr(transcripts_sdf)))
    assert c.get("Window", 99) <= 3 and c.get("Sort", 99) <= 2, c
    c = _op_counts(_formatted(spark, featurize_expr(transcripts_sdf, wide=True)))
    assert c.get("Window", 99) <= 6 and c.get("Sort", 99) <= 3, c


@pytest.mark.parametrize(
    "kw, windows, sorts",
    [
        (dict(include_text=False, enum_shuffle=True), 12, 10),
        (dict(wide=True), 21, 12),
        (dict(include_text=False, enum_shuffle=True, wide=True), 21, 12),
    ],
    ids=["narrow_enum", "wide", "wide_enum"],
)
def test_salted_window_pass_budget(spark, transcripts_sdf, kw, windows, sorts):
    """The salted plan with every conversation chunked: the cold plan,
    the plain window layers over (conv, chunk) — once for the rows, once
    for the per-chunk summary — the context-row window and the summary's
    prefix windows, which share one ordering and so one Sort."""
    from astrospectro_spark.engine.skew import featurize_salted

    salted = featurize_salted(transcripts_sdf, hot_threshold=10, chunk_target_rows=37, **kw)
    c = _op_counts(_formatted(spark, salted))
    assert c.get("Window", 99) <= windows and c.get("Sort", 99) <= sorts, c


def test_salted_plan_unions_once(spark, transcripts_sdf):
    """The executed salted plan holds one Union, cold rows with hot: a
    hot row reaches its own chunk and every chunk it is context for in
    one explode, so neither the hot rows nor the per-chunk summary
    built from them read a union of their own."""
    from astrospectro_spark.engine.skew import featurize_salted

    salted = featurize_salted(
        transcripts_sdf, hot_threshold=300, chunk_target_rows=37,
        include_text=False, enum_shuffle=True,
    )
    salted.write.format("noop").mode("overwrite").save()
    c = _op_counts(_formatted(spark, salted))
    assert c.get("Union", 0) == 1, c


def test_skew_defines_no_feature():
    """engine/skew.py and the stream featurizer stage rows and carry
    state only: every feature is defined once, in engine/windows.py, so
    no feature name may appear in skew.py, in stream_featurize or in its
    state helpers as a string literal (that would be a second copy of
    its algebra)."""
    import ast
    import inspect
    import textwrap

    import astrospectro_spark.engine.skew as skew
    from astrospectro_spark.engine.windows import FEATURE_COLS, WIDE_FEATURE_COLS
    from astrospectro_spark.streaming import session_stream as st

    sources = [inspect.getsource(skew)] + [
        textwrap.dedent(inspect.getsource(f))
        for f in (st.stream_featurize, st._state_batches, st._join_conv)
    ]
    literals = {
        n.value
        for src in sources
        for n in ast.walk(ast.parse(src))
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    }
    forked = sorted(literals & set(FEATURE_COLS + WIDE_FEATURE_COLS))
    assert not forked, forked


def test_flagship_defines_no_window_algebra():
    """q_feature_vector_wide builds its windows from engine.windows
    (growing frames, lag-difference sums, blocks, carries, struct-max):
    it may define no nested function or lambda, which is where a second
    copy of that algebra would live."""
    import ast
    import inspect
    import textwrap

    from astrospectro_spark.queries import q_feature_vector_wide

    tree = ast.parse(textwrap.dedent(inspect.getsource(q_feature_vector_wide)))
    nested = [
        n.name if hasattr(n, "name") else "lambda"
        for n in ast.walk(tree.body[0])
        if n is not tree.body[0]
        and isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda))
    ]
    assert not nested, nested


def test_flagship_window_pass_budget(spark):
    """Same guard for the 183-column events flagship (batched staging
    layers + one mega-select): one exchange, 5 window passes — the range
    family first while rows are narrow, then the ordered layers, with
    the whole-partition sums on the ordered spec — and 2 sorts."""
    from astrospectro_spark.queries import q_feature_vector_wide

    c = _op_counts(
        _formatted(spark, q_feature_vector_wide(spark, "/root/testdata/sf0.001"))
    )
    assert c.get("Exchange", 0) == 1, c
    assert c.get("Window", 99) <= 5 and c.get("Sort", 99) <= 2, c


def test_minhash_band_exchange_carries_ids_only(spark, documents_sdf):
    """The LSH band-bucket join must shuffle (band_id, band_hash, id)
    only — the shingle arrays are re-attached AFTER candidate-pair
    dedup, so the widest column never rides the widest shuffle."""
    from astrospectro_spark.functions.dedup import minhash_lsh_candidates

    plan = _formatted(spark, minhash_lsh_candidates(documents_sdf))
    for m in re.finditer(r"^\(\d+\) Exchange\n(.*?)(?=^\(\d+\)|\Z)", plan, re.M | re.S):
        block = m.group(1)
        if "band_hash" in block:
            # the shingle attribute prints as a standalone `sh#NN` token;
            # a bare substring test would false-positive inside
            # `band_hash#NN` (both band-join sides shuffle since round 6)
            assert not re.search(r"(?<![A-Za-z0-9_])sh#\d", block) and not re.search(
                r"\bsh\b", block
            ), block


def test_shingle_tokenizer_evaluated_once(spark, documents_sdf):
    """The tokenizer runs once per document: Spark evaluates lambda
    bodies without common-subexpression elimination, so a tokenizer
    expression read inside the shingle lambda is re-run for every
    token read (three per trigram). The token array must reach the
    lambdas as a bound variable, leaving one tokenizer in the plan."""
    from astrospectro_spark.functions.dedup import minhash_signature, shingles

    for col in (shingles("text", max_tokens=50), minhash_signature("text")):
        plan = documents_sdf.select(col.alias("c"))._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("regexp_replace(lower(text") == 1, plan


def test_verify_shingles_projected_once(spark, documents_sdf, monkeypatch):
    """Each document is shingled once. curate computes one per-document
    table that holds the shingle hashes and checkpoints it: the
    table's plan holds curate's only shingle projection, and the plan
    above it (the LSH signature, the verify Jaccard, the verdicts)
    none, and the hash arrays do not ride the band shuffle. Standalone,
    minhash_lsh_candidates shingles every document for the signature
    and, in one projection under the verify semi-join, the candidate
    documents again; the exact n-gram pairs of the ngram_jaccard query
    shingle in one projection."""
    from astrospectro_spark.functions.dedup import minhash_lsh_candidates
    from astrospectro_spark.jobs.curate_job import curate
    from astrospectro_spark.queries import q_ngram_jaccard

    shingle = re.compile(r"element_at\(transform\(array\((slice\()?split\(trim\(")
    signature = re.compile(r"aggregate\(transform\(transform\(element_at\(transform\(array\(")

    def optimized(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    checkpointed = []
    local_checkpoint = type(documents_sdf).localCheckpoint

    def recording(self, *args, **kwargs):
        checkpointed.append(optimized(self))
        return local_checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(type(documents_sdf), "localCheckpoint", recording)
    flagged = curate(documents_sdf)
    assert [len(shingle.findall(p)) for p in checkpointed] == [1]
    assert not shingle.findall(optimized(flagged))
    for m in re.finditer(r"^\(\d+\) Exchange\n(.*?)(?=^\(\d+\)|\Z)", _formatted(spark, flagged), re.M | re.S):
        if "band_hash" in m.group(1):
            assert not re.search(r"\b_h#\d", m.group(1)), m.group(1)

    plan = optimized(minhash_lsh_candidates(documents_sdf))
    assert len(shingle.findall(plan)) - len(signature.findall(plan)) == 1, plan
    assert len(shingle.findall(optimized(q_ngram_jaccard(spark, "/root/testdata/sf0.001")))) == 1


def test_curate_build_py4j_budget(spark, documents_sdf):
    """Building the curate plan is SQL text, one parse per column, and
    the verdicts are one projection over the per-document table: at
    most 520 Py4J commands for the curate_dedup benchmark's arguments,
    the table's checkpoint job included (436 measured). Column-API
    builders sent one command per operator and literal, 5,200 and
    more; a build that added each verdict in its own step sent 603.
    Python GC is paused and object-release commands are not counted,
    so the count does not depend on when earlier objects die."""
    import gc

    from astrospectro_spark.jobs.curate_job import curate

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        sent.append(command)
        return send(command, *args, **kwargs)

    gc.collect()
    gc.disable()
    client.send_command = counting
    try:
        curate(documents_sdf, near_dup_threshold=0.5, langs=["en", "fr", "de", "es"], min_tokens=20)
    finally:
        del client.send_command
        gc.enable()
    n = sum(1 for c in sent if not c.startswith("m\n"))
    assert n <= 520, n


def test_per_entity_joins_not_hint_broadcast(spark):
    """Joins whose build side is one row PER ENTITY (medians, per-entity
    fit coefficients, sigma-clip bounds) must NOT carry a forced
    broadcast hint — at 10^9 entities a hinted broadcast OOMs; AQE picks
    the strategy from runtime sizes. Asserted on the ANALYZED plan
    (hints are erased by the optimizer, so the physical plan can't
    distinguish a hint from an AQE decision on small test data)."""
    from astrospectro_spark.engine.regression import (
        poly2_residuals_per_entity,
        sigma_clip_slope,
    )
    from astrospectro_spark.queries import q_median_normalize

    sf = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf}/events.parquet")

    def analyzed(df) -> str:
        return df._jdf.queryExecution().analyzed().toString()

    for df in (
        q_median_normalize(spark, sf),
        poly2_residuals_per_entity(ev.withColumn("x", F.col("value")), "x", "value", "user_id"),
        sigma_clip_slope(ev.withColumn("x", F.col("value")), "x", "value", group_col="user_id", n_iter=1),
    ):
        plan = analyzed(df)
        assert "UnresolvedHint" not in plan and "ResolvedHint" not in plan, plan[:2000]


def test_small_dim_join_broadcasts(spark, transcripts_sdf):
    from astrospectro_spark.engine.events import associate_ref_events
    from astrospectro_spark.engine.windows import sessionize
    from astrospectro_spark.synth import generate_ref_events

    ref = spark.createDataFrame(generate_ref_events())
    plan = _formatted(spark, associate_ref_events(sessionize(transcripts_sdf), ref))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_embedding_lsh_exchange_carries_no_vectors(spark):
    """The hyperplane-LSH self-join must move (table, sig, id) only —
    vectors are re-attached to deduplicated candidate pairs after the
    bucket join, never riding a bucket exchange. Invariant holds for
    both join strategies: no Exchange/BroadcastExchange block may carry
    a signature AND a vector column."""
    from astrospectro_spark.functions.similarity import embedding_neardup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _formatted(spark, embedding_neardup_pairs(emb))
    blocks = [
        m.group(1)
        for m in re.finditer(
            r"^\(\d+\) (?:Broadcast)?Exchange\n(.*?)(?=^\(\d+\)|\Z)",
            plan, re.M | re.S,
        )
    ]
    sig_blocks = [b for b in blocks if re.search(r"\bsig\b", b)]
    assert sig_blocks, "expected at least one bucket-key exchange in the plan"
    for b in sig_blocks:
        assert "embedding#" not in b, b


def test_embedding_vectors_attached_by_one_join(spark):
    """embedding_neardup_pairs reaches the vectors through one join: the
    pair ends are attached in a single join (``dedup.attach_ends``, the
    step the MinHash verify uses), so the optimized plan holds that join
    and the bucket self-join, and no join per pair side."""
    from astrospectro_spark.functions.similarity import embedding_neardup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = embedding_neardup_pairs(emb)._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"^[\s:|+-]*Join ", plan, re.M)) == 2, plan
