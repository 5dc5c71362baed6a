"""Zero-row inputs through every engine entry point.

A partition-pruned read that matches nothing (date filter past the data,
a bucket with no rows, an anti-joined resume queue that drained) hands the
engine a 0-row DataFrame with the full schema. Every path must plan and
execute without error and preserve the documented row semantics:

- featurize / sessionize: 0 rows out, full output schema intact.
- as-of join: one output row PER ANCHOR (anchors are the probe side), so
  empty turns -> every anchor row survives with NULL carried values, and
  empty anchors -> 0 rows.
"""

from astrospectro_spark.engine.asof import asof_join
from astrospectro_spark.engine.skew import featurize_salted
from astrospectro_spark.engine.windows import featurize_expr, sessionize


def test_featurize_empty_keeps_schema(spark, transcripts_sdf):
    out = featurize_expr(transcripts_sdf.limit(0), wide=True)
    full = featurize_expr(transcripts_sdf, wide=True)
    assert out.count() == 0
    assert out.columns == full.columns


def test_featurize_salted_empty(spark, transcripts_sdf):
    assert featurize_salted(transcripts_sdf.limit(0)).count() == 0


def test_sessionize_empty(spark, transcripts_sdf):
    assert sessionize(transcripts_sdf.limit(0)).count() == 0


def test_asof_empty_turns_yields_null_row_per_anchor(
    spark, transcripts_sdf, anchors_sdf
):
    out = asof_join(transcripts_sdf.limit(0), anchors_sdf)
    rows = out.collect()
    assert len(rows) == anchors_sdf.count()
    assert all(r["asof_turn_idx"] is None for r in rows)


def test_asof_empty_anchors_yields_no_rows(spark, transcripts_sdf, anchors_sdf):
    assert asof_join(transcripts_sdf, anchors_sdf.limit(0)).count() == 0


def test_feature_run_empty_commits_and_resumes(spark, transcripts_sdf, tmp_path):
    from astrospectro_spark.engine.lineage import FeatureRun

    empty = transcripts_sdf.limit(0)
    fr = FeatureRun(spark, str(tmp_path / "out"), n_buckets=4)
    assert fr.run(empty) == {
        "buckets_total": 4,
        "buckets_skipped": 0,
        "buckets_processed": 4,
    }
    assert fr.run(empty)["buckets_skipped"] == 4
    assert fr.result().count() == 0


def test_dedup_family_empty(spark, documents_sdf):
    from astrospectro_spark.functions.dedup import (
        exact_dup_groups,
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    empty = documents_sdf.limit(0)
    assert exact_dup_groups(empty).count() == 0
    assert ngram_jaccard_pairs(empty).count() == 0
    assert minhash_lsh_candidates(empty).count() == 0


def test_text_battery_empty_keeps_schema(spark, documents_sdf):
    from astrospectro_spark.functions.text import (
        with_fingerprint,
        with_lang_id,
        with_quality,
        with_token_stats,
    )

    def battery(df):
        return with_fingerprint(with_lang_id(with_quality(with_token_stats(df))))

    out = battery(documents_sdf.limit(0))
    assert out.count() == 0
    assert out.columns == battery(documents_sdf).columns


def test_similarity_empty_sides(spark):
    from astrospectro_spark.functions.similarity import cosine_topk, lsh_cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assert cosine_topk(emb.limit(3), emb.limit(0)).count() == 0
    assert cosine_topk(emb.limit(0), emb.limit(100)).count() == 0
    assert lsh_cosine_topk(emb.limit(3), emb.limit(0)).count() == 0


def test_new_operators_empty(spark, documents_sdf, tmp_path):
    """Zero-row inputs through the round-4 additions: embedding
    near-dup pairs and the curate funnel (whose observe metrics sum to
    NULL on an empty input — reported as 0, not a crash)."""
    from astrospectro_spark.functions.similarity import embedding_neardup_pairs
    from astrospectro_spark.jobs.curate_job import build_parser, run

    empty_docs = documents_sdf.limit(0)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assert embedding_neardup_pairs(emb.limit(0)).count() == 0

    src = str(tmp_path / "empty_docs.parquet")
    empty_docs.write.parquet(src)
    args = build_parser().parse_args(["--input", src, "--output", str(tmp_path / "out")])
    report = run(spark, args)
    assert report["n_input"] == 0 and report["n_kept"] == 0
