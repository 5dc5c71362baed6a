"""Packaged training-data curation pipeline over the documents table.

Chains the first-class data-pipeline operators into one spark-submit
job (the documents sibling of ``featurize_job``):

    exact dedup (min id over a fingerprint window)
      → near-dup removal (MinHash+LSH band join, exact-Jaccard verify)
      → embedding near-dup (optional: hyperplane-LSH self-join,
        exact-cosine verify, via --embeddings)
      → language filter (marker-word lang-ID)
      → quality filter (punct/digit/stopword composite score)
      → token-count bounds

    spark-submit --py-files astrospectro_spark.zip curate_job.py \\
        --input /data/documents.parquet --output /data/curated \\
        [--near-dup-threshold 0.5 | --no-near-dup] \\
        [--langs en,fr] [--min-quality 0.5] \\
        [--min-tokens 1] [--max-tokens 1000000]

Scale shape: every per-row value is computed once, in one
per-document table: the fingerprint, the lang/quality/token columns,
the exact-dedup verdict (a min-id window over the fingerprint
exchange) and, for its keepers, the shingle hashes (one md5 per
shingle). With a pair stage on, the table is materialized once
(``localCheckpoint``); the MinHash signature and the verify Jaccard
read its hash arrays, and every verdict is one projection over it
left-joined with the losers. The LSH band-bucket join carries
``(band_id, band_hash, id)`` alone (see ``functions/dedup.py``). The
per-stage funnel census costs ZERO extra passes: stage verdicts are
boolean flag columns aggregated via ``DataFrame.observe``
(CollectMetrics) during the single output write, so a 100 TB run
reads its input for dedup and writes kept rows exactly once, report
included.

Building the plan has a cost of its own: the per-row builders of
``functions/text.py`` and ``functions/dedup.py`` are SQL text, parsed
once per column, and the table and the verdicts are one projection
each. A ``curate()`` call sends 436 Py4J commands, the table's
checkpoint job included, where one ``withColumns`` per stage sent 603
and a Column-API build one per operator and literal (5,227).

Near-dup removal contract — two modes (``--dedup-mode``):

- ``pairwise`` (default): a document is dropped when it has a verified
  near-duplicate with a SMALLER doc_id. Deterministic, one extra join,
  zero iteration — what large dedup pipelines ship by default. Caveat:
  on a chain A≈B≈C where only (A,C) and (B,C) verified, B survives
  because its sole smaller partner is transitively covered elsewhere.
- ``cc``: transitive closure via alternating large-star/small-star
  connected components over the verified pair set
  (``functions.dedup.connected_components``): exactly ONE keeper (the
  min id) per duplicate CLUSTER, the full-corpus semantics. Costs a
  bounded iterative job (O(log cluster-size) rounds of join+groupBy
  over the pair set — the pair set, not the corpus).

Reference analog: the reference curates its input catalog by
quality/SNR gates before featurization (SURVEY §2.2 F5-F12,
src/pipeline/feature_engineering.py quality masks); this job is the
same funnel recast for LLM training documents.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="astrospectro_spark curate job")
    p.add_argument("--input", required=True, help="documents parquet path")
    p.add_argument("--output", required=True, help="output dir (curated/ + report.json)")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--near-dup-threshold", type=float, default=0.5,
                   help="Jaccard threshold for near-dup removal")
    p.add_argument("--no-near-dup", action="store_true",
                   help="skip the MinHash+LSH near-dup stage")
    p.add_argument("--dedup-mode", choices=("pairwise", "cc"),
                   default="pairwise",
                   help="near-dup drop rule: pairwise canonical-min "
                   "(default) or connected-components transitive "
                   "closure (one keeper per duplicate cluster)")
    p.add_argument("--max-shingle-tokens", type=int, default=10_000,
                   help="shingle only the first N tokens per document "
                   "(bounds per-row memory against pathological giant "
                   "docs; 0 = unlimited)")
    p.add_argument("--embeddings", default=None,
                   help="optional embeddings parquet (id must equal --id-col "
                   "values) for cosine near-dup removal")
    p.add_argument("--embedding-id-col", default="vec_id")
    p.add_argument("--embedding-vec-col", default="embedding")
    p.add_argument("--embedding-threshold", type=float, default=0.95)
    p.add_argument("--langs", default=None,
                   help="comma-separated allow-list of predicted languages")
    p.add_argument("--min-quality", type=float, default=None,
                   help="minimum composite quality_score in [0,1]")
    p.add_argument("--min-tokens", type=int, default=None)
    p.add_argument("--max-tokens", type=int, default=None)
    p.add_argument(
        "--atomic",
        action="store_true",
        help="publish the curated table through the snapshot log "
        "(sources/snapshot_log): readers never see a partial run, "
        "reruns append new snapshots, history is the audit trail",
    )
    p.add_argument("--master", default=None)
    return p


def curate(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    near_dup_threshold: float | None = 0.5,
    embeddings=None,
    embedding_id_col: str = "vec_id",
    embedding_vec_col: str = "embedding",
    embedding_threshold: float = 0.95,
    langs: list[str] | None = None,
    min_quality: float | None = None,
    min_tokens: int | None = None,
    max_tokens: int | None = None,
    max_shingle_tokens: int | None = 10_000,
    dedup_mode: str = "pairwise",
):
    """Return the input DataFrame with one cumulative boolean verdict
    column per stage (``keep_exact`` … ``keep``) plus derived feature
    columns (``pred_lang``, ``quality_score``, ``n_tokens`` …); callers
    filter on the ``keep`` column. With a pair stage on, the
    per-document table is computed here (one Spark job), and
    ``dedup_mode="cc"`` also runs the bounded iterative
    connected-components job on the verified pair set."""
    from astrospectro_spark.functions.dedup import lsh_pairs, shingle_hashes_sql
    from astrospectro_spark.functions.text import (
        lang_id_sql,
        normalized_sql,
        quality_sql,
        quote_ident,
        token_stats_sql,
    )

    if dedup_mode not in ("pairwise", "cc"):
        raise ValueError(f"unknown dedup_mode: {dedup_mode!r}")
    c_id, c_text = quote_ident(id_col), quote_ident(text_col)
    near = near_dup_threshold is not None

    # --- the per-document table: every per-row value, computed once.
    # The fingerprint partitions the rows: a fixed-width hash
    # repartition (never coalesced by AQE) gives the md5-heavy shingle
    # hashing its task parallelism, and the exact-dedup window rides
    # the same exchange (keeper = min id per fingerprint, no
    # groupBy + join-back). The hash arrays never ride the band
    # shuffle, only the verify join.
    # NULL-text contract (round-5 ADVICE, documented): md5(NULL) is
    # NULL, and both window partitioning AND groupBy treat NULL as one
    # key, so all NULL-text docs form a single exact-dup group with one
    # keeper (min id). This matches exact_dup_groups / the dedup_exact
    # oracle; callers who must keep every NULL-text doc should filter
    # them out before curate and union them back.
    per_doc = {
        "keep_exact": f"{c_id} = min({c_id}) OVER (PARTITION BY fingerprint)",
        **lang_id_sql(text_col),
        **quality_sql(text_col),
        **token_stats_sql(text_col),
    }
    # a derived column or verdict recomputes an input column of the
    # same name (a curated output curated again); an input fingerprint
    # (a stream_curate table) or _h is internal and dropped
    derived = {*per_doc, "fingerprint", "_h", *FUNNEL_STAGES}
    doc_cols = [quote_ident(c) for c in docs.columns if c not in derived]
    table = docs.selectExpr(
        *doc_cols, f"md5({normalized_sql(c_text)}) AS fingerprint"
    ).repartition(docs.sparkSession.sparkContext.defaultParallelism, "fingerprint")
    table = table.selectExpr(*doc_cols, *(f"{v} AS {k}" for k, v in per_doc.items()))
    if near:
        # the exact keepers only: the LSH reads no other row, and all
        # copies of a repeated text share one task of the exchange
        h = shingle_hashes_sql(text_col, 3, max_shingle_tokens)
        table = table.selectExpr("*", f"CASE WHEN keep_exact THEN {h} END AS _h")
    if near or embeddings is not None:
        # read by the pair stages and by the verdicts: materialize once.
        # Eager measured faster than lazy on curate_dedup. The blocks
        # live in executor storage, so at cluster scale an executor
        # loss fails the job (see connected_components on checkpoint).
        table = table.localCheckpoint(eager=True)
    survivors = table.filter("keep_exact")

    def _losers(pairs, pair_id_a="id_a", pair_id_b="id_b"):
        """ids to DROP from a verified duplicate pair set, per mode."""
        if dedup_mode == "cc":
            from astrospectro_spark.functions.dedup import connected_components

            labels = connected_components(pairs, pair_id_a, pair_id_b)
            return labels.filter("id != component").selectExpr(f"id AS {c_id}")
        return pairs.selectExpr(f"{quote_ident(pair_id_b)} AS {c_id}").distinct()

    # --- near-dup: drop per the dedup_mode rule over verified pairs.
    # Run on exact-survivors only (duplicates would flood the buckets).
    # The signature and the verify Jaccard both read the table's
    # shingle hashes.
    verdicts = table
    near_loser_ids = None
    if near:
        near_loser_ids = _losers(
            lsh_pairs(survivors, id_col, verify_threshold=near_dup_threshold)
        )
        if embeddings is not None and dedup_mode == "pairwise":
            # the embedding stage reuses near_loser_ids in its alive
            # anti-join; without a checkpoint the whole LSH subplan
            # (the most expensive stage) would execute twice per action
            # (cc mode is shielded by connected_components' own
            # checkpoints). Lazy: materialised at the first action,
            # loser ids only — tiny.
            near_loser_ids = near_loser_ids.localCheckpoint(eager=False)
        verdicts = verdicts.join(near_loser_ids.selectExpr(c_id, "true AS _near_dup"), id_col, "left")

    # --- embedding near-dup: bucketed hyperplane-LSH self-join over
    # the embeddings of docs STILL ALIVE after the text stages (a doc
    # dropped upstream must not act as a pair keeper here — and the
    # semi-join shrinks the LSH self-join input); drop rule per mode.
    if embeddings is not None:
        from astrospectro_spark.functions.similarity import embedding_neardup_pairs

        alive = survivors.select(id_col)
        if near_loser_ids is not None:
            alive = alive.join(near_loser_ids, id_col, "left_anti")
        alive = alive.selectExpr(f"{c_id} AS {quote_ident(embedding_id_col)}")
        epairs = embedding_neardup_pairs(
            embeddings.join(alive, embedding_id_col, "semi"),
            id_col=embedding_id_col,
            vec_col=embedding_vec_col,
            threshold=embedding_threshold,
        )
        verdicts = verdicts.join(_losers(epairs).selectExpr(c_id, "true AS _embed_dup"), id_col, "left")

    keep_near = "keep_exact AND NOT coalesce(_near_dup, false)" if near else "keep_exact"
    keep_embed = (
        "keep_near AND NOT coalesce(_embed_dup, false)" if embeddings is not None else "keep_near"
    )
    keep_lang, keep_quality, keep_tokens = row_filters_sql(
        langs, min_quality, min_tokens, max_tokens
    )

    # --- every verdict in one projection; each is cumulative, so each
    # stage count is a true funnel level
    free_riders = [k for k in per_doc if k != "keep_exact"]
    return verdicts.selectExpr(
        *doc_cols,
        "keep_exact",
        f"{keep_near} AS keep_near",
        f"{keep_embed} AS keep_embed",
        *free_riders,
        f"keep_embed AND ({keep_lang}) AS keep_lang",
        f"keep_lang AND ({keep_quality}) AS keep_quality",
        f"keep_quality AND ({keep_tokens}) AS keep_tokens",
        "keep_tokens AS keep",
    )


def row_filters_sql(
    langs: list[str] | None,
    min_quality: float | None,
    min_tokens: int | None,
    max_tokens: int | None,
) -> tuple[str, str, str]:
    """The language, quality and token predicates of the funnel as SQL
    text over the derived columns (``pred_lang``, ``quality_score``,
    ``n_tokens``); an unset bound is ``true``. Shared by :func:`curate`
    and ``streaming.curate_stream.stream_curate``."""
    from astrospectro_spark.functions.text import quote_str

    keep_lang = f"pred_lang IN ({', '.join(map(quote_str, langs))})" if langs else "true"
    keep_quality = (
        f"quality_score >= {float(min_quality)!r}D" if min_quality is not None else "true"
    )
    token_bounds = []
    if min_tokens is not None:
        token_bounds.append(f"n_tokens >= {int(min_tokens)}")
    if max_tokens is not None:
        token_bounds.append(f"n_tokens <= {int(max_tokens)}")
    return keep_lang, keep_quality, " AND ".join(token_bounds) or "true"


FUNNEL_STAGES = [
    "keep_exact", "keep_near", "keep_embed",
    "keep_lang", "keep_quality", "keep_tokens", "keep",
]


def run(spark, args) -> dict:
    """Execute: ONE write action carries both the curated table and the
    funnel census (observe/CollectMetrics — no second pass)."""
    import os

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    docs = spark.read.parquet(args.input)
    flagged = curate(
        docs,
        id_col=args.id_col,
        text_col=args.text_col,
        near_dup_threshold=None if args.no_near_dup else args.near_dup_threshold,
        embeddings=(
            spark.read.parquet(args.embeddings) if args.embeddings else None
        ),
        embedding_id_col=args.embedding_id_col,
        embedding_vec_col=args.embedding_vec_col,
        embedding_threshold=args.embedding_threshold,
        langs=args.langs.split(",") if args.langs else None,
        min_quality=args.min_quality,
        min_tokens=args.min_tokens,
        max_tokens=args.max_tokens,
        max_shingle_tokens=(args.max_shingle_tokens or None),
        dedup_mode=args.dedup_mode,
    )
    obs = Observation("curate_funnel")
    metrics = [F.count(F.lit(1)).alias("n_input")] + [
        F.sum(F.col(c).cast("long")).alias(c) for c in FUNNEL_STAGES
    ]
    out_path = os.path.join(args.output, "curated")
    kept = flagged.observe(obs, *metrics).filter("keep").drop(*FUNNEL_STAGES)
    if args.atomic:
        # snapshot-log publish: the parquet write happens inside
        # commit(); the observation is populated by that same action
        from astrospectro_spark.sources.snapshot_log import commit

        snapshot_id = commit(out_path, kept, "overwrite")
    else:
        kept.write.mode("overwrite").parquet(out_path)
        snapshot_id = None
    # sums over a zero-row input observe as None — report them as 0
    report = {k: int(v) if v is not None else 0 for k, v in obs.get.items()}
    report["n_kept"] = report.pop("keep")
    if snapshot_id is not None:
        report["snapshot_id"] = snapshot_id
    report_path = os.path.join(args.output, "report.json")
    with open(report_path, "w") as f:
        json.dump(report, f, indent=2, sort_keys=True)
    return report


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    from astrospectro_spark.session import get_spark

    spark = get_spark(app_name="curate_job", master=args.master or "local[*]")
    report = run(spark, args)
    print(json.dumps(report, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
