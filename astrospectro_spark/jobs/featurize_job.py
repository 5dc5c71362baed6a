"""The production entrypoint: resumable transcript featurization.

Ships as ``spark-submit --py-files astrospectro_spark.zip -m`` style
(north_rule packaging):

    spark-submit --py-files astrospectro_spark.zip \\
        featurize_job.py --input /data/transcripts.parquet \\
        --output /data/features --buckets 64 \\
        [--anchors /data/anchors.parquet] [--resume] \\
        [--hot-threshold 2000000] [--chunk-rows 500000]

On a cluster nothing changes except ``--master``: the engine is pure
DataFrame API, the lineage table gives kill-resume, the skew engine
handles mega-conversations, and AQE does runtime re-planning.
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="astrospectro_spark featurize job")
    p.add_argument("--input", required=True, help="transcripts parquet path")
    p.add_argument("--output", required=True, help="output directory (features + lineage)")
    p.add_argument("--anchors", help="optional anchors parquet for the as-of join")
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--run-id", default="run-0")
    p.add_argument("--hot-threshold", type=int, default=2_000_000)
    p.add_argument("--chunk-rows", type=int, default=500_000)
    p.add_argument("--master", default=None)
    p.add_argument("--gap-s", type=float, default=1800.0)
    p.add_argument(
        "--resume",
        action="store_true",
        help="resume from committed lineage (the default behaviour; "
        "flag accepted for explicitness)",
    )
    p.add_argument(
        "--include-text",
        action="store_true",
        help="carry raw text into the feature table (default: project "
        "text to text_len below the exchange; join text back from the "
        "source by (conv_id, turn_idx) when needed)",
    )
    p.add_argument(
        "--enum-shuffle",
        action="store_true",
        help="carry role/tool through the exchanges as 64-bit codes "
        "(string-free shuffle rows). The feature table then stores the "
        "codes (BIGINT role/tool/tool_backfill/prev_role) and the tiny "
        "code->string dims are written to <output>/enum_dims for "
        "read-time decode (windows.enum_decode) — features only need "
        "equality, so the hot path never pays the decode joins. "
        "Applies to the narrow AND --wide feature-table contracts; "
        "ignored, with a warning, when --include-text is set",
    )
    p.add_argument(
        "--wide",
        action="store_true",
        help="emit the full 175-column locked wide tier (rolling "
        "std/range frames, gap rolls, running zscore/std, per-session "
        "max/min/std/AUC, wing integrals, proxy composites) in "
        "addition to the 12 base features",
    )
    return p


def write_enum_dim(turns, col: str, path: str) -> None:
    """Write the code->string dim of one enum-coded column, one row per
    code. The write fails loudly when two values share a code: the
    features compared codes for equality, so such values were merged.
    The check is an expression over the dim's rows as they are written,
    so it costs no extra pass."""
    from pyspark.sql import functions as F

    value, other = F.col("value"), F.col("_max")
    collision = F.raise_error(
        F.concat(
            F.lit(f"enum code collision in {col!r}: "), value, F.lit(" and "), other,
            F.lit(" share a code; rerun without --enum-shuffle"),
        )
    )
    (
        turns.where(F.col(col).isNotNull())
        .groupBy(F.xxhash64(col).alias("code"))
        .agg(F.min(col).alias("value"), F.max(col).alias("_max"))
        .select("code", F.when(value == other, value).otherwise(collision).alias("value"))
        .write.mode("overwrite")
        .parquet(path)
    )


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from astrospectro_spark.engine.asof import asof_join
    from astrospectro_spark.engine.lineage import FeatureRun
    from astrospectro_spark.engine.skew import featurize_salted
    from astrospectro_spark.session import get_spark

    spark = get_spark(app_name="featurize_job", master=args.master)
    turns = spark.read.parquet(args.input)

    enum_shuffle = bool(getattr(args, "enum_shuffle", False))
    if enum_shuffle and args.include_text:
        print("warning: --enum-shuffle applies to the feature-table "
              "contract (no --include-text); ignoring it", file=sys.stderr)
        enum_shuffle = False

    def featurizer(df):
        return featurize_salted(
            df,
            gap_s=args.gap_s,
            hot_threshold=args.hot_threshold,
            chunk_target_rows=args.chunk_rows,
            include_text=args.include_text,
            wide=args.wide,
            enum_shuffle=enum_shuffle,
        )

    run = FeatureRun(
        spark,
        args.output,
        n_buckets=args.buckets,
        featurizer=featurizer,
        run_id=args.run_id,
    )
    stats = run.run(turns)
    print(f"featurize: {stats}")

    if enum_shuffle:
        # read-time decode contract: one tiny code->string dim per
        # enum-coded source column, written next to the feature table.
        # A reader joins these (broadcast) to recover strings; the hot
        # path above never pays the decode.
        for col in ("role", "tool"):
            write_enum_dim(turns, col, f"{args.output}/enum_dims/{col}")

    if args.anchors:
        anchors = spark.read.parquet(args.anchors)
        tol = "tolerance_s" if "tolerance_s" in anchors.columns else None
        asof_path = f"{args.output}/asof"
        asof_join(turns, anchors, tolerance_col=tol).write.mode("overwrite").parquet(asof_path)
        # count the written files (parquet footers), not the join again
        print(f"asof: {spark.read.parquet(asof_path).count()} rows")
    return 0


if __name__ == "__main__":
    sys.exit(main())
