"""The production entrypoint: resumable transcript featurization.

Ships as ``spark-submit --py-files astrospectro_spark.zip -m`` style
(north_rule packaging):

    spark-submit --py-files astrospectro_spark.zip \\
        featurize_job.py --input /data/transcripts.parquet \\
        --output /data/features --buckets 64 \\
        [--anchors /data/anchors.parquet] \\
        [--hot-threshold 2000000] [--chunk-rows 500000]

On a cluster nothing changes except ``--master``: the engine is pure
DataFrame API, the lineage table gives kill-resume, the skew engine
handles mega-conversations, and AQE does runtime re-planning.

Every output is written in one pass, and what the run reports is
observed on those writes: ``<output>/report.json`` holds each bucket
committed by this invocation (``rows_in``/``checksum_in``/``rows_out``/
``checksum_out``, as in its lineage record, and ``wall_s``), the bucket
counts, the size of each enum dim and the as-of ``rows``, ``matched``
and ``match_frac``.

The outputs are independent, so they are written at the same time:

1. ``FeatureRun.stage`` runs first, alone: the ledger check, staging
   (or, on a resume, the input-row guard) and the input checksums. A
   resume with a different input fails here, before ``asof/`` or
   ``enum_dims/`` is rewritten.
2. The bucket loop (``FeatureRun.run``, one bucket after another) runs
   in the calling thread while ``enum_dims/`` (``--enum-shuffle``) and
   ``asof/`` (``--anchors``) are each written by a worker thread. Most
   of the loop's jobs run one or two tasks, so the side outputs' jobs
   use cores that would sit idle. The workers inherit the caller's
   Spark job description and job group: their jobs are attributed and
   cancelled with the job's own.
3. Every branch is joined before ``report.json`` is written. If one
   failed, its error is raised (the bucket loop's first) and no report
   is written. The lineage keeps every bucket the loop committed, and a
   rerun resumes from it and rewrites the side outputs.
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
        help="emit the 163-column locked wide tier (rolling "
        "std/range frames, gap rolls, running zscore/std, per-session "
        "max/min/std/AUC, wing integrals, proxy composites) in "
        "addition to the 12 base features: 175 feature columns in all",
    )
    return p


def write_enum_dims(turns, cols, out_dir: str) -> dict[str, int]:
    """Write the code->string dim of each enum-coded column in ``cols``
    to ``<out_dir>/<col>``, one row per code, and return each dim's
    size. One scan and one aggregation of ``turns`` feed every dim: the
    rows are written once, partitioned by column, under a hidden
    ``_writing`` directory whose partitions are then moved into place.

    The write fails loudly when two values share a code: the features
    compared codes for equality, so such values were merged. The check
    is an expression over the dims' rows as they are written, so it
    costs no extra pass, and a failed write publishes no dim."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from astrospectro_spark.engine.lineage import write_observed

    dim, value, other = F.col("_dim"), F.col("value"), F.col("_max")
    collision = F.raise_error(
        F.concat(
            F.lit("enum code collision in '"), dim, F.lit("': "), value, F.lit(" and "),
            other, F.lit(" share a code; rerun without --enum-shuffle"),
        )
    )
    stacked = F.array(*[F.struct(F.lit(c).alias("_dim"), F.col(c).alias("value")) for c in cols])
    dims = (
        turns.select(F.inline(stacked))
        .where(value.isNotNull())
        .groupBy(dim, F.xxhash64("value").alias("code"))
        .agg(F.min(value).alias("value"), F.max(value).alias("_max"))
        .select(dim, "code", F.when(value == other, value).otherwise(collision).alias("value"))
    )
    tmp = os.path.join(out_dir, "_writing")
    try:
        sizes = write_observed(
            dims, tmp, *[F.count_if(dim == c).alias(c) for c in cols], partition_by="_dim"
        )
        for c in cols:
            path = os.path.join(out_dir, c)
            shutil.rmtree(path, ignore_errors=True)
            if sizes[c]:
                os.rename(os.path.join(tmp, f"_dim={c}"), path)
                open(os.path.join(path, "_SUCCESS"), "w").close()
            else:  # an all-NULL column has no partition: write an empty dim
                empty = dims.sparkSession.createDataFrame([], dims.drop("_dim").schema)
                empty.write.parquet(path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return {c: int(sizes[c]) for c in cols}


def write_asof(turns, anchors, path: str) -> dict:
    """Write the as-of join of ``turns`` onto ``anchors`` to ``path``
    and return its ``rows``, ``matched`` and ``match_frac``, observed by
    the write, not read back."""
    from pyspark.sql import functions as F

    from astrospectro_spark.engine.asof import asof_join
    from astrospectro_spark.engine.lineage import write_observed

    tol = "tolerance_s" if "tolerance_s" in anchors.columns else None
    got = write_observed(
        asof_join(turns, anchors, tolerance_col=tol),
        path,
        F.count(F.lit(1)).alias("rows"),
        F.count("asof_turn_idx").alias("matched"),
    )
    rows, matched = int(got["rows"]), int(got["matched"])
    return {"rows": rows, "matched": matched, "match_frac": matched / rows if rows else None}


def run_alongside(spark, main_branch, side_branches: dict):
    """Run ``main_branch()`` in this thread while each of
    ``side_branches`` (name -> callable) runs in a worker thread of its
    own, and return ``(main result, {name: side result})``.

    The workers inherit this thread's Spark local properties (job
    description, job group), so their jobs are attributed and cancelled
    with the caller's. Every branch is joined before this returns or
    raises; then the first error is re-raised: the main branch's, else
    the side branches' in order."""
    import threading

    from pyspark.util import inheritable_thread_target

    results, errors = {}, {}

    def worker(name, fn):
        def target():
            try:
                results[name] = fn()
            except BaseException as e:  # noqa: BLE001 — re-raised by the caller
                errors[name] = e

        # wrapped here, in the caller's thread: the properties are copied now
        return threading.Thread(
            target=inheritable_thread_target(spark)(target), name=f"featurize_job.{name}"
        )

    threads = [worker(name, fn) for name, fn in side_branches.items()]
    started = []
    try:
        for t in threads:
            t.start()
            started.append(t)
        out = main_branch()
    finally:
        for t in started:
            t.join()
    for name in side_branches:
        if name in errors:
            raise errors[name]
    return out, results


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    import json
    import os

    from astrospectro_spark.engine.lineage import FeatureRun
    from astrospectro_spark.engine.skew import featurize_salted
    from astrospectro_spark.session import get_spark

    spark = get_spark(app_name="featurize_job", master=args.master)
    turns = spark.read.parquet(args.input)

    enum_shuffle = args.enum_shuffle
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
    # the ledger check and the input guard come first: a resume with a
    # different input fails here, before any output is rewritten
    run.stage(turns)

    side = {}
    if enum_shuffle:
        # read-time decode contract: one tiny code->string dim per
        # enum-coded source column, written next to the feature table.
        # A reader joins these (broadcast) to recover strings; the hot
        # path never pays the decode.
        side["enum_dims"] = lambda: write_enum_dims(
            turns, ("role", "tool"), f"{args.output}/enum_dims"
        )
    if args.anchors:
        side["asof"] = lambda: write_asof(
            turns, spark.read.parquet(args.anchors), f"{args.output}/asof"
        )
    # the side outputs read the input, not the features: they are
    # written while the bucket loop runs
    stats, outputs = run_alongside(spark, lambda: run.run(turns), side)
    print(f"featurize: {stats}")
    if "asof" in outputs:
        print(f"asof: {outputs['asof']['rows']} rows")
    report = {**stats, "buckets": run.records, **outputs}
    with open(os.path.join(args.output, "report.json"), "w") as f:
        json.dump(report, f, indent=2, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
