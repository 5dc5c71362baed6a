"""Benchmark harness — prints ONE JSON line with per-query wall times.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``, with as many
shuffle partitions; unset, the session sizes itself to the host
(``session.get_spark``: the cores this process may run on).
The flagship measurement is end-to-end per-turn feature-vector
throughput over the synthetic transcripts table at the matching scale
(BASELINE.md primary metric: turns/sec), forced through a ``noop``
sink so the full plan executes without disk-write noise.

Scaling-efficiency evidence (north_rule N vs 4N executors) is produced
by tools/bench_scaling.py, which runs THIS file at local[8] and
local[32] and writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# benchmark methodology: shuffle to tmpfs so single-host disk I/O
# doesn't masquerade as engine time (opt-in knob of session.get_spark)
if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")


def _synth_dir(sf: str) -> str:
    """Deterministic synth transcripts for this scale, cached in /tmp."""
    import astrospectro_spark.synth as synth

    out = f"/tmp/astrospectro_synth/{sf}"
    marker = os.path.join(out, "transcripts.parquet")
    if not os.path.exists(marker):
        synth.write_scale(out, sf)
    return out


def _force(df) -> int:
    """Execute the full plan; return row count (noop sink + count)."""
    df.write.format("noop").mode("overwrite").save()
    return -1


def main() -> None:
    from pyspark.sql import functions as F

    from astrospectro_spark.engine.asof import asof_join
    from astrospectro_spark.engine.windows import featurize_expr
    from astrospectro_spark.queries import (
        q_broadcast_enrich,
        q_pricing_summary,
        q_session_stats,
    )
    from astrospectro_spark.session import get_spark

    sf = os.path.basename(SF_DIR.rstrip("/"))
    if sf not in ("sf0.001", "sf0.01", "sf0.1"):
        sf = "sf0.1"
    # SPARK_GRAFT_CPUS, when set, sizes the session inside get_spark
    spark = get_spark(app_name="bench")
    cpus = spark.sparkContext.defaultParallelism

    syn = _synth_dir(sf)
    turns = spark.read.parquet(os.path.join(syn, "transcripts.parquet"))
    anchors = spark.read.parquet(os.path.join(syn, "anchors.parquet"))
    n_turns = turns.count()

    # warmup: JVM + Python-worker spin-up out of the measurement
    spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    _force(featurize_expr(turns.limit(1000)))

    from astrospectro_spark.engine.skew import featurize_salted
    from astrospectro_spark.jobs.curate_job import FUNNEL_STAGES, curate
    from astrospectro_spark.queries import q_feature_vector_wide

    # repartition: the sf* documents table is ONE small parquet file →
    # one input split; real tables arrive in thousands of splits. This
    # spreads the shingle/minhash work across cores without changing
    # the measured operator (the exchange is ~1.5 MB).
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(cpus)

    def _curate():
        # the full packaged funnel: exact dedup + MinHash near-dup +
        # lang/quality/token filters (one write-equivalent pass)
        _force(
            curate(docs, min_quality=0.3, min_tokens=2)
            .filter("keep")
            .drop(*FUNNEL_STAGES)
        )

    def _salted():
        _force(featurize_salted(turns, hot_threshold=100_000, chunk_target_rows=50_000))

    plan = [
        ("featurize_transcripts", lambda: _force(featurize_expr(turns))),
        (
            "featurize_feature_only",
            # production feature-table contract: text projected to its
            # length AND role/tool enum-coded below the exchange
            lambda: _force(
                featurize_expr(turns, include_text=False, enum_shuffle=True)
            ),
        ),
        (
            "featurize_wide",
            lambda: _force(featurize_expr(turns, include_text=False, wide=True)),
        ),
        ("featurize_salted", _salted),
        ("feature_vector_wide", lambda: _force(q_feature_vector_wide(spark, SF_DIR))),
        (
            "asof_anchors",
            lambda: _force(asof_join(turns, anchors, tolerance_col="tolerance_s")),
        ),
        ("session_stats", lambda: _force(q_session_stats(spark, SF_DIR))),
        ("pricing_summary", lambda: _force(q_pricing_summary(spark, SF_DIR))),
        ("broadcast_enrich", lambda: _force(q_broadcast_enrich(spark, SF_DIR))),
        ("curate_documents", _curate),
    ]

    # Steal-resistance (this host shows multi-minute CPU-steal episodes,
    # see BENCH/BASELINE.md methodology): run the WHOLE query list, then
    # repeat it REPS times — interleaving means one steal episode hits
    # each query at most once instead of poisoning all reps of one
    # query — and take the per-query min; spread = max/min is reported
    # so a contaminated invocation is self-diagnosing.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    samples: dict[str, list[float]] = {name: [] for name, _ in plan}
    for _ in range(reps):
        for name, thunk in plan:
            t0 = time.perf_counter()
            thunk()
            samples[name].append(time.perf_counter() - t0)

    timings = {name: round(min(s), 4) for name, s in samples.items()}
    spread = {name: round(max(s) / min(s), 2) for name, s in samples.items()}

    total = round(sum(timings.values()), 4)
    turns_per_sec = round(n_turns / timings["featurize_transcripts"], 1)
    print(
        json.dumps(
            {
                "metric": "headline_queries_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "spread_max_over_min": spread,
                "reps": reps,
                "sf": sf,
                "n_turns": n_turns,
                "turns_per_sec_featurize": turns_per_sec,
                "cpus": cpus,
            }
        )
    )


if __name__ == "__main__":
    main()
