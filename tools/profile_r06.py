"""Per-query stage-level profiler for the round-6 optimization pass.

Runs ONE bench query (argv[1]) with the Spark UI enabled, forces it
through the noop sink (guide §1.4), then dumps per-stage task time /
shuffle bytes / record counts from the status REST API — so wall time
can be attributed to scan / exchange / window passes instead of
guessed. Not part of the frozen bench methodology (bench.py untouched).

Usage: python tools/profile_r06.py featurize_wide [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")


def main() -> None:
    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    from astrospectro_spark.engine.asof import asof_join
    from astrospectro_spark.engine.skew import featurize_salted
    from astrospectro_spark.engine.windows import featurize_expr
    from astrospectro_spark.jobs.curate_job import FUNNEL_STAGES, curate
    from astrospectro_spark.queries import (
        q_broadcast_enrich,
        q_feature_vector_wide,
        q_pricing_summary,
        q_session_stats,
    )
    from astrospectro_spark.session import get_spark

    spark = get_spark(
        app_name=f"profile_{name}",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4049"},
    )

    sf = os.path.basename(SF_DIR.rstrip("/"))
    syn = f"/tmp/astrospectro_synth/{sf}"
    turns = spark.read.parquet(os.path.join(syn, "transcripts.parquet"))
    anchors = spark.read.parquet(os.path.join(syn, "anchors.parquet"))
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(int(CPUS))

    def _force(df):
        df.write.format("noop").mode("overwrite").save()

    def _salted():
        _force(featurize_salted(turns, hot_threshold=100_000, chunk_target_rows=50_000))

    plan = {
        "featurize_transcripts": lambda: _force(featurize_expr(turns)),
        "featurize_feature_only": lambda: _force(
            featurize_expr(turns, include_text=False, enum_shuffle=True)
        ),
        "featurize_wide": lambda: _force(
            featurize_expr(turns, include_text=False, wide=True)
        ),
        "featurize_salted": _salted,
        "feature_vector_wide": lambda: _force(q_feature_vector_wide(spark, SF_DIR)),
        "asof_anchors": lambda: _force(
            asof_join(turns, anchors, tolerance_col="tolerance_s")
        ),
        "session_stats": lambda: _force(q_session_stats(spark, SF_DIR)),
        "pricing_summary": lambda: _force(q_pricing_summary(spark, SF_DIR)),
        "broadcast_enrich": lambda: _force(q_broadcast_enrich(spark, SF_DIR)),
        "curate_documents": lambda: _force(
            curate(docs, min_quality=0.3, min_tokens=2).filter("keep").drop(*FUNNEL_STAGES)
        ),
    }
    thunk = plan[name]

    # warmup
    spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    _force(featurize_expr(turns.limit(1000)))

    walls = []
    for i in range(reps):
        spark.sparkContext.setJobDescription(f"{name} rep{i}")
        t0 = time.perf_counter()
        thunk()
        walls.append(time.perf_counter() - t0)
    print(f"WALLS {name}: {[round(w, 3) for w in walls]}")

    app_id = spark.sparkContext.applicationId
    base = f"http://localhost:4049/api/v1/applications/{app_id}"
    stages = json.load(urllib.request.urlopen(f"{base}/stages?status=complete"))
    rows = []
    for s in stages:
        rows.append(
            {
                "stage": s["stageId"],
                "attempt": s["attemptId"],
                "name": s["name"].split("\n")[0][:70],
                "tasks": s["numCompleteTasks"],
                "executorRunTime_s": round(s["executorRunTime"] / 1000, 2),
                "executorCpuTime_s": round(s["executorCpuTime"] / 1e9, 2),
                "in_rec": s["inputRecords"],
                "sh_read_mb": round(s["shuffleReadBytes"] / 1e6, 1),
                "sh_write_mb": round(s["shuffleWriteBytes"] / 1e6, 1),
                "submit": s.get("submissionTime", ""),
                "dur_s": round(
                    (s["executorRunTime"] / 1000) / max(1, s["numCompleteTasks"]), 3
                ),
            }
        )
    rows.sort(key=lambda r: -r["executorRunTime_s"])
    print(f"{'stage':>5} {'tasks':>5} {'run_s':>8} {'cpu_s':>8} {'shR_mb':>7} {'shW_mb':>7}  name")
    for r in rows[:25]:
        print(
            f"{r['stage']:>5} {r['tasks']:>5} {r['executorRunTime_s']:>8} "
            f"{r['executorCpuTime_s']:>8} {r['sh_read_mb']:>7} {r['sh_write_mb']:>7}  {r['name']}"
        )


if __name__ == "__main__":
    main()
