"""Two-cluster-size scaling evidence (north_rule: throughput scaling
efficiency >= 0.8 between N and 4N executors).

No real cluster exists in this sandbox, so per BASELINE.md the evidence
is the identical job at two local parallelism levels on the same input:
``local[$SCALE_N]`` vs ``local[4*$SCALE_N]`` (default N=2; the recorded
primary pair is N=1 vs 4). Each level runs in a FRESH JVM (subprocess)
so thread pools, codegen caches and shuffle state can't leak between
measurements; levels alternate and the min over reps is kept per level
(the host shows multi-minute CPU-steal episodes).
Efficiency = (throughput_4N / throughput_N) / 4.

The measured job is the flagship end-to-end feature pipeline
(salted featurize with include_text=False + as-of join) at sf3
(18M turns, mega-conversation = 5.4M turns — the skew engine's regime).
Writes BENCH/BASELINE.md (the curated narrative there merges reps across
runs; this tool's output is the raw per-run table).

Usage: SCALE_N=1 SCALE_REPS=3 python tools/bench_scaling.py sf3
``SCALE_OUT`` overrides the output file (default BENCH/BASELINE.md —
set it when the run is a supplementary measurement to merge into the
curated narrative by hand instead of overwriting it).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

JOB = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")
from astrospectro_spark.session import get_spark
from astrospectro_spark.engine.skew import featurize_salted
from astrospectro_spark.engine.asof import asof_join

cpus = int(sys.argv[1]); syn = sys.argv[2]
# identical confs at both levels except thread count: same shuffle
# partitioning (task granularity), same heap — only parallelism varies.
conf = {{"spark.driver.memory": "48g",
         "spark.sql.files.maxPartitionBytes": "32m",
         "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m"}}
if os.environ.get("SCALE_PIN") == "1":
    # pinned-container analogy: the JVM must SEE only the pinned cores,
    # or it sizes GC/aux thread pools for the whole 32-core host and
    # oversubscribes the cpuset (measured: local[8] 2.3x slower pinned
    # without this)
    conf["spark.driver.extraJavaOptions"] = f"-XX:ActiveProcessorCount={{cpus}}"
spark = get_spark(app_name=f"scale{{cpus}}", master=f"local[{{cpus}}]",
                  shuffle_partitions=128,
                  extra_conf=conf)
turns = spark.read.parquet(os.path.join(syn, "transcripts.parquet"))
anchors = spark.read.parquet(os.path.join(syn, "anchors.parquet"))
n = turns.count()

def force(df):
    df.write.format("noop").mode("overwrite").save()

force(featurize_salted(turns.limit(2000)))  # warmup workers/codegen

def run_featurize():
    # production featurize contract: feature table keyed by
    # (conv_id, turn_idx), text projected to text_len BELOW the
    # exchange — the shuffle carries ints, not the corpus
    force(featurize_salted(turns, hot_threshold=400_000,
                           chunk_target_rows=200_000, include_text=False,
                           enum_shuffle=True))

res = {{}}
for name, thunk in [
    ("featurize", run_featurize),
    ("asof", lambda: force(asof_join(turns, anchors, tolerance_col="tolerance_s"))),
]:
    t0 = time.perf_counter(); thunk()
    res[name] = time.perf_counter() - t0
print("RESULT " + json.dumps({{"cpus": cpus, "n_turns": n, "secs": res}}))
"""


def run_level(cpus: int, syn: str) -> dict:
    script = JOB.format(repo=REPO)
    cmd = [sys.executable, "-c", script, str(cpus), syn]
    if os.environ.get("SCALE_PIN") == "1":
        # pin the whole JVM+python tree to exactly `cpus` physical CPUs:
        # isolates the scheduler-migration term and makes the core set
        # deterministic, so a low efficiency can't be blamed on the
        # scheduler spreading N threads across >N cores.
        # SCALE_PIN_BASE shifts the core set (e.g. 24 → cores 24-31) to
        # probe whether host steal concentrates on specific core IDs.
        base = int(os.environ.get("SCALE_PIN_BASE", "0"))
        cmd = ["taskset", "-c", f"{base}-{base + cpus - 1}"] + cmd
    out = subprocess.run(
        cmd,
        capture_output=True,
        text=True,
        timeout=3600,
        check=False,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT from cpus={cpus}:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")


def run_level_repeated(cpus: int, syn: str, reps: int) -> dict:
    """Best-of-reps across FRESH JVMs — the sandbox host shows
    intermittent CPU steal (identical runs varying 0.75s..23s), so a
    single measurement per level is meaningless. min() is the standard
    noise-robust estimator for throughput capability."""
    best: dict | None = None
    for _ in range(reps):
        r = run_level(cpus, syn)
        if best is None:
            best = r
        else:
            for k, v in r["secs"].items():
                best["secs"][k] = min(best["secs"][k], v)
    return best


def main():
    scale = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("-") else "sf1"
    sys.path.insert(0, REPO)
    import astrospectro_spark.synth as synth

    syn = f"/tmp/astrospectro_synth/{scale}"
    if not os.path.exists(os.path.join(syn, "transcripts.parquet")):
        print(f"generating {scale} synth ...", flush=True)
        synth.write_scale(syn, scale)

    reps = int(os.environ.get("SCALE_REPS", "5"))
    n_lo = int(os.environ.get("SCALE_N", "2"))
    n_hi = 4 * n_lo
    # alternate levels so a noise episode hits both sides equally
    lo = hi = None
    for i in range(reps):
        l1 = run_level(n_lo, syn)
        h1 = run_level(n_hi, syn)
        print(f"rep {i}: local[{n_lo}]={l1['secs']} local[{n_hi}]={h1['secs']}", flush=True)
        if lo is None:
            lo, hi = l1, h1
        else:
            for k in l1["secs"]:
                lo["secs"][k] = min(lo["secs"][k], l1["secs"][k])
                hi["secs"][k] = min(hi["secs"][k], h1["secs"][k])
    print(f"local[{n_lo}]:", lo, flush=True)
    print(f"local[{n_hi}]:", hi, flush=True)

    n = hi["n_turns"]
    lines = [
        "# BENCH — scaling-efficiency evidence (N vs 4N)",
        "",
        "North_rule gate: >= 0.8 throughput scaling efficiency between N and 4N",
        "executors. Sandbox evidence per BASELINE.md: identical job, same input",
        f"({scale}: {n:,} turns, mega-conversation = 30% of rows), fresh JVM per",
        "level, `local[N]` vs `local[4N]`, min over alternating fresh-JVM reps\n(the host shows multi-minute CPU-steal episodes; min estimates quiet-period\ncapability and alternation exposes both levels to the same conditions).",
        "",
        f"| job | local[{n_lo}] s | local[{n_hi}] s | thr_N (turns/s) | thr_4N (turns/s) | efficiency (thr_4N/thr_N)/4 |",
        "|---|---|---|---|---|---|",
    ]
    worst = 1.0
    for name in lo["secs"]:
        t8, t32 = lo["secs"][name], hi["secs"][name]
        thr8, thr32 = n / t8, n / t32
        eff = (thr32 / thr8) / 4
        worst = min(worst, eff)
        lines.append(
            f"| {name} | {t8:.2f} | {t32:.2f} | {thr8:,.0f} | {thr32:,.0f} | {eff:.3f} |"
        )
    lines += [
        "",
        f"Worst-case efficiency: **{worst:.3f}** (gate: >= 0.8).",
        "",
        "Featurize job = salted range partitioning (`featurize_salted`,",
        "hot_threshold=400k) — the 1.8M-turn mega-conversation runs as ~9",
        "parallel chunks instead of one task; as-of job = single-shuffle",
        "sorted-merge (`asof_join`, unsalted).",
        "",
    ]
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    out_path = os.path.join(REPO, "BENCH", os.environ.get("SCALE_OUT", "BASELINE.md"))
    with open(out_path, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out_path}; worst efficiency {worst:.3f}")


if __name__ == "__main__":
    main()
