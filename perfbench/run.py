"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload as a closed loop (one client, operations back to back)
on ``local[nproc]`` from the root of a source checkout, and prints one
JSON object as the last line of standard output. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics.
All inputs, Spark scratch space and outputs stay under ``.perfbench_work``
in the checkout. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "4g"
WARMUP_OPS = 1
MAX_OPS = 20


def process_start() -> float:
    """Wall-clock time this process was started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def pin_environment() -> dict:
    """Cores, heap and scratch dirs for the session, exported through the
    engine's own ``SPARK_GRAFT_*`` knobs; returned for the report."""
    ncpu = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_GRAFT_MASTER": f"local[{ncpu}]",
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(ncpu),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIR": local,
        "TMPDIR": tmp,
        # keep the JVMs' perf-data and temp files inside the checkout
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(env)
    return env


def start_session(extra_conf: dict | None = None):
    from astrospectro_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    conf.update(extra_conf or {})
    return get_spark(app_name="perfbench", extra_conf=conf)


class Runner:
    """Runs and checks one workload's operations; counts attempts,
    failures and the untimed check time."""

    def __init__(self, wl, tracer, rss):
        self.wl, self.tr, self.rss = wl, tracer, rss
        self.attempted = 0
        self.check_s = 0.0
        self.failures: list[dict] = []

    def fail(self, i: int, errs: list[str]) -> None:
        self.failures.append({"op": i, "errors": errs})
        print(f"op {i} failed: {errs}", file=sys.stderr)

    def op(self, i: int) -> dict | None:
        """One operation plus its untimed check; a raise or a failed
        check counts as a failure."""
        self.attempted += 1
        try:
            with self.rss.active() if self.rss else contextlib.nullcontext():
                res = self.wl.op(i, self.tr)
            print(f"op {i}: {res['wall_s']:.3f} s", file=sys.stderr)
            t = time.time()
            try:
                errs = self.wl.check(res)
            finally:
                self.check_s += time.time() - t
        except Exception as e:  # noqa: BLE001 — counted as a failed op and reported
            errs, res = [f"{type(e).__name__}: {e}"], None
        if errs:
            self.fail(i, errs)
            return None
        return res

    def measure(self, seconds: float, first: int) -> list[dict]:
        """Operations back to back until ``seconds`` of op time is spent;
        a failed op's time counts too, so a broken program stops early."""
        done, spent = [], 0.0
        for i in range(first, first + MAX_OPS):
            if spent >= seconds:
                break
            t, checks = time.perf_counter(), self.check_s
            res = self.op(i)
            spent += time.perf_counter() - t - (self.check_s - checks)
            if res is not None:
                done.append(res)
        return done

    def traced(self, first: int) -> dict:
        """Restart the session in the same (warm) JVM with the event log
        on, run one traced operation and the per-layer calls, then
        attribute the event log to the spans."""
        from pyspark.sql import SparkSession

        from perfbench import trace

        SparkSession.getActiveSession().stop()
        log_dir = os.path.join(WORK, "eventlog")
        spark = start_session(trace.eventlog_conf(log_dir))
        self.tr.spark, self.tr.enabled = spark, True
        self.wl.register(spark)
        res = self.op(first)
        out = {"trace.wall_s": res["wall_s"] if res else 0.0}
        try:
            self.wl.probe_layers(self.tr, out)
        except Exception as e:  # noqa: BLE001 — counted as a failed op and reported
            self.fail(first, [f"per-layer calls: {type(e).__name__}: {e}"])
        spark.stop()
        self.tr.dump(os.path.join(WORK, "spans.json"))
        if res is not None:
            out.update(self.wl.layer_metrics(self.tr, trace.parse_eventlog(log_dir), res))
        return out


def shutdown(timeout: float = 60.0) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait
    until no process this one started is left."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from perfbench.trace import descendants_rss_mb

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is not None and gw.proc is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout)
    deadline = time.time() + timeout
    while descendants_rss_mb() > 0 and time.time() < deadline:
        time.sleep(0.2)


def main(argv: list[str] | None = None) -> int:
    t_proc = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "astrospectro_spark", "__init__.py")):
        print(f"no astrospectro_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    env = pin_environment()

    from perfbench import trace
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "eventlog"), ignore_errors=True)

    t_gen = time.time()
    wl = WORKLOADS[args.workload](WORK, args.seed)
    gen_s = time.time() - t_gen

    # peak_rss_mb is a per-layer metric: sample only in the traced run
    rss = trace.RssSampler() if args.trace else None
    run = Runner(wl, trace.Tracer(), rss)
    try:
        t0 = time.time()
        spark = start_session()
        t1 = time.time()
        wl.register(spark)
        t2 = time.time()
        for i in range(WARMUP_OPS):
            run.op(i)
        t3 = time.time() - run.check_s  # the warm-up's output check is untimed
        cpu0, gc0 = trace.cpu_times(), trace.jvm_gc_s(spark)
        done = run.measure(args.seconds, WARMUP_OPS)
        steal, gc_s = trace.steal_frac(cpu0, trace.cpu_times()), trace.jvm_gc_s(spark) - gc0
        layers = run.traced(WARMUP_OPS + MAX_OPS) if args.trace else {}
    finally:
        if rss:
            rss.close()
        shutdown()

    print(json.dumps({
        "env": env,
        "gen_s": gen_s,
        "ops": [r["wall_s"] for r in done],
        "host.steal_frac": steal,
        "failures": run.failures,
    }), file=sys.stderr)
    if not done:
        return 1
    wall = statistics.median(r["wall_s"] for r in done)
    if args.trace:
        layers.update({
            "session.start_s": t1 - t0,
            "session.first_scan_s": t2 - t1,
            "session.warmup_s": t3 - t2,
            "jvm.gc_s": gc_s,
            "host.steal_frac": steal,
            "peak_rss_mb": rss.peak,
            "trace.untraced_wall_s": wall,
            "trace.overhead_s": layers["trace.wall_s"] - wall,
        })
        # a layer the workload never calls reports 0
        metrics = {m["name"]: layers.get(m["name"], 0) for m in spec["per_layer"]}
    else:
        metrics = {
            "wall_s": wall,
            "rows_per_s": wl.rows / wall,
            # warm-up excluded: its JIT-bound cold op swings with host
            # CPU steal by a third between runs (session.warmup_s has it)
            "setup_s": t2 - t_proc - gen_s,
            "resume_s": statistics.median(r["resume_s"] for r in done),
            "ok_frac": 1.0 - len(run.failures) / run.attempted,
        }
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
