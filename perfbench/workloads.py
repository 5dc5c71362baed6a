"""The benchmark's workloads: one timed operation each, its untimed
output check, and the extra calls a traced run makes per layer.

Every call goes through the engine's public functions; the benchmark
touches nothing inside ``astrospectro_spark``.
"""

from __future__ import annotations

import ast
import contextlib
import io
import os
import random
import shutil
import time

import numpy as np

from perfbench import inputs, oracles
from perfbench.trace import SpanCounters, Tracer, count_plan_nodes


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _files(path: str) -> int:
    return sum(
        f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs
    )


class Workload:
    name = ""
    rows = 0

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.spark = None

    def register(self, spark) -> None:
        """Read the inputs and scan them once (part of set-up)."""
        raise NotImplementedError

    def op(self, i: int, tr: Tracer) -> dict:
        """One timed operation; returns at least ``wall_s``."""
        raise NotImplementedError

    def check(self, res: dict) -> list[str]:
        """Untimed output check; returns what is wrong."""
        raise NotImplementedError

    def probe_layers(self, tr: Tracer, out: dict) -> None:
        """Traced run only: calls that expose one layer each."""

    def layer_metrics(self, tr: Tracer, ev: dict[str, SpanCounters], last: dict) -> dict:
        """Per-layer metrics of the one traced op ``last``."""
        raise NotImplementedError

    def _op_dir(self, i: int) -> str:
        d = os.path.join(self.work, "out", self.name, f"op{i}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(os.path.dirname(d), exist_ok=True)
        return d


class FeaturizeJobResume(Workload):
    """Crash-and-resume of the packaged featurize job.

    ``FeatureRun.run(fail_after=FAIL_AFTER)`` with the job's own
    featurizer (narrow tier, ``--enum-shuffle``) is the injected crash;
    ``featurize_job.main`` then resumes the other buckets and writes the
    enum dims and the as-of output. The hot threshold is low enough that
    the mega-conversation (30% of the turns) takes the salted hot path.
    """

    name = "featurize_job_resume"
    SCALE = "sf0.01"
    N_BUCKETS = 2
    FAIL_AFTER = 1
    HOT_THRESHOLD = 10_000
    CHUNK_ROWS = 5_000
    ORACLE_CONVS = 6

    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.paths = inputs.transcripts(os.path.join(work, "inputs"), self.SCALE, seed)
        from astrospectro_spark.synth import SCALES

        self.rows = SCALES[self.SCALE]["total_turns"]
        self._reference = None
        self._asof_matched = None
        self._oracle_done = False

    def _featurizer(self, df):
        from astrospectro_spark.engine.skew import featurize_salted

        return featurize_salted(
            df,
            hot_threshold=self.HOT_THRESHOLD,
            chunk_target_rows=self.CHUNK_ROWS,
            include_text=False,
            enum_shuffle=True,
        )

    def register(self, spark) -> None:
        self.spark = spark
        self.turns = spark.read.parquet(self.paths["transcripts"])
        self.anchors = spark.read.parquet(self.paths["anchors"])
        noop_sink(self.turns)

    def op(self, i: int, tr: Tracer) -> dict:
        from astrospectro_spark.engine.lineage import FeatureRun
        from astrospectro_spark.jobs import featurize_job

        out = self._op_dir(i)
        crashed = ""
        t0 = time.perf_counter()
        with tr.span("lineage.run", op=i):
            try:
                FeatureRun(
                    self.spark, out, n_buckets=self.N_BUCKETS, featurizer=self._featurizer
                ).run(self.turns, fail_after=self.FAIL_AFTER)
            except RuntimeError as e:
                crashed = str(e)
        crash_s = time.perf_counter() - t0
        with tr.span("lineage.committed_buckets", op=i) as s_check:
            committed = FeatureRun(self.spark, out, n_buckets=self.N_BUCKETS).committed_buckets()
        argv = [
            "--input", self.paths["transcripts"],
            "--output", out,
            "--buckets", str(self.N_BUCKETS),
            "--hot-threshold", str(self.HOT_THRESHOLD),
            "--chunk-rows", str(self.CHUNK_ROWS),
            "--enum-shuffle",
            "--anchors", self.paths["anchors"],
        ]
        buf = io.StringIO()
        t1 = time.perf_counter()
        with tr.span("featurize_job.main", op=i), contextlib.redirect_stdout(buf):
            rc = featurize_job.main(argv)
        resume_s = time.perf_counter() - t1
        stats = {}
        for line in buf.getvalue().splitlines():
            if line.startswith("featurize: "):
                stats = ast.literal_eval(line[len("featurize: "):])
        return {
            "wall_s": crash_s + resume_s,
            "resume_s": resume_s,
            "crash": crashed,
            "committed": committed,
            "committed_check_s": s_check.dur,
            "rc": rc,
            "stats": stats,
            "out": out,
        }

    # -- check -----------------------------------------------------------
    def _reference_records(self) -> dict[int, tuple[int, int]]:
        """Per-bucket (n_rows, checksum) an uninterrupted run records,
        from the plain unsalted plan: count and bit_xor(xxhash64(row))
        grouped by the job's hash bucket."""
        if self._reference is None:
            from pyspark.sql import functions as F

            feats = self._plain()
            cols = ", ".join(f"`{c}`" for c in feats.columns)
            rows = (
                feats.groupBy(
                    F.pmod(F.xxhash64("conv_id"), F.lit(self.N_BUCKETS)).cast("int").alias("b")
                )
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.expr(f"bit_xor(xxhash64({cols}))").alias("h"),
                )
                .collect()
            )
            self._reference = {r.b: (int(r.n), int(r.h)) for r in rows}
        return self._reference

    def _plain(self):
        from astrospectro_spark.engine.windows import featurize_expr

        return featurize_expr(self.turns, include_text=False, enum_shuffle=True)

    def _oracle_sample(self, out: str) -> list[str]:
        """Seeded sample of conversations, always with the
        mega-conversation, against the pandas oracle (allclose)."""
        import pandas as pd
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from astrospectro_spark.engine.windows import FEATURE_COLS
        from astrospectro_spark.oracle.pandas_oracle import featurize_pdf

        src = pq.read_table(self.paths["transcripts"]).to_pandas()
        ids = sorted(src["conv_id"].unique())
        pick = ["conv-00000000"] + random.Random(self.seed).sample(ids[1:], self.ORACLE_CONVS - 1)
        got = (
            self.spark.read.parquet(os.path.join(out, "features", "bucket=*"))
            .where(F.col("conv_id").isin(pick))
            .select("conv_id", "turn_idx", *FEATURE_COLS)
            .toPandas()
        )
        want = pd.concat(
            [featurize_pdf(g) for _, g in src[src["conv_id"].isin(pick)].groupby("conv_id")]
        )
        key = ["conv_id", "turn_idx"]
        g = got.sort_values(key).reset_index(drop=True)
        w = want.sort_values(key).reset_index(drop=True)
        errs = []
        if len(g) != len(w) or not (g[key].to_numpy() == w[key].to_numpy()).all():
            return [f"oracle sample: {len(g)} feature rows, oracle has {len(w)}"]
        for c in FEATURE_COLS:
            if w[c].dtype.kind not in "biuf":
                continue  # enum-coded in the job's output; covered by the checksums
            a = g[c].astype("Float64").to_numpy(dtype=float, na_value=np.nan)
            b = w[c].astype("Float64").to_numpy(dtype=float, na_value=np.nan)
            if not np.allclose(a, b, rtol=1e-9, atol=1e-12, equal_nan=True):
                errs.append(f"oracle sample: column {c} differs")
        return errs

    def _oracle_asof_matched(self) -> int:
        if self._asof_matched is None:
            import pyarrow.parquet as pq

            from astrospectro_spark.oracle.pandas_oracle import oracle_asof

            t = pq.read_table(self.paths["transcripts"], columns=["conv_id", "turn_idx", "ts"]).to_pandas()
            a = pq.read_table(self.paths["anchors"]).to_pandas()
            got = oracle_asof(t, a, value_cols=["turn_idx", "ts"], tolerance_col="tolerance_s")
            self._asof_matched = int(got["asof_turn_idx"].notna().sum())
        return self._asof_matched

    def check(self, res: dict) -> list[str]:
        from pyspark.sql import functions as F

        errs = []
        if "injected failure" not in res["crash"]:
            errs.append(f"crash part did not crash as injected: {res['crash']!r}")
        n_committed = len(res["committed"])
        if n_committed != self.FAIL_AFTER:
            errs.append(f"{n_committed} buckets committed before the crash, want {self.FAIL_AFTER}")
        st = res["stats"]
        if res["rc"] != 0 or st.get("buckets_processed") != self.N_BUCKETS - n_committed:
            errs.append(f"resume processed {st}, want {self.N_BUCKETS - n_committed} buckets")
        if st.get("buckets_skipped") != n_committed:
            errs.append(f"resume skipped {st.get('buckets_skipped')} buckets, want {n_committed}")
        want = self._reference_records()
        lin = (
            self.spark.read.parquet(os.path.join(res["out"], "_lineage"))
            .where(F.col("status") == "committed")
            .select("bucket", "n_rows", "checksum")
            .collect()
        )
        got = {r.bucket: (r.n_rows, r.checksum) for r in lin}
        if len(lin) != self.N_BUCKETS or got != {b: want.get(b, (0, 0)) for b in range(self.N_BUCKETS)}:
            errs.append("lineage (n_rows, checksum) records differ from an uninterrupted run")
        asof = self.spark.read.parquet(os.path.join(res["out"], "asof"))
        n, matched = asof.agg(F.count(F.lit(1)), F.count("asof_turn_idx")).collect()[0]
        if n != self.anchors.count() or matched != self._oracle_asof_matched():
            errs.append(f"asof output {n} rows / {matched} matched, oracle {self._oracle_asof_matched()}")
        for col in ("role", "tool"):
            if not os.path.isdir(os.path.join(res["out"], "enum_dims", col)):
                errs.append(f"enum dim {col} missing")
        if not self._oracle_done:
            self._oracle_done = True
            errs += self._oracle_sample(res["out"])
        return errs

    # -- traced run --------------------------------------------------------
    def probe_layers(self, tr: Tracer, out: dict) -> None:
        from pyspark.sql import functions as F

        from astrospectro_spark.engine.asof import asof_join
        from astrospectro_spark.engine.skew import release_cached

        with tr.span("sources.scan") as s:
            noop_sink(self.turns)
        out["sources.scan_s"] = s.dur
        plain = self._plain()
        with tr.span("windows.optimize") as s:
            plan = plain._jdf.queryExecution().executedPlan().toString()
        out["windows.optimize_s"] = s.dur
        out["windows.window_nodes"] = count_plan_nodes(plan, "Window")
        out["windows.sort_nodes"] = count_plan_nodes(plan, "Sort")
        out["windows.exchange_nodes"] = count_plan_nodes(plan, "Exchange")
        with tr.span("windows.exec"):
            noop_sink(plain)
        with tr.span("skew.build") as s:
            salted = self._featurizer(self.turns)
        out["skew.build_s"] = s.dur
        with tr.span("skew.exec") as s:
            noop_sink(salted)
        out["skew.exec_s"] = s.dur
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        out["skew.cached_bytes"] = sum(r.memSize() + r.diskSize() for r in infos)
        release_cached(salted)
        with tr.span("asof.exec") as s:
            n, matched = (
                asof_join(self.turns, self.anchors, tolerance_col="tolerance_s")
                .agg(F.count(F.lit(1)), F.count("asof_turn_idx"))
                .collect()[0]
            )
        out["asof.exec_s"] = s.dur
        out["asof.match_frac"] = matched / n

    def layer_metrics(self, tr: Tracer, ev: dict[str, SpanCounters], last: dict) -> dict:
        empty = SpanCounters()
        run = ev.get("lineage.run", empty)
        main = ev.get("featurize_job.main", empty)
        win = ev.get("windows.exec", empty)
        skew = ev.get("skew.exec", empty)
        done = self.FAIL_AFTER
        return {
            "sources.bytes_read": run.bytes_read + main.bytes_read,
            "sources.bytes_written": run.bytes_written + main.bytes_written,
            "sources.files_written": _files(last["out"]),
            "windows.cpu_s": win.cpu_s,
            "windows.task_max_over_median": win.task_max_over_median(),
            "windows.spill_bytes": win.spill_bytes,
            "skew.jobs": skew.jobs + ev.get("skew.build", empty).jobs,
            "skew.stages": skew.stages,
            "skew.tasks": skew.tasks,
            "skew.row_amplification": skew.shuffle_records_read / self.rows,
            "skew.shuffle_write_bytes": skew.shuffle_write_bytes,
            "lineage.run_s": tr.total("lineage.run"),
            "lineage.jobs_per_bucket": run.jobs / done,
            "lineage.bytes_read_per_bucket": run.bytes_read / done,
            "lineage.committed_check_s": last["committed_check_s"],
            "lineage.buckets_recomputed": last["stats"].get("buckets_processed", 0)
            - (self.N_BUCKETS - len(last["committed"])),
        }


class CurateDedup(Workload):
    """``curate_job.run`` with ``--atomic`` (snapshot-log publish),
    pairwise MinHash near-dup removal, a language allow-list and a token
    floor, over seeded documents with planted duplicates."""

    name = "curate_dedup"
    N_DOCS = 3000
    LANGS = ["en", "fr", "de", "es"]
    MIN_TOKENS = 20  # the documents have 10-100 tokens: drops about 11%
    NEAR_THRESHOLD = 0.5  # curate_job's default --near-dup-threshold

    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.path = inputs.documents(os.path.join(work, "inputs"), self.N_DOCS, seed)["documents"]
        self.rows = self.N_DOCS
        self._oracle = None

    def register(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(self.path)
        noop_sink(self.docs)

    def op(self, i: int, tr: Tracer) -> dict:
        from astrospectro_spark.jobs import curate_job

        out = self._op_dir(i)
        args = curate_job.build_parser().parse_args([
            "--input", self.path,
            "--output", out,
            "--atomic",
            "--near-dup-threshold", str(self.NEAR_THRESHOLD),
            "--langs", ",".join(self.LANGS),
            "--min-tokens", str(self.MIN_TOKENS),
        ])
        t0 = time.perf_counter()
        with tr.span("curate_job.run", op=i):
            report = curate_job.run(self.spark, args)
        wall = time.perf_counter() - t0
        # no progress ledger: recovering from a crash is a full rerun
        return {"wall_s": wall, "resume_s": wall, "report": report, "out": out}

    def check(self, res: dict) -> list[str]:
        import pyarrow.parquet as pq

        from astrospectro_spark.sources.snapshot_log import read_table

        if self._oracle is None:
            self._oracle = oracles.curate(
                pq.read_table(self.path).to_pandas(), self.LANGS, self.MIN_TOKENS, self.NEAR_THRESHOLD
            )
        funnel, kept = self._oracle
        errs = []
        rep = dict(res["report"])
        if rep.pop("snapshot_id", None) != 1:
            errs.append("curated table is not snapshot 1 of a fresh table")
        if rep != funnel:
            errs.append(f"funnel {rep} != oracle {funnel}")
        curated = read_table(self.spark, os.path.join(res["out"], "curated"))
        got = {r.doc_id for r in curated.select("doc_id").collect()}
        if got != kept:
            errs.append(f"kept ids differ from the oracle in {len(got ^ kept)} docs")
        return errs

    def probe_layers(self, tr: Tracer, out: dict) -> None:
        from astrospectro_spark.functions.dedup import (
            exact_dup_groups,
            lsh_params_for_threshold,
            minhash_lsh_candidates,
        )

        with tr.span("sources.scan") as s:
            noop_sink(self.docs)
        out["sources.scan_s"] = s.dur
        keepers = exact_dup_groups(self.docs).where("NOT is_duplicate").select("doc_id")
        survivors = self.docs.join(keepers, "doc_id", "left_semi")
        # curate's band layout; verify threshold 0 only turns the Jaccard
        # filter off, so the first count is curate's candidate set
        lsh = {"bands": lsh_params_for_threshold(self.NEAR_THRESHOLD), "max_tokens": 10_000}
        with tr.span("dedup.candidates"):
            cand = minhash_lsh_candidates(survivors, verify_threshold=0.0, **lsh).count()
        with tr.span("dedup.verify"):
            ver = minhash_lsh_candidates(survivors, verify_threshold=self.NEAR_THRESHOLD, **lsh).count()
        out["dedup.candidate_pairs"] = cand
        out["dedup.verified_pairs"] = ver
        out["dedup.verify_yield"] = ver / max(1, cand)

    def layer_metrics(self, tr: Tracer, ev: dict[str, SpanCounters], last: dict) -> dict:
        c = ev.get("curate_job.run", SpanCounters())
        m = {
            "sources.bytes_read": c.bytes_read,
            "sources.bytes_written": c.bytes_written,
            "sources.files_written": _files(os.path.join(last["out"], "curated")),
            "curate.jobs": c.jobs,
            "curate.stages": c.stages,
            "curate.smj_nodes": c.count_nodes("SortMergeJoin"),
            "curate.bhj_nodes": c.count_nodes("BroadcastHashJoin"),
            "curate.shuffle_write_bytes": c.shuffle_write_bytes,
            "curate.cpu_s": c.cpu_s,
        }
        rep = last["report"]
        for k in ("n_input", "keep_exact", "keep_near", "keep_embed", "keep_lang",
                  "keep_quality", "keep_tokens", "n_kept"):
            m[f"curate.funnel.{k}"] = rep[k]
        return m


WORKLOADS = {w.name: w for w in (FeaturizeJobResume, CurateDedup)}
