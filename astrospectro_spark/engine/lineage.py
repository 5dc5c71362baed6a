"""Per-partition lineage + checkpoint-resume (the incremental engine).

Graft analogue of the reference's ledgers and pending-session
checkpoint: ``trained_spectra.csv`` append-only consumption log
(reference: src/tools/dataset_builder.py:228-268), the resumable
download queue (src/tools/dr5_downloader.py:268-300) and the
pending-session JSON that lets a killed run resume without recompute
(src/pipeline/master.py:669-760).

Design (Iceberg-shaped, parquet-backed here since no Iceberg runtime
jar ships in this sandbox):

- work is split into ``n_buckets`` hash buckets of ``conv_id``
  (``pmod(xxhash64(conv_id), n)``) — at cluster scale each bucket is an
  Iceberg partition and the per-bucket write is an atomic snapshot
  commit;
- the input is scanned exactly ONCE per run: a pre-stage pass writes it
  partitioned by ``_bucket`` (hash buckets are not derivable by the
  scan, so a per-bucket filter on the raw source would re-scan the
  full table once per bucket — 64 full reads of 100 TB); each bucket
  then reads only its own partition directory (partition pruning,
  plan-audited in tests). The stage is reused on resume (its
  ``_fingerprint.json``, moved into place atomically after the write,
  is the commit);
- each bucket commit appends one lineage record
  ``(run_id, bucket, n_rows, checksum, input_rows, input_checksum,
  status)`` to the lineage table *after* its output partition lands —
  crash between the two ⇒ the bucket is simply recomputed (output
  overwrite is idempotent);
- a commit is one pass over its bucket: the output ``(n_rows,
  checksum)`` is an ``Observation`` on the feature write itself, equal
  bit for bit to a read-back of the written files, and nothing is read
  back. The input ``(input_rows, input_checksum)`` of every bucket is
  observed on the stage write (one ``xxhash64`` per row, projected and
  dropped before the files are written; a ``count_if`` and a
  ``bit_xor`` per bucket) and kept in the stage's ``_fingerprint.json``,
  so neither staging nor a resume reads the staged copy back. A
  pre-bucketed input gets one grouped pass over the pending buckets at
  the start of the run;
- the ledger check, staging and the input guard are one step,
  :meth:`FeatureRun.stage`, that :meth:`FeatureRun.run` reuses when it
  was called first: a caller that writes other outputs next to the
  features (``jobs/featurize_job.py``) runs it before any of them, so a
  resume with a different input fails before anything is rewritten;
- resume = anti-join the bucket list against committed lineage records
  (the reference's ``new = available − already_used``,
  src/tools/dataset_builder.py:197-205);
- checksums are order-insensitive ``bit_xor(xxhash64(row))`` so
  re-partitioned recomputes verify equal;
- failures are counted and recorded, never silently dropped (the
  reference silently drops failed spectra —
  src/pipeline/processing.py:218-219,446 — we explicitly do not).
"""

from __future__ import annotations

import json
import os
import time
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from astrospectro_spark.engine.windows import featurize_expr

LINEAGE_SCHEMA = (
    "run_id string, bucket int, status string, n_rows long, checksum long, "
    "input_rows long, input_checksum long"
)


def bucketize(df: DataFrame, n_buckets: int) -> DataFrame:
    """Attach the engine's hash-bucket column.

    Pre-staging contract: a table written
    ``bucketize(df, n).write.partitionBy("_bucket")`` (or an Iceberg
    table with the equivalent bucket transform) read back and passed to
    :meth:`FeatureRun.run` skips the staging copy entirely — the
    per-bucket filter partition-prunes the source directly, so a run
    over an already-bucket-laid-out 100 TB table does ZERO extra
    write+read. ``n_buckets`` must equal the FeatureRun's."""
    bucket = F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")
    return df.withColumn("_bucket", bucket)


def _row_hash(cols: list[str]):
    """``xxhash64`` of each row over the columns ``cols``."""
    return F.expr("xxhash64(" + ", ".join(f"`{c}`" for c in cols) + ")")


def _checksum_aggs(cols: list[str]) -> list:
    """Row count ``n`` and order-insensitive content hash ``h`` of a
    frame with columns ``cols``; an empty frame sums to ``(0, 0)``."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(_row_hash(cols)), F.lit(0)).alias("h"),
    ]


def _checksum(df: DataFrame) -> tuple[int, int]:
    row = df.select(*_checksum_aggs(df.columns)).collect()[0]
    return int(row.n), int(row.h)


def _bucket_checksums(
    staged: DataFrame, buckets: list[int] | None = None
) -> dict[int, tuple[int, int]]:
    """``_checksum`` of every bucket of a ``_bucket``-carrying frame in
    one grouped pass (optionally only ``buckets``). A bucket with no
    rows is absent; its checksum is ``(0, 0)``."""
    if buckets is not None:
        staged = staged.filter(F.col("_bucket").isin(buckets))
    cols = [c for c in staged.columns if c != "_bucket"]
    return {
        r._bucket: (int(r.n), int(r.h))
        for r in staged.groupBy("_bucket").agg(*_checksum_aggs(cols)).collect()
    }


def write_observed(df: DataFrame, path: str, *aggs, partition_by=None) -> dict:
    """Overwrite ``path`` with ``df`` and return the aggregates ``aggs``
    observed over the written rows by the write itself (no extra pass
    and no read-back)."""
    obs = Observation()
    writer = df.observe(obs, *aggs).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)
    return obs.get


class _Staged(NamedTuple):
    """What :meth:`FeatureRun.stage` found, for the next ``run``."""

    turns: DataFrame
    verified: bool
    done: set[int]
    todo: list[int]
    staged: DataFrame | None
    sums: dict[int, tuple[int, int]]


class FeatureRun:
    """A resumable featurization run over a transcripts table."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        n_buckets: int = 16,
        featurizer=featurize_expr,
        run_id: str = "run-0",
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.n_buckets = n_buckets
        self.featurizer = featurizer
        self.run_id = run_id
        self.lineage_dir = os.path.join(out_dir, "_lineage")
        self.data_dir = os.path.join(out_dir, "features")
        self.stage_dir = os.path.join(out_dir, "_staged")
        self.fingerprint_path = os.path.join(self.stage_dir, "_fingerprint.json")
        self.records: list[dict] = []
        self._staged: _Staged | None = None

    # -- lineage table ------------------------------------------------
    def lineage(self) -> DataFrame:
        try:
            return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.lineage_dir)
        except Exception:  # noqa: BLE001 — no lineage yet
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)

    def committed_buckets(self) -> set[int]:
        return set(self._committed())

    def _committed(self) -> dict[int, tuple[int, int]]:
        """Committed bucket → its recorded input ``(rows, checksum)``."""
        # a fresh output dir has no ledger: answer without a Spark job
        # (collecting an empty createDataFrame still runs one)
        if not os.path.exists(self.lineage_dir):
            return {}
        return {
            r.bucket: (r.input_rows, r.input_checksum)
            for r in self.lineage().filter(F.col("status") == "committed").collect()
        }

    def _append_lineage(self, **kw) -> None:
        # literals over a one-row range: one task, one parquet file per
        # record, and no Python rows to ship to a worker
        fields = StructType.fromDDL(LINEAGE_SCHEMA).fields
        self.spark.range(1, numPartitions=1).select(
            *[F.lit(kw[f.name]).cast(f.dataType).alias(f.name) for f in fields]
        ).write.mode("append").parquet(self.lineage_dir)

    # -- staging --------------------------------------------------------
    def _stage(self, turns: DataFrame) -> DataFrame:
        """Write the input ONCE, partitioned by hash bucket; reuse on
        resume. Returns the staged frame, whose per-bucket filter is a
        partition-pruned directory read instead of a full-table scan.

        The staged copy is keyed to this out_dir. Its fingerprint, the
        row count and each non-empty bucket's input ``(rows, checksum)``
        (the lineage's ``input_rows``/``input_checksum``), is observed on
        the stage write itself, so neither staging nor a bucket commit
        reads the input twice. The fingerprint is the stage's commit:
        it lands after the data, through a tmp file and ``os.replace``,
        and a stage without a complete one (a run killed in the write or
        before the fingerprint landed) is written again. Resuming with
        an input whose row count differs FAILS LOUDLY instead of
        silently mixing buckets from two different inputs. A same-count different-content input evades
        this cheap check — pass ``verify_input=True`` to :meth:`run`
        for a full per-bucket checksum audit against the lineage
        records."""
        bucketed = bucketize(turns, self.n_buckets)
        # Explicit read schema: a 0-row input (drained resume queue,
        # partition-pruned read matching nothing) writes a staged dir
        # with no data files, and schema inference on it throws.
        reader = self.spark.read.schema(bucketed.schema)
        fingerprint = self._fingerprint()
        if "buckets" not in fingerprint:
            # one hash per row, projected for the observation and dropped
            # before the write: every bucket's (rows, checksum) equals
            # _checksum of its staged partition, with no read-back
            obs = Observation()
            bucket, h = F.col("_bucket"), F.col("_h")
            aggs = []
            for b in range(self.n_buckets):
                aggs += [
                    F.count_if(bucket == b).alias(f"n{b}"),
                    F.coalesce(F.bit_xor(F.when(bucket == b, h)), F.lit(0)).alias(f"h{b}"),
                ]
            bucketed.withColumn("_h", _row_hash(turns.columns)).observe(obs, *aggs).drop(
                "_h"
            ).write.mode("overwrite").partitionBy("_bucket").parquet(self.stage_dir)
            seen = obs.get
            per_bucket = {
                b: (int(seen[f"n{b}"]), int(seen[f"h{b}"]))
                for b in range(self.n_buckets)
                if seen[f"n{b}"]
            }
            tmp = self.fingerprint_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(
                    {
                        "input_rows": sum(n for n, _ in per_bucket.values()),
                        "buckets": {str(b): list(v) for b, v in per_bucket.items()},
                    },
                    f,
                )
            os.replace(tmp, self.fingerprint_path)
            return reader.parquet(self.stage_dir)
        want, got = fingerprint["input_rows"], turns.count()
        if got != want:
            raise ValueError(
                f"resume with a different input: staged snapshot holds {want} "
                f"rows but the passed input has {got}; use a fresh out_dir "
                f"for a new or updated input table"
            )
        return reader.parquet(self.stage_dir)

    def _fingerprint(self) -> dict:
        """The stage's fingerprint; empty when missing or unparseable."""
        try:
            with open(self.fingerprint_path) as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return {}

    def _input_checksums(
        self, staged: DataFrame, todo: list[int], prestaged: bool
    ) -> dict[int, tuple[int, int]]:
        """Input ``(rows, checksum)`` of the pending buckets: read from
        the stage's fingerprint, or (a pre-bucketed input) one grouped
        pass over ``todo``."""
        if prestaged:
            return _bucket_checksums(staged, todo)
        buckets = self._fingerprint()["buckets"]
        return {int(b): (v[0], v[1]) for b, v in buckets.items()}

    def _verify_committed(
        self, bucketed: DataFrame, recorded: dict[int, tuple[int, int]]
    ) -> None:
        """Full-content audit (opt-in): recompute every committed
        bucket's INPUT checksum from the passed input (bucketed) in one
        grouped pass and compare with its lineage record — a changed
        input that kept its row count fails here. The staged copy would
        not do: on a resume it is the input of the first run."""
        sums = _bucket_checksums(bucketed, sorted(recorded))
        for b in sorted(recorded):
            got = sums.get(b, (0, 0))
            if got != recorded[b]:
                raise ValueError(
                    f"bucket {b}: input content changed since commit "
                    f"(recorded {recorded[b]}, recomputed {got}); "
                    f"use a fresh out_dir for a new input table"
                )

    # -- run / resume ---------------------------------------------------
    def stage(self, turns: DataFrame, verify_input: bool = False) -> list[int]:
        """The steps of :meth:`run` that come before the bucket loop: the
        ledger check, staging (or its reuse, with the input-row guard)
        and the pending buckets' input checksums; with
        ``verify_input=True`` also the content audit of the committed
        buckets. Returns the pending buckets.

        A later ``run(turns)`` with the same frame reuses this step, so a
        caller that writes other outputs next to the features can make
        the guard pass before it rewrites any of them."""
        recorded = self._committed()
        done = set(recorded)
        todo = [b for b in range(self.n_buckets) if b not in done]
        prestaged = "_bucket" in turns.columns
        staged = turns if prestaged else (self._stage(turns) if todo else None)
        if verify_input and done:
            audited = turns if prestaged else bucketize(turns, self.n_buckets)
            self._verify_committed(audited, recorded)
        sums = self._input_checksums(staged, todo, prestaged) if todo else {}
        self._staged = _Staged(turns, verify_input, done, todo, staged, sums)
        return todo

    def run(
        self,
        turns: DataFrame,
        fail_after: int | None = None,
        verify_input: bool = False,
    ) -> dict:
        """Process all not-yet-committed buckets; idempotent.

        If ``turns`` already carries a ``_bucket`` column (a
        pre-bucketed table, see :func:`bucketize`) the staging copy is
        SKIPPED — the per-bucket filter prunes the source layout
        directly and the run does zero extra write at any scale.

        ``fail_after=k`` injects a crash after k bucket commits (test
        hook for the kill-and-resume audit). ``verify_input=True``
        additionally re-checksums every already-committed bucket's
        input against its lineage record before resuming (one grouped
        pass over the passed input; off by default).

        The buckets are committed one after another. A :meth:`stage`
        call on the same ``turns`` (with ``verify_input`` if this call
        asks for it) is reused, once; otherwise ``run`` stages first.

        Returns the bucket counts. ``self.records`` then holds one
        record per bucket committed by this call: ``rows_in``,
        ``checksum_in``, ``rows_out``, ``checksum_out`` (the values of
        its lineage record) and ``wall_s``.
        """
        st = self._staged
        if st is None or st.turns is not turns or (verify_input and not st.verified):
            self.stage(turns, verify_input)
            st = self._staged
        self._staged = None  # the ledger moves on: the next run stages again

        records = self.records = []
        for b in st.todo:
            if fail_after is not None and len(records) >= fail_after:
                raise RuntimeError(f"injected failure after {len(records)} buckets")
            t0 = time.perf_counter()
            part = st.staged.filter(F.col("_bucket") == b).drop("_bucket")
            in_rows, in_sum = st.sums.get(b, (0, 0))
            feats = self.featurizer(part)
            bucket_path = os.path.join(self.data_dir, f"bucket={b}")
            out = write_observed(feats, bucket_path, *_checksum_aggs(feats.columns))
            self._append_lineage(
                run_id=self.run_id,
                bucket=b,
                status="committed",
                n_rows=out["n"],
                checksum=out["h"],
                input_rows=in_rows,
                input_checksum=in_sum,
            )
            records.append(
                {
                    "bucket": b,
                    "rows_in": in_rows,
                    "checksum_in": in_sum,
                    "rows_out": out["n"],
                    "checksum_out": out["h"],
                    "wall_s": time.perf_counter() - t0,
                }
            )
        return {
            "buckets_total": self.n_buckets,
            "buckets_skipped": len(st.done),
            "buckets_processed": len(records),
        }

    def result(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.data_dir, "bucket=*"))
