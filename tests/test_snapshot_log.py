"""Snapshot-log table semantics: atomic commits, time travel,
overwrite-as-compaction, conflict detection, lineage audit trail.

The Iceberg-shaped half of SURVEY §1.1.4 that the sandbox's missing
runtime jar blocked; `engine/lineage.py` remains the bucket-resume
engine, this locks the table-format commit semantics themselves."""

from __future__ import annotations

import pytest

from astrospectro_spark.sources.snapshot_log import (
    CommitConflict,
    commit,
    current_snapshot_id,
    history,
    read_table,
)


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, lo, hi, part="p0"):
    from pyspark.sql import functions as F

    return spark.range(lo, hi).withColumn("part", F.lit(part))


def test_append_and_time_travel(spark, table):
    s1 = commit(table, _df(spark, 0, 10), "append")
    s2 = commit(table, _df(spark, 10, 25), "append")
    assert (s1, s2) == (1, 2)
    assert current_snapshot_id(table) == 2
    assert read_table(spark, table).count() == 25
    # time travel: snapshot 1 is exactly the first append, forever
    assert read_table(spark, table, snapshot_id=1).count() == 10
    ids = {r.id for r in read_table(spark, table, snapshot_id=1).collect()}
    assert ids == set(range(10))


def test_overwrite_is_compaction(spark, table):
    commit(table, _df(spark, 0, 10), "append")
    commit(table, _df(spark, 10, 20), "append")
    # dedup-rewrite: replace the live set with a filtered union
    live = read_table(spark, table).filter("id % 2 = 0")
    s3 = commit(table, live, "overwrite")
    assert read_table(spark, table).count() == 10
    assert {r.id % 2 for r in read_table(spark, table).collect()} == {0}
    # pre-compaction state still readable (files are immutable)
    assert read_table(spark, table, snapshot_id=2).count() == 20
    assert history(table)[-1]["operation"] == "overwrite" and s3 == 3


def test_conflict_detection(spark, table):
    commit(table, _df(spark, 0, 5), "append")
    base = current_snapshot_id(table)
    commit(table, _df(spark, 5, 10), "append", expected_snapshot_id=base)
    # a second writer still planning against `base` must NOT clobber
    with pytest.raises(CommitConflict):
        commit(table, _df(spark, 10, 15), "append", expected_snapshot_id=base)
    # the losing writer's data files are orphans: readers never see them
    assert read_table(spark, table).count() == 10


def test_partition_pruning_and_lineage_summary(spark, table):
    commit(table, _df(spark, 0, 10, "a"), "append", partition="a")
    commit(table, _df(spark, 10, 30, "b"), "append", partition="b")
    assert read_table(spark, table, partition="a").count() == 10
    assert read_table(spark, table, partition="b").count() == 20
    h = history(table)
    assert [s["snapshot_id"] for s in h] == [1, 2]
    assert h[0]["summary"]["n_rows"] == 10 and h[1]["summary"]["n_rows"] == 20
    assert isinstance(h[0]["summary"]["checksum"], int)
    assert h[1]["parent_id"] == 1


def test_reader_never_sees_partial_state(spark, table):
    """Readers resolve LATEST once: data files written for a commit
    that has not (yet) swapped LATEST are invisible."""
    commit(table, _df(spark, 0, 10), "append")
    # simulate a crashed writer: files on disk, no snapshot/LATEST swap
    import os, uuid

    orphan = os.path.join(table, "data", uuid.uuid4().hex)
    _df(spark, 100, 200).write.parquet(orphan)
    assert read_table(spark, table).count() == 10
    assert current_snapshot_id(table) == 1


def test_bucketed_featurize_resume_via_snapshot_history(spark, transcripts_sdf, table):
    """The Iceberg-shaped resume pattern end-to-end: each feature
    bucket lands as one snapshot commit tagged with its partition; a
    'killed' run is resumed by diffing the bucket list against snapshot
    history (the MERGE-free resume — recompute only uncommitted
    buckets), and the final table equals a single-shot featurize."""
    from pyspark.sql import functions as F

    from astrospectro_spark.engine.windows import featurize_expr

    n_buckets = 4
    bucketed = transcripts_sdf.withColumn(
        "_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )

    def run_bucket(b):
        feats = featurize_expr(
            bucketed.filter(F.col("_bucket") == b).drop("_bucket"),
            include_text=False,
        )
        return commit(table, feats, "append", partition=f"bucket={b}")

    # first run dies after 2 of 4 buckets
    run_bucket(0)
    run_bucket(1)

    committed = {s["summary"]["partition"] for s in history(table)}
    todo = [b for b in range(n_buckets) if f"bucket={b}" not in committed]
    assert todo == [2, 3]
    for b in todo:
        run_bucket(b)

    got = read_table(spark, table)
    want = featurize_expr(transcripts_sdf, include_text=False)
    assert got.count() == want.count()
    gs = got.agg(F.bit_xor(F.xxhash64(*sorted(got.columns)))).first()[0]
    ws = want.agg(F.bit_xor(F.xxhash64(*sorted(want.columns)))).first()[0]
    assert gs == ws  # order-insensitive content equality
    # per-bucket time travel still works
    assert read_table(spark, table, partition="bucket=1").count() > 0


def test_concurrent_writers_exactly_one_wins(spark, table):
    """Four threads race to commit from the same parent: the O_EXCL
    manifest creation is the compare-and-swap, so exactly one commit
    lands and the rest raise CommitConflict; losers' files stay
    invisible orphans."""
    from concurrent.futures import ThreadPoolExecutor

    commit(table, _df(spark, 0, 5), "append")
    base = current_snapshot_id(table)

    def racer(i):
        try:
            return ("ok", commit(
                table, _df(spark, 100 * i, 100 * i + 10), "append",
                expected_snapshot_id=base,
            ))
        except CommitConflict:
            return ("conflict", None)

    with ThreadPoolExecutor(max_workers=4) as ex:
        results = list(ex.map(racer, range(1, 5)))

    wins = [r for r in results if r[0] == "ok"]
    assert len(wins) == 1 and wins[0][1] == base + 1
    assert sum(1 for r in results if r[0] == "conflict") == 3
    assert current_snapshot_id(table) == base + 1
    # winner's 10 rows + base 5; losers invisible
    assert read_table(spark, table).count() == 15


def test_commit_leaves_complete_vfiles_and_no_tmp_residue(spark, table):
    """Round-6 atomic-by-content protocol: every published v-file is
    complete JSON the instant it becomes visible (json.dump into a tmp
    file, os.link as the CAS), and neither a successful commit nor a
    losing racer leaves a .tmp behind."""
    import json, os

    commit(table, _df(spark, 0, 5), "append")
    base = current_snapshot_id(table)
    snapdir = os.path.join(table, "_snapshots")
    # force the link-CAS LOSS path (tmp written, link fails, finally
    # unlinks): a hand-made orphan v-file already occupies base+1
    parent = json.load(open(os.path.join(snapdir, f"v{base:08d}.json")))
    with open(os.path.join(snapdir, f"v{base + 1:08d}.json"), "x") as f:
        json.dump({**parent, "snapshot_id": base + 1, "parent_id": base}, f)
    with pytest.raises(CommitConflict):
        commit(table, _df(spark, 10, 20), "append")
    names = os.listdir(snapdir)
    assert not [n for n in names if ".tmp." in n], names
    for n in names:
        if n.endswith(".json") and n.startswith("v"):
            with open(os.path.join(snapdir, n)) as f:
                json.load(f)  # every visible v-file parses


def test_orphaned_vfile_is_adopted_not_a_wedge(spark, table):
    """Round-4 ADVICE (medium): a writer crashing between O_EXCL v-file
    creation and the LATEST swap must not wedge the table. The next
    commit from the same parent ADOPTS the orphan (finishes its LATEST
    swap), raises one CommitConflict, and the retry then lands."""
    import json, os

    commit(table, _df(spark, 0, 5), "append")
    base = current_snapshot_id(table)

    # simulate the crash: build a valid v-file for base+1 by hand,
    # never swap LATEST (files referenced: reuse base's — content is
    # irrelevant to the wedge mechanics, validity of JSON is not)
    parent = json.load(
        open(os.path.join(table, "_snapshots", f"v{base:08d}.json"))
    )
    orphan = {
        "snapshot_id": base + 1,
        "parent_id": base,
        "operation": "append",
        "committed_at": 0.0,
        "manifest": parent["manifest"],
        "summary": {"n_rows": 5, "checksum": 0, "partition": None},
    }
    with open(
        os.path.join(table, "_snapshots", f"v{base + 1:08d}.json"), "x"
    ) as f:
        json.dump(orphan, f)
    assert current_snapshot_id(table) == base  # crash state: un-published

    # first commit hits the orphan, adopts it, conflicts once …
    with pytest.raises(CommitConflict):
        commit(table, _df(spark, 10, 20), "append")
    assert current_snapshot_id(table) == base + 1  # adoption happened

    # … and the documented retry-on-fresh-read NOW SUCCEEDS (round 4:
    # it conflicted forever)
    sid = commit(table, _df(spark, 10, 20), "append")
    assert sid == base + 2
    # 5 base rows (the orphan's manifest reuses the parent's files,
    # adding none) + the retried 10
    assert read_table(spark, table).count() == 15


def test_corrupt_stale_vfile_is_cleared(spark, table):
    """A writer dying mid-json.dump leaves an unparseable husk; once
    stale (mtime beyond the grace window) the next commit clears it and
    the retry proceeds."""
    import os, time

    commit(table, _df(spark, 0, 5), "append")
    base = current_snapshot_id(table)
    husk = os.path.join(table, "_snapshots", f"v{base + 1:08d}.json")
    with open(husk, "x") as f:
        f.write('{"snapshot_id": ')  # truncated JSON
    old = time.time() - 3600
    os.utime(husk, (old, old))

    with pytest.raises(CommitConflict):
        commit(table, _df(spark, 10, 20), "append")
    assert not os.path.exists(husk)  # husk cleared
    assert commit(table, _df(spark, 10, 20), "append") == base + 1
    assert read_table(spark, table).count() == 15


def _tmp_files(table):
    import os

    return [n for n in os.listdir(os.path.join(table, "_snapshots")) if ".tmp." in n]


def test_failed_latest_swap_leaves_no_tmp_file(spark, table, monkeypatch):
    """os.replace failing on the LATEST swap (full disk, EIO) must not
    strand the LATEST tmp file in _snapshots/."""
    import errno

    from astrospectro_spark.sources import snapshot_log

    commit(table, _df(spark, 0, 5), "append")

    def boom(src, dst):
        raise OSError(errno.EIO, "injected replace failure")

    monkeypatch.setattr(snapshot_log.os, "replace", boom)
    with pytest.raises(OSError, match="injected"):
        commit(table, _df(spark, 5, 10), "append")
    assert _tmp_files(table) == []


def test_commit_sweeps_stale_tmp_files_only(spark, table):
    """tmp files a dead writer left behind are swept by the next commit
    once older than the grace window; a fresh one (a live writer's) is
    kept."""
    import os
    import time

    commit(table, _df(spark, 0, 5), "append")
    snapdir = os.path.join(table, "_snapshots")
    stale = os.path.join(snapdir, "LATEST.tmp.deadwriter")
    fresh = os.path.join(snapdir, "v00000009.json.tmp.livewriter")
    for path in (stale, fresh):
        with open(path, "w") as f:
            f.write('{"snapshot_id": 1}')
    old = time.time() - 60
    os.utime(stale, (old, old))

    commit(table, _df(spark, 5, 10), "append")
    assert _tmp_files(table) == ["v00000009.json.tmp.livewriter"]
    assert read_table(spark, table).count() == 10


def test_hard_link_refusal_names_the_cause(spark, table, monkeypatch):
    """A filesystem without hard links fails the commit with an error
    that says so, and leaves no tmp file."""
    import errno

    from astrospectro_spark.sources import snapshot_log

    def no_links(src, dst):
        raise OSError(errno.EPERM, "Operation not permitted")

    monkeypatch.setattr(snapshot_log.os, "link", no_links)
    with pytest.raises(OSError, match="hard links") as err:
        commit(table, _df(spark, 0, 5), "append")
    assert err.value.errno == errno.EPERM
    assert _tmp_files(table) == []
    assert current_snapshot_id(table) is None


def test_bounded_read_pushes_ts_into_the_parquet_scan(spark, table):
    """A ts-bounded read is ``read_table(...).where(...)``: it returns
    exactly the bounded rows, and the Parquet scan carries the bound as
    a pushed filter, which skips row groups by their footer min/max."""
    from pyspark.sql import functions as F

    def day_df(day, lo, hi):
        return spark.range(lo, hi).withColumn(
            "ts", F.timestamp_seconds(F.lit(day * 86400) + (F.col("id") % 100) * 60)
        )

    for day in range(3):
        commit(table, day_df(day, day * 100, day * 100 + 100), "append")
    bounded = read_table(spark, table).where(
        F.col("ts").between("1970-01-02 00:00:00", "1970-01-02 23:00:00")
    )
    assert sorted(r.id for r in bounded.collect()) == list(range(100, 200))
    plan = bounded._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pushed = plan.split("PushedFilters:", 1)[1].split("\n", 1)[0]
    assert "GreaterThanOrEqual(ts," in pushed and "LessThanOrEqual(ts," in pushed


def test_commit_reads_no_data_file_back(spark, table, monkeypatch):
    """A commit records paths and partition tags only: it succeeds with
    pyarrow's footer reader disabled, and its entries hold nothing
    else."""
    import json
    import os

    import pyarrow.parquet as pq

    def no_footer(*a, **kw):
        raise AssertionError("a commit must not open a data file")

    monkeypatch.setattr(pq, "ParquetFile", no_footer)
    sid = commit(table, _df(spark, 0, 10), "append", partition="p")
    assert read_table(spark, table).count() == 10
    with open(os.path.join(table, "_snapshots", f"v{sid:08d}.json")) as f:
        entries = json.load(f)["manifest"]
    assert entries and all(set(e) == {"path", "partition"} for e in entries)


def test_expire_snapshots_and_orphan_gc(spark, table):
    """Expiry drops old snapshots AND their exclusively-referenced data
    files; retained snapshots read untouched; orphan files from crashed
    writers are GC'd past the grace window."""
    import os
    import uuid as _uuid

    from astrospectro_spark.sources.snapshot_log import (
        expire_snapshots,
        resolve_files,
    )

    for b in range(3):
        commit(table, _df(spark, b * 10, b * 10 + 10), "append", partition="p")
    commit(table, read_table(spark, table).coalesce(1), "overwrite", partition="p")
    pre_latest = current_snapshot_id(table)
    old_files = resolve_files(table, snapshot_id=1)

    # plant a crashed-writer orphan: data files referenced by NO snapshot
    orphan_dir = os.path.join(table, "data", _uuid.uuid4().hex)
    _df(spark, 900, 910).coalesce(1).write.parquet(orphan_dir)
    orphan_files = [
        os.path.join(orphan_dir, f)
        for f in os.listdir(orphan_dir)
        if f.endswith(".parquet")
    ]
    old_mtime = os.path.getmtime(orphan_files[0]) - 7200
    for p in orphan_files:
        os.utime(p, (old_mtime, old_mtime))

    report = expire_snapshots(
        table, keep_last=1, delete_orphans=True, orphan_grace_s=3600
    )
    assert report["expired_snapshots"] == pre_latest - 1
    assert report["removed_files"] > 0
    assert report["removed_orphans"] == len(orphan_files)
    # retained snapshot reads fine, full content
    assert read_table(spark, table).count() == 30
    assert current_snapshot_id(table) == pre_latest
    # expired snapshot is gone: metadata AND its exclusive files
    with pytest.raises(FileNotFoundError):
        read_table(spark, table, snapshot_id=1)
    assert any(not os.path.exists(p) for p in old_files)


def _curated(spark):
    from astrospectro_spark.jobs.curate_job import FUNNEL_STAGES, curate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    return curate(docs, min_quality=0.3).filter("keep").drop(*FUNNEL_STAGES)


def _ts_nulls(spark):
    import datetime as dt

    ts = dt.datetime(2024, 3, 1, 12, 30, 15, 123456)
    return spark.createDataFrame(
        [(1, ts, None, 1.5, "a"), (2, None, ts, None, None), (None, ts, ts, float("nan"), "c")],
        "id long, ts timestamp, ts_ntz timestamp_ntz, x double, s string",
    )


def _empty(spark):
    return spark.createDataFrame([], "id long, ts timestamp, s string")


@pytest.mark.parametrize("frame", [_curated, _ts_nulls, _empty], ids=["curate", "ts-nulls", "empty"])
def test_commit_summary_observed_equals_read_back(spark, table, frame):
    """The (n_rows, checksum) a commit records is observed on its write;
    it equals the checksum of the files that landed, for a curate
    output, timestamps and NULLs, and an empty frame, and so does the
    summary of a compaction (an overwrite of the table read back)."""
    from astrospectro_spark.engine.lineage import _checksum

    def summary():
        s = history(table)[-1]["summary"]
        return s["n_rows"], s["checksum"]

    df = frame(spark)
    commit(table, df, "overwrite", partition="p")
    assert summary() == _checksum(read_table(spark, table))
    assert summary()[0] == df.count()
    # a second file set in the same partition, then compact the two
    commit(table, df.limit(1), "append", partition="p")
    before = _checksum(read_table(spark, table))
    assert commit(table, read_table(spark, table), "overwrite", partition="p") is not None
    assert summary() == _checksum(read_table(spark, table)) == before
