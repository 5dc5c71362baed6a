"""Snapshot-log table format: Iceberg-SHAPED commit semantics on plain
parquet, for environments without an Iceberg runtime jar (SURVEY
§1.1.4; this sandbox ships none — ``engine/lineage.py`` documents the
gap, this module closes the semantic half of it honestly).

This is NOT Iceberg and does not claim wire compatibility. It
reimplements the three properties the engine's resume/lineage story
needs from a table format, with the same mechanics Iceberg uses:

1. **Atomic commits via a snapshot log.** Data files are immutable,
   written to a per-commit directory; a commit is one JSON manifest
   (`_snapshots/v<NNNN>.json`) listing the table's COMPLETE file set,
   plus an atomic swap of the `_snapshots/LATEST` pointer
   (`os.replace`, atomic on POSIX). Readers never see a partial
   commit: they resolve LATEST (or an explicit snapshot id) and read
   exactly that manifest's files.
2. **Optimistic concurrency.** A commit records the parent snapshot it
   was based on; if LATEST moved since the writer read it, the commit
   raises ``CommitConflict`` instead of clobbering — the caller
   retries on a fresh read (Iceberg's compare-and-swap on the
   metadata pointer).
3. **Time travel + lineage.** Every snapshot carries
   ``(snapshot_id, parent_id, operation, summary)`` where summary
   holds the engine's lineage facts (row count, order-insensitive
   checksum); ``read_table(..., snapshot_id=...)`` reproduces any
   historical state, and ``history()`` is the lineage audit trail.

Operations: ``append`` (new files join the live set) and
``overwrite`` (new files REPLACE the live set — the compaction /
dedup-rewrite primitive: commit ``read_table(...)``, filtered or
repartitioned, as an overwrite). Orphaned files from failed or
superseded commits are unreferenced by construction and ignored by
readers; :func:`expire_snapshots` reclaims them.

A manifest entry is a data-file path and its ``partition`` tag, no
data and no statistics, so the JSON stays small at thousands of files.
The ``partition`` tag filters entries driver-side before the scan.
Data skipping within the files is Spark's own: a bounded read is
``read_table(...).where(...)``, and the Parquet scan pushes the
predicate down to the row-group min/max in each file's footer.
"""

from __future__ import annotations

import errno
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from astrospectro_spark.engine.lineage import _checksum_aggs, write_observed


class CommitConflict(RuntimeError):
    """LATEST moved between read and commit — retry on a fresh read.

    A retry is always productive: if the conflict came from a crashed
    writer's orphaned v-file (created but never published), the losing
    commit ADOPTS it — finishes the crashed writer's LATEST swap — so
    the retry sees an advanced table instead of hitting the same
    orphan forever (the round-4 wedge)."""


# How long a file in _snapshots/ that looks abandoned (an unparseable
# v-file, a *.tmp.* file) is left alone in case a live writer still owns
# it. A writer holds its tmp files for the span of one small JSON write.
GRACE_S = 10.0


def _snap_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_snapshots")


def _latest_path(table_dir: str) -> str:
    return os.path.join(_snap_dir(table_dir), "LATEST")


def current_snapshot_id(table_dir: str) -> int | None:
    """The committed snapshot id, or None for an empty/new table."""
    try:
        with open(_latest_path(table_dir)) as f:
            return int(json.load(f)["snapshot_id"])
    except FileNotFoundError:
        return None


def _load_snapshot(table_dir: str, snapshot_id: int) -> dict:
    with open(os.path.join(_snap_dir(table_dir), f"v{snapshot_id:08d}.json")) as f:
        return json.load(f)


def history(table_dir: str) -> list[dict]:
    """All snapshots, oldest first — the table's lineage audit trail."""
    sd = _snap_dir(table_dir)
    if not os.path.isdir(sd):
        return []
    out = []
    for name in sorted(os.listdir(sd)):
        if name.startswith("v") and name.endswith(".json"):
            with open(os.path.join(sd, name)) as f:
                out.append(json.load(f))
    return out


def commit(
    table_dir: str,
    df: DataFrame,
    operation: str = "append",
    partition: str | None = None,
    expected_snapshot_id: int | None = ...,
) -> int:
    """Write ``df`` as immutable files and commit them atomically.

    ``operation``: ``"append"`` adds the files to the live set;
    ``"overwrite"`` replaces the whole live set (compaction /
    dedup-rewrite). ``partition`` tags the new files for driver-side
    selection in :func:`read_table`. ``expected_snapshot_id`` pins the
    parent for optimistic concurrency; the default (ellipsis) snapshots
    LATEST at entry — pass the id you planned against to detect
    concurrent writers across a longer span.
    """
    if expected_snapshot_id is ...:
        expected_snapshot_id = current_snapshot_id(table_dir)
    os.makedirs(_snap_dir(table_dir), exist_ok=True)
    _sweep_stale_tmp(table_dir)

    new_entries, summary = _write_data_files(table_dir, df, partition)

    if operation == "append" and expected_snapshot_id is not None:
        parent = _load_snapshot(table_dir, expected_snapshot_id)
        manifest = parent["manifest"] + new_entries
    elif operation in ("append", "overwrite"):
        manifest = new_entries
    else:
        raise ValueError(f"unknown operation: {operation}")

    return _commit_snapshot(
        table_dir,
        manifest,
        operation,
        expected_snapshot_id,
        {**summary, "partition": partition},
    )


def _write_data_files(
    table_dir: str, df: DataFrame, partition: str | None
) -> tuple[list[dict], dict]:
    """Write ``df`` as immutable parquet files under a fresh per-commit
    directory; return (manifest entries, lineage summary of what
    LANDED). Timestamps are forced to TIMESTAMP_MICROS for this write
    even under a foreign session: INT96 (the legacy default) has no
    footer min/max, so Spark's Parquet pushdown could skip no row group
    on ``ts`` in any file this table commits.

    The summary is the row count and order-insensitive checksum of the
    lineage ledger (``bit_xor`` of ``xxhash64`` over all columns),
    observed over the rows the write task wrote: no re-scan of the new
    files, and no re-run of the input plan, which would double-execute
    expensive lineage (joins, LSH) and could observe different data on
    a live source."""
    files_dir = os.path.join(table_dir, "data", uuid.uuid4().hex)
    conf = df.sparkSession.conf
    prev_ts_type = conf.get("spark.sql.parquet.outputTimestampType")
    conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        landed = write_observed(df, files_dir, *_checksum_aggs(df.columns))
    finally:
        conf.set("spark.sql.parquet.outputTimestampType", prev_ts_type)
    new_files = sorted(
        os.path.join(files_dir, f)
        for f in os.listdir(files_dir)
        if f.endswith(".parquet")
    )
    new_entries = [{"path": p, "partition": partition} for p in new_files]
    return new_entries, {"n_rows": int(landed["n"]), "checksum": int(landed["h"])}


def expire_snapshots(
    table_dir: str,
    keep_last: int = 1,
    delete_orphans: bool = False,
    orphan_grace_s: float = 3600.0,
) -> dict:
    """Retire history (Iceberg's ``expire_snapshots`` +
    ``remove_orphan_files``): drop all but the ``keep_last`` most
    recent snapshots and DELETE data files referenced only by the
    dropped ones. With ``delete_orphans``, also remove data files
    referenced by NO snapshot at all (crashed writers' leftovers)
    once older than ``orphan_grace_s`` — the grace window keeps an
    in-flight commit's freshly written files safe.

    Time travel contracts shrink explicitly: reads of an expired
    snapshot raise, reads of every retained snapshot are untouched
    (their files are never deleted). Returns counts for the audit
    trail."""
    sd = _snap_dir(table_dir)
    snaps = sorted(
        n for n in os.listdir(sd) if n.startswith("v") and n.endswith(".json")
    )
    keep_last = max(1, int(keep_last))
    drop, keep = snaps[:-keep_last], snaps[-keep_last:]
    live: set[str] = set()
    for name in keep:
        with open(os.path.join(sd, name)) as f:
            live.update(e["path"] for e in json.load(f)["manifest"])
    removed_files = 0
    for name in drop:
        with open(os.path.join(sd, name)) as f:
            for e in json.load(f)["manifest"]:
                if e["path"] not in live and os.path.exists(e["path"]):
                    os.unlink(e["path"])
                    removed_files += 1
        os.unlink(os.path.join(sd, name))
    removed_orphans = 0
    if delete_orphans:
        referenced = set(live)
        for name in os.listdir(sd):
            if name.startswith("v") and name.endswith(".json"):
                with open(os.path.join(sd, name)) as f:
                    referenced.update(
                        e["path"] for e in json.load(f)["manifest"]
                    )
        data_root = os.path.join(table_dir, "data")
        now = time.time()
        if os.path.isdir(data_root):
            for dirpath, _dirs, files in os.walk(data_root):
                for fn in files:
                    p = os.path.join(dirpath, fn)
                    if (
                        fn.endswith(".parquet")
                        and p not in referenced
                        and now - os.path.getmtime(p) > orphan_grace_s
                    ):
                        os.unlink(p)
                        removed_orphans += 1
    return {
        "expired_snapshots": len(drop),
        "removed_files": removed_files,
        "removed_orphans": removed_orphans,
    }


def _commit_snapshot(
    table_dir: str,
    manifest: list[dict],
    operation: str,
    expected_snapshot_id: int | None,
    summary: dict,
) -> int:
    """CAS-publish a snapshot whose manifest is already assembled.

    Two writers racing from the same parent target the SAME v-file;
    O_EXCL creation makes exactly one win (the loser gets
    FileExistsError → CommitConflict) — the manifest file itself is
    the compare-and-swap token, as in Iceberg's metadata commit."""
    snap_id = (expected_snapshot_id or 0) + 1
    snap = {
        "snapshot_id": snap_id,
        "parent_id": expected_snapshot_id,
        "operation": operation,
        "committed_at": time.time(),
        "manifest": manifest,
        "summary": summary,
    }
    snap_path = os.path.join(_snap_dir(table_dir), f"v{snap_id:08d}.json")

    if current_snapshot_id(table_dir) != expected_snapshot_id:
        raise CommitConflict(
            f"table advanced past snapshot {expected_snapshot_id}"
        )
    # Atomic-BY-CONTENT v-file creation (round-5 ADVICE): the manifest
    # is json.dump-ed into a private tmp file first and os.link(2) is
    # the compare-and-swap — link fails with FileExistsError if the
    # v-file already exists, and a v-file that exists is ALWAYS
    # complete JSON. The previous O_EXCL-then-dump protocol could leave
    # a partial husk on crash mid-dump, and a writer stalled >grace
    # between create and close could have its inode unlinked under it
    # by the husk-clear path (LATEST then pointing at nothing, or a
    # silently lost commit). Under this protocol no live writer ever
    # holds snap_path open, so the husk-clear in _adopt_orphan (kept
    # for files left by pre-upgrade writers or external corruption) can
    # no longer race anyone.
    tmp_snap = snap_path + f".tmp.{uuid.uuid4().hex}"
    try:
        with open(tmp_snap, "w") as f:
            json.dump(snap, f)
        try:
            os.link(tmp_snap, snap_path)
        except OSError as e:
            if e.errno in (errno.EPERM, errno.EOPNOTSUPP, errno.ENOTSUP):
                raise OSError(
                    e.errno,
                    f"cannot commit to {table_dir}: snapshot commits hard-link "
                    "(os.link) the manifest into place, and this filesystem "
                    "refuses hard links; put the table directory on a "
                    "filesystem with hard links",
                ) from e
            raise
    except FileExistsError as e:
        # The v-file exists but we read LATEST == parent above. Either a
        # live racer linked it microseconds ago and is about to publish,
        # or a writer CRASHED between link and the LATEST swap, leaving
        # an orphan that would conflict every future commit from this
        # parent forever (the round-4 wedge). Resolve by HELPING: finish
        # the other writer's publication ourselves, then conflict so OUR
        # data retries against the advanced table. The swap is idempotent
        # (same content) if the racer is alive and publishes too.
        _adopt_orphan(table_dir, snap_path, snap_id, expected_snapshot_id)
        raise CommitConflict(
            f"concurrent commit already produced snapshot {snap_id}; "
            "adopted it into LATEST — retry on a fresh read"
        ) from e
    finally:
        _unlink_quiet(tmp_snap)
    _publish_latest(table_dir, snap_id)
    return snap_id


def _unlink_quiet(path: str) -> None:
    try:
        os.unlink(path)
    except FileNotFoundError:
        pass


def _publish_latest(table_dir: str, snap_id: int) -> None:
    """Point LATEST at ``snap_id``: write a private tmp file, then
    ``os.replace`` it over LATEST (POSIX-atomic). The tmp file is
    removed if the write or the replace fails."""
    latest = _latest_path(table_dir)
    tmp = f"{latest}.tmp.{uuid.uuid4().hex}"
    try:
        with open(tmp, "w") as f:
            json.dump({"snapshot_id": snap_id}, f)
        os.replace(tmp, latest)
    except BaseException:
        _unlink_quiet(tmp)
        raise


def _sweep_stale_tmp(table_dir: str) -> None:
    """Remove ``*.tmp.*`` files in ``_snapshots/`` older than
    :data:`GRACE_S`: tmp files of writers that died between writing and
    publishing them. A live writer's tmp file is younger than that."""
    sd = _snap_dir(table_dir)
    now = time.time()
    for name in os.listdir(sd):
        if ".tmp." not in name:
            continue
        path = os.path.join(sd, name)
        try:
            if now - os.path.getmtime(path) > GRACE_S:
                os.unlink(path)
        except FileNotFoundError:
            pass  # its writer or another sweep got there first


def _adopt_orphan(
    table_dir: str, snap_path: str, snap_id: int, parent_id: int | None
) -> None:
    """Publish (or clear) a v-file whose writer never swapped LATEST.

    Three cases, all safe under a live racer:

    - Valid JSON → advance LATEST to it (idempotent with the racer's
      own publish: byte-identical content, atomic ``os.replace``).
    - Unparseable AND stale (mtime older than the grace window) →
      unlink the husk so the next retry's link-CAS can win. Since the
      round-6 atomic-by-content protocol, this engine can no longer
      produce husks (v-files are linked complete) and no live writer
      ever holds ``snap_path`` open — the branch only clears files left
      by pre-upgrade writers or external corruption, race-free.
    - Unparseable but FRESH → grace-window caution; leave it alone (a
      later stale pass resolves it).
    """
    try:
        with open(snap_path) as f:
            orphan = json.load(f)
    except FileNotFoundError:
        return  # already resolved by someone else
    except (json.JSONDecodeError, ValueError):
        try:
            if time.time() - os.path.getmtime(snap_path) > GRACE_S:
                os.unlink(snap_path)
        except FileNotFoundError:
            pass
        return
    if orphan.get("snapshot_id") != snap_id:
        return
    if current_snapshot_id(table_dir) != parent_id:
        return  # LATEST already advanced — nothing to finish
    _publish_latest(table_dir, snap_id)


def resolve_files(
    table_dir: str,
    snapshot_id: int | None = None,
    partition: str | None = None,
) -> list[str]:
    """Driver-side file resolution: the data files of ``snapshot_id``
    (default: LATEST) whose manifest entry carries the ``partition``
    tag (any tag when None)."""
    sid = snapshot_id if snapshot_id is not None else current_snapshot_id(table_dir)
    if sid is None:
        raise FileNotFoundError(f"no snapshots in {table_dir}")
    entries = _load_snapshot(table_dir, sid)["manifest"]
    if partition is not None:
        entries = [e for e in entries if e["partition"] == partition]
    return [e["path"] for e in entries]


def read_table(
    spark: SparkSession,
    table_dir: str,
    snapshot_id: int | None = None,
    partition: str | None = None,
) -> DataFrame:
    """Read the table exactly as of ``snapshot_id`` (default: LATEST).

    ``partition`` selects manifest entries driver-side before the scan.
    Row predicates go on the returned frame, ``read_table(...).where(...)``:
    Spark pushes them into the Parquet scan, which skips the row groups
    whose footer min/max prove no match."""
    sid = snapshot_id if snapshot_id is not None else current_snapshot_id(table_dir)
    paths = resolve_files(table_dir, sid, partition)
    if not paths:
        raise FileNotFoundError(
            f"snapshot {sid} has no files for partition {partition!r}"
        )
    return spark.read.parquet(*paths)
