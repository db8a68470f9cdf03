"""Iceberg-style pages table emulation (input_hint: "Iceberg table of
Common-Crawl-style web pages ... (url, warc_ts, html, text, lang)").

The sandbox has no Iceberg jars, so the engine implements the table
CONTRACT on partitioned parquet + JSON metadata:

- snapshots: every commit writes an immutable snapshot JSON listing its
  manifest; readers pin a snapshot id -> consistent reads while a writer
  appends (snapshot isolation, which is what checkpoint-resume needs);
- manifests: per-partition file list with row counts and column bounds
  for `warc_ts` -> partition pruning happens BEFORE the Spark scan by
  selecting files, in addition to parquet's own row-group pruning;
- schema is declared, never inferred.

Layout:
  <root>/data/ts_day=YYYY-MM-DD/part-*.parquet
  <root>/metadata/snap-<id>.json   {"id", "parent", "manifest": [...]}
  <root>/metadata/current          text file with current snapshot id
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from timezone_boundary_builder_spark.sources import commit_backend

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def _meta_dir(root: str) -> str:
    return os.path.join(root, "metadata")


def _read_json(path: str):
    with open(path) as f:
        return json.load(f)


def current_snapshot_id(root: str) -> str | None:
    cur = os.path.join(_meta_dir(root), "current")
    if not os.path.exists(cur):
        return None
    with open(cur) as f:
        return f.read().strip()


def read_snapshot(root: str, snapshot_id: str | None = None) -> dict:
    sid = snapshot_id or current_snapshot_id(root)
    if sid is None:
        raise FileNotFoundError(f"no current snapshot in {root}")
    return _read_json(os.path.join(_meta_dir(root), f"snap-{sid}.json"))


def commit_append(root: str, df: DataFrame, max_retries: int = 5) -> str:
    """Append rows as a new snapshot: write data files under a staging
    partition layout, then atomically publish the snapshot JSON + current
    pointer (writers never mutate published files — the Iceberg property
    resume depends on). Publish is compare-and-swap on the parent
    pointer: when a concurrent commit won the race, the append re-merges
    against the NEW current and retries — its staged batch files are
    immutable, so only the cheap metadata merge re-runs (Iceberg's
    optimistic-concurrency commit loop)."""
    os.makedirs(_meta_dir(root), exist_ok=True)
    batch = _write_batch(root, df, "batch")
    for _ in range(max_retries):
        parent = current_snapshot_id(root)
        manifest = (
            read_snapshot(root, parent)["manifest"] + batch
            if parent is not None
            else list(batch)
        )
        try:
            return _publish_snapshot(root, manifest, parent, op="append")
        except ConflictError:
            continue
    raise ConflictError(
        f"commit_append lost the publish race {max_retries} times in {root}"
    )


# null-warc_ts rows get a sentinel partition so the manifest never holds
# a bogus 'ts_day=None' path pointing at nothing; ANY dated scan bound
# (min or max) excludes it, matching SQL/Iceberg semantics where NULL
# fails every range predicate — only unfiltered scans read it
NULL_TS_DAY = "~null"


def _write_batch(root: str, df: DataFrame, prefix: str) -> list[dict]:
    """Stage a partitioned data batch and return its manifest entries —
    the one write path shared by the append and rewrite commits. An
    empty batch writes no ts_day= directory and hence yields an empty
    entry list, so an empty append publishes a no-op snapshot instead of
    crashing the crawler."""
    staged = df.withColumn(
        "ts_day",
        F.coalesce(F.date_format("warc_ts", "yyyy-MM-dd"), F.lit(NULL_TS_DAY)),
    ).repartition(F.col("ts_day"))
    batch_id = uuid.uuid4().hex[:12]
    data_path = os.path.join(root, "data", f"{prefix}-{batch_id}")
    # mode("error"): the batch directory is this write's alone, so the
    # ts_day= directories under it are exactly what it wrote. Their row
    # counts come from the written files' parquet footers (Iceberg takes
    # DataFile row counts from the writer, not from a re-scan), so the
    # manifest states what is on disk even if the source recomputes
    staged.write.mode("error").partitionBy("ts_day").parquet(data_path)
    # day-granular pruning keys only: finer per-partition ts bounds were
    # once computed here but never consulted by scan(), so they were
    # dropped — dead stats invite a reader to trust bounds nothing
    # validates (parquet row-group stats give the finer pruning anyway)
    entries = []
    for path in sorted(glob.glob(os.path.join(glob.escape(data_path), "ts_day=*"))):
        rows = sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in glob.glob(os.path.join(glob.escape(path), "*.parquet"))
        )
        entries.append({"path": path, "ts_day": path.rsplit("ts_day=", 1)[1], "rows": rows})
    return entries


def scan(
    spark: SparkSession,
    root: str,
    snapshot_id: str | None = None,
    ts_day_min: str | None = None,
    ts_day_max: str | None = None,
    entries: list[dict] | None = None,
) -> DataFrame:
    """Snapshot-pinned scan with manifest-level partition pruning: only
    partition directories whose ts_day intersects the requested range
    are handed to the Spark reader — pruning before the scan, like
    Iceberg's manifest filtering. Parquet row-group pruning still
    applies on top for pushed filters. `entries` (e.g. the delta from
    added_paths_since) replaces the snapshot's manifest."""
    if entries is None:
        entries = read_snapshot(root, snapshot_id)["manifest"]
    if ts_day_min is not None or ts_day_max is not None:
        # NULL warc_ts fails every range predicate (SQL/Iceberg filter
        # semantics) — the sentinel sorts above real dates, so without
        # this a lower-bounded scan would return null-ts rows
        entries = [e for e in entries if e["ts_day"] != NULL_TS_DAY]
    if ts_day_min is not None:
        entries = [e for e in entries if e["ts_day"] >= ts_day_min]
    if ts_day_max is not None:
        entries = [e for e in entries if e["ts_day"] <= ts_day_max]
    if not entries:
        return spark.createDataFrame([], PAGES_SCHEMA)
    paths = [e["path"] for e in entries]
    return spark.read.schema(PAGES_SCHEMA).parquet(*paths)


def snapshot_row_count(root: str, snapshot_id: str | None = None) -> int:
    return sum(e["rows"] for e in read_snapshot(root, snapshot_id)["manifest"])


def added_paths_since(
    root: str, current_sid: str, cursor_sid: str | None
) -> list[dict]:
    """Manifest entries APPENDED between `cursor_sid` (exclusive) and
    `current_sid` (inclusive): walks the snapshot chain collecting each
    append snapshot's delta against its parent and skipping `rewrite`
    snapshots entirely — a compaction rewrites every path but adds no
    logical rows, so a raw path-set diff would re-emit the whole table.
    Raises ValueError when the cursor is not on the chain (e.g. expired
    by expire_snapshots): the consumer must re-baseline explicitly rather
    than silently reprocess everything.

    A None cursor is a FULL BASELINE: snapshots carry complete manifests,
    so the baseline is simply the current snapshot's manifest — walking
    append deltas here would silently drop every row a rewrite snapshot
    (compact_data_files) had compacted away, losing the pre-compaction
    corpus for any consumer that baselines after maintenance."""
    if cursor_sid is None:
        return list(read_snapshot(root, current_sid)["manifest"])
    chain = []
    sid = current_sid
    while sid is not None and sid != cursor_sid:
        snap = read_snapshot(root, sid)
        chain.append(snap)
        sid = snap.get("parent")
    if cursor_sid is not None and sid != cursor_sid:
        raise ValueError(
            f"cursor snapshot {cursor_sid} is not an ancestor of "
            f"{current_sid} (expired or foreign lineage)"
        )
    added = []
    for snap in reversed(chain):
        if snap.get("operation", "append") != "append":
            continue
        parent_paths: set[str] = set()
        if snap.get("parent") is not None:
            parent_paths = {
                e["path"] for e in read_snapshot(root, snap["parent"])["manifest"]
            }
        added.extend(e for e in snap["manifest"] if e["path"] not in parent_paths)
    return added


# ------------------------------------------------- table maintenance
# The two jobs every append-heavy crawl table needs at scale, with the
# Iceberg semantics: compaction rewrites small files into a new REWRITE
# snapshot (logical content unchanged, old snapshots still readable —
# time travel keeps working), and snapshot expiry drops old metadata plus
# any data files no retained snapshot references.


class ConflictError(RuntimeError):
    """A concurrent writer advanced `current` past the parent this
    commit was built on (Iceberg's CommitFailedException)."""


# publish-protocol knobs. LOCK_WAIT must exceed STALE_LOCK_TTL: a
# writer that crashes mid-publish leaves an orphan lock that nobody can
# steal until the TTL elapses — with a shorter wait, every commit
# arriving in that window would TimeoutError (and commit_append retries
# only ConflictError), so appends would fail outright for up to a
# minute after a crash. With wait > TTL, any single waiter outlives the
# orphan, steals it, and commits.
STALE_LOCK_TTL_SEC = 60.0
LOCK_WAIT_SEC = 90.0

# swappable storage primitives (local FS by default; S3/HDFS mapping in
# commit_backend.py). Module-level so tests/jobs can substitute a
# fault-injecting or object-store backend for EVERY publish.
BACKEND: commit_backend.CommitBackend = commit_backend.LocalFSBackend()


def _publish_snapshot(
    root: str,
    manifest: list[dict],
    parent: str | None,
    op: str,
    backend: commit_backend.CommitBackend | None = None,
) -> str:
    """Atomic snapshot publish (shared by append and rewrite commits)
    with compare-and-swap semantics on the current pointer: the pointer
    update happens under an exclusive lock file and only if `current`
    still equals the parent the manifest was derived from. Without the
    check, two writers reading the same parent would last-writer-win the
    pointer and silently drop the loser's committed rows — whose data
    files the orphan sweep would later delete. Stale locks (a writer
    killed mid-publish) expire after STALE_LOCK_TTL_SEC; the critical
    section is two metadata file writes, so a live writer holds it for
    milliseconds. All storage touches go through a CommitBackend (see
    commit_backend.py for the exclusive-create / atomic-swap /
    single-winner-steal contract and its S3/HDFS mapping); the lock
    carries this writer's token so release can never remove a stealer's
    fresh lock."""
    backend = backend or BACKEND
    batch_id = uuid.uuid4().hex[:12]
    sid = f"{int(time.time() * 1000)}-{batch_id}"
    snap = {
        "id": sid,
        "parent": parent,
        "operation": op,
        "manifest": manifest,
        "schema": "pages_v1",
    }
    lock = os.path.join(_meta_dir(root), "current.lock")
    token = uuid.uuid4().hex
    deadline = time.time() + LOCK_WAIT_SEC
    while not backend.create_exclusive(lock, token):
        # token BEFORE age: the steal decision must bind to one observed
        # instance. With age-first, a stale instance could be stolen and
        # replaced between the two reads, and steal_stale would then be
        # called with the FRESH lock's token — verifying cleanly against
        # the new owner and destroying a live lock (two writers in the
        # critical section). Token-first, the dangerous interleave makes
        # age read young (no steal) or trips steal_stale's ABA restore.
        observed = backend.read_token(lock)
        age = backend.age_sec(lock)
        if observed is not None and age is not None and age > STALE_LOCK_TTL_SEC:
            try:
                if backend.steal_stale(lock, observed):
                    continue  # freed: retry create immediately
            except commit_backend.StealRestoreError:
                pass  # exclusion in doubt: fall through to re-poll
        # deadline + sleep on EVERY non-winning iteration — a lock that
        # stays stale-looking while steals keep losing (e.g. an orphaned
        # claim) must end in TimeoutError, never a hot spin
        if time.time() > deadline:
            raise TimeoutError(f"could not acquire {lock}")
        time.sleep(0.05)
    try:
        if current_snapshot_id(root) != parent:
            raise ConflictError(
                f"current snapshot moved past parent {parent!r} in {root}"
            )
        snap_path = os.path.join(_meta_dir(root), f"snap-{sid}.json")
        tmp = snap_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(snap, f)
        backend.atomic_swap(tmp, snap_path)
        cur_tmp = os.path.join(_meta_dir(root), "current.tmp")
        with open(cur_tmp, "w") as f:
            f.write(sid)
        backend.atomic_swap(cur_tmp, os.path.join(_meta_dir(root), "current"))
        return sid
    finally:
        backend.release(lock, token)


def compact_data_files(spark: SparkSession, root: str) -> str:
    """Rewrite the current snapshot's data into one file set per ts_day
    (Iceberg's rewrite_data_files): many small append batches -> one
    batch directory, manifest entries collapse to one per partition.
    Logical content is untouched — the new snapshot's rows hash-match the
    old (tested), and prior snapshots keep reading their original files
    until expire_snapshots drops them. Raises ConflictError when a
    concurrent append advances `current` mid-rewrite — the rewrite is
    stale against the new rows; rerun maintenance (an automatic retry
    would need a fresh scan anyway)."""
    parent = current_snapshot_id(root)
    df = scan(spark, root, snapshot_id=parent)
    manifest = _write_batch(root, df, "compact")
    return _publish_snapshot(root, manifest, parent, op="rewrite")


def expire_snapshots(
    root: str, keep_last: int = 2, orphan_ttl_sec: float = 86400.0
) -> dict:
    """Drop all but the newest `keep_last` snapshots on the current
    lineage, then delete the data partitions they referenced (when no
    retained snapshot shares them) plus any unreferenced batch directory
    older than `orphan_ttl_sec` (Iceberg's expire_snapshots + orphan
    cleanup; the TTL keeps an in-flight append's staged-but-unpublished
    batch safe). Returns {kept, expired, deleted_paths}; expired snapshot
    ids are no longer readable — incremental consumers whose cursor
    points at an expired snapshot must re-baseline."""
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    chain = []
    sid = current_snapshot_id(root)
    while sid is not None:
        snap = read_snapshot(root, sid)
        chain.append(snap)
        sid = snap.get("parent")
    kept, expired = chain[:keep_last], chain[keep_last:]
    live_paths = {e["path"] for s in kept for e in s["manifest"]}
    # resolve to real paths before any existence/prefix comparison: the
    # invocation may spell `root` differently from the manifests
    # (relative vs absolute, symlinked) and a spelling mismatch must
    # never make a LIVE batch dir look unreferenced (silent data loss)
    live_real = {os.path.realpath(p) for p in live_paths}
    deleted = []
    for s in expired:
        for e in s["manifest"]:
            if os.path.realpath(e["path"]) not in live_real and os.path.exists(e["path"]):
                shutil.rmtree(e["path"], ignore_errors=True)
                deleted.append(e["path"])
        os.remove(os.path.join(_meta_dir(root), f"snap-{s['id']}.json"))
    # the oldest kept snapshot's parent no longer exists — rewrite its
    # JSON via tmp+rename like every other metadata write (a torn
    # in-place write could brick the current snapshot)
    if expired and kept:
        oldest = kept[-1]
        oldest["parent"] = None
        snap_path = os.path.join(_meta_dir(root), f"snap-{oldest['id']}.json")
        tmp = snap_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(oldest, f)
        os.rename(tmp, snap_path)
    # unreferenced batch dirs: only reap those older than the TTL — a
    # fresh unreferenced dir may be an IN-FLIGHT commit_append that has
    # staged data but not yet published its snapshot (Iceberg's orphan
    # cleanup uses an older-than cutoff for the same race)
    data_root = os.path.join(root, "data")
    now = time.time()
    for d in os.listdir(data_root) if os.path.isdir(data_root) else []:
        full = os.path.join(data_root, d)
        full_real = os.path.realpath(full)
        if (
            os.path.isdir(full)
            and not any(
                p == full_real or p.startswith(full_real + os.sep) for p in live_real
            )
            and now - os.path.getmtime(full) > orphan_ttl_sec
        ):
            if os.path.islink(full):
                # drop the dangling LINK only — never rmtree through a
                # symlink into storage outside the table root
                os.remove(full)
            else:
                shutil.rmtree(full, ignore_errors=True)
    return {
        "kept": [s["id"] for s in kept],
        "expired": [s["id"] for s in expired],
        "deleted_paths": sorted(deleted),
    }
