"""Table maintenance: bucket compaction + tombstone GC.

Copy-on-write MERGE rewrites the touched bucket wholly, so steady-state is
~1 file/bucket — but crash reruns and schema-evolution snapshots can strand
small files, tombstones accumulate forever without GC (one per deleted key),
and merge-on-read commits accumulate one delta file per touched bucket per
batch by design (read cost grows with deltas until a fold).

``compact`` rewrites chosen buckets into fresh files, optionally dropping
tombstones whose change_lsn is below every bucket's high-watermark minus a
safety horizon. Dropping a tombstone is safe once no replayable event below
its LSN can still arrive — with batch replay that is any LSN at or below the
lowest committed high-watermark (events are delivered in LSN-ranged batches;
a batch is either fully committed or fully re-run). This mirrors snapshot
expiry in Iceberg and the reference's run-scoped manifest lifecycle
(RefinerComplete supersedes per-run state, lambda_function.py:276-295).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from . import manifests as _mf
from .table import LakeTable


# Transient scratch one fold commit may use: the resolved read, its
# shuffle and the staged rewrite of one group of buckets. ``compact`` reads
# it at call time.
FOLD_SCRATCH_BYTES = 4 << 30


def compact(
    table: LakeTable,
    buckets: list[int] | None = None,
    drop_tombstones_below: int | None = None,
    post=None,
) -> dict:
    """Rewrite ``buckets`` as base files; optionally drop tombstones with
    change_lsn <= drop_tombstones_below. The default selection is every
    bucket when GC'ing, else every bucket that is not already compact: a
    bucket with a merge-on-read delta, or with several files that are not
    all from one rewrite commit. (A rewrite splits a big bucket at
    ``MAX_RECORDS_PER_FILE``, so a compact bucket can hold several files.)

    The rewrite is disk-bounded: reading + shuffling + staging the whole
    selection in ONE commit needs O(table) scratch on the shuffle/staging
    volume, which is exactly how a 10^9-event convergence fold dies with
    ENOSPC. So the selection is folded in groups of k buckets, one atomic
    snapshot commit per group, with k = FOLD_SCRATCH_BYTES ÷ the mean
    bytes per bucket of the current snapshot (at least 1) — scratch per
    commit is O(k·bucket). Every intermediate snapshot is a valid table
    (the groups partition the bucket set, and an un-folded bucket still
    LWW-resolves at read time), a crash between groups leaves the
    completed groups committed and the rest still pending (``should_fold``
    re-derives them), and the final state is row-identical to a one-shot
    fold. Returns {"group_buckets": k, "commits", "compacted_buckets",
    "snapshot_id" (the last commit's), "results" (one merge result per
    commit)}, or {"skipped": True, "reason"} when nothing needs folding.

    Folding MOR deltas happens for free: ``table.read`` LWW-resolves them,
    and the rewrite commits plain base files (``kind`` absent), so the
    read-time merge cost drops back to zero for the folded buckets.
    ``post`` (optional fn(DataFrame) -> DataFrame) runs over the resolved
    rows before the rewrite — the engine passes its display-enrichment
    recompute here so MOR batches' batch-local displays converge to the
    global view at fold time."""
    snap = table.current_snapshot()
    if snap is None:
        return {"skipped": True, "reason": "no snapshot"}

    by_bucket: dict[int, list[dict]] = {}
    for f in snap["files"]:
        by_bucket.setdefault(f["bucket"], []).append(f)
    if buckets is None:
        if drop_tombstones_below is not None:
            buckets = sorted(by_bucket)
        else:
            buckets = sorted(b for b, files in by_bucket.items() if not _is_compact(files))
    if not buckets:
        return {"skipped": True, "reason": "nothing to compact"}

    per_bucket = max(1, sum(f["bytes"] for f in snap["files"]) // snap["num_buckets"])
    k = max(1, FOLD_SCRATCH_BYTES // per_bucket)
    stamp = f"compact-{snap['snapshot_id']}-{int(time.time() * 1000)}"
    results = [
        _rewrite(table, buckets[i : i + k], f"{stamp}-{i}", drop_tombstones_below, post)
        for i in range(0, len(buckets), k)
    ]
    return {
        "group_buckets": k,
        "commits": len(results),
        "compacted_buckets": len(buckets),
        "snapshot_id": results[-1]["snapshot_id"],
        "results": results,
    }


def _is_compact(files: list[dict]) -> bool:
    """One bucket's files are one base file, or all from one rewrite
    commit (a commit writes one directory per bucket): rewriting them
    would write the same files again."""
    if len(files) == 1:
        return files[0].get("kind", "base") != "delta"
    dirs = {os.path.dirname(f["path"]) for f in files}
    return len(dirs) == 1 and all(f.get("rewrite") for f in files)


def _rewrite(
    table: LakeTable, buckets: list[int], batch_id: str, drop_tombstones_below, post
) -> dict:
    """One commit of ``compact``: rewrite ``buckets`` as one base file each."""
    # Fold pipeline shape (measured A/B in OPTIMIZATION_r06.md): the
    # resolved read keeps the LWW's map-side PARTIAL reduce — fold input
    # has high per-key multiplicity (base + one winner per touching delta
    # commit), so combining before the exchange shrinks the shuffle ~3×
    # (a raw-read/complete-agg variant measured 2× slower). The resolved
    # winners are PERSISTed so the display-enrichment pass — whose
    # narrative-index branch is a second consumer of the same subtree —
    # reads them once instead of re-running the scan + reduce, and the
    # rewrite commits with mode="rewrite" so merge skips its own
    # (redundant) re-reduce of already-unique rows.
    df = table.read(buckets=buckets, include_tombstones=True)
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    out = df
    if drop_tombstones_below is not None:
        out = out.where(
            ~(F.col("_deleted") & (F.col("change_lsn") <= drop_tombstones_below))
        )
    if post is not None:
        out = post(out)

    # A rewrite commit: the filtered read IS the new bucket content (rows
    # are already LWW winners); merge lays out the files, stamps their
    # footer stats and leaves the watermarks alone.
    try:
        res = table.merge(out, batch_id, touched_buckets=buckets, mode="rewrite")
    finally:
        df.unpersist()
    res["compacted_buckets"] = len(buckets)
    return res


def expire_snapshots(table: LakeTable, keep_last: int = 5) -> dict:
    """Bound the time-travel horizon (≙ Iceberg expire_snapshots): delete
    manifest files older than the newest ``keep_last``, never the current.
    Data files that only expired snapshots referenced become orphans and
    are reclaimed by the next ``gc_orphans`` (which scans every RETAINED
    manifest, so retained history stays readable)."""
    cur = table._current_version()
    if cur is None:
        return {"expired": 0}
    # Tagged snapshots are pinned outside the horizon: a tag is a
    # reproducibility promise ("training run X read exactly this"), so it
    # and its data files survive until the tag is deleted.
    pinned = {int(t["version"]) for t in table.tags().values()}
    expired = 0
    for v in _mf.versions(table._manifest_dir):
        if v != cur and v <= cur - keep_last and v not in pinned:
            os.remove(_mf.snapshot_path(table._manifest_dir, v))
            expired += 1
    return {"expired": expired, "keep_last": keep_last, "current": cur, "pinned": sorted(pinned)}


def _retained_references(table: LakeTable) -> tuple[set[str], set[str]]:
    """(data-file paths, manifest-segment paths) referenced by ANY
    retained manifest. GC must honor the full retained history, not just
    the current snapshot — otherwise compaction + GC would tear files out
    from under time travel (``read(version=...)``) and incremental
    scans. Segment paths are collected from the RAW manifests so GC can
    also sweep segments orphaned by expire or a conflict."""
    refs: set[str] = set()
    seg_refs: set[str] = set()
    for _v, raw, snap, _err in _mf.retained(table._manifest_dir):
        if raw is not None:
            seg_refs.update(_mf.segment_refs(raw))
        if snap is not None:
            refs.update(f["path"] for f in snap["files"])
    return refs, seg_refs


def gc_orphans(table: LakeTable, min_age_sec: float = 3600.0) -> dict:
    """Remove data files not referenced by any retained snapshot: commit
    dirs orphaned by a crash before commit or by a SnapshotConflict loser,
    stale staging dirs, and data files whose only referencing snapshots
    were expired (``expire_snapshots``); plus orphaned manifest segments
    and the temp files a crashed metadata publish left under
    ``_manifests/`` and ``_refs/``. ``min_age_sec`` guards in-flight
    writers (an uncommitted dir or file younger than the horizon is left
    alone). ≙ Iceberg's remove_orphan_files."""
    import shutil

    referenced, referenced_segs = _retained_references(table)
    now = time.time()
    removed_dirs, removed_files = 0, 0

    def remove_stale(p: str) -> int:
        try:  # gone since the listing (a publish removes its own temp)
            if now - os.path.getmtime(p) >= min_age_sec:
                os.remove(p)
                return 1
        except FileNotFoundError:
            pass
        return 0

    # Manifest segments (lake/manifests.py) orphaned by expire_snapshots
    # or a SnapshotConflict loser: a segment is live while
    # any retained v*.json references it; the age guard protects segments
    # written by an in-flight commit whose snapshot file isn't down yet,
    # and the temps of publishes still in flight.
    removed_segs, removed_temps = 0, 0
    for fn in os.listdir(table._manifest_dir):
        if _mf.SEGMENT_FILE.fullmatch(fn) and fn not in referenced_segs:
            removed_segs += remove_stale(os.path.join(table._manifest_dir, fn))
    for d in (table._manifest_dir, _mf.refs_dir(table._manifest_dir)):
        for fn in os.listdir(d) if os.path.isdir(d) else ():
            if fn.startswith(_mf.TEMP_PREFIX):
                removed_temps += remove_stale(os.path.join(d, fn))

    for token_dir in os.listdir(table._staging_dir):
        p = os.path.join(table._staging_dir, token_dir)
        # Age by the NEWEST mtime under the dir, not the dir's own: an
        # in-flight Spark write keeps creating task files, so a long write
        # (longer than min_age_sec) still reads as active and can't have
        # its staging torn out from under the commit's finalize rename.
        newest = os.path.getmtime(p)
        for dirpath, _dirs, files in os.walk(p):
            for fn in files:
                try:
                    newest = max(newest, os.path.getmtime(os.path.join(dirpath, fn)))
                except OSError:
                    newest = now  # file churned mid-walk => writer active
        if now - newest >= min_age_sec:
            shutil.rmtree(p, ignore_errors=True)
            removed_dirs += 1

    data_dir = table._data_dir
    for entry in os.listdir(data_dir):
        p = os.path.join(data_dir, entry)
        if not os.path.isdir(p):
            continue  # data/ holds only per-commit dirs
        prefix = f"data/{entry}/"
        if any(r.startswith(prefix) for r in referenced):
            # Partially referenced commit dir (e.g. compaction superseded
            # some of its buckets): remove just the unreferenced files.
            for dirpath, _dirs, files in os.walk(p):
                for fn in files:
                    fp = os.path.join(dirpath, fn)
                    if fn.endswith(".parquet") and os.path.relpath(fp, table.root) not in referenced:
                        removed_files += remove_stale(fp)
            continue
        if now - os.path.getmtime(p) >= min_age_sec:
            shutil.rmtree(p, ignore_errors=True)
            removed_dirs += 1
    return {
        "removed_dirs": removed_dirs,
        "removed_files": removed_files,
        "removed_segments": removed_segs,
        "removed_temp_files": removed_temps,
    }


def rebucket(table: LakeTable, new_num_buckets: int) -> dict:
    """Partition evolution (≙ Iceberg partition-spec evolution): rewrite
    the table under a new ``num_buckets``. A bucket count sized for 1 TB
    strangles a 100 TB table (each MERGE's per-bucket files grow without
    bound, hot buckets stop splitting), so the count must be able to grow
    with the table. One full-table rewrite, like Iceberg's — but a single
    snapshot commit, atomically switching readers and writers to the new
    layout; pending MOR deltas are resolved and folded in on the way.

    Watermarks: old per-bucket watermarks are keyed by dead bucket ids;
    the rewrite commit (``merge(mode="rewrite")``) sees the bucket count
    change and gives every new bucket the MINIMUM old watermark (each new
    bucket mixes rows from many old buckets, so the only claim that stays
    true per-bucket is the weakest one — conservative, GC-safe:
    min_safe_gc_lsn is unchanged by the rewrite)."""
    snap = table.current_snapshot()
    if snap is None:
        return {"skipped": True, "reason": "no snapshot"}
    if int(new_num_buckets) == table.num_buckets:
        return {"skipped": True, "reason": "same bucket count"}
    old_buckets = sorted({f["bucket"] for f in snap["files"]})
    if not old_buckets:
        return {"skipped": True, "reason": "empty table"}

    # same shape as compact: resolved read (partial reduce before the
    # exchange), then a rewrite commit under the new bucket count
    df = table.read(include_tombstones=True)
    old_n = table.num_buckets
    table.num_buckets = int(new_num_buckets)
    try:
        res = table.merge(
            df,
            f"rebucket-{snap['snapshot_id']}-{old_n}to{new_num_buckets}",
            touched_buckets=old_buckets,
            mode="rewrite",
        )
    except Exception:
        table.num_buckets = old_n
        raise
    res["num_buckets"] = int(new_num_buckets)
    return res


# A bucket folds once it holds more than this many pending delta commits.
FOLD_THRESHOLD = 8


def should_fold(table: LakeTable, max_deltas_per_bucket: int = FOLD_THRESHOLD) -> list[int]:
    """Fold-scheduling policy for merge-on-read tables: the buckets whose
    pending delta commits exceed the threshold. Read-time merge cost
    grows with deltas per bucket (every read of the bucket re-reduces
    them), so a bounded threshold bounds read amplification. ``fold_due``
    is the one caller that acts on it: it compacts exactly these buckets
    instead of sweeping the whole table. A commit counts once per bucket
    however many files it wrote there (``merge`` salts a hot bucket into
    up to 4), so the threshold is a number of batches for every bucket."""
    snap = table.current_snapshot()
    if snap is None:
        return []
    commits: dict[int, set[str]] = {}
    for f in snap["files"]:
        if f.get("kind", "base") == "delta":
            # each commit writes its own directory per bucket
            commits.setdefault(f["bucket"], set()).add(os.path.dirname(f["path"]))
    return sorted(b for b, dirs in commits.items() if len(dirs) > max_deltas_per_bucket)


def fold_due(table: LakeTable, fold=None, max_deltas_per_bucket: int = FOLD_THRESHOLD):
    """The one fold trigger, called by every merge-on-read writer after
    it commits: the auto replay, both streams and the rollup refresh.
    Folds the buckets ``should_fold`` finds over the threshold with
    ``fold(buckets)`` (default ``compact(table, buckets=buckets)``; the
    engine passes ``fold_deltas``, which also recomputes displays).
    It reads the current snapshot, so it also folds what a crash between
    an earlier commit and its fold left behind. Returns the fold's
    result, or None when nothing was due."""
    buckets = should_fold(table, max_deltas_per_bucket)
    if not buckets:
        return None
    if fold is None:
        return compact(table, buckets=buckets)
    return fold(buckets)


def min_safe_gc_lsn(table: LakeTable) -> int | None:
    """Highest LSN safely GC-able: the minimum committed per-bucket
    high-watermark (no replay can deliver an uncommitted event at or below
    it)."""
    snap = table.current_snapshot()
    if not snap or not snap["watermarks"]:
        return None
    return min(int(v) for v in snap["watermarks"].values())


def verify_table(table: LakeTable) -> dict:
    """Metadata consistency check (≙ an fsck for the lake format, the ops
    tool you run before trusting a restored/migrated table): walks every
    RETAINED manifest driver-side — no Spark jobs, no data reads beyond
    stat() — and reports structural violations instead of letting them
    surface later as wrong query results.

    Checks, per retained snapshot: every referenced manifest segment
    exists and parses; every data-file entry exists on disk with the
    recorded byte size; every file's schema era (``sv``) resolves in the
    snapshot's era map; bucket ids fit the snapshot's ``num_buckets``.
    Chain-level: the parent chain links consistently across retained
    manifests, and per-bucket watermarks never regress child→parent.
    Returns {"ok": bool, "snapshots_checked": n, "files_checked": n,
    "issues": [str...]} — empty issues on a healthy table."""
    issues: list[str] = []
    snaps: dict[int, dict] = {}
    raws: dict[int, dict] = {}
    for v, raw, snap, err in _mf.retained(table._manifest_dir):
        if raw is not None:
            raws[v] = raw
            for seg in sorted(_mf.segment_refs(raw)):
                if not os.path.exists(os.path.join(table._manifest_dir, seg)):
                    issues.append(f"v{v}: missing segment {seg}")
        if snap is not None:
            snaps[v] = snap
        else:
            issues.append(f"v{v}: {err}")

    files_checked = 0
    for v, snap in snaps.items():
        eras = set(snap.get("schemas", {}))
        nb = int(snap.get("num_buckets", 0))
        for f in snap["files"]:
            files_checked += 1
            p = os.path.join(table.root, f["path"])
            if not os.path.exists(p):
                issues.append(f"v{v}: missing data file {f['path']}")
            elif os.path.getsize(p) != f.get("bytes"):
                issues.append(
                    f"v{v}: size mismatch {f['path']}: manifest {f.get('bytes')} "
                    f"disk {os.path.getsize(p)}"
                )
            if str(f.get("sv")) not in eras:
                issues.append(f"v{v}: file {f['path']} era sv={f.get('sv')} not in era map")
            if not (0 <= int(f["bucket"]) < nb):
                issues.append(f"v{v}: file {f['path']} bucket {f['bucket']} out of range {nb}")

    ordered = sorted(snaps)
    for v in ordered:
        parent = snaps[v].get("parent_id")
        if parent is not None and parent in snaps:
            if parent >= v:
                issues.append(f"v{v}: parent_id {parent} not older than child")
            pw = snaps[parent].get("watermarks", {})
            cw = snaps[v].get("watermarks", {})
            # watermarks may only regress across a rebucket (bucket ids renumber)
            if snaps[v].get("num_buckets") == snaps[parent].get("num_buckets"):
                for b, lsn in pw.items():
                    if b in cw and int(cw[b]) < int(lsn):
                        issues.append(f"v{v}: watermark regressed bucket {b}: {pw[b]} -> {cw[b]}")

    cur = table._current_version()
    if cur is not None and cur not in raws:
        issues.append(f"current version v{cur} (hint plus probe) is missing")
    for name, t in table.tags().items():
        if int(t["version"]) not in raws:
            issues.append(f"tag {name!r} pins missing v{t['version']}")

    return {
        "ok": not issues,
        "snapshots_checked": len(raws),
        "files_checked": files_checked,
        "issues": issues,
    }
