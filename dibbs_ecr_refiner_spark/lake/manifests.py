"""Segmented snapshot manifests: O(touched) metadata writes per commit.

The problem this solves (the 100 TB metadata bottleneck): a snapshot
manifest that inlines the full live-file list makes EVERY commit write
O(total files) of JSON — at millions of data files and ~10^5 commits the
driver spends more time serializing metadata than Spark spends on data,
and the manifest directory grows as O(commits × files). Iceberg's answer
is the manifest list: a commit writes only the manifest files it changed
and re-points at the rest (≙ Iceberg snapshot → manifest-list →
manifest-file indirection; same idea as Delta's checkpoint + JSON actions).

This module is that indirection for the lake, keyed by the table's own
partitioning unit — the bucket:

- a **file segment** (``_manifests/seg-*.json``) is an immutable JSON list
  of the data-file entries of ONE bucket at one point in time;
- a snapshot stores ``file_segments``: {bucket: {path, n}} instead of an
  inline ``files`` list. A commit rewrites only the segments of buckets it
  touched and carries every other bucket's segment BY PATH — so commit
  metadata cost is O(files in touched buckets), not O(all files);
- ``applied_batches`` (the exactly-once registry, which otherwise grows by
  one entry per batch forever and is re-serialized on every commit) is
  spilled the same way: the snapshot inlines only the most recent entries
  (``applied_recent``); once that exceeds ``APPLIED_SPILL_AT`` they are
  flushed to an immutable **applied segment** and the snapshot carries the
  segment chain (``applied_segments``) by path. Commit cost for the
  registry is O(spill threshold) amortized O(1) per batch.

Loading INFLATES a snapshot back to the historical in-memory shape —
``snap["files"]`` / ``snap["applied_batches"]`` — so every consumer
(reads, change-feed span walks, the streaming source, maintenance, the
metadata tables) is unchanged. Segments are immutable, so they are cached
per process (``_SEG_CACHE``); a span walk over k versions that share most
buckets parses each shared segment once, not k times.

Durability/GC contract: segments are written BEFORE the snapshot file
that references them (a crash or SnapshotConflict in between leaves an
orphaned segment — swept by ``maintenance.gc_orphans`` with its normal
age guard, exactly like orphaned data files). ``expire_snapshots`` only
removes ``v*.json``; a segment lives until NO retained snapshot references
it. Every format-2 manifest is segmented: an on-disk manifest with an
inline ``files`` list is rejected on load.

It also owns the ``_manifests/`` layout — ``v<NNNNNNNN>.json`` snapshots
(creating one commits that version), ``seg-<hex>.json`` segments,
``_refs/<name>.json`` tags, the ``_current`` version hint (a version at or
below the current one; ``meta.current_version`` probes forward from it) —
and the two ways a metadata file is published: a full temp file
(``TEMP_PREFIX``), then one step, so a reader never sees a torn file and a
crash leaves at most a temp (``gc_orphans`` sweeps it). ``create_if_absent``
hard-links it — immutable snapshots, segments, tags: a rename would silently
replace a racing winner's file. ``replace`` renames it — the ``_current``
hint and consumer cursors.

Pure stdlib on purpose: the streaming source's driver/executor code loads
snapshots through this module without a SparkSession.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from collections import OrderedDict

# Spill the exactly-once batch registry once the inline tail exceeds this.
# 64 entries ≈ a few KB of JSON — big enough that the segment chain grows
# slowly (1 per 64 commits), small enough that re-serializing the tail per
# commit is noise.
APPLIED_SPILL_AT = 64

_SEG_CACHE: OrderedDict[str, object] = OrderedDict()
_SEG_CACHE_MAX = 4096

SNAPSHOT_FILE = re.compile(r"v(\d{8})\.json")
SEGMENT_FILE = re.compile(r"seg-[0-9a-f]+\.json")
TEMP_PREFIX = ".tmp-"


def snapshot_path(manifest_dir: str, version: int) -> str:
    return os.path.join(manifest_dir, f"v{version:08d}.json")


def pointer_path(directory: str) -> str:
    """The version hint of a table's ``_manifests/``, or a config store's
    version pointer."""
    return os.path.join(directory, "_current")


def refs_dir(manifest_dir: str) -> str:
    return os.path.join(manifest_dir, "_refs")


def tag_path(manifest_dir: str, name: str) -> str:
    return os.path.join(refs_dir(manifest_dir), f"{name}.json")


def versions(manifest_dir: str) -> list[int]:
    """Every retained snapshot version, ascending."""
    return sorted(
        int(m.group(1)) for fn in os.listdir(manifest_dir) if (m := SNAPSHOT_FILE.fullmatch(fn))
    )


def _write_temp(path: str, text: str) -> str:
    """Write ``text`` to a fresh temp file next to ``path`` (same directory,
    so publishing never crosses a filesystem); returns the temp's path."""
    head, tail = os.path.split(path)
    tmp = os.path.join(head, f"{TEMP_PREFIX}{uuid.uuid4().hex}-{tail}")
    with open(tmp, "w") as f:
        f.write(text)
    return tmp


def create_if_absent(path: str, text: str) -> None:
    """Publish ``text`` at ``path`` unless a file is already there: the
    temp carries the full content before the hard link claims the name,
    and ``os.link`` raises FileExistsError if another writer holds it."""
    tmp = _write_temp(path, text)
    try:
        os.link(tmp, path)
    finally:
        os.remove(tmp)


def replace(path: str, text: str) -> None:
    """Publish ``text`` at ``path``, replacing any file there."""
    os.replace(_write_temp(path, text), path)


def read_pointer(path: str) -> int | None:
    """The int an int-pointer file holds, or None when there is none."""
    try:
        with open(path) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return None


def flip_pointer(path: str, value: int) -> None:
    replace(path, str(value))


def _load_segment(manifest_dir: str, rel: str):
    """Parsed content of an immutable segment file, process-cached."""
    path = os.path.join(manifest_dir, rel)
    hit = _SEG_CACHE.get(path)
    if hit is not None:
        _SEG_CACHE.move_to_end(path)
        return hit
    with open(path) as f:
        obj = json.load(f)
    _SEG_CACHE[path] = obj
    if len(_SEG_CACHE) > _SEG_CACHE_MAX:
        _SEG_CACHE.popitem(last=False)
    return obj


def _write_segment(manifest_dir: str, obj) -> str:
    """Write one immutable segment file; returns its manifest-relative
    path. Compact separators — segments are the bulk of metadata bytes."""
    rel = f"seg-{uuid.uuid4().hex[:16]}.json"
    final = os.path.join(manifest_dir, rel)
    create_if_absent(final, json.dumps(obj, separators=(",", ":")))
    _SEG_CACHE[final] = obj
    return rel


def inflate(manifest_dir: str, snap: dict | None) -> dict | None:
    """Resolve a raw on-disk snapshot to the in-memory shape: inline
    ``files`` and ``applied_batches`` reconstructed from segments. A raw
    manifest that inlines ``files`` is not a segmented manifest and raises
    ValueError. File-entry dicts are shallow-copied so callers may extend
    them (e.g. stats stamping on fresh entries) without poisoning the
    immutable segment cache."""
    if snap is None:
        return None
    if "files" in snap:
        raise ValueError(
            f"snapshot v{snap.get('snapshot_id')} inlines its file list; "
            "manifests are segmented (file_segments) — rewrite the table"
        )
    snap = dict(snap)
    files: list[dict] = []
    segs = snap.get("file_segments", {})
    for b in sorted(segs, key=int):
        files.extend(dict(f) for f in _load_segment(manifest_dir, segs[b]["path"]))
    snap["files"] = files
    applied: dict = {}
    for rel in snap.get("applied_segments", []):
        applied.update(_load_segment(manifest_dir, rel))
    applied.update(snap.get("applied_recent", {}))
    snap["applied_batches"] = applied
    return snap


def deflate(
    manifest_dir: str,
    manifest: dict,
    parent: dict | None,
    changed_buckets: set[int],
) -> dict:
    """The on-disk form of ``manifest``: ``files`` split into per-bucket
    segments (buckets outside ``changed_buckets`` reuse the parent
    snapshot's segment by path — zero bytes written for them) and
    ``applied_batches`` spilled past the inline tail. ``parent`` is the
    INFLATED parent snapshot, or None for the first commit. Parent
    segments are only reusable when the bucket layout is the same (a
    rebucket renumbers buckets, so nothing carries over)."""
    disk = dict(manifest)
    parent = parent or {}

    files = disk.pop("files")
    by_bucket: dict[int, list[dict]] = {}
    for f in files:
        by_bucket.setdefault(int(f["bucket"]), []).append(f)
    same_layout = parent.get("num_buckets") == manifest.get("num_buckets")
    parent_segs = parent.get("file_segments", {}) if same_layout else {}
    changed = {int(b) for b in changed_buckets} if parent_segs else set(by_bucket)
    segs: dict[str, dict] = {}
    for b, fs in sorted(by_bucket.items()):
        prev = parent_segs.get(str(b))
        if b not in changed and prev is not None:
            segs[str(b)] = prev
        else:
            segs[str(b)] = {"path": _write_segment(manifest_dir, fs), "n": len(fs)}
    disk["file_segments"] = segs

    applied = disk.pop("applied_batches")
    applied_segs = list(parent.get("applied_segments", []))
    # O(1) tail derivation: the inflated parent carries both the full
    # registry and its inline tail — the new tail is the parent's tail plus
    # this commit's new batch ids. Never touches the segment chain, so
    # commit cost stays flat at 10^6 applied batches.
    recent = dict(parent.get("applied_recent", {}))
    recent.update({k: v for k, v in applied.items() if k not in parent.get("applied_batches", {})})
    if len(recent) > APPLIED_SPILL_AT:
        applied_segs.append(_write_segment(manifest_dir, recent))
        recent = {}
    disk["applied_segments"] = applied_segs
    disk["applied_recent"] = recent
    return disk


def segment_refs(raw_snap: dict) -> set[str]:
    """Every segment path a RAW (on-disk) snapshot references — for GC:
    a segment is live while any retained snapshot lists it here."""
    refs = {s["path"] for s in raw_snap.get("file_segments", {}).values()}
    refs.update(raw_snap.get("applied_segments", []))
    return refs


def load_snapshot(manifest_dir: str, version: int) -> dict:
    """Load + inflate one snapshot by version. Raises FileNotFoundError
    for an expired version — span walks rely on that to fall back."""
    with open(snapshot_path(manifest_dir, version)) as f:
        return inflate(manifest_dir, json.load(f))


def retained(manifest_dir: str):
    """Every retained snapshot file as ``(version, raw, snap, error)``: its
    RAW on-disk JSON (None when unreadable), the inflated snapshot (None
    when the manifest or a segment it references is unreadable) and what
    failed. GC and fsck both walk this, so they agree on what is retained."""
    for v in versions(manifest_dir):
        raw = snap = err = None
        try:
            with open(snapshot_path(manifest_dir, v)) as f:
                raw = json.load(f)
            snap = inflate(manifest_dir, raw)
        except (OSError, json.JSONDecodeError) as exc:
            err = f"{'manifest' if raw is None else 'segment'} unreadable: {exc}"
        yield v, raw, snap, err
