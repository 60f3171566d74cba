"""Lake metadata core: which files a read covers, and through which column
projection — shared by every read surface (``LakeTable.read`` /
``read_changes`` / ``ChangeFeedReader`` on the JVM parquet path, and the
``lake_cdc`` source's per-file Arrow partitions), so the same snapshot span
yields the same rows whichever surface reads it.

It owns snapshot loading (plus the format gate), the snapshot-span walk,
the per-era field-id projection, tag resolution, the key → bucket hash and
manifest-level file pruning. Each surface only decides how to read the
files this module picks.

Pure stdlib (plus ``manifests`` / ``stats``) on purpose: the streaming
source's driver and executors use it without a SparkSession.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass

from . import manifests
from .stats import _stats_keep

# Format 2 guarantees what every reader here relies on: field ids
# (``columns`` / ``next_column_id`` / ``schemas``), an era tag ``sv`` and a
# byte size ``bytes`` on every file entry, ``num_buckets`` on every
# snapshot, and one file per tag under ``_manifests/_refs/``.
FORMAT_VERSION = 2


def manifest_dir(root: str) -> str:
    return os.path.join(root, "_manifests")


# ---------------- snapshots ----------------


def current_version(root: str) -> int | None:
    """The current snapshot version, or None for a table with none: the
    newest ``v<N>.json``, found from the ``_current`` hint by probing
    forward. A snapshot file is committed once created, so a hint a crash
    or a racing writer left behind only costs the probe a step."""
    mdir = manifest_dir(root)
    v = manifests.read_pointer(manifests.pointer_path(mdir)) or 0
    while os.path.exists(manifests.snapshot_path(mdir, v + 1)):
        v += 1
    return v or None


def snapshot(root: str, version: int | None = None) -> dict | None:
    """A retained snapshot (default: the current one), inflated to the
    inline ``files`` / ``applied_batches`` shape; None for a table with no
    snapshot. Raises FileNotFoundError for an expired version (span walks
    rely on that to fall back) and ValueError for a manifest older than
    FORMAT_VERSION."""
    if version is None:
        version = current_version(root)
        if version is None:
            return None
    snap = manifests.load_snapshot(manifest_dir(root), version)
    fmt = snap.get("format_version", 0)
    if fmt < FORMAT_VERSION:
        raise ValueError(
            f"{root}: snapshot v{version} has manifest format {fmt}; this engine "
            f"reads format {FORMAT_VERSION} and later only — rewrite the table"
        )
    return snap


# ---------------- tags (named snapshot refs) ----------------

_TAG_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9._-]*")


def check_tag_name(name: str) -> None:
    """Reject a tag name that is not a plain file name. Names are joined
    into ``_refs/<name>.json``, so an unchecked '../v00000001' would escape
    the refs dir — every path that takes a name from outside checks first."""
    if not _TAG_NAME.fullmatch(name):
        raise ValueError(
            f"invalid tag name {name!r}: use letters, digits, '.', '_', '-' "
            "(must not start with '.')"
        )


def tags(root: str) -> dict[str, dict]:
    out: dict[str, dict] = {}
    refs = manifests.refs_dir(manifest_dir(root))
    try:
        entries = os.listdir(refs)
    except FileNotFoundError:
        return out
    for fn in entries:
        if fn.endswith(".json") and not fn.startswith("."):
            try:
                with open(os.path.join(refs, fn)) as f:
                    out[fn[:-5]] = json.load(f)
            except (OSError, json.JSONDecodeError):
                continue  # racing delete
    return out


def resolve_tag(root: str, name: str) -> int:
    check_tag_name(name)
    try:
        with open(manifests.tag_path(manifest_dir(root), name)) as f:
            return int(json.load(f)["version"])
    except (OSError, ValueError, KeyError, TypeError):
        raise ValueError(f"unknown tag {name!r}") from None


def endpoint(root: str, version: int | None, tag: str | None, names=("version", "tag")) -> int | None:
    """A snapshot endpoint given as a version or as a tag name, not both."""
    if tag is None:
        return version
    if version is not None:
        raise ValueError(f"pass {names[0]} or {names[1]}, not both")
    return resolve_tag(root, tag)


# ---------------- spans ----------------


@dataclass(frozen=True)
class Span:
    """The data files a change read of ``(frm, to]`` covers.

    ``eras`` is the era map merged over every manifest the walk visited: a
    fold inside the span can prune a superseded delta file's era from the
    END manifest while the walk still delivers that file."""

    files: list[dict]
    snap: dict
    eras: dict[str, list[dict]]


def span(root: str, frm: int | None, to: int | None = None) -> Span:
    """Files added in the snapshot span ``(frm, to]`` (``to`` default: the
    current snapshot; ``frm`` None or 0: the whole table as of ``to``).

    The walk visits every manifest in the span and keeps each NON-rewrite
    file added anywhere in it: maintenance rewrites (fold, compact,
    rebucket) carry the same logical content, so a fold between polls
    yields nothing — while delta files an in-span fold superseded are
    still delivered (the endpoint diff alone would lose them; they stay
    readable while their manifests are retained). If an intermediate
    manifest was expired, the span falls back to the endpoint diff
    INCLUDING rewrites: a full redelivery an idempotent downstream
    absorbs, never silent loss."""
    new = snapshot(root, to)
    if new is None:
        raise ValueError("table has no snapshot yet")
    if not frm:
        return Span(list(new["files"]), new, new["schemas"])
    old_paths = {f["path"] for f in snapshot(root, frm)["files"]}
    added: dict[str, dict] = {}
    eras = dict(new["schemas"])
    prev = old_paths
    try:
        for v in range(frm + 1, new["snapshot_id"] + 1):
            s = snapshot(root, v)
            for sv, cols in s["schemas"].items():
                eras.setdefault(sv, cols)
            for f in s["files"]:
                if f["path"] not in prev and not f.get("rewrite"):
                    added.setdefault(f["path"], f)
            prev = {f["path"] for f in s["files"]}
    except FileNotFoundError:
        diff = [f for f in new["files"] if f["path"] not in old_paths]
        return Span(diff, new, new["schemas"])
    return Span(list(added.values()), new, eras)


def projections(files: list[dict], eras: dict[str, list[dict]], cols: list[dict]) -> dict[tuple, list[dict]]:
    """``files`` grouped by the projection their schema era implies onto
    ``cols``: per column of ``cols`` (matched by field id), the physical
    name the file's era wrote it under, or None where the era has no such
    id — a column added later, or a dropped-then-re-added name whose fresh
    id old files never carried — which reads as NULL. Eras with no rename
    between them share a projection, so a never-renamed table is one
    group."""
    by_era: dict[str, tuple] = {}
    groups: dict[tuple, list[dict]] = {}
    for f in files:
        sv = str(f["sv"])
        if sv not in by_era:
            phys = {c["id"]: c["name"] for c in eras[sv]}
            by_era[sv] = tuple(phys.get(c["id"]) for c in cols)
        groups.setdefault(by_era[sv], []).append(f)
    return groups


# ---------------- key → bucket, file pruning ----------------

_XXP1, _XXP2, _XXP3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_XXP4, _XXP5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """Driver-side XXH64 (spec implementation), seed 42 = Spark's
    ``F.xxhash64`` default — so point lookups can compute a key's bucket
    without launching a Spark job. Parity with the write-path expression is
    pinned by ``tests/test_lake.py::test_driver_side_xxhash64_parity``."""
    n, i = len(data), 0
    if n >= 32:
        v1 = (seed + _XXP1 + _XXP2) & _M64
        v2 = (seed + _XXP2) & _M64
        v3 = seed
        v4 = (seed - _XXP1) & _M64
        while i + 32 <= n:
            for j, v in enumerate((v1, v2, v3, v4)):
                lane = int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little")
                v = _rotl((v + lane * _XXP2) & _M64, 31) * _XXP1 & _M64
                if j == 0:
                    v1 = v
                elif j == 1:
                    v2 = v
                elif j == 2:
                    v3 = v
                else:
                    v4 = v
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ (_rotl((v * _XXP2) & _M64, 31) * _XXP1 & _M64)) * _XXP1 + _XXP4) & _M64
    else:
        h = (seed + _XXP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        lane = int.from_bytes(data[i : i + 8], "little")
        h = ((_rotl(h ^ (_rotl((lane * _XXP2) & _M64, 31) * _XXP1 & _M64), 27) * _XXP1) + _XXP4) & _M64
        i += 8
    if i + 4 <= n:
        lane = int.from_bytes(data[i : i + 4], "little")
        h = ((_rotl(h ^ ((lane * _XXP1) & _M64), 23) * _XXP2) + _XXP3) & _M64
        i += 4
    while i < n:
        h = ((_rotl(h ^ ((data[i] * _XXP5) & _M64), 11)) * _XXP1) & _M64
        i += 1
    h = ((h ^ (h >> 33)) * _XXP2) & _M64
    h = ((h ^ (h >> 29)) * _XXP3) & _M64
    return h ^ (h >> 32)


def bucket_of(conv_id: str, num_buckets: int) -> int:
    """The bucket the write path's ``pmod(xxhash64(conv_id), num_buckets)``
    assigns ``conv_id`` — computed on the driver."""
    h = xxhash64(conv_id.encode("utf-8"))
    signed = h - (1 << 64) if h >= (1 << 63) else h
    return signed % num_buckets


def prune(
    files: list[dict],
    num_buckets: int,
    buckets: list[int] | None = None,
    conv_eq: str | None = None,
    ts_lo: int | None = None,
) -> list[dict]:
    """The files that can hold a row in ``buckets`` with ``conv_id ==
    conv_eq`` and ``ts >= ts_lo`` (epoch-µs). A file is dropped only when
    it PROVABLY holds none: by the key's bucket under ``num_buckets`` (the
    count the files are numbered under) or by its manifest-stamped
    [min, max] stats — missing stats mean must-scan. Callers still filter
    rows: pruning saves IO, it never owns correctness."""
    want = None if buckets is None else set(buckets)
    if conv_eq is not None:
        b = {bucket_of(conv_eq, num_buckets)}
        want = b if want is None else want & b
    return [
        f
        for f in files
        if (want is None or f["bucket"] in want)
        and (conv_eq is None or _stats_keep(f, "conv_id", conv_eq, conv_eq))
        and (ts_lo is None or _stats_keep(f, "ts", lo=ts_lo))
    ]
