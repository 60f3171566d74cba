"""Iceberg-shaped table format: parquet data files + atomic JSON snapshot
manifests, with bucket-level file pruning and an exactly-once MERGE.

No Iceberg/Delta jar exists in this sandbox, so the engine owns the commit
protocol (in-scope per the north rule: "exactly-once sink … from scratch").
The design mirrors, at lake scale, the reference's two commit artifacts:

- the ``RefinerComplete`` manifest written only after all outputs succeed
  (reference refiner/app/lambda/lambda_function.py:276-295) → our snapshot
  JSON, created only after all data files are in place, and only if no
  other writer created that version first;
- deterministic output identity making retries idempotent
  (reference refiner/app/services/ecr/augment.py:119-224) → our
  ``applied_batches`` registry + per-bucket high-watermark LSNs, making a
  re-delivered batch a no-op.

Layout::

    <root>/
      data/c<token>/_bucket=<b>/part-*.parquet   # immutable per-commit dirs
      _manifests/                                # snapshots, segments, tags,
                                                 # version hint: lake/manifests.py
      _staging/<token>/...                       # uncommitted writes

Commit-dir names carry a uuid token, not the snapshot version, so two
concurrent writers racing for the same snapshot_id write disjoint paths —
the loser's SnapshotConflict leaves an orphan dir (swept by
maintenance.gc_orphans), never a clobbered committed file. Finalize is a
single directory rename: cost independent of file count.

Scale properties:
- **Copy-on-write at bucket granularity.** ``conv_id`` hash-buckets the
  table; a MERGE reads and rewrites only the buckets its delta touches
  (file list comes from the manifest — no directory listing, no full scan).
  At 100 TB with enough buckets, a batch touching k buckets costs O(k),
  not O(table).
- **Merge-on-read mode** (``merge(mode="mor")``): the batch's refined
  winners are committed as *delta* files (``kind: "delta"`` in the
  manifest) without rewriting the touched buckets — write cost O(batch),
  not O(touched buckets). ``read()`` detects delta files and resolves LWW
  at read time (the same hash-agg as the write path); ``maintenance.
  compact`` folds deltas back into base files. This is the Iceberg
  COW-vs-MOR trade: MOR for write-heavy ingest phases (10^10-event
  backfill), fold + COW for read-heavy steady state. Physical storage
  holds ≤1 row per key per *commit* rather than per table; bounded by
  compaction cadence.
- **Time travel + incremental scan.** Snapshots are immutable; ``read(
  version=v)`` reads any retained snapshot, and ``read_changes(v1, v2)``
  emits the rows of files added between two snapshots (under MOR commits
  that is exactly the refined per-batch change feed — the table can
  re-emit its own CDC stream; under COW it is bucket-granular).
- **Tombstones, not physical deletes.** A delete (or a refinement that
  drops a turn) becomes a ``_deleted=true`` row retaining its
  (ts, change_lsn), so late/out-of-order re-deliveries of older events
  lose LWW against the tombstone instead of resurrecting the row. State is
  bounded: ≤1 row per (conv_id, turn_idx) ever.
- **Schema evolution on write.** New delta columns widen the snapshot
  schema (additive merge); old files are read through the new schema
  (missing columns → NULL). Incompatible type changes fail the commit
  (≙ the reference's schema_version gate, lambda_function.py:604-627).
- The snapshot file is the commit (≙ Delta's log, Iceberg's Hadoop
  tables): creating ``v<N>.json`` with POSIX create-if-absent (a hard link
  that fails if the name exists) commits version N, and ``_current`` is
  only a hint readers probe forward from. There is no second step a crash
  can strand. On HDFS/S3-with-manifest stores the same protocol holds with
  the FS shim swapped (a conditional put).
"""

from __future__ import annotations

import functools
import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Manifest file-level min/max stats (≙ Iceberg data-file column stats).
# EXACT stats are stamped only on maintenance rewrites (compact/fold/
# rebucket commit with mode="rewrite"); every ingest merge stamps a
# CONSERVATIVE per-bucket ts range on its MOR delta entries, taken from
# the batch's ``LakeTable.prepass`` aggregate — either way the MERGE
# finalize stays a single os.replace with zero per-file footer reads
# (pinned by test_no_driver_side_footer_reads, which bans the
# footer-reading library from THIS module — the reader lives in
# lake/stats.py).
from . import manifests as _mf
from . import meta
from .meta import FORMAT_VERSION
from .stats import _stats_keep, _ts_us, file_column_stats  # noqa: F401

KEY = ("conv_id", "turn_idx")
ORDER = ("ts", "change_lsn")
# Splitting threshold for staged data files. At 100 TB a compacted bucket is
# MANY files; because files are key-sorted, the split points give each file a
# disjoint conv_id range — which manifest-level stats (below) turn into a
# point-lookup index.
MAX_RECORDS_PER_FILE = 5_000_000


class SnapshotConflict(Exception):
    """Concurrent commit detected (snapshot file already exists)."""


class IncompatibleSchemaChange(Exception):
    """A delta changed an existing column's type — hard fail on commit."""


def bucket_expr(num_buckets: int):
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(num_buckets)).cast("int")


@dataclass(frozen=True)
class Prepass:
    """One batch's per-bucket layout facts (``LakeTable.prepass``): event
    count, max ``change_lsn`` and ``[min, max]`` ts (epoch-µs), each keyed
    by bucket. A bucket whose ts is all NULL has no range — leaving it out
    means "must-scan" at prune time."""

    counts: dict = field(default_factory=dict)
    lsn_max: dict = field(default_factory=dict)
    ts_range: dict = field(default_factory=dict)

    @property
    def touched(self) -> list[int]:
        return sorted(self.counts)

    @property
    def hot(self) -> list[int]:
        """Hot = a bucket carrying >2× the mean rows (the cheap pre-pass
        hot-key detection of SURVEY §4 item 1): ``merge`` salts a hot
        bucket's reduce and write across parallel tasks, cold ones stay
        one file per bucket."""
        if not self.counts:
            return []
        mean = sum(self.counts.values()) / len(self.counts)
        return sorted(b for b, n in self.counts.items() if n > 2 * mean)


def _widen_nullability(old: T.DataType, new: T.DataType) -> T.DataType | None:
    """The nullability-widened union of two types that are equal up to
    nullability, or None when they differ structurally (a REAL type
    change). Nullability is metadata, not physical layout: a parquet
    round-trip normalizes nested required fields to optional, so a
    maintenance rewrite feeding read-back rows into ``merge`` must not
    trip the incompatible-type gate on required→optional (the same
    promotion Iceberg allows). Widening is monotone — a field once
    optional stays optional."""
    if isinstance(old, T.StructType) and isinstance(new, T.StructType):
        if [f.name for f in old.fields] != [f.name for f in new.fields]:
            return None
        fields = []
        for of, nf in zip(old.fields, new.fields):
            dt = _widen_nullability(of.dataType, nf.dataType)
            if dt is None:
                return None
            fields.append(T.StructField(of.name, dt, of.nullable or nf.nullable))
        return T.StructType(fields)
    if isinstance(old, T.ArrayType) and isinstance(new, T.ArrayType):
        dt = _widen_nullability(old.elementType, new.elementType)
        if dt is None:
            return None
        return T.ArrayType(dt, old.containsNull or new.containsNull)
    if isinstance(old, T.MapType) and isinstance(new, T.MapType):
        kt = _widen_nullability(old.keyType, new.keyType)
        vt = _widen_nullability(old.valueType, new.valueType)
        if kt is None or vt is None:
            return None
        return T.MapType(kt, vt, old.valueContainsNull or new.valueContainsNull)
    return old if old == new else None


# ---------------- field ids (≙ Iceberg's schema-evolution mechanism) ----
#
# Every logical column has a stable integer id (manifest key ``columns``:
# ``[{id, name, type}]``, plus ``next_column_id``). Data files record the
# schema era (manifest ``schema_version``) they were written under as an
# ``"sv"`` tag on their manifest entry, and the era map (manifest key
# ``schemas``: ``{sv: columns}``) translates id → that era's physical
# column name. Reads resolve columns BY ID per era, so:
#
# - a RENAMED column keeps reading its old physical name from old files
#   (``rename_column`` is a metadata-only commit);
# - a DROPPED-then-re-added name gets a FRESH id, so the old bytes still
#   sitting under that name in un-rewritten files stay invisible (the
#   dropped id is in no live column set, and the fresh id is absent from
#   the old eras → NULL).
#
# The id → physical-name resolution itself is ``meta.projections``.


def _cols_to_schema(cols: list[dict]) -> T.StructType:
    return T.StructType(
        [T.StructField(c["name"], T._parse_datatype_json_value(c["type"]), True) for c in cols]
    )


def _schema_to_cols(schema: T.StructType, start_id: int = 1) -> list[dict]:
    return [
        {"id": start_id + i, "name": f.name, "type": f.dataType.jsonValue()}
        for i, f in enumerate(schema.fields)
    ]


def _merge_columns(
    cols: list[dict], next_id: int, delta: T.StructType
) -> tuple[list[dict], int]:
    """Id-aware additive merge: existing names keep their id (type change
    is incompatible); unknown names — including a previously dropped name —
    are appended with a FRESH id."""
    by_name = {c["name"]: c for c in cols}
    out = [dict(c) for c in cols]
    by_name_out = {c["name"]: c for c in out}
    for f in delta.fields:
        c = by_name.get(f.name)
        if c is None:
            out.append({"id": next_id, "name": f.name, "type": f.dataType.jsonValue()})
            next_id += 1
            continue
        registered = T._parse_datatype_json_value(c["type"])
        if registered == f.dataType:
            continue
        widened = _widen_nullability(registered, f.dataType)
        if widened is None:
            raise IncompatibleSchemaChange(
                f"column {f.name!r}: {c['type']} -> {f.dataType.simpleString()}"
            )
        # nullability-only difference: keep the id, widen the registered
        # type (required→optional promotion — a maintenance rewrite's
        # parquet read-back normalizes nested required fields to optional)
        if widened != registered:
            by_name_out[f.name]["type"] = widened.jsonValue()
    return out, next_id


def _next_manifest(
    snap: dict | None, cols: list[dict], next_id: int, sv: int, files: list[dict], **fields
) -> dict:
    """The manifest that follows ``snap`` (None: the first one) with the
    logical columns ``cols`` under era ``sv`` and the live ``files``, plus
    ``fields``. The era map is bounded to the eras a live file still reads
    through."""
    live_svs = {str(f["sv"]) for f in files}
    eras = snap["schemas"] if snap else {}
    return {
        "format_version": FORMAT_VERSION,
        "snapshot_id": snap["snapshot_id"] + 1 if snap else 1,
        "parent_id": snap["snapshot_id"] if snap else None,
        "committed_at": time.time(),
        "schema": json.loads(_cols_to_schema(cols).json()),
        "schema_version": sv,
        "columns": cols,
        "next_column_id": next_id,
        "schemas": {**{k: c for k, c in eras.items() if k in live_svs}, str(sv): cols},
        "files": files,
        **fields,
    }


class LakeTable:
    def __init__(self, spark: SparkSession, root: str, num_buckets: int = 32):
        self.spark = spark
        self.root = root
        self.num_buckets = num_buckets
        self._manifest_dir = meta.manifest_dir(root)
        self._data_dir = os.path.join(root, "data")
        self._staging_dir = os.path.join(root, "_staging")
        for d in (self._manifest_dir, self._data_dir, self._staging_dir):
            os.makedirs(d, exist_ok=True)
        # An existing table's bucketing is authoritative: opening with a
        # different num_buckets would silently mis-assign buckets and break
        # the LWW union of a key's existing rows.
        snap = self.current_snapshot()
        if snap is not None:
            self.num_buckets = int(snap["num_buckets"])

    # ---------------- snapshot plumbing ----------------

    def _current_version(self) -> int | None:
        return meta.current_version(self.root)

    def current_snapshot(self) -> dict | None:
        return meta.snapshot(self.root)

    def snapshot(self, version: int | None = None) -> dict | None:
        """A specific retained snapshot (time travel), or the current one.
        Segmented manifests are inflated back to the inline ``files`` /
        ``applied_batches`` shape here, so every consumer sees one format
        (see ``lake/manifests.py`` for the commit-cost rationale)."""
        return meta.snapshot(self.root, version)

    def _commit(self, manifest: dict) -> None:
        """Commit a snapshot: creating ``v<N>.json`` is the commit point
        (SnapshotConflict if a concurrent writer created that version
        first — its file is never replaced). The ``_current`` hint is
        rewritten after it; readers probe past a stale hint
        (``meta.current_version``), so an error from here on leaves the
        batch committed and a rerun skips it."""
        v = manifest["snapshot_id"]
        try:
            _mf.create_if_absent(
                _mf.snapshot_path(self._manifest_dir, v), json.dumps(manifest, indent=1, sort_keys=True)
            )
        except FileExistsError:
            raise SnapshotConflict(f"snapshot v{v} already committed") from None
        _mf.replace(_mf.pointer_path(self._manifest_dir), str(v))

    def schema(self) -> T.StructType | None:
        snap = self.current_snapshot()
        return T.StructType.fromJson(snap["schema"]) if snap else None

    # ---------------- refs (named snapshots) ----------------
    #
    # ≙ Iceberg tags: an immutable name → snapshot_id pin. The use case
    # this engine cares about is dataset reproducibility — "train run X
    # read exactly tag `corpus-2026-08`" — so a tagged snapshot is
    # excluded from expire_snapshots' horizon and its data files stay
    # GC-protected (gc honors every retained manifest) until the tag is
    # deleted. Each tag is its OWN file under ``_manifests/_refs/``,
    # created if absent (``manifests.create_if_absent``): two concurrent
    # taggers with different names each land their file — nobody's pin is
    # lost to a read-modify-write of a shared refs blob — and same-name
    # taggers race to exactly one winner.

    def tags(self) -> dict[str, dict]:
        return meta.tags(self.root)

    def tag(self, name: str, version: int | None = None, note: str | None = None) -> dict:
        """Pin ``name`` to a retained snapshot (default: current)."""
        meta.check_tag_name(name)
        v = int(version) if version is not None else self._current_version()
        if v is None:
            raise ValueError("table has no snapshot to tag")
        self.snapshot(v)  # raises FileNotFoundError for an expired/unknown version
        pin = {"version": v, "created_at": time.time(), **({"note": note} if note else {})}
        path = _mf.tag_path(self._manifest_dir, name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        try:
            _mf.create_if_absent(path, json.dumps(pin, indent=1, sort_keys=True))
        except FileExistsError:
            # The racing winner's tag may itself be gone by the time we
            # re-read (deleted between our failed create and this lookup) —
            # fall back to a generic message rather than a KeyError.
            winner = self.tags().get(name, {}).get("version")
            detail = f"already pins v{winner}" if winner is not None else "already exists"
            raise ValueError(f"tag {name!r} {detail}") from None
        return {"tag": name, "version": v}

    def delete_tag(self, name: str) -> dict:
        v = meta.resolve_tag(self.root, name)
        try:
            os.remove(_mf.tag_path(self._manifest_dir, name))
        except FileNotFoundError:
            raise ValueError(f"unknown tag {name!r}") from None
        return {"tag": name, "version": v, "deleted": True}

    def resolve_tag(self, name: str) -> int:
        return meta.resolve_tag(self.root, name)

    def _read_files(self, files: list[dict], cols: list[dict], eras: dict) -> DataFrame:
        """Read data files of this table through the logical columns
        ``cols``, resolving each file's columns BY FIELD ID through its
        era (``meta.projections``).

        Files whose eras name every column alike share one parquet scan,
        so a single-era / never-renamed table stays one multi-path scan
        with full pushdown, exactly as a by-name read. Only files whose era
        physically names a column differently (a rename happened since
        they were written) get a separate scan + rename-projection, unioned
        by name."""
        if not files:
            return self.spark.createDataFrame([], _cols_to_schema(cols))
        types = [T._parse_datatype_json_value(c["type"]) for c in cols]
        names = tuple(c["name"] for c in cols)
        parts = []
        for proj, fs in meta.projections(files, eras, cols).items():
            read_fields = [T.StructField(p, t, True) for p, t in zip(proj, types) if p is not None]
            df = self.spark.read.schema(T.StructType(read_fields)).parquet(
                *[os.path.join(self.root, f["path"]) for f in fs]
            )
            if proj != names:
                df = df.select(
                    *[
                        F.col(p).alias(n) if p is not None else F.lit(None).cast(t).alias(n)
                        for p, n, t in zip(proj, names, types)
                    ]
                )
            parts.append(df)
        return functools.reduce(DataFrame.unionByName, parts)

    # ---------------- read paths ----------------

    def read(
        self,
        buckets: list[int] | None = None,
        include_tombstones: bool = False,
        version: int | None = None,
        conv_id_eq: str | None = None,
        min_ts=None,
        tag: str | None = None,
    ) -> DataFrame:
        """Read a snapshot (current, or ``version`` for time travel),
        pruning to ``buckets`` via the manifest file list (no directory
        listing, no data-file scan for untouched buckets).

        If the selected files include merge-on-read delta files, LWW is
        resolved here (same hash-agg with map-side partial combine as the
        write path — operators/cdc.lww_resolve), so readers always see
        ≤1 row per key regardless of the commit mode used.

        Manifest-level data skipping (file stats stamped by compaction):

        ``conv_id_eq``: keep only files whose conv_id [min,max] can contain
        the key, and filter to it. Safe under LWW because bucketing puts ALL
        rows of a conversation in one bucket, and pruning by conv_id range
        keeps every file that can hold any of its rows; other keys may be
        mis-resolved against the partial file set but are filtered away.

        ``min_ts``: keep only files whose ts max >= min_ts, and filter
        ``ts >= min_ts`` AFTER LWW. Safe because ``ts`` is the LEADING LWW
        order column: a winner's ts is the max ts of its key, so any row in
        a pruned file (all ts < min_ts) that would have won its key has
        ts < min_ts — and so does any lower-ordered row a prune could
        falsely promote — and both fail the post-filter identically.
        (Pruning on ``change_lsn`` — the tiebreak column — would NOT be
        safe: 10% of events carry ts out of lsn order by construction.)

        ``tag``: read the snapshot a named ref pins (``table.tag(...)``) —
        time travel by name, expiry-protected."""
        snap = self.snapshot(meta.endpoint(self.root, version, tag))
        if snap is None:
            raise ValueError("table has no snapshot yet")
        # manifest pruning by the snapshot's own bucket count — time travel
        # across a rebucket hashes the key the way that snapshot's files
        # were laid out
        files = meta.prune(
            snap["files"],
            snap["num_buckets"],
            buckets=buckets,
            conv_eq=conv_id_eq,
            ts_lo=None if min_ts is None else _ts_us(min_ts),
        )
        has_delta = any(f.get("kind", "base") == "delta" for f in files)
        # Era-aware read (field ids): old files are read through the
        # evolved schema (absent columns -> NULL, renamed columns resolved
        # by id); column pruning and predicate pushdown still reach the
        # parquet scan.
        df = self._read_files(files, snap["columns"], snap["schemas"])
        if conv_id_eq is not None:
            df = df.where(F.col("conv_id") == F.lit(conv_id_eq))
        if has_delta:
            from ..operators.cdc import lww_resolve

            df = lww_resolve(df, key=KEY, order=ORDER)
        if min_ts is not None:
            df = df.where(F.col("ts") >= F.lit(min_ts))
        if not include_tombstones:
            df = df.where(~F.col("_deleted"))
        return df

    def read_changes(
        self,
        from_version: int | None,
        to_version: int | None = None,
        from_tag: str | None = None,
        to_tag: str | None = None,
    ) -> DataFrame:
        """Incremental scan (CDC-out, ≙ Iceberg incremental append scan):
        the rows of data files added between two snapshots, tombstones
        included (it is a change feed, so deletes must be visible).

        Under merge-on-read commits the added files are exactly the
        refined per-batch upserts + tombstones — the table re-emits its
        own change stream for downstream consumers. Under copy-on-write
        commits a rewritten bucket's file carries the whole bucket, so
        the feed is bucket-granular (a superset of the true changes).
        Maintenance rewrites (compaction fold, rebucket) are tagged in
        the manifest and skipped — same logical content, so a fold between
        polls yields an empty feed (see ``meta.span``).

        ``from_tag``/``to_tag``: resolve endpoints through named refs —
        "what changed between corpus-2026-07 and corpus-2026-08" without
        anyone remembering snapshot ids; tags pin their manifests against
        expiry, so a tag-to-tag diff can't hit an expired endpoint."""
        frm = meta.endpoint(self.root, from_version, from_tag, ("from_version", "from_tag"))
        to = meta.endpoint(self.root, to_version, to_tag, ("to_version", "to_tag"))
        span = meta.span(self.root, frm, to)
        return self._read_files(span.files, span.snap["columns"], span.eras)

    def _metadata_evolution(
        self, snap: dict, new_cols: list[dict], next_id: int, extra: dict | None = None
    ) -> dict:
        """Commit a metadata-only schema change (drop/rename): no data
        files touched, schema_version bumped, era map retains every era a
        live file still reads through."""
        manifest = {
            **snap,
            **_next_manifest(
                snap, new_cols, next_id, snap["schema_version"] + 1, snap["files"], **(extra or {})
            ),
        }
        # Metadata-only commit: zero data files changed, so every file
        # segment is carried by path — the commit writes ONE small
        # snapshot JSON regardless of table size.
        self._commit(_mf.deflate(self._manifest_dir, manifest, snap, set()))
        return manifest

    def drop_column(self, name: str) -> dict:
        """Schema evolution beyond additive: drop a payload column with a
        metadata-only commit (≙ Iceberg drop column — no data rewrite).
        The narrowed snapshot schema makes every read prune the column;
        the bytes in existing files go dead and fall out at the next
        compaction rewrite.

        Field ids make the drop safe against re-adds: a later column with
        the same NAME gets a fresh id, and reads resolve by id per era, so
        the dead bytes in un-rewritten files can never resurrect.
        KEY/ORDER/engine columns are protected."""
        protected = {*KEY, *ORDER, "_deleted"}
        if name in protected:
            raise ValueError(f"column {name!r} is engine-required")
        snap = self.current_snapshot()
        if snap is None:
            raise ValueError("table has no snapshot yet")
        cols, next_id = snap["columns"], snap["next_column_id"]
        if name not in {c["name"] for c in cols}:
            raise ValueError(f"no such column {name!r}")
        new_cols = [c for c in cols if c["name"] != name]
        # dropped_columns is recorded for operator visibility only —
        # re-adding the name is allowed (it gets a fresh field id)
        manifest = self._metadata_evolution(
            snap,
            new_cols,
            next_id,
            extra={"dropped_columns": sorted({*snap.get("dropped_columns", []), name})},
        )
        return {"dropped": name, "snapshot_id": manifest["snapshot_id"]}

    def rename_column(self, old: str, new: str) -> dict:
        """Rename a payload column — metadata-only commit (≙ Iceberg
        rename). The column keeps its field id; old data files keep their
        old physical name and reads resolve it by id through the era map,
        so no data is rewritten and nothing is lost."""
        protected = {*KEY, *ORDER, "_deleted"}
        if old in protected:
            raise ValueError(f"column {old!r} is engine-required")
        snap = self.current_snapshot()
        if snap is None:
            raise ValueError("table has no snapshot yet")
        cols, next_id = snap["columns"], snap["next_column_id"]
        names = {c["name"] for c in cols}
        if old not in names:
            raise ValueError(f"no such column {old!r}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        new_cols = [{**c, "name": new} if c["name"] == old else c for c in cols]
        manifest = self._metadata_evolution(snap, new_cols, next_id)
        return {"renamed": [old, new], "snapshot_id": manifest["snapshot_id"]}

    def bucket_of(self, conv_id: str) -> int:
        """The bucket a conversation lives in — driver-side XXH64 (same
        algorithm + seed as the write path's ``F.xxhash64``; parity pinned
        by a test), so a point lookup costs exactly ONE Spark job (the
        pruned read), not a scheduling round-trip to hash the key."""
        return meta.bucket_of(conv_id, self.num_buckets)

    def read_conversation(self, conv_id: str, include_tombstones: bool = False) -> DataFrame:
        """Point lookup: manifest bucket pruning (hash the key, read only
        that bucket's files), then manifest FILE pruning (compaction writes
        key-sorted files split at MAX_RECORDS_PER_FILE, so a big bucket's
        files carry disjoint conv_id ranges — the lookup opens the one file
        that can hold the key), then a pushed-down conv_id filter —
        O(one file), not O(table). The common operational query ('show me
        this conversation') at 100 TB."""
        return self.read(conv_id_eq=conv_id, include_tombstones=include_tombstones)

    def read_since(self, min_ts, include_tombstones: bool = False) -> DataFrame:
        """Tail read: LWW-resolved rows with ``ts >= min_ts`` — 'what
        changed since T' over a huge table. Files whose stamped ts-max is
        below ``min_ts`` (the compacted old base data — at steady state,
        almost everything) are skipped at the manifest, so cost tracks the
        tail size, not the table size; see ``read`` for the safety
        argument. Un-stamped files (fresh ingest) are always scanned."""
        return self.read(min_ts=min_ts, include_tombstones=include_tombstones)

    def read_transcripts(self, version: int | None = None, tag: str | None = None) -> DataFrame:
        """User-facing view: the clean transcripts table of FIXTURES.md §1.
        ``tag``/``version`` time-travel the view (reproducible exports)."""
        return self.read(version=version, tag=tag).select(
            "conv_id", "turn_idx", "role", "text", "tool", "ts"
        )

    def lineage(self) -> DataFrame:
        """Per-batch lineage records from the manifest chain (≙ the
        _lineage table of SURVEY.md §7 item 7)."""
        snap = self.current_snapshot()
        rows = []
        if snap:
            for batch_id, rec in sorted(snap["applied_batches"].items()):
                rows.append(
                    (
                        batch_id,
                        rec["snapshot_id"],
                        rec["lsn_min"],
                        rec["lsn_max"],
                        rec["rows_upserted"],
                        rec["rows_deleted"],
                        rec["files_written"],
                        rec["buckets_touched"],
                    )
                )
        schema = (
            "batch_id string, snapshot_id int, lsn_min long, lsn_max long, "
            "rows_upserted long, rows_deleted long, files_written int, buckets_touched int"
        )
        return self.spark.createDataFrame(rows, schema)

    # ---------------- MERGE ----------------

    def prepass(self, changes: DataFrame, batch_col: str | None = None) -> dict:
        """Per-bucket event count, max ``change_lsn`` and ts range of the
        rows of ``changes``, in ONE partial-aggregate job (column pruning
        keeps the scan to conv_id + change_lsn + ts). With ``batch_col``
        the grouping is per (batch, bucket), so one job covers a whole
        replay.

        Returns ``{batch id: Prepass}`` (a batch with no rows has no
        entry), or ``{None: Prepass}`` without ``batch_col``."""
        keys = [F.col(batch_col)] if batch_col else []
        rows = (
            changes.groupBy(*keys, bucket_expr(self.num_buckets).alias("b"))
            .agg(
                F.count(F.lit(1)).alias("count"),
                F.max("change_lsn").alias("lsn"),
                F.min("ts").alias("ts_lo"),
                F.max("ts").alias("ts_hi"),
            )
            .collect()
        )
        out: dict = {} if batch_col else {None: Prepass()}
        for r in rows:
            p = out.setdefault(r[batch_col] if batch_col else None, Prepass())
            b = int(r["b"])
            p.counts[b] = r["count"]
            p.lsn_max[b] = int(r["lsn"])
            if r["ts_lo"] is not None:
                p.ts_range[b] = [_ts_us(r["ts_lo"]), _ts_us(r["ts_hi"])]
        return out

    def merge(
        self,
        delta: DataFrame,
        batch_id: str,
        touched_buckets: list[int] | None = None,
        post_reduce=None,
        prepass: Prepass | None = None,
        mode: str = "cow",
    ) -> dict:
        """Exactly-once LWW MERGE of a prepared delta.

        ``delta`` must carry KEY + ORDER columns and ``_deleted``; any other
        columns are payload. Re-invoking with an already-applied batch_id is
        a no-op (idempotent replay) — this is the one exactly-once gate. A
        crash before the snapshot file is created leaves only unreferenced
        staging files — the rerun produces an identical result
        (deterministic content, fresh file names); a crash after it leaves
        the batch committed, and the rerun skips it.

        Ingest modes take every per-bucket fact from ``prepass`` (the
        batch's ``self.prepass(...)`` entry; computed here over ``delta``,
        one job, when not given): the touched buckets, the hot buckets
        whose reduce and write are salted across 4 tasks, each touched
        bucket's watermark (its true max ``change_lsn``) and each MOR delta
        file's ts range.
        ``mode="cow"`` (default): the touched buckets' existing rows join
        the LWW reduce and the buckets are rewritten wholly — read-optimal,
        write cost O(touched buckets).
        ``mode="mor"``: only the batch's own winners are written, as delta
        files resolved at read time — write cost O(batch). Exactly-once,
        watermark, and lineage semantics are identical in both modes.
        ``mode="rewrite"``: a maintenance rewrite (compaction fold,
        rebucket). ``delta`` holds ≤1 row per key and is the whole new
        content of ``touched_buckets`` (given for this mode only), so
        neither the old files nor an LWW reduce take part. The new files
        are flagged ``rewrite`` (change feeds skip them) and carry exact
        footer stats. Watermarks stay as they are — rewriting old content
        applies no new events — except across a bucket-count change
        (``self.num_buckets`` differs from the parent's), where every
        bucket gets the parent's minimum watermark: old bucket ids mean
        nothing under the new layout, and the weakest per-bucket claim is
        the only one still true for each new bucket (``min_safe_gc_lsn`` is
        unchanged).
        """
        if mode not in ("cow", "mor", "rewrite"):
            raise ValueError(f"unknown merge mode {mode!r}")
        if (mode == "rewrite") != (touched_buckets is not None):
            raise ValueError('touched_buckets is given with mode="rewrite" and only with it')
        snap = self.current_snapshot()
        if snap and batch_id in snap["applied_batches"]:
            return {"skipped": True, "batch_id": batch_id}

        t0 = time.time()
        if mode == "rewrite":
            touched, hot = sorted(int(b) for b in touched_buckets), []
        else:
            if prepass is None:
                prepass = self.prepass(delta)[None]
            touched, hot = prepass.touched, prepass.hot
        if not touched:
            return {"skipped": True, "batch_id": batch_id, "empty": True}

        # Delta stats are collected DURING the write action via an
        # Observation of the raw delta as the write job reads it (no second
        # job, no persist).
        obs = Observation(f"delta-{batch_id}")
        delta = delta.observe(
            obs,
            F.min("change_lsn").alias("lsn_min"),
            F.max("change_lsn").alias("lsn_max"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("_deleted").cast("long")).alias("n_del"),
        )

        delta_schema = delta.schema
        if snap:
            # Field-id schema merge: known names keep their id, new names
            # (incl. a re-added dropped name) get fresh ids — old bytes in
            # un-rewritten files stay invisible because reads resolve by id.
            cols, next_id, snap_files = snap["columns"], snap["next_column_id"], snap["files"]
            new_cols, next_id = _merge_columns(cols, next_id, delta_schema)
            new_schema = _cols_to_schema(new_cols)
            new_sv = snap["schema_version"] + (1 if new_cols != cols else 0)
            # cow: the touched buckets' files join the reduce and are
            # replaced; mor: every file is carried and the winners land
            # beside them as delta files; rewrite: the delta IS the new
            # content of the touched buckets, so their files are replaced
            # without being read.
            touched_set = set(touched)
            old_files = [f for f in snap_files if f["bucket"] in touched_set] if mode == "cow" else []
            carried = (
                snap_files if mode == "mor" else [f for f in snap_files if f["bucket"] not in touched_set]
            )
        else:
            new_cols = _schema_to_cols(delta_schema)
            next_id = len(new_cols) + 1
            new_schema = _cols_to_schema(new_cols)
            new_sv, old_files, carried = 1, [], []

        cols = [f.name for f in new_schema.fields]

        # Hot buckets — detected by the pre-pass from per-bucket delta
        # counts — get a turn-level salt so one hot bucket is reduced and
        # written by several tasks in parallel; cold buckets stay
        # one-file-per-bucket so later target reads don't pay a per-file
        # open cost 4× over.
        bucket = bucket_expr(self.num_buckets)
        if hot:
            salt = F.when(
                bucket.isin(hot),
                F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(4)),
            ).otherwise(F.lit(0))
        else:
            salt = F.lit(0)
        layout = [bucket.alias("_bucket"), salt.cast("int").alias("_salt")]

        def _conform(df: DataFrame) -> DataFrame:
            # ONE Project per side: the table's columns (NULL-padded where
            # the side lacks one) plus the file-layout columns
            have = set(df.columns)
            return df.select(
                *[
                    F.col(c) if c in have else F.lit(None).cast(dict_types[c]).alias(c)
                    for c in cols
                ],
                *layout,
            )

        dict_types = {f.name: f.dataType for f in new_schema.fields}
        work = _conform(delta)
        if old_files:
            # era-aware: a renamed column's old physical name is resolved
            # by field id, then _conform pads columns the delta introduced
            old = self._read_files(old_files, snap["columns"], snap["schemas"])
            work = work.unionByName(_conform(old))

        # ONE exchange for the whole merge (guide §2.4 — two operations
        # keyed the same way share one exchange): the union is hash-
        # repartitioned into the target (_bucket, _salt) file layout FIRST,
        # and the LWW reduce then groups by (_bucket, _salt, conv_id,
        # turn_idx) — a grouping the repartition's HashPartitioning already
        # satisfies (partitioning exprs ⊆ grouping exprs), so Catalyst
        # plans a complete SortAggregate with NO second exchange. Both
        # extra grouping columns are functions of the key (bucket of
        # conv_id; salt of (conv_id, turn_idx)), so the winners are
        # identical to a plain per-key reduce. The previous shape —
        # aggregate-then-repartition — shuffled every batch twice (LWW
        # exchange + layout exchange); measured A/B in OPTIMIZATION_r06.md.
        # Skew note: this trades the map-side partial combine for one fewer
        # full-batch shuffle; a hot (conv_id, turn_idx) key's duplicates
        # now meet in one task, where the salt already spreads hot buckets
        # across 4 writers (the hot-bucket salt above). Explicit partition
        # count (a bare repartition(col) is AQE-rebalanced down to ~one
        # partition at small sizes, serializing the write).
        n_out = max(self.spark.sparkContext.defaultParallelism, len(touched))
        work = work.repartition(n_out, F.col("_bucket"), F.col("_salt"))
        # A rewrite feeds already-LWW-resolved content (≤1 row per
        # (conv_id, turn_idx)), so re-reducing it would sort+aggregate the
        # full rewrite for identical winners.
        # Grouping-key ORDER is chosen so the SortAggregate's output
        # ordering (_bucket, conv_id, turn_idx, _salt) has the file-layout
        # sort (_bucket, conv_id, turn_idx) as a prefix — the staged
        # write's sortWithinPartitions is then satisfied by the aggregate's
        # ordering and Catalyst elides the second full-batch SortExec
        # (guide §2.4: operations keyed the same way share work). Grouping
        # is a set, so winners are unchanged.
        from ..operators.cdc import lww_resolve

        merged = (
            work
            if mode == "rewrite"
            else lww_resolve(work, key=("_bucket", *KEY, "_salt"), order=ORDER)
        )
        if post_reduce is not None:
            # the caller's post-reduce transform (guarded refinement +
            # display enrichment) over the winners — broadcast-joined
            # lookups preserve the established partitioning
            merged = post_reduce(merged)
        merged = merged.select(*cols, "_bucket")

        # Write staged data files.
        t_write = time.time()
        # File identity is claimed by a per-commit uuid token, never by the
        # snapshot version: two concurrent writers racing for snapshot_id+1
        # write into disjoint directories, so the loser (whose _commit raises
        # SnapshotConflict) can never clobber the winner's committed files —
        # its orphaned directory is swept by gc_orphans().
        token = uuid.uuid4().hex[:12]
        staging = os.path.join(self._staging_dir, token)
        # key-clustered files: a within-partition sort (no shuffle) gives
        # parquet row-group min/max stats on conv_id, so point lookups skip
        # row groups, and like-keyed rows compress better. MUST lead with
        # _bucket: the dynamic-partition writer requires ordering by the
        # partition column and would re-sort (unstably, destroying the key
        # order) if the child's ordering lacks it.
        (
            merged.sortWithinPartitions("_bucket", "conv_id", "turn_idx")
            .write.option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
            .partitionBy("_bucket")
            .parquet(staging)
        )
        t_write = time.time() - t_write

        # Finalize: ONE directory rename publishes the whole commit's data
        # (cost independent of file count — no per-file move, no parquet
        # footer reads; row counts come from the in-flight Observation).
        # The manifest then references files at their nested final paths.
        t_files = time.time()
        commit_rel = f"data/c{token}"
        commit_dir = os.path.join(self.root, commit_rel)
        os.replace(staging, commit_dir)
        new_files = []
        for bdir in sorted(os.listdir(commit_dir)):
            if not bdir.startswith("_bucket="):
                continue
            b = int(bdir.split("=", 1)[1])
            # scandir: the size comes with the directory listing (one stat
            # the OS already did) — still zero per-file footer reads
            for ent in sorted(os.scandir(os.path.join(commit_dir, bdir)), key=lambda e: e.name):
                fn = ent.name
                if fn.endswith(".parquet"):
                    entry = {
                        "path": f"{commit_rel}/{bdir}/{fn}",
                        "bucket": b,
                        "sv": new_sv,
                        "bytes": ent.stat().st_size,
                    }
                    if mode == "mor":
                        entry["kind"] = "delta"
                        # Ingest-path ts skipping with ZERO footer reads:
                        # the pre-pass aggregation already knows each
                        # bucket's min/max event ts for this batch,
                        # a conservative superset of the LWW winners the
                        # delta file actually holds (refine/enrich never
                        # rewrite ts). Stamping it makes FRESH delta files
                        # read_since-prunable before any fold; the
                        # fold later replaces this with exact footer stats.
                        # conv_id is deliberately absent (missing per-column
                        # range ⇒ must-scan) — point lookups already prune
                        # by bucket hash.
                        if b in prepass.ts_range:
                            entry["stats"] = {"ts": list(prepass.ts_range[b])}
                    if mode == "rewrite":
                        # same logical content in new files — change-feed
                        # readers skip these so a fold doesn't re-deliver
                        # the table
                        entry["rewrite"] = True
                    new_files.append(entry)
        if mode == "rewrite":
            # Maintenance rewrites only: stamp per-file min/max so reads
            # can skip files. Deliberately NOT done on the ingest hot path
            # — see the file-stats note at the top.
            # Footer reads are independent driver-side I/O — a small thread
            # pool overlaps them instead of paying one serial open+parse
            # per file (a big fold rewrites hundreds of files).
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=8) as pool:
                stats_by_entry = list(
                    pool.map(
                        lambda e: file_column_stats(os.path.join(self.root, e["path"])),
                        new_files,
                    )
                )
            for entry, s in zip(new_files, stats_by_entry):
                if s is not None:
                    entry["stats"] = s
        t_files = time.time() - t_files

        stats = obs.get
        if stats["n"] == 0:
            # Nothing in the batch: no data files were produced; still
            # commit so the batch is recorded as applied (exactly-once).
            stats = {"lsn_min": -1, "lsn_max": -1, "n": 0, "n_del": 0}

        # Per-bucket high-watermarks: each touched bucket advances to its
        # true max(change_lsn) from the pre-pass. A rewrite advances none;
        # across a bucket-count change it floors them (see the docstring).
        watermarks = dict(snap["watermarks"]) if snap else {}
        if mode == "rewrite":
            if snap and snap["num_buckets"] != self.num_buckets:
                floor = min((int(v) for v in watermarks.values()), default=-1)
                watermarks = {str(b): floor for b in range(self.num_buckets)}
        elif stats["n"]:
            for b in touched:
                watermarks[str(b)] = max(int(watermarks.get(str(b), -1)), prepass.lsn_max[b])

        # this batch's registry entry is added below, once the manifest
        # has claimed its snapshot id
        applied = dict(snap["applied_batches"]) if snap else {}
        manifest = _next_manifest(
            snap,
            new_cols,
            next_id,
            new_sv,
            carried + new_files,
            num_buckets=self.num_buckets,
            watermarks=watermarks,
            applied_batches=applied,
            dropped_columns=snap.get("dropped_columns", []) if snap else [],
        )
        new_version = manifest["snapshot_id"]
        n_del = int(stats["n_del"] or 0)
        applied[batch_id] = {
            "snapshot_id": new_version,
            "lsn_min": int(stats["lsn_min"] if stats["lsn_min"] is not None else -1),
            "lsn_max": int(stats["lsn_max"] if stats["lsn_max"] is not None else -1),
            "rows_upserted": int(stats["n"]) - n_del,
            "rows_deleted": int(n_del),
            "files_written": len(new_files),
            "buckets_touched": len(touched),
        }

        # Segmented commit: only the buckets this commit touched get their
        # file segment rewritten; every other bucket's segment is carried
        # by path — metadata write cost O(touched), not O(all files). A
        # COW/rewrite commit changes exactly `touched`; MOR delta files
        # land inside `touched` too; a rebucket changes num_buckets, which
        # deflate detects and rewrites everything.
        changed = set(touched) | {int(f["bucket"]) for f in new_files}
        disk = _mf.deflate(self._manifest_dir, manifest, snap, changed)
        self._commit(disk)
        return {
            "skipped": False,
            "batch_id": batch_id,
            "snapshot_id": new_version,
            "seconds": time.time() - t0,
            "write_sec": round(t_write, 3),
            "finalize_sec": round(t_files, 3),
            **applied[batch_id],
        }
