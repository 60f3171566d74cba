"""First-class Structured Streaming CDC source over a :class:`LakeTable`
via PySpark 4's Python Data Source API::

    spark.dataSource.register(LakeCdcDataSource)
    changes = (spark.readStream.format("lake_cdc")
               .option("path", table_root)
               .load())

Round 2 shipped the poll/commit consumer (``lake/feed.py``); a *native*
``readStream`` source was blocked because Spark's file index treats the
``_bucket=`` directories as hidden. The Data Source API is the idiomatic
fix — the source plugs into Structured Streaming's own offset tracking,
so a lake table composes with watermarks, stateful ops and ``foreachBatch``
like any built-in source.

Design (Spark-first):

- **Offsets are committed snapshot versions.** The table's commit log is
  the write-ahead log; Spark's streaming checkpoint is the cursor (the
  Data Source API persists ``{"version": N}`` JSON offsets). Version 0
  means "before the first snapshot", so a fresh query's first microbatch
  delivers the whole table — same contract as ``ChangeFeedReader.reset()``.
- **One InputPartition per added data file** in the ``(start, end]`` span:
  executor-parallel Arrow scans, zero driver-side data movement. Which
  files, and through which field-id projection, comes from ``lake/meta``
  — the same span walk, era projection and tag resolution
  ``LakeTable.read_changes`` and ``ChangeFeedReader`` use, so every
  surface returns the same rows for the same span. Both faces plan the
  whole span the same way and read it with one partition reader; a
  consumer's filters run in Spark after the scan. Maintenance rewrites
  (fold / compact / rebucket) are skipped, so a fold between triggers
  yields an empty batch, while delta files superseded by an in-span fold
  are still delivered (see ``meta.span``).
- **Era-aware field-id projection, executor-side.** Each partition carries
  its file's physical-name projection (per column id): renamed columns
  read correctly from pre-rename files, and a dropped-then-re-added name
  never resurrects dead bytes. Rows stream back as pyarrow RecordBatches
  cast to the Spark schema's Arrow form — vectorized end to end, no
  per-row pickling.
- **Rate control**: ``maxVersionsPerBatch`` caps how many commits a single
  microbatch may span under a continuous trigger (the first batch after
  a checkpoint restart is uncapped because the API only hands the reader
  its own prior offset via ``partitions``). Spark 4.1's Python stream API
  has no admission control, so under ``availableNow`` the whole backlog
  lands as one epoch whatever the cap says; ``stream_between_lakes``
  rejects the pair, and the CLI ``stream`` export (always
  ``availableNow``) takes no cap.
- **Cost model** (measured, BENCH.md): the Python-worker Arrow scan runs
  ~5× slower than the JVM parquet path on bulk data — right for tailing
  incremental spans (O(new data) per trigger), wrong for bulk loads; do
  initial backfill with ``table.read()`` and start the stream at
  ``startingVersion`` = the backfill's snapshot.

Writing INTO the lake deliberately stays on ``foreachBatch`` +
``LakeTable.merge`` (``streaming/apply.py``): the merge commit protocol is
a driver-side atomic manifest swap keyed by batch id, which is exactly the
``foreachBatch`` exactly-once idiom; a ``DataSourceStreamWriter`` writes
rows from executors and would re-implement that commit badly.

≙ reference: the refiner's pipeline is *event-driven* — S3 object
notifications fan out refinement work
(``/root/reference/refiner/app/lambda/lambda_function.py``); the
Spark-native analog is the lake emitting its own change stream as a
streaming source. Also ≙ Delta Change Data Feed / Iceberg incremental
streaming read.
"""

from __future__ import annotations

import os
from typing import Iterator, Sequence

from . import meta

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

SOURCE_NAME = "lake_cdc"


class LakeFilePartition(InputPartition):
    """One data file *slice* + the field-id projection that reads it
    through the end snapshot's schema. ``path is None`` is the empty
    sentinel (a span whose only additions were maintenance rewrites).

    Slicing: ingest files are bounded by MAX_RECORDS_PER_FILE, but a
    compaction base file is one file per bucket — multi-GB at the target
    scale — so large files split into ``n_slices`` partitions that each
    read every ``n_slices``-th parquet row group (≙ Iceberg's split-by-
    row-group planning). The slice count comes from the manifest's
    ``bytes`` (stamped at write), never from a driver-side footer read."""

    def __init__(self, path: str | None, proj: tuple, cols: list[dict], slice_idx: int = 0, n_slices: int = 1):
        self.path = path
        self.proj = proj  # physical name per current column (None -> NULL)
        self.cols = cols  # end snapshot's [{"id","name","type"}]
        self.slice_idx = slice_idx
        self.n_slices = n_slices


DEFAULT_SPLIT_BYTES = 128 << 20


def _plan_partitions(root: str, frm: int, to: int, pin_cols: list[dict] | None) -> list[LakeFilePartition]:
    """``pin_cols`` projects the span onto a FIXED column set (by field
    id) instead of the end snapshot's: a streaming query's schema is
    immutable for the life of the query, so after a mid-stream column
    add / rename / drop the reader must keep emitting the columns the
    query started with — ids stay stable across renames, a dropped id
    NULL-fills, and a column added after the pin is invisible until the
    stream restarts (≙ Iceberg's schema-pinned incremental scan). A file
    splits into one slice per ``DEFAULT_SPLIT_BYTES`` of its manifest
    ``bytes``."""
    span = meta.span(root, frm, to)
    cols = pin_cols if pin_cols is not None else span.snap["columns"]
    if not span.files:
        return [LakeFilePartition(None, (), cols)]
    parts = []
    for proj, fs in meta.projections(span.files, span.eras, cols).items():
        for f in fs:
            n = max(1, -(-int(f["bytes"]) // DEFAULT_SPLIT_BYTES))
            path = os.path.join(root, f["path"])
            parts.extend(LakeFilePartition(path, proj, cols, i, n) for i in range(n))
    return parts


def _read_partition(part: LakeFilePartition) -> Iterator:
    """Executor-side Arrow scan: project the file's physical columns onto
    the end snapshot's schema by field id (NULL-fill columns the file's
    era predates), cast to the schema's Arrow form, yield RecordBatches."""
    if part.path is None:
        return
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_type

    target = pa.schema(
        [
            pa.field(c["name"], to_arrow_type(T._parse_datatype_json_value(c["type"])))
            for c in part.cols
        ]
    )
    pf = pq.ParquetFile(part.path)
    physical = set(pf.schema_arrow.names)
    want = [p for p in part.proj if p is not None and p in physical]
    kw = {}
    if part.n_slices > 1:
        # the executor (not the driver) reads the footer and takes every
        # n-th row group; a file with fewer row groups than slices simply
        # leaves the surplus slices empty
        rgs = [i for i in range(pf.metadata.num_row_groups) if i % part.n_slices == part.slice_idx]
        if not rgs:
            return
        kw["row_groups"] = rgs
    for batch in pf.iter_batches(columns=want, batch_size=1 << 16, **kw):
        by_name = dict(zip(batch.schema.names, batch.columns))
        arrays = []
        for phys, field in zip(part.proj, target):
            col = by_name.get(phys) if phys is not None else None
            if col is None:
                arrays.append(pa.nulls(batch.num_rows, type=field.type))
            else:
                arrays.append(col if col.type == field.type else col.cast(field.type))
        yield pa.RecordBatch.from_arrays(arrays, schema=target)


# ---------------- readers ----------------


def _version_opt(options, root: str, version_key: str, tag_key: str) -> int:
    """A snapshot endpoint given either as a version number or a tag name
    (mutually exclusive; 0 = unset)."""
    v = int(options.get(version_key, 0) or 0) or None
    return meta.endpoint(root, v, options.get(tag_key) or None, (version_key, tag_key)) or 0


class LakeCdcStreamReader(DataSourceStreamReader):
    """The streaming face: each microbatch is the snapshot span between
    two committed versions (``startingVersion`` / ``startingTag`` set the
    first), capped at ``maxVersionsPerBatch`` commits under a continuous
    trigger."""

    def __init__(self, options):
        self.root = options["path"]
        self.max_versions = int(options.get("maxversionsperbatch", 0) or 0)
        self.starting = _version_opt(options, self.root, "startingversion", "startingtag")
        self._last: int | None = None
        # pin the query's column set NOW (the declared schema is immutable
        # for the life of the query); an empty table pins lazily at the
        # first non-empty span
        snap = meta.snapshot(self.root)
        self._pin_cols = snap["columns"] if snap else None

    def initialOffset(self) -> dict:
        self._last = self.starting
        return {"version": self.starting}

    def latestOffset(self) -> dict:
        cur = meta.current_version(self.root) or 0
        if self.max_versions and self._last is not None:
            cur = min(cur, self._last + self.max_versions)
        if self._last is not None:
            cur = max(cur, self._last)
        self._last = cur
        return {"version": cur}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        frm, to = int(start["version"]), int(end["version"])
        if to <= frm:
            return [LakeFilePartition(None, (), [])]
        if self._pin_cols is None:
            self._pin_cols = meta.snapshot(self.root, to)["columns"]
        return _plan_partitions(self.root, frm, to, self._pin_cols)

    def read(self, partition: LakeFilePartition) -> Iterator:
        return _read_partition(partition)

    def commit(self, end: dict) -> None:
        # Spark's checkpoint IS the cursor; nothing table-side to advance.
        pass


class LakeCdcBatchReader(DataSourceReader):
    """Batch face of the same source: ``spark.read.format("lake_cdc")``
    with ``fromVersion`` / ``toVersion`` — an incremental scan between two
    retained snapshots (``fromVersion`` 0 = the whole table as of
    ``toVersion``, i.e. time travel)."""

    def __init__(self, options):
        self.root = options["path"]
        self.frm = _version_opt(options, self.root, "fromversion", "fromtag")
        self.to = _version_opt(options, self.root, "toversion", "totag") or (
            meta.current_version(self.root) or 0
        )

    def partitions(self) -> Sequence[InputPartition]:
        if self.to <= self.frm:
            return [LakeFilePartition(None, (), [])]
        return _plan_partitions(self.root, self.frm, self.to, None)

    def read(self, partition: LakeFilePartition) -> Iterator:
        return _read_partition(partition)


class LakeCdcDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def schema(self) -> T.StructType:
        root = self.options["path"]
        v = _version_opt(self.options, root, "toversion", "totag") or (meta.current_version(root) or 0)
        if v == 0:
            raise ValueError(
                f"lake table at {root!r} has no published snapshot yet — "
                "nothing to infer a schema from (merge a first batch, or "
                "pass an explicit .schema(...))"
            )
        # pin the endpoint the schema came from, so a commit racing between
        # schema inference and reader planning can't shift the batch scan
        # onto a newer (possibly evolved) snapshot than the one inferred.
        # A toTag endpoint is normalized to its resolved version here, so
        # the reader sees exactly one spelling of the pin.
        self.options["toversion"] = str(v)
        self.options.pop("totag", None)
        return T.StructType.fromJson(meta.snapshot(root, v)["schema"])

    def streamReader(self, schema) -> LakeCdcStreamReader:
        return LakeCdcStreamReader(self.options)

    def reader(self, schema) -> LakeCdcBatchReader:
        return LakeCdcBatchReader(self.options)


def register(spark) -> None:
    """Idempotently register the source on a session."""
    try:
        spark.dataSource.register(LakeCdcDataSource)
    except Exception as e:  # pragma: no cover - depends on session lineage
        # the registry is shared across newSession() clones: a re-register
        # from a sibling session raises ALREADY_EXISTS even though the
        # source is perfectly usable there
        if "DATA_SOURCE_ALREADY_EXISTS" not in str(e):
            raise


def scan(spark, root: str, **options):
    """Batch-read the ``lake_cdc`` source at ``root``. Keyword options pass
    through verbatim (``fromVersion=…``, ``toVersion=…``, ``fromTag=…``,
    ``toTag=…``)."""
    register(spark)
    r = spark.read.format(SOURCE_NAME).option("path", root)
    for k, v in options.items():
        r = r.option(k, str(v))
    return r.load()
