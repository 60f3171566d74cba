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
  — the same span walk, era projection, tag resolution and file pruning
  ``LakeTable.read_changes`` and ``ChangeFeedReader`` use, so every
  surface returns the same rows for the same span. Maintenance rewrites
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
  microbatch may span (admission control within a run; the first batch
  after a checkpoint restart is uncapped because the API only hands the
  reader its own prior offset via ``partitions``).
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


def _plan_partitions(
    root: str,
    frm: int,
    to: int,
    split_bytes: int,
    pin_cols: list[dict] | None,
    prune: dict,
) -> list[LakeFilePartition]:
    """``pin_cols`` projects the span onto a FIXED column set (by field
    id) instead of the end snapshot's: a streaming query's schema is
    immutable for the life of the query, so after a mid-stream column
    add / rename / drop the reader must keep emitting the columns the
    query started with — ids stay stable across renames, a dropped id
    NULL-fills, and a column added after the pin is invisible until the
    stream restarts (≙ Iceberg's schema-pinned incremental scan).
    ``prune`` holds ``meta.prune``'s key / ts bounds."""
    span = meta.span(root, frm, to)
    files = meta.prune(span.files, span.num_buckets, **prune)
    cols = pin_cols if pin_cols is not None else span.snap["columns"]
    if not files:
        return [LakeFilePartition(None, (), cols)]
    parts = []
    for proj, fs in meta.projections(files, span.eras, cols).items():
        for f in fs:
            n = max(1, -(-int(f["bytes"]) // max(1, split_bytes)))
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


def _parse_ts_opt(v) -> int:
    """A ``sinceTs`` option value as epoch-µs: integer epoch-µs verbatim,
    else an ISO-8601 timestamp (naive = UTC, same convention the stats
    stamp uses)."""
    import datetime as _dt

    from .stats import _ts_us

    s = str(v)
    try:
        return int(s)
    except ValueError:
        return _ts_us(_dt.datetime.fromisoformat(s))


def _split_bytes(options) -> int:
    return int(options.get("targetsplitbytes", 0) or 0) or DEFAULT_SPLIT_BYTES


class LakeCdcStreamReader(DataSourceStreamReader):
    """The streaming face. ``pushFilters`` exists only on batch
    ``DataSourceReader`` in the 4.1 API, so a filtered streaming consumer
    would Arrow-scan every added file; the ``sinceTs`` / ``convId`` READ
    OPTIONS close that gap — the same ``meta.prune`` stats/bucket logic,
    declared up front instead of pushed down. Semantics: file-level
    IO pruning ONLY. A surviving file is delivered whole (stats are
    per-file ranges, not row predicates), so a consumer composes the
    option with the matching ``.filter()``; the option guarantees no
    QUALIFYING row is ever dropped, never that non-qualifying rows are."""

    def __init__(self, options):
        self.root = options["path"]
        self.split_bytes = _split_bytes(options)
        self.max_versions = int(options.get("maxversionsperbatch", 0) or 0)
        self._prune = {
            "conv_eq": options.get("convid"),
            "ts_lo": _parse_ts_opt(options["sincets"]) if "sincets" in options else None,
        }
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
        return _plan_partitions(
            self.root,
            frm,
            to,
            self.split_bytes,
            self._pin_cols,
            self._prune,
        )

    def read(self, partition: LakeFilePartition) -> Iterator:
        return _read_partition(partition)

    def commit(self, end: dict) -> None:
        # Spark's checkpoint IS the cursor; nothing table-side to advance.
        pass


class LakeCdcBatchReader(DataSourceReader):
    """Batch face of the same source: ``spark.read.format("lake_cdc")``
    with ``fromVersion`` / ``toVersion`` — an incremental scan between two
    retained snapshots (``fromVersion`` 0 = the whole table as of
    ``toVersion``, i.e. time travel).

    Deliberately does NOT define ``pushFilters``: PySpark 4.1 hard-errors
    (``DATA_SOURCE_PUSHDOWN_DISABLED``) when a reader merely *implements*
    it while ``spark.sql.python.filterPushdown.enabled`` is false — the
    Spark default — so a pushdown-capable reader would break every vanilla
    session. Filter pruning lives on :class:`LakeCdcPushdownBatchReader`,
    selected by the ``pushdown=true`` read option (set automatically by
    :func:`scan` when the session conf allows it). A plain session just
    scans unpruned — slower, never broken."""

    def __init__(self, options):
        self.root = options["path"]
        self.frm = _version_opt(options, self.root, "fromversion", "fromtag")
        self.to = _version_opt(options, self.root, "toversion", "totag") or (
            meta.current_version(self.root) or 0
        )
        self.split_bytes = _split_bytes(options)
        self._prune: dict = {}

    def _accept_filters(self, filters):
        """Partition-pruning pushdown (Spark 4.1 Python Data Source API):
        ``conv_id = v`` prunes to the key's bucket (driver-side xxhash —
        write/read hash parity is pinned by test) plus any file whose
        stamped conv_id [min,max] excludes v; ``ts >=/> T`` prunes files
        whose stamped ts-max is below the bound. Pruning is CONSERVATIVE
        (a dropped file provably holds no qualifying rows — un-stamped
        files are always scanned) and every filter is RETURNED so Spark
        re-evaluates it post-scan: the pushdown saves IO, never owns
        correctness. This is safe precisely because this source emits the
        RAW change feed with no LWW resolve — a row's qualification
        depends on nothing outside its own file."""
        from .stats import _ts_us

        for f in filters:
            cls = type(f).__name__
            col = getattr(f, "attribute", None)
            if cls == "EqualTo" and col == ("conv_id",) and isinstance(f.value, str):
                self._prune["conv_eq"] = f.value
            elif cls in ("GreaterThanOrEqual", "GreaterThan") and col == ("ts",):
                try:
                    self._prune["ts_lo"] = _ts_us(f.value)
                except (TypeError, ValueError, AttributeError):
                    pass
        return filters  # Spark re-applies everything

    def partitions(self) -> Sequence[InputPartition]:
        if self.to <= self.frm:
            return [LakeFilePartition(None, (), [])]
        return _plan_partitions(
            self.root, self.frm, self.to, self.split_bytes, None, self._prune
        )

    def read(self, partition: LakeFilePartition) -> Iterator:
        return _read_partition(partition)


class LakeCdcPushdownBatchReader(LakeCdcBatchReader):
    """The batch reader with filter pushdown. Split from the base class
    because Spark's worker refuses ANY reader that defines ``pushFilters``
    unless ``spark.sql.python.filterPushdown.enabled`` is on — this
    subclass is only handed out when the ``pushdown=true`` read option
    says the session opted in (see :meth:`LakeCdcDataSource.reader`)."""

    def pushFilters(self, filters):
        return self._accept_filters(filters)


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
        # reader() runs in a session-less Python worker, so the session
        # conf is unreachable here — the `pushdown` READ OPTION is the
        # only channel. Default false: a vanilla session must get a
        # working (unpruned) scan, never DATA_SOURCE_PUSHDOWN_DISABLED.
        if str(self.options.get("pushdown", "false")).lower() == "true":
            return LakeCdcPushdownBatchReader(self.options)
        return LakeCdcBatchReader(self.options)


PUSHDOWN_CONF = "spark.sql.python.filterPushdown.enabled"


def _pushdown_on(spark) -> bool:
    try:
        return str(spark.conf.get(PUSHDOWN_CONF, "false")).lower() == "true"
    except Exception:
        return False


def register(spark) -> None:
    """Idempotently register the source on a session, and best-effort
    enable Spark's Python-data-source pushdown protocol (a plain runtime
    SQL conf, default false in 4.1) so :func:`scan` can prune. A session
    that rejects the conf still works — reads just stay unpruned."""
    try:
        spark.dataSource.register(LakeCdcDataSource)
    except Exception as e:  # pragma: no cover - depends on session lineage
        # the registry is shared across newSession() clones: a re-register
        # from a sibling session raises ALREADY_EXISTS even though the
        # source is perfectly usable there
        if "DATA_SOURCE_ALREADY_EXISTS" not in str(e):
            raise
    if not _pushdown_on(spark):
        try:
            spark.conf.set(PUSHDOWN_CONF, "true")
        except Exception:
            pass  # read-only conf surface: degrade to unpruned scans


def scan(spark, root: str, **options):
    """Batch-read the ``lake_cdc`` source with filter pushdown enabled
    whenever the session supports it — the one call site that bridges the
    driver-side conf (visible here) to the worker-side reader choice (the
    ``pushdown`` option). Keyword options pass through verbatim
    (``fromVersion=…``, ``toVersion=…``, ``fromTag=…``, ``sinceTs=…``);
    pass ``pushdown=`` explicitly to override the conf-based default."""
    register(spark)
    r = spark.read.format(SOURCE_NAME).option("path", root)
    keys = {k.lower() for k in options}
    for k, v in options.items():
        r = r.option(k, str(v))
    if "pushdown" not in keys and _pushdown_on(spark):
        r = r.option("pushdown", "true")
    return r.load()
