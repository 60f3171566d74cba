"""Native Structured Streaming CDC source (Python Data Source API):
``spark.readStream.format("lake_cdc")`` over a LakeTable.

Covers: initial full load == the poll/commit feed's reset semantics,
incremental delivery of exactly the new commits, checkpoint restart with
no redelivery, maintenance-fold invisibility, era-aware rename projection
from pre-rename files, and the batch face (``spark.read.format("lake_cdc")``)
matching ``LakeTable.read_changes`` row for row."""

import datetime as dt

import pytest

from dibbs_ecr_refiner_spark.lake import maintenance
from dibbs_ecr_refiner_spark.lake.feed import ChangeFeedReader
from dibbs_ecr_refiner_spark.lake.stream_source import register
from dibbs_ecr_refiner_spark.lake.table import LakeTable

TS = dt.datetime(2026, 1, 1)
SCHEMA = (
    "conv_id string, turn_idx int, ts timestamp, change_lsn long, "
    "role string, text string, tool string, _deleted boolean"
)


def _delta(spark, rows):
    return spark.createDataFrame(
        [(c, i, TS, lsn, "user", x, None, d) for (c, i, x, lsn, d) in rows], SCHEMA
    )


def _key_set(rows):
    return {(r["conv_id"], r["turn_idx"], r["change_lsn"]) for r in rows}


class Sink:
    """foreachBatch collector (driver-side lists — local-mode test only)."""

    def __init__(self):
        self.batches = []

    def __call__(self, df, batch_id):
        self.batches.append((batch_id, df.collect()))

    @property
    def rows(self):
        return [r for _, rows in self.batches for r in rows]


def _stream(spark, root, checkpoint, sink, **opts):
    register(spark)
    reader = spark.readStream.format("lake_cdc").option("path", root)
    for k, v in opts.items():
        reader = reader.option(k, v)
    return (
        reader.load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def test_initial_load_then_incremental_only_new_commits(spark, tmp_path):
    root = str(tmp_path / "t")
    table = LakeTable(spark, root, num_buckets=4)
    table.merge(_delta(spark, [("c1", 0, "a", 1, False), ("c2", 0, "b", 2, False)]), "b0")
    table.merge(_delta(spark, [("c1", 0, "a2", 3, False)]), "b1", mode="mor")

    sink = Sink()
    q = _stream(spark, root, str(tmp_path / "cp"), sink)
    try:
        q.processAllAvailable()
        # initial load = every live file's rows (the feed-reset contract:
        # raw change stream, MOR deltas included — LWW is the consumer's job)
        assert _key_set(sink.rows) == {("c1", 0, 1), ("c2", 0, 2), ("c1", 0, 3)}

        before = len(sink.rows)
        table.merge(_delta(spark, [("c3", 0, "c", 4, False)]), "b2", mode="mor")
        q.processAllAvailable()
        assert _key_set(sink.rows[before:]) == {("c3", 0, 4)}
    finally:
        q.stop()


def test_checkpoint_restart_resumes_without_redelivery(spark, tmp_path):
    root = str(tmp_path / "t")
    cp = str(tmp_path / "cp")
    table = LakeTable(spark, root, num_buckets=4)
    table.merge(_delta(spark, [("c1", 0, "a", 1, False)]), "b0")

    s1 = Sink()
    q = _stream(spark, root, cp, s1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert _key_set(s1.rows) == {("c1", 0, 1)}

    # commits land while no query is running
    table.merge(_delta(spark, [("c2", 0, "b", 2, False)]), "b1", mode="mor")
    table.merge(_delta(spark, [("c2", 1, None, 3, True)]), "b2", mode="mor")

    s2 = Sink()
    q = _stream(spark, root, cp, s2)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # only the two new commits; the tombstone row is visible (change feed)
    assert _key_set(s2.rows) == {("c2", 0, 2), ("c2", 1, 3)}
    deleted = {r["change_lsn"]: r["_deleted"] for r in s2.rows}
    assert deleted[3] is True


def test_maintenance_fold_is_invisible_to_the_stream(spark, tmp_path):
    root = str(tmp_path / "t")
    table = LakeTable(spark, root, num_buckets=2)
    table.merge(_delta(spark, [("c1", 0, "a", 1, False)]), "b0")
    table.merge(_delta(spark, [("c1", 1, "b", 2, False)]), "b1", mode="mor")

    sink = Sink()
    q = _stream(spark, root, str(tmp_path / "cp"), sink)
    try:
        q.processAllAvailable()
        n = len(sink.rows)
        maintenance.compact(table)  # folds the MOR delta: a rewrite commit
        q.processAllAvailable()
        assert len(sink.rows) == n, "a fold must not re-deliver the table"
        # but a real commit after the fold still flows
        table.merge(_delta(spark, [("c9", 0, "z", 9, False)]), "b2", mode="mor")
        q.processAllAvailable()
        assert _key_set(sink.rows[n:]) == {("c9", 0, 9)}
    finally:
        q.stop()


def test_rebucket_is_invisible_and_stream_survives_it(spark, tmp_path):
    """Partition evolution mid-stream: a rebucket rewrites every file under
    a new bucket count, but it's a rewrite commit — the stream must deliver
    nothing for it and keep working for real commits after it."""
    root = str(tmp_path / "t")
    table = LakeTable(spark, root, num_buckets=2)
    table.merge(_delta(spark, [("c1", 0, "a", 1, False), ("c2", 0, "b", 2, False)]), "b0")

    sink = Sink()
    q = _stream(spark, root, str(tmp_path / "cp"), sink)
    try:
        q.processAllAvailable()
        n = len(sink.rows)
        maintenance.rebucket(table, 4)
        q.processAllAvailable()
        assert len(sink.rows) == n, "rebucket must not re-deliver the table"
        table.merge(_delta(spark, [("c3", 0, "c", 3, False)]), "b1", mode="mor")
        q.processAllAvailable()
        assert _key_set(sink.rows[n:]) == {("c3", 0, 3)}
    finally:
        q.stop()


def test_rename_era_projection_reads_old_files_by_field_id(spark, tmp_path):
    root = str(tmp_path / "t")
    table = LakeTable(spark, root, num_buckets=2)
    table.merge(_delta(spark, [("c1", 0, "old-bytes", 1, False)]), "b0")
    table.rename_column("text", "body")
    renamed = spark.createDataFrame(
        [("c2", 0, TS, 2, "user", "new-bytes", None, False)],
        SCHEMA.replace(" text ", " body "),
    )
    table.merge(renamed, "b1", mode="mor")

    sink = Sink()
    q = _stream(spark, root, str(tmp_path / "cp"), sink)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["conv_id"]: r["body"] for r in sink.rows}
    # the pre-rename file's physical column `text` resolves to `body` by id
    assert got == {"c1": "old-bytes", "c2": "new-bytes"}


def _span_mor_commit(spark, table):
    table.merge(
        _delta(spark, [("c3", 0, "c", 3, False), ("c1", 0, "a2", 4, False), ("c2", 0, None, 5, True)]),
        "b1",
        mode="mor",
    )


def _span_fold(spark, table):
    table.merge(_delta(spark, [("c1", 0, "a2", 3, False)]), "b1", mode="mor")
    maintenance.compact(table)
    table.merge(_delta(spark, [("c4", 0, "d", 4, False)]), "b2", mode="mor")


def _span_rename(spark, table):
    # the fold of every bucket prunes the pre-rename era from the END
    # manifest while the span still delivers the superseded delta
    table.merge(_delta(spark, [("c1", 0, "pre", 3, False)]), "b1", mode="mor")
    table.rename_column("text", "body")
    maintenance.compact(table, buckets=list(range(table.num_buckets)))
    renamed = spark.createDataFrame(
        [("c5", 0, TS, 4, "user", "post", None, False)], SCHEMA.replace(" text ", " body ")
    )
    table.merge(renamed, "b2", mode="mor")


def _span_drop(spark, table):
    # a dropped-then-re-added name gets a fresh id: the pre-drop delta's
    # `tool` bytes must read as NULL on every surface
    table.merge(
        spark.createDataFrame([("c1", 0, TS, 3, "user", "x", "old-tool", False)], SCHEMA), "b1", mode="mor"
    )
    table.drop_column("tool")
    table.merge(
        spark.createDataFrame([("c6", 0, TS, 4, "user", "y", "new-tool", False)], SCHEMA), "b2", mode="mor"
    )


def _span_rebucket(spark, table):
    table.merge(_delta(spark, [("c1", 0, "a2", 3, False)]), "b1", mode="mor")
    maintenance.rebucket(table, 8)
    table.merge(_delta(spark, [("c7", 0, "e", 4, False)]), "b2", mode="mor")


SPANS = {
    "mor_commit": _span_mor_commit,
    "fold": _span_fold,
    "rename": _span_rename,
    "drop": _span_drop,
    "rebucket": _span_rebucket,
    "tags": _span_mor_commit,
}


@pytest.mark.parametrize("span", sorted(SPANS))
def test_batch_face_matches_read_changes(spark, tmp_path, span):
    """Every read surface returns the same rows for the same snapshot
    span: ``read_changes`` ≡ the ``lake_cdc`` batch scan ≡
    ``ChangeFeedReader.poll``, for spans crossing a MOR commit, a fold, a
    rename, a drop, a rebucket, and with tag endpoints."""
    from dibbs_ecr_refiner_spark.lake.stream_source import scan

    root = str(tmp_path / "t")
    table = LakeTable(spark, root, num_buckets=4)
    table.merge(_delta(spark, [("c1", 0, "a", 1, False), ("c2", 0, "b", 2, False)]), "b0")
    v1 = table.current_snapshot()["snapshot_id"]
    table.tag("start")
    feed = ChangeFeedReader(table, str(tmp_path / "cursor"))
    feed.poll()
    feed.commit()

    SPANS[span](spark, table)
    if span == "tags":
        table.tag("end")
        via_table = table.read_changes(None, from_tag="start", to_tag="end")
        via_source = scan(spark, root, fromTag="start", toTag="end")
    else:
        via_table = table.read_changes(v1)
        via_source = scan(spark, root, fromVersion=v1)
    rows = lambda df: sorted(repr(tuple(r)) for r in df.collect())  # noqa: E731
    assert via_source.schema == via_table.schema
    assert rows(via_table) == rows(via_source) == rows(feed.poll())
    if span == "rebucket":  # files numbered under both bucket counts
        assert _key_set(via_source.collect()) == {("c1", 0, 3), ("c7", 0, 4)}
    # time travel: toVersion pins the endpoint
    at_v1 = scan(spark, root, toVersion=v1)
    assert _key_set(at_v1.collect()) == {("c1", 0, 1), ("c2", 0, 2)}
    assert rows(at_v1) == rows(table.read_changes(None, v1))


def test_stream_agrees_with_poll_commit_feed(spark, tmp_path):
    """The two CDC consumers (native source vs ChangeFeedReader) deliver
    the same spans for the same commit history."""
    root = str(tmp_path / "t")
    table = LakeTable(spark, root, num_buckets=4)
    table.merge(_delta(spark, [("c1", 0, "a", 1, False)]), "b0")

    feed = ChangeFeedReader(table, str(tmp_path / "cursor"))
    polled = feed.poll().collect()
    feed.commit()

    sink = Sink()
    q = _stream(spark, root, str(tmp_path / "cp"), sink)
    try:
        q.processAllAvailable()
        assert _key_set(sink.rows) == _key_set(polled)
        before = len(sink.rows)
        table.merge(_delta(spark, [("c2", 0, "b", 2, False)]), "b1", mode="mor")
        q.processAllAvailable()
        polled2 = feed.poll().collect()
        feed.commit()
        assert _key_set(sink.rows[before:]) == _key_set(polled2)
    finally:
        q.stop()


def test_max_versions_per_batch_splits_microbatches(spark, tmp_path):
    """Admission control: a burst of commits drains in capped spans, not
    one giant microbatch — at scale this bounds per-trigger state."""
    root = str(tmp_path / "t")
    table = LakeTable(spark, root, num_buckets=2)
    table.merge(_delta(spark, [("c1", 0, "a", 1, False)]), "b0")
    sink = Sink()
    q = _stream(spark, root, str(tmp_path / "cp"), sink, maxVersionsPerBatch="1")
    try:
        q.processAllAvailable()
        for i in range(3):  # burst while the stream is live
            table.merge(_delta(spark, [(f"x{i}", 0, "v", 10 + i, False)]), f"burst{i}", mode="mor")
        q.processAllAvailable()
    finally:
        q.stop()
    nonempty = [rows for _, rows in sink.batches if rows]
    # 1 initial + 3 capped single-commit batches
    assert len(nonempty) == 4
    assert all(len(rows) == 1 for rows in nonempty)
    assert _key_set(sink.rows) == {("c1", 0, 1), ("x0", 0, 10), ("x1", 0, 11), ("x2", 0, 12)}


def test_composes_with_downstream_aggregation(spark, tmp_path):
    """The source is a first-class streaming DataFrame: downstream
    groupBy/agg in update mode works like on any built-in source."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "t")
    table = LakeTable(spark, root, num_buckets=2)
    table.merge(
        _delta(spark, [("c1", 0, "a", 1, False), ("c1", 1, "b", 2, False), ("c2", 0, "c", 3, False)]),
        "b0",
    )
    register(spark)
    counts = {}

    def upsert(df, _bid):
        for r in df.collect():
            counts[r["conv_id"]] = r["n"]

    q = (
        spark.readStream.format("lake_cdc")
        .option("path", root)
        .load()
        .groupBy("conv_id")
        .agg(F.count("*").alias("n"))
        .writeStream.outputMode("update")
        .foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert counts == {"c1": 2, "c2": 1}
        table.merge(_delta(spark, [("c2", 1, "d", 4, False)]), "b1", mode="mor")
        q.processAllAvailable()
        assert counts == {"c1": 2, "c2": 2}
    finally:
        q.stop()


def test_large_file_splits_into_row_group_slices(tmp_path):
    """A multi-GB compaction base file must not become one task: slices
    partition the file's row groups disjointly and exhaustively."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dibbs_ecr_refiner_spark.lake.stream_source import LakeFilePartition, _read_partition

    path = str(tmp_path / "big.parquet")
    n = 1000
    pq.write_table(
        pa.table({"a": [f"k{i}" for i in range(n)], "n": list(range(n))}),
        path,
        row_group_size=64,  # -> 16 row groups
    )
    cols = [{"id": 1, "name": "a", "type": "string"}, {"id": 2, "name": "n", "type": "integer"}]
    proj = ("a", "n")

    whole = [
        b for b in _read_partition(LakeFilePartition(path, proj, cols))
    ]
    got_whole = {v for b in whole for v in b.column(1).to_pylist()}
    assert got_whole == set(range(n))

    n_slices = 5
    seen = []
    for i in range(n_slices):
        part = LakeFilePartition(path, proj, cols, slice_idx=i, n_slices=n_slices)
        seen.append({v for b in _read_partition(part) for v in b.column(1).to_pylist()})
    assert all(s for s in seen), "16 row groups over 5 slices: none empty"
    assert set().union(*seen) == set(range(n))
    assert sum(len(s) for s in seen) == n, "slices must be disjoint"


def test_split_option_end_to_end_and_manifest_bytes(spark, tmp_path, monkeypatch):
    """Files split into slices by their manifest ``bytes``: with the split
    size patched small, the batch face plans several slices per file and
    reading every slice yields exactly the unsliced rows."""
    from dibbs_ecr_refiner_spark.lake import stream_source

    root = str(tmp_path / "t")
    table = LakeTable(spark, root, num_buckets=2)
    table.merge(
        _delta(spark, [(f"c{i}", 0, "x" * 50, i + 1, False) for i in range(40)]), "b0"
    )
    # write path stamps sizes so the planner never stats (or reads) files
    assert all(f.get("bytes", 0) > 0 for f in table.current_snapshot()["files"])

    def read_all(parts):
        return _key_set(r for p in parts for b in stream_source._read_partition(p) for r in b.to_pylist())

    base = stream_source.LakeCdcBatchReader({"path": root}).partitions()
    monkeypatch.setattr(stream_source, "DEFAULT_SPLIT_BYTES", 512)  # several slices per file
    sliced = stream_source.LakeCdcBatchReader({"path": root}).partitions()
    assert len(sliced) > len(base)
    assert read_all(sliced) == read_all(base) == {(f"c{i}", 0, i + 1) for i in range(40)}


def test_stream_between_lakes_bronze_to_silver(spark, tmp_path):
    """A derived lake table maintained by the native stream end to end:
    row-wise transform, tombstone propagation, checkpoint resume with no
    duplicate application, and fold-on-source invisibility."""
    from pyspark.sql import functions as F

    from dibbs_ecr_refiner_spark.streaming.apply import stream_between_lakes

    bronze = LakeTable(spark, str(tmp_path / "bronze"), num_buckets=2)
    silver = LakeTable(spark, str(tmp_path / "silver"), num_buckets=2)
    cp = str(tmp_path / "cp")
    xform = lambda df: df.withColumn("text", F.upper(F.col("text")))  # noqa: E731

    bronze.merge(_delta(spark, [("c1", 0, "a", 1, False), ("c2", 0, "b", 2, False)]), "b0")
    q = stream_between_lakes(spark, bronze, silver, cp, transform=xform)
    q.awaitTermination()
    assert {r["text"] for r in silver.read().collect()} == {"A", "B"}

    # upsert + tombstone land in bronze while no chain is running
    bronze.merge(_delta(spark, [("c1", 0, "a2", 3, False), ("c2", 0, None, 4, True)]), "b1", mode="mor")
    # a fold on bronze must not re-deliver the table through the chain
    maintenance.compact(bronze)
    v_silver = silver.current_snapshot()["snapshot_id"]

    q = stream_between_lakes(spark, bronze, silver, cp, transform=xform)
    q.awaitTermination()
    got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in silver.read().collect()}
    assert got == {("c1", 0): "A2"}, "upsert transformed, tombstone propagated"
    # exactly one real commit (the b1 span); the fold contributed nothing
    assert silver.current_snapshot()["snapshot_id"] == v_silver + 1

    # re-running with nothing new leaves silver untouched
    q = stream_between_lakes(spark, bronze, silver, cp, transform=xform)
    q.awaitTermination()
    assert silver.current_snapshot()["snapshot_id"] == v_silver + 1


def test_stream_between_lakes_folds_by_the_one_policy(spark, tmp_path):
    """More than 8 merge-on-read chain epochs into a one-bucket silver
    table (one bronze commit per epoch, ``maxVersionsPerBatch=1``): each
    epoch folds silver's buckets over should_fold's threshold, so none is
    over it before the next epoch's merge or at the end, and silver
    equals the transform of bronze's resolved read."""
    from pyspark.sql import functions as F

    from dibbs_ecr_refiner_spark.streaming.apply import stream_between_lakes

    bronze = LakeTable(spark, str(tmp_path / "bronze"), num_buckets=2)
    silver = LakeTable(spark, str(tmp_path / "silver"), num_buckets=1)
    for i in range(10):
        rows = [(f"c{i % 3}", i, f"t{i}", 10 + i, False)]
        if i == 6:
            rows.append(("c0", 0, None, 30, True))
        bronze.merge(_delta(spark, rows), f"b{i}", mode="mor")

    over_before_merge = []
    real_merge = silver.merge

    def merge(df, batch_id, **kw):
        if batch_id.startswith("chain-"):  # not the fold's own rewrite
            over_before_merge.append(maintenance.should_fold(silver))
        return real_merge(df, batch_id, **kw)

    silver.merge = merge
    xform = lambda df: df.withColumn("text", F.upper(F.col("text")))  # noqa: E731
    # a continuous query: under availableNow the source delivers the
    # whole backlog in one epoch whatever its version cap
    q = stream_between_lakes(
        spark,
        bronze,
        silver,
        str(tmp_path / "cp"),
        transform=xform,
        available_now=False,
        max_versions_per_batch=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        silver.merge = real_merge

    applied = silver.current_snapshot()["applied_batches"]
    assert sum(b.startswith("chain-") for b in applied) == 10
    assert any(b.startswith("compact-") for b in applied), "no fold ran"
    # (merge can also run for an epoch that commits nothing)
    assert len(over_before_merge) >= 10 and not any(over_before_merge)
    assert not maintenance.should_fold(silver)
    cols = ["conv_id", "turn_idx", "text", "change_lsn"]
    want = sorted(tuple(r) for r in xform(bronze.read()).select(*cols).collect())
    assert sorted(tuple(r) for r in silver.read().select(*cols).collect()) == want


def test_stream_between_lakes_refuses_a_version_cap_under_available_now(spark, tmp_path):
    """An availableNow query lands the whole backlog as one epoch whatever
    ``maxVersionsPerBatch`` says, so the pair is an error raised before
    any query starts or checkpoint is written."""
    from dibbs_ecr_refiner_spark.streaming.apply import stream_between_lakes

    bronze = LakeTable(spark, str(tmp_path / "bronze"), num_buckets=2)
    silver = LakeTable(spark, str(tmp_path / "silver"), num_buckets=2)
    bronze.merge(_delta(spark, [("c1", 0, "a", 1, False)]), "b0")
    cp = tmp_path / "cp"
    active = len(spark.streams.active)
    with pytest.raises(ValueError, match="available_now"):
        stream_between_lakes(spark, bronze, silver, str(cp), max_versions_per_batch=1)
    assert len(spark.streams.active) == active
    assert not cp.exists()
    assert silver.current_snapshot() is None


def test_mid_stream_rename_keeps_the_pinned_query_schema(spark, tmp_path):
    """A streaming query's schema is immutable once started: a rename
    committed mid-stream must not change the emitted column names — the
    pinned field ids keep routing the renamed column's values to the name
    the query started with."""
    root = str(tmp_path / "t")
    table = LakeTable(spark, root, num_buckets=2)
    table.merge(_delta(spark, [("c1", 0, "before", 1, False)]), "b0")

    sink = Sink()
    q = _stream(spark, root, str(tmp_path / "cp"), sink)
    try:
        q.processAllAvailable()
        table.rename_column("text", "body")
        renamed = spark.createDataFrame(
            [("c2", 0, TS, 2, "user", "after", None, False)],
            SCHEMA.replace(" text ", " body "),
        )
        table.merge(renamed, "b1", mode="mor")
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["conv_id"]: r["text"] for r in sink.rows}
    assert got == {"c1": "before", "c2": "after"}


def test_mid_stream_added_column_is_invisible_until_restart(spark, tmp_path):
    root = str(tmp_path / "t")
    table = LakeTable(spark, root, num_buckets=2)
    table.merge(_delta(spark, [("c1", 0, "a", 1, False)]), "b0")

    sink = Sink()
    q = _stream(spark, root, str(tmp_path / "cp"), sink)
    try:
        q.processAllAvailable()
        widened = spark.createDataFrame(
            [("c2", 0, TS, 2, "user", "b", None, "fr", False)],
            SCHEMA.replace(" _deleted", " lang string, _deleted"),
        )
        table.merge(widened, "b1", mode="mor")
        q.processAllAvailable()
    finally:
        q.stop()
    # the running query keeps its pinned columns — no crash, no new field
    assert "lang" not in sink.rows[-1].asDict()
    assert _key_set(sink.rows) == {("c1", 0, 1), ("c2", 0, 2)}

    # a fresh query (new checkpoint) picks the evolved schema up
    s2 = Sink()
    q = _stream(spark, root, str(tmp_path / "cp2"), s2)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    langs = {r["conv_id"]: r["lang"] for r in s2.rows}
    assert langs == {"c1": None, "c2": "fr"}


def test_empty_table_schema_inference_raises(spark, tmp_path):
    register(spark)
    root = str(tmp_path / "empty")
    LakeTable(spark, root, num_buckets=2)
    with pytest.raises(Exception, match="no published snapshot"):
        spark.read.format("lake_cdc").option("path", root).load().collect()


def test_tag_anchored_batch_scan_and_stream_start(spark, tmp_path):
    """fromTag/toTag on the batch face and startingTag on the stream:
    endpoints by name, pinned against expiry by the tags themselves."""
    root = str(tmp_path / "t")
    table = LakeTable(spark, root, num_buckets=2)
    table.merge(_delta(spark, [("c1", 0, "a", 1, False)]), "b0")
    table.tag("july")
    table.merge(_delta(spark, [("c2", 0, "b", 2, False)]), "b1", mode="mor")
    table.tag("august")
    table.merge(_delta(spark, [("c3", 0, "c", 3, False)]), "b2", mode="mor")

    register(spark)
    got = (
        spark.read.format("lake_cdc")
        .option("path", root)
        .option("fromTag", "july")
        .option("toTag", "august")
        .load()
        .collect()
    )
    assert _key_set(got) == {("c2", 0, 2)}

    # streaming from a tag: only commits after it are delivered
    sink = Sink()
    q = _stream(spark, root, str(tmp_path / "cp"), sink, startingTag="august")
    try:
        q.processAllAvailable()
        assert _key_set(sink.rows) == {("c3", 0, 3)}
    finally:
        q.stop()

    # version + tag together is an error
    with pytest.raises(Exception, match="not both"):
        spark.read.format("lake_cdc").option("path", root).option("fromVersion", "1").option(
            "fromTag", "july"
        ).load().collect()


def test_bronze_to_silver_crash_between_merge_and_checkpoint_ack(spark, tmp_path):
    """End-to-end exactly-once ACROSS two tables: crash in the worst
    window — silver's merge committed, Spark's checkpoint ack for the
    epoch not yet written. Injected faithfully: the merge on silver
    succeeds and THEN the foreachBatch handler dies, so the query fails
    with offsets/<epoch> written but commits/<epoch> absent — exactly the
    on-disk state a process kill in that window leaves. The restart
    re-executes the SAME epoch id over the SAME offset span; silver's
    per-batch-id merge skip absorbs the redelivery — no duplicate rows,
    no second snapshot — and the chain keeps flowing afterward."""
    import pyspark.errors

    from pyspark.sql import functions as F

    from dibbs_ecr_refiner_spark.streaming.apply import stream_between_lakes

    bronze = LakeTable(spark, str(tmp_path / "bronze"), num_buckets=2)
    silver = LakeTable(spark, str(tmp_path / "silver"), num_buckets=2)
    cp = str(tmp_path / "cp")
    xform = lambda df: df.withColumn("text", F.upper(F.col("text")))  # noqa: E731

    bronze.merge(_delta(spark, [("c1", 0, "a", 1, False), ("c2", 0, "b", 2, False)]), "b0")
    stream_between_lakes(spark, bronze, silver, cp, transform=xform).awaitTermination()
    v_before = silver.current_snapshot()["snapshot_id"]

    # arm the crash: silver.merge commits, then the handler dies before
    # Spark can ack the epoch in the checkpoint
    real_merge = silver.merge

    def merge_then_crash(df, batch_id, **kw):
        res = real_merge(df, batch_id, **kw)
        if not res.get("skipped"):
            raise RuntimeError("injected crash after merge, before checkpoint ack")
        return res

    bronze.merge(_delta(spark, [("c1", 0, "a2", 3, False)]), "b1", mode="mor")
    silver.merge = merge_then_crash
    try:
        with pytest.raises(pyspark.errors.exceptions.captured.StreamingQueryException):
            stream_between_lakes(spark, bronze, silver, cp, transform=xform).awaitTermination()
    finally:
        silver.merge = real_merge

    # the crash window left its mark: the merge IS durable on silver...
    assert silver.current_snapshot()["snapshot_id"] == v_before + 1
    v_after = silver.current_snapshot()["snapshot_id"]
    applied_after = set(silver.current_snapshot()["applied_batches"])
    rows_after = {(r["conv_id"], r["turn_idx"], r["text"]) for r in silver.read().collect()}
    assert rows_after == {("c1", 0, "A2"), ("c2", 0, "B")}
    # ...but the checkpoint never acked the epoch
    import os as _os

    acked = {c for c in _os.listdir(_os.path.join(cp, "commits")) if not c.startswith(".")}
    offsets = {c for c in _os.listdir(_os.path.join(cp, "offsets")) if not c.startswith(".")}
    assert offsets - acked, "crash must land between offset write and commit ack"

    # restart: same epoch id, same span — redelivery is a no-op on silver
    stream_between_lakes(spark, bronze, silver, cp, transform=xform).awaitTermination()
    assert silver.current_snapshot()["snapshot_id"] == v_after, "redelivery must be a no-op"
    assert set(silver.current_snapshot()["applied_batches"]) == applied_after
    assert {(r["conv_id"], r["turn_idx"], r["text"]) for r in silver.read().collect()} == rows_after

    # the chain still advances on genuinely new data
    bronze.merge(_delta(spark, [("c3", 0, "c", 5, False)]), "b2", mode="mor")
    stream_between_lakes(spark, bronze, silver, cp, transform=xform).awaitTermination()
    assert ("c3", 0, "C") in {
        (r["conv_id"], r["turn_idx"], r["text"]) for r in silver.read().collect()
    }
