"""LakeTable (Iceberg-shaped format) tests: commit atomicity, idempotent
re-apply, bucket pruning, schema evolution, tombstone semantics."""

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from dibbs_ecr_refiner_spark.lake.table import (
    IncompatibleSchemaChange,
    LakeTable,
    _merge_columns,
)

TS = dt.datetime(2026, 1, 1)
SCHEMA = (
    "conv_id string, turn_idx int, ts timestamp, change_lsn long, "
    "role string, text string, tool string, _deleted boolean"
)


def _delta(spark, rows):
    return spark.createDataFrame(
        [(c, i, t or TS, lsn, "user", x, None, d) for (c, i, x, lsn, d, t) in rows], SCHEMA
    )


def mk(spark, tmp_path, rows, batch="b0", buckets=4):
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=buckets)
    table.merge(_delta(spark, rows), batch)
    return table


def test_merge_and_read(spark, tmp_path):
    table = mk(spark, tmp_path, [("c1", 0, "hello", 1, False, None), ("c1", 1, "bye", 2, False, None)])
    got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in table.read().collect()}
    assert got == {("c1", 0): "hello", ("c1", 1): "bye"}


def test_lww_upsert_and_tombstone(spark, tmp_path):
    table = mk(spark, tmp_path, [("c1", 0, "v1", 1, False, None)])
    table.merge(_delta(spark, [("c1", 0, "v2", 5, False, None), ("c1", 1, "x", 6, True, None)]), "b1")
    rows = {(r["conv_id"], r["turn_idx"]): r["text"] for r in table.read().collect()}
    assert rows == {("c1", 0): "v2"}
    # tombstone row persisted (visible with include_tombstones)
    all_rows = table.read(include_tombstones=True).count()
    assert all_rows == 2


def test_late_event_loses_to_tombstone(spark, tmp_path):
    """An old (lower ts,lsn) redelivery after a delete must NOT resurrect
    the row — the tombstone retains (ts, change_lsn) and wins LWW."""
    table = mk(spark, tmp_path, [("c1", 0, None, 9, True, dt.datetime(2026, 1, 2))])
    table.merge(_delta(spark, [("c1", 0, "stale", 3, False, dt.datetime(2026, 1, 1))]), "b1")
    assert table.read().count() == 0


def test_idempotent_reapply(spark, tmp_path):
    table = mk(spark, tmp_path, [("c1", 0, "v1", 1, False, None)])
    res = table.merge(_delta(spark, [("c1", 0, "OTHER", 99, False, None)]), "b0")
    assert res["skipped"] is True
    assert [r["text"] for r in table.read().collect()] == ["v1"]


def test_bucket_pruning_rewrites_only_touched_buckets(spark, tmp_path):
    # many conversations spread over buckets; second merge touches one conv
    rows = [(f"c{i}", 0, f"t{i}", i, False, None) for i in range(40)]
    table = mk(spark, tmp_path, rows, buckets=8)
    snap1 = table.current_snapshot()
    from dibbs_ecr_refiner_spark.lake.table import bucket_expr

    b7 = spark.createDataFrame([("c7",)], "conv_id string").select(bucket_expr(8)).collect()[0][0]
    table.merge(_delta(spark, [("c7", 0, "updated", 100, False, None)]), "b1")
    snap2 = table.current_snapshot()
    untouched_v1 = {f["path"] for f in snap1["files"] if f["bucket"] != b7}
    untouched_v2 = {f["path"] for f in snap2["files"] if f["bucket"] != b7}
    touched_v1 = {f["path"] for f in snap1["files"] if f["bucket"] == b7}
    touched_v2 = {f["path"] for f in snap2["files"] if f["bucket"] == b7}
    # untouched buckets carried over byte-identical; touched bucket rewritten
    assert untouched_v1 == untouched_v2
    assert touched_v1.isdisjoint(touched_v2) and touched_v2
    assert snap2["applied_batches"]["b1"]["buckets_touched"] == 1
    got = {r["conv_id"]: r["text"] for r in table.read().collect()}
    assert got["c7"] == "updated" and got["c3"] == "t3"


def test_read_prunes_by_bucket(spark, tmp_path):
    rows = [(f"c{i}", 0, f"t{i}", i, False, None) for i in range(40)]
    table = mk(spark, tmp_path, rows, buckets=8)
    from dibbs_ecr_refiner_spark.lake.table import bucket_expr

    b = spark.createDataFrame([("c7",)], "conv_id string").select(bucket_expr(8)).collect()[0][0]
    pruned = table.read(buckets=[b])
    assert pruned.where(F.col("conv_id") == "c7").count() == 1
    assert pruned.count() < 40


def test_read_conversation_point_lookup(spark, tmp_path):
    """Point lookup prunes to one bucket via the manifest and returns
    exactly the conversation's live rows."""
    rows = [(f"c{i}", j, f"t{i}:{j}", i * 10 + j, False, None) for i in range(20) for j in range(2)]
    table = mk(spark, tmp_path, rows, buckets=8)
    got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in table.read_conversation("c7").collect()}
    assert got == {("c7", 0): "t7:0", ("c7", 1): "t7:1"}
    # bucket_of agrees with the write path's bucket assignment
    b = table.bucket_of("c7")
    snap = table.current_snapshot()
    assert any(f["bucket"] == b for f in snap["files"])


def test_schema_evolution_adds_column(spark, tmp_path):
    table = mk(spark, tmp_path, [("c1", 0, "v1", 1, False, None)])
    evolved = _delta(spark, [("c2", 0, "v2", 2, False, None)]).withColumn(
        "metadata", F.lit("m-1")
    )
    table.merge(evolved, "b1")
    out = {r["conv_id"]: r["metadata"] for r in table.read().collect()}
    # old rows read through the evolved schema as NULL
    assert out == {"c1": None, "c2": "m-1"}
    snap = table.current_snapshot()
    assert snap["schema_version"] == 2


def test_time_travel_point_lookup_across_a_rebucket(spark, tmp_path):
    """read(version=v, conv_id_eq=k) prunes by the bucket ``k`` had in
    snapshot v — hashing with the table's current (post-rebucket) count
    would look in the wrong old bucket and lose the key."""
    from dibbs_ecr_refiner_spark.lake.maintenance import rebucket

    keys = [f"k{i}" for i in range(16)]
    table = mk(spark, tmp_path, [(k, 0, k, i + 1, False, None) for i, k in enumerate(keys)], buckets=2)
    v1 = table.current_snapshot()["snapshot_id"]
    rebucket(table, 8)
    for k in keys:
        assert [r["text"] for r in table.read(version=v1, conv_id_eq=k).collect()] == [k], k
        assert [r["text"] for r in table.read_conversation(k).collect()] == [k], k


def test_driver_side_xxhash64_parity(spark):
    """bucket_of computes the bucket driver-side; it must agree bit-for-bit
    with the write path's F.xxhash64 expression for any key — covering all
    XXH64 length regimes (<4, <8, <32, >=32 bytes) and multi-byte UTF-8."""
    import random

    from dibbs_ecr_refiner_spark.lake.meta import xxhash64

    rng = random.Random(7)
    keys = ["", "a", "conv", "c" * 31, "c" * 32, "c" * 100, "naïve-Ωλ⚡", "日本語のキー"]
    keys += ["conv-%d-%s" % (i, "x" * rng.randrange(0, 64)) for i in range(50)]
    rows = spark.createDataFrame([(k,) for k in keys], "k string")
    got = {
        r["k"]: r["h"]
        for r in rows.select("k", F.xxhash64("k").alias("h")).collect()
    }
    for k in keys:
        h = xxhash64(k.encode("utf-8"))
        signed = h - (1 << 64) if h >= (1 << 63) else h
        assert signed == got[k], k


def test_drop_column_metadata_only_then_readd_gets_fresh_field_id(spark, tmp_path):
    """Dropping a column is a metadata-only commit: reads stop seeing it
    immediately and no data files change. Re-adding the same NAME is
    allowed — it gets a fresh field id, so the old bytes still sitting in
    un-rewritten files stay invisible (NULL), never resurrected."""
    import pytest as _pytest

    table = mk(spark, tmp_path, [("c1", 0, "v1", 1, False, None)])
    evolved = _delta(spark, [("c2", 0, "v2", 2, False, None)]).withColumn("metadata", F.lit("m"))
    table.merge(evolved, "b1")
    files_before = {f["path"] for f in table.current_snapshot()["files"]}

    table.drop_column("metadata")
    assert "metadata" not in table.read().columns
    assert {f["path"] for f in table.current_snapshot()["files"]} == files_before
    assert table.current_snapshot()["schema_version"] == 3

    # re-add the dropped name: new rows carry it, old bytes stay invisible
    table.merge(
        _delta(spark, [("c3", 0, "v3", 3, False, None)]).withColumn("metadata", F.lit("x")),
        "b2",
    )
    rows = {r["conv_id"]: r["metadata"] for r in table.read().collect()}
    assert rows == {"c1": None, "c2": None, "c3": "x"}  # c2's old "m" must NOT resurrect

    # engine columns are protected
    with _pytest.raises(ValueError):
        table.drop_column("conv_id")


def test_rename_column_metadata_only_resolves_old_files_by_field_id(spark, tmp_path):
    """Rename is a metadata-only commit (≙ Iceberg rename via field ids):
    old data files keep the old physical name and reads resolve it by id;
    post-rename writes use the new name; a COW rewrite that unions old
    files must not lose the renamed column's data."""
    import pytest as _pytest

    table = mk(spark, tmp_path, [("c1", 0, "v1", 1, False, None)])
    table.merge(
        _delta(spark, [("c2", 0, "v2", 2, False, None)]).withColumn("meta", F.lit("m2")),
        "b1",
    )
    files_before = {f["path"] for f in table.current_snapshot()["files"]}

    table.rename_column("meta", "metadata")
    assert {f["path"] for f in table.current_snapshot()["files"]} == files_before
    assert "metadata" in table.read().columns and "meta" not in table.read().columns
    # old file's bytes surface under the new name
    assert {r["conv_id"]: r["metadata"] for r in table.read().collect()} == {
        "c1": None,
        "c2": "m2",
    }

    # a post-rename COW merge touching c2's bucket rewrites the old file —
    # the renamed column's data must survive the era-aware union
    table.merge(
        _delta(spark, [("c2", 1, "new turn", 3, False, None)]).withColumn(
            "metadata", F.lit("m3")
        ),
        "b2",
    )
    rows = {(r["conv_id"], r["turn_idx"]): r["metadata"] for r in table.read().collect()}
    assert rows[("c2", 0)] == "m2" and rows[("c2", 1)] == "m3"

    # rename the renamed column again (id is stable across renames)
    table.rename_column("metadata", "meta2")
    assert {r["meta2"] for r in table.read().where("conv_id='c2'").collect()} == {"m2", "m3"}

    with _pytest.raises(ValueError):
        table.rename_column("conv_id", "cid")
    with _pytest.raises(ValueError):
        table.rename_column("meta2", "role")  # collision
    with _pytest.raises(ValueError):
        table.rename_column("nope", "x")


def test_rename_then_drop_then_readd_and_time_travel(spark, tmp_path):
    """The full evolution gauntlet: rename → drop → re-add same name. The
    re-added name must not read the renamed-away bytes either, and time
    travel still reads each snapshot through its own era."""
    table = mk(spark, tmp_path, [("c1", 0, "v1", 1, False, None)])
    table.merge(
        _delta(spark, [("c2", 0, "v2", 2, False, None)]).withColumn("tag", F.lit("t2")),
        "b1",
    )
    v_before = table.current_snapshot()["snapshot_id"]

    table.rename_column("tag", "label")
    table.drop_column("label")
    assert "label" not in table.read().columns and "tag" not in table.read().columns
    # re-add under the ORIGINAL name: fresh id — old bytes invisible
    table.merge(
        _delta(spark, [("c3", 0, "v3", 3, False, None)]).withColumn("tag", F.lit("t3")),
        "b2",
    )
    rows = {r["conv_id"]: r["tag"] for r in table.read().collect()}
    assert rows == {"c1": None, "c2": None, "c3": "t3"}

    # time travel: the pre-rename snapshot still reads the old era's names
    old = table.read(version=v_before)
    assert "tag" in old.columns
    assert {r["conv_id"]: r["tag"] for r in old.collect()} == {"c1": None, "c2": "t2"}


def test_rename_under_mor_deltas_and_compaction(spark, tmp_path):
    """Rename with pending merge-on-read delta files: read-time LWW spans
    files from two eras; compaction folds them and clears the old era from
    the manifest's era map."""
    from dibbs_ecr_refiner_spark.lake import maintenance

    table = mk(spark, tmp_path, [("c1", 0, "v1", 1, False, None)])
    table.merge(
        _delta(spark, [("c1", 0, "v1b", 2, False, None)]).withColumn("m", F.lit("a")),
        "b1",
        mode="mor",
    )
    table.rename_column("m", "meta")
    table.merge(
        _delta(spark, [("c1", 1, "v2", 3, False, None)]).withColumn("meta", F.lit("b")),
        "b2",
        mode="mor",
    )
    rows = {(r["conv_id"], r["turn_idx"]): (r["text"], r["meta"]) for r in table.read().collect()}
    assert rows == {("c1", 0): ("v1b", "a"), ("c1", 1): ("v2", "b")}

    maintenance.compact(table)
    snap = table.current_snapshot()
    # all live files now written under the current era → era map is just it
    assert set(snap["schemas"].keys()) == {str(snap["schema_version"])}
    rows2 = {(r["conv_id"], r["turn_idx"]): (r["text"], r["meta"]) for r in table.read().collect()}
    assert rows2 == rows


def test_incompatible_type_change_fails(spark):
    import pyspark.sql.types as T

    old = [{"id": 1, "name": "a", "type": T.StringType().jsonValue()}]
    new = T.StructType([T.StructField("a", T.LongType())])
    with pytest.raises(IncompatibleSchemaChange):
        _merge_columns(old, 2, new)


def test_nullability_only_difference_widens_not_fails(spark, tmp_path):
    """required→optional is a promotion, not an incompatible change: a
    maintenance rewrite feeds parquet READ-BACK rows into merge, and the
    round-trip normalizes nested required fields to optional — the fold of
    a MOR table whose first commit registered non-nullable nested fields
    must widen the registered type (same id), never raise."""
    import pyspark.sql.types as T

    item = lambda nullable: T.ArrayType(  # noqa: E731
        T.StructType(
            [
                T.StructField("code", T.StringType(), nullable),
                T.StructField("flag", T.BooleanType(), True),
            ]
        ),
        containsNull=nullable,
    )
    schema_strict = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("change_lsn", T.LongType(), True),
            T.StructField("_deleted", T.BooleanType(), False),
            T.StructField("items", item(False), True),
        ]
    )
    table = LakeTable(spark, str(tmp_path / "lake"), num_buckets=4)
    df1 = spark.createDataFrame([("c1", 0, TS, 1, False, [("x", True)])], schema_strict)
    table.merge(df1, "b1", mode="mor")
    ids1 = {c["name"]: c["id"] for c in table.current_snapshot()["columns"]}

    # read-back shape: everything nullable (what compact/fold feeds merge)
    df2 = table.read(include_tombstones=True)
    assert df2.schema["items"].dataType != item(False)  # round-trip widened
    with pytest.raises(ValueError, match="touched_buckets"):
        table.merge(df2, "b2", mode="rewrite")
    with pytest.raises(ValueError, match="touched_buckets"):
        table.merge(df2, "b2", touched_buckets=[0, 1, 2, 3])
    table.merge(df2, "b2", touched_buckets=[0, 1, 2, 3], mode="rewrite")

    snap = table.current_snapshot()
    ids2 = {c["name"]: c["id"] for c in snap["columns"]}
    assert ids1 == ids2, "widening must keep field ids stable"
    reg = {c["name"]: c["type"] for c in snap["columns"]}
    assert T._parse_datatype_json_value(reg["items"]) == df2.schema["items"].dataType
    assert {(r["conv_id"], r["turn_idx"]) for r in table.read().collect()} == {("c1", 0)}


def test_crash_before_commit_is_invisible_then_rerun_heals(spark, tmp_path):
    table = mk(spark, tmp_path, [("c1", 0, "v1", 1, False, None)])
    v1 = table.current_snapshot()["snapshot_id"]

    # Simulate a crash after data files land but before the snapshot commit.
    orig = table._commit
    table._commit = lambda m, **kw: (_ for _ in ()).throw(OSError("crash"))
    with pytest.raises(OSError):
        table.merge(_delta(spark, [("c1", 0, "v2", 5, False, None)]), "b1")
    table._commit = orig

    # Reader still sees v1 — uncommitted files are unreferenced.
    assert table.current_snapshot()["snapshot_id"] == v1
    assert [r["text"] for r in table.read().collect()] == ["v1"]

    # Rerun of the same batch commits cleanly and converges.
    res = table.merge(_delta(spark, [("c1", 0, "v2", 5, False, None)]), "b1")
    assert res["skipped"] is False
    assert [r["text"] for r in table.read().collect()] == ["v2"]


def test_manifest_is_valid_json_chain(spark, tmp_path):
    table = mk(spark, tmp_path, [("c1", 0, "v1", 1, False, None)])
    table.merge(_delta(spark, [("c1", 1, "v2", 2, False, None)]), "b1")
    snap = table.current_snapshot()
    assert snap["parent_id"] == 1 and snap["snapshot_id"] == 2
    with open(os.path.join(table._manifest_dir, "v00000001.json")) as f:
        parent = json.load(f)
    assert parent["snapshot_id"] == 1
    lin = table.lineage().collect()
    assert [r["batch_id"] for r in lin] == ["b0", "b1"]


def test_corrupt_record_quarantine(spark, tmp_path):
    """S3 analog: malformed change-log lines are quarantined, not fatal;
    valid rows flow through to replay."""
    import json as _json

    from dibbs_ecr_refiner_spark.sources.ingest import read_change_log_json

    p = tmp_path / "log.jsonl"
    good = {
        "conv_id": "c1", "turn_idx": 0, "op": "insert", "role": "user",
        "text": "hello", "tool": None, "ts": "2026-01-01T00:00:00Z",
        "change_lsn": 1, "ingest_file": "b0", "extra": {"src": "t"},
    }
    lines = [
        _json.dumps(good),
        '{"this is not valid json',                      # syntax error
        _json.dumps({"op": "insert", "text": "no key"}),  # parses, no PK
        _json.dumps({**good, "turn_idx": 1, "change_lsn": 2}),
    ]
    p.write_text("\n".join(lines) + "\n")
    valid, quarantined = read_change_log_json(spark, str(p))
    assert valid.count() == 2
    assert quarantined.count() == 2
    assert {r["turn_idx"] for r in valid.collect()} == {0, 1}


def test_corrupt_record_quarantine_csv(spark, tmp_path):
    """CSV flavor of the quarantine policy: type-mismatched and key-less
    rows quarantine; valid rows decode extra from its JSON cell and replay
    through the engine unchanged."""
    from dibbs_ecr_refiner_spark.sources.ingest import read_change_log_csv

    p = tmp_path / "log.csv"
    header = "conv_id,turn_idx,op,role,text,tool,ts,change_lsn,ingest_file,extra"
    lines = [
        header,
        'c1,0,insert,user,hello,,2026-01-01T00:00:00,1,b0,"{""src"":""t""}"',
        "c1,NOT_AN_INT,insert,user,bad,,2026-01-01T00:00:00,2,b0,",     # type mismatch
        ",,insert,user,no key,,2026-01-01T00:00:00,3,b0,",              # parses, no PK
        'c1,1,insert,user,bye,,2026-01-01T00:00:01,4,b0,"{""src"":""t""}"',
    ]
    p.write_text("\n".join(lines) + "\n")
    valid, quarantined = read_change_log_csv(spark, str(p))
    assert valid.count() == 2
    assert quarantined.count() == 2
    rows = {r["turn_idx"]: r for r in valid.collect()}
    assert set(rows) == {0, 1}
    assert rows[0]["extra"] == {"src": "t"}
    # valid rows carry the full standard change schema
    from dibbs_ecr_refiner_spark.streaming.apply import CHANGE_SCHEMA

    assert valid.schema == CHANGE_SCHEMA


# ---------------- round-2 hardening ----------------


def test_no_driver_side_footer_reads(spark, tmp_path, monkeypatch):
    """INGEST finalize must stay O(1) in file count: no per-file parquet
    footer reads on the driver. The footer reader that stamps data-skipping
    stats lives in lake/stats.py (this module stays pyarrow-free) and runs
    only on a MAINTENANCE rewrite: COW and MOR merges call it 0 times,
    compaction at least once."""
    import pathlib

    import dibbs_ecr_refiner_spark.lake.table as mod
    from dibbs_ecr_refiner_spark.lake import maintenance

    src = pathlib.Path(mod.__file__).read_text()
    assert "read_metadata" not in src
    assert "pyarrow" not in src

    calls = []
    real = mod.file_column_stats

    def counted(path):
        calls.append(path)
        return real(path)

    monkeypatch.setattr(mod, "file_column_stats", counted)
    table = mk(spark, tmp_path, [("c1", 0, "a", 1, False, None), ("c2", 0, "b", 2, False, None)])
    table.merge(_delta(spark, [("c2", 0, "b2", 3, False, None)]), "b1")
    table.merge(_delta(spark, [("c1", 0, "a2", 4, False, None)]), "b2", mode="mor")
    assert calls == []
    maintenance.compact(table)
    assert len(calls) >= 1


def test_lake_meta_and_stream_source_stay_sparksession_free():
    """The streaming driver and executors plan spans through lake/meta.py
    without a SparkSession: meta imports nothing from pyspark.sql, and the
    lake_cdc source reaches lake metadata only through meta, never through
    LakeTable."""
    import ast
    import pathlib

    import dibbs_ecr_refiner_spark.lake.meta as meta
    import dibbs_ecr_refiner_spark.lake.stream_source as src

    def imports(mod):
        names = set()
        for node in ast.walk(ast.parse(pathlib.Path(mod.__file__).read_text())):
            if isinstance(node, ast.Import):
                names.update(a.name for a in node.names)
            elif isinstance(node, ast.ImportFrom):
                names.add(node.module or "")
                names.update(f"{node.module or ''}.{a.name}" for a in node.names)
        return names

    assert not [n for n in imports(meta) if n.startswith("pyspark.sql")]
    assert not [n for n in imports(src) if "table" in n.split(".")]


def test_concurrent_writer_loser_cannot_clobber_winner(spark, tmp_path):
    """Two writers race for the same snapshot_id: the loser must raise
    SnapshotConflict AND the winner's committed data files must be intact
    (unique per-commit dirs — no shared final file names)."""
    from dibbs_ecr_refiner_spark.lake.table import SnapshotConflict

    table = mk(spark, tmp_path, [("c1", 0, "base", 1, False, None)])
    # Simulate a concurrent winner: commit snapshot 2 out from under a
    # second writer that also read snapshot 1.
    stale = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    table.merge(_delta(spark, [("c1", 1, "winner", 2, False, None)]), "winner")
    winner_files = {f["path"] for f in table.current_snapshot()["files"]}
    with pytest.raises(SnapshotConflict):
        # Force the stale writer to target the already-claimed version by
        # monkeypatching its view of the current snapshot to the stale one.
        stale_snap = stale.snapshot(1)
        stale.current_snapshot = lambda: stale_snap
        stale.merge(_delta(spark, [("c9", 0, "loser", 3, False, None)]), "loser")
    # every winner file still exists and is readable
    for rel in winner_files:
        assert os.path.exists(os.path.join(str(tmp_path / "t"), rel))
    got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in table.read().collect()}
    assert got == {("c1", 0): "base", ("c1", 1): "winner"}


def test_loser_past_the_existence_check_still_raises_conflict(spark, tmp_path, monkeypatch):
    """A check-then-rename commit has a window: the loser finds no
    v<N>.json, the winner creates it, and the loser's rename replaces it.
    Every existence probe of a snapshot file answers "absent" here, so only
    the create itself can refuse: the loser raises SnapshotConflict, the
    winner's manifest stays byte-identical and its batch stays applied."""
    import re

    from dibbs_ecr_refiner_spark.lake.table import SnapshotConflict

    table = mk(spark, tmp_path, [("c1", 0, "base", 1, False, None)])
    stale_snap = table.current_snapshot()
    table.merge(_delta(spark, [("c1", 1, "winner", 2, False, None)]), "winner")
    v2 = os.path.join(table._manifest_dir, "v00000002.json")
    with open(v2, "rb") as f:
        winner_manifest = f.read()

    real_exists = os.path.exists
    snapshot_file = re.compile(r"_manifests/v\d{8}\.json$")
    monkeypatch.setattr(os.path, "exists", lambda p: not snapshot_file.search(str(p)) and real_exists(p))
    stale = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    stale.current_snapshot = lambda: stale_snap
    with pytest.raises(SnapshotConflict):
        stale.merge(_delta(spark, [("c9", 0, "loser", 3, False, None)]), "loser")
    monkeypatch.undo()

    with open(v2, "rb") as f:
        assert f.read() == winner_manifest
    assert "winner" in table.current_snapshot()["applied_batches"]
    got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in table.read().collect()}
    assert got == {("c1", 0): "base", ("c1", 1): "winner"}


def test_num_buckets_comes_from_manifest(spark, tmp_path):
    table = mk(spark, tmp_path, [("c1", 0, "x", 1, False, None)], buckets=4)
    reopened = LakeTable(spark, str(tmp_path / "t"), num_buckets=64)
    assert reopened.num_buckets == 4
    # merge through the reopened handle still unions the key's existing rows
    reopened.merge(_delta(spark, [("c1", 0, "y", 2, False, None)]), "b1")
    got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in reopened.read().collect()}
    assert got == {("c1", 0): "y"}


def test_per_bucket_watermarks_are_true_maxima(spark, tmp_path):
    """A plain merge advances each touched bucket to its own max
    change_lsn, never to the batch-global one."""
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    from dibbs_ecr_refiner_spark.lake.table import bucket_expr

    # pick two conv_ids that land in different buckets
    probe = spark.createDataFrame(
        [(f"c{i}",) for i in range(16)], "conv_id string"
    ).withColumn("b", bucket_expr(4))
    by_bucket: dict[int, str] = {}
    for r in probe.collect():
        by_bucket.setdefault(int(r["b"]), r["conv_id"])
    (b1, cA), (b2, cB) = sorted(by_bucket.items())[:2]
    delta = _delta(spark, [(cA, 0, "a", 10, False, None), (cB, 0, "b", 99, False, None)])
    per = {
        int(r["b"]): int(r["m"])
        for r in delta.groupBy(bucket_expr(4).alias("b"))
        .agg(F.max("change_lsn").alias("m"))
        .collect()
    }
    assert len(per) == 2
    table.merge(delta, "b0")
    wm = {int(k): int(v) for k, v in table.current_snapshot()["watermarks"].items()}
    assert wm == per


def test_prepass_counts_ranges_touched_hot(spark, tmp_path):
    """One aggregate gives each batch's per-bucket row count, max
    change_lsn and ts range (none for an all-NULL-ts bucket); ``touched``
    is every bucket with rows, ``hot`` those over twice the mean count."""
    from dibbs_ecr_refiner_spark.lake.stats import _ts_us

    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    conv: dict[int, str] = {}
    for i in range(64):
        conv.setdefault(table.bucket_of(f"c{i}"), f"c{i}")
    (bh, hot_c), (bc, cold_c), (bn, null_c) = sorted(conv.items())[:3]
    t1, t2 = dt.datetime(2026, 1, 1), dt.datetime(2026, 1, 5)
    rows = [(hot_c, i, t2 if i == 9 else t1, 10 + i, "x") for i in range(10)]
    rows += [(cold_c, 0, t1, 5, "x"), (null_c, 0, None, 7, "x"), (cold_c, 1, t2, 30, "y")]
    changes = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, change_lsn long, batch string"
    )
    us1, us2 = _ts_us(t1), _ts_us(t2)

    pre = table.prepass(changes, "batch")
    assert set(pre) == {"x", "y"}
    x, y = pre["x"], pre["y"]
    assert x.counts == {bh: 10, bc: 1, bn: 1}
    assert x.lsn_max == {bh: 19, bc: 5, bn: 7}
    assert x.ts_range == {bh: [us1, us2], bc: [us1, us1]}
    assert x.touched == sorted([bh, bc, bn]) and x.hot == [bh]
    assert (y.counts, y.lsn_max, y.ts_range) == ({bc: 1}, {bc: 30}, {bc: [us2, us2]})
    assert y.touched == [bc] and y.hot == []

    whole = table.prepass(changes)
    assert set(whole) == {None}
    assert whole[None].counts == {bh: 10, bc: 2, bn: 1} and whole[None].hot == [bh]
    assert whole[None].lsn_max[bc] == 30 and whole[None].ts_range[bc] == [us1, us2]
    empty = table.prepass(changes.limit(0))[None]
    assert (empty.touched, empty.hot) == ([], [])


def test_compaction_leaves_watermarks_unchanged(spark, tmp_path):
    from dibbs_ecr_refiner_spark.lake.maintenance import compact

    table = mk(spark, tmp_path, [("c1", 0, "x", 7, False, None)])
    before = dict(table.current_snapshot()["watermarks"])
    compact(table, buckets=list(range(4)))
    assert dict(table.current_snapshot()["watermarks"]) == before


def test_gc_orphans_sweeps_unreferenced_dirs(spark, tmp_path):
    from dibbs_ecr_refiner_spark.lake.maintenance import gc_orphans

    table = mk(spark, tmp_path, [("c1", 0, "x", 1, False, None)])
    root = str(tmp_path / "t")
    # fake a crashed writer's leftovers
    os.makedirs(os.path.join(root, "_staging", "deadbeef"), exist_ok=True)
    os.makedirs(os.path.join(root, "data", "cdeadbeef", "_bucket=0"), exist_ok=True)
    open(os.path.join(root, "data", "cdeadbeef", "_bucket=0", "part-x.parquet"), "w").close()
    res = gc_orphans(table, min_age_sec=0.0)
    assert res["removed_dirs"] == 2
    assert not os.path.exists(os.path.join(root, "data", "cdeadbeef"))
    # committed data untouched
    assert table.read().count() == 1


def test_gc_sweeps_temp_files_a_crashed_publish_left(spark, tmp_path, monkeypatch):
    """A crash inside a metadata publish leaves its temp file: a commit's
    hint rewrite dies before its rename, and a tag create is killed before
    its hard link. gc_orphans sweeps both temps once past the age guard,
    verify_table stays clean, and the commit is current all the same."""
    import subprocess
    import sys

    from dibbs_ecr_refiner_spark.lake.maintenance import gc_orphans, verify_table

    table = mk(spark, tmp_path, [("c1", 0, "base", 1, False, None)])
    refs = os.path.join(table._manifest_dir, "_refs")
    os.makedirs(refs)

    def crash_on_pointer(real):
        def rename(src, dst):
            if os.path.basename(dst) == "_current":
                raise OSError("simulated crash")
            return real(src, dst)

        return rename

    monkeypatch.setattr(os, "replace", crash_on_pointer(os.replace))
    monkeypatch.setattr(os, "rename", crash_on_pointer(os.rename))
    with pytest.raises(OSError, match="simulated crash"):
        table.merge(_delta(spark, [("c1", 1, "next", 2, False, None)]), "b1")
    monkeypatch.undo()

    # a real kill: the process dies where the hard link would claim the tag
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    killed = subprocess.run(
        [
            sys.executable,
            "-c",
            "import os, sys\n"
            "from dibbs_ecr_refiner_spark.lake import manifests\n"
            "os.link = lambda *a: os._exit(17)\n"
            "manifests.create_if_absent(sys.argv[1], '{\"version\": 1}')\n",
            os.path.join(refs, "gold.json"),
        ],
        env={**os.environ, "PYTHONPATH": repo},
        timeout=120,
    )
    assert killed.returncode == 17

    def temps():
        return [fn for d in (table._manifest_dir, refs) for fn in os.listdir(d) if ".tmp" in fn]

    assert len(temps()) == 2
    assert gc_orphans(table, min_age_sec=3600.0)["removed_temp_files"] == 0
    assert gc_orphans(table, min_age_sec=0.0)["removed_temp_files"] == 2
    assert temps() == [] and table.tags() == {}
    assert verify_table(table)["issues"] == []
    assert sorted(r["text"] for r in table.read().collect()) == ["base", "next"]


def test_crash_after_snapshot_create_leaves_batch_committed(spark, tmp_path, monkeypatch):
    """Creating v<N>.json is the commit point: a merge that dies rewriting
    the _current hint has committed its batch. Readers probe past the stale
    hint, a rerun of the batch skips, later merges take the next versions
    instead of conflicting on the taken one, fsck is clean and GC sweeps
    the hint's leftover temp."""
    from dibbs_ecr_refiner_spark.lake.maintenance import gc_orphans, verify_table

    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    real_replace = os.replace

    def crash_on_hint(src, dst):
        if os.path.basename(dst) == "_current":
            raise OSError("simulated crash")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_on_hint)
    with pytest.raises(OSError, match="simulated crash"):
        table.merge(_delta(spark, [("c1", 0, "first", 1, False, None)]), "b1")
    monkeypatch.undo()

    assert [r["text"] for r in table.read().collect()] == ["first"]
    assert "b1" in table.current_snapshot()["applied_batches"]
    assert table.merge(_delta(spark, [("c1", 0, "first", 1, False, None)]), "b1")["skipped"]
    assert table.merge(_delta(spark, [("c2", 0, "second", 2, False, None)]), "b2")["snapshot_id"] == 2
    assert table.merge(_delta(spark, [("c3", 0, "third", 3, False, None)]), "b3")["snapshot_id"] == 3
    assert sorted(r["text"] for r in table.read().collect()) == ["first", "second", "third"]
    assert verify_table(table)["issues"] == []
    assert gc_orphans(table, min_age_sec=0.0)["removed_temp_files"] == 1
    assert not [fn for fn in os.listdir(table._manifest_dir) if fn.startswith(".tmp")]


def test_gc_does_not_sweep_staging_of_inflight_writer(spark, tmp_path):
    """A long-running write's staging dir must survive GC: the age check
    keys on the NEWEST file mtime under the dir (an active Spark write
    keeps creating task files), not the dir's own mtime — which is set at
    the START of the write and would age past any horizon on a write
    longer than min_age_sec."""
    import time as _t

    from dibbs_ecr_refiner_spark.lake.maintenance import gc_orphans

    table = mk(spark, tmp_path, [("c1", 0, "x", 1, False, None)])
    root = str(tmp_path / "t")
    staging = os.path.join(root, "_staging", "inflight1", "_bucket=0")
    os.makedirs(staging)
    old = _t.time() - 3600
    # dir tree created "an hour ago"…
    os.utime(os.path.join(root, "_staging", "inflight1"), (old, old))
    os.utime(staging, (old, old))
    # …but the writer just produced a task file (heartbeat)
    open(os.path.join(staging, "part-0.parquet"), "w").close()

    gc_orphans(table, min_age_sec=60.0)
    assert os.path.exists(staging), "in-flight staging must not be swept"

    # once the newest file is also past the horizon, it is swept
    os.utime(os.path.join(staging, "part-0.parquet"), (old, old))
    gc_orphans(table, min_age_sec=60.0)
    assert not os.path.exists(os.path.join(root, "_staging", "inflight1"))
