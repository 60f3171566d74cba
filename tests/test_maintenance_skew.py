"""Compaction / tombstone-GC tests."""

import datetime as dt

from pyspark.sql import functions as F

from dibbs_ecr_refiner_spark.lake.maintenance import compact, min_safe_gc_lsn
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


def test_compact_drops_old_tombstones(spark, tmp_path):
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    table.merge(_delta(spark, [("c1", 0, "live", 1, False), ("c1", 1, None, 2, True),
                               ("c2", 0, None, 3, True)]), "b0")
    assert table.read(include_tombstones=True).count() == 3
    # true per-bucket watermarks: c1's bucket at 2, c2's at 3
    safe = min_safe_gc_lsn(table)
    assert table.bucket_of("c1") != table.bucket_of("c2") and safe == 2
    res = compact(table, drop_tombstones_below=safe)
    assert not res.get("skipped")
    # the tombstone at the safe LSN goes; the one above it stays
    left = {(r["conv_id"], r["turn_idx"], r["_deleted"]) for r in table.read(include_tombstones=True).collect()}
    assert left == {("c1", 0, False), ("c2", 0, True)}
    assert [r["text"] for r in table.read().collect()] == ["live"]
    # GC'd tombstone must not resurrect on stale redelivery: the stale event
    # is below every committed watermark, so its batch is already applied —
    # replay skips it at the batch level (exactly-once registry).
    assert "b0" in table.current_snapshot()["applied_batches"]


def test_compact_noop_when_already_compact(spark, tmp_path):
    # COW merge rewrites each touched bucket wholly → steady state is one
    # file per bucket, so a plain compact() is a no-op.
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=2)
    for i, lsn in enumerate(range(4)):
        table.merge(_delta(spark, [(f"c{lsn}", 0, f"t{lsn}", lsn, False)]), f"b{i}")
    assert compact(table)["skipped"] is True


def test_compact_explicit_buckets_preserves_state(spark, tmp_path):
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=2)
    for i, lsn in enumerate(range(4)):
        table.merge(_delta(spark, [(f"c{lsn}", 0, f"t{lsn}", lsn, False)]), f"b{i}")
    before = {(r["conv_id"], r["text"]) for r in table.read().collect()}
    res = compact(table, buckets=[0, 1])
    after = {(r["conv_id"], r["text"]) for r in table.read().collect()}
    assert before == after
    by_bucket = {}
    for f in table.current_snapshot()["files"]:
        by_bucket[f["bucket"]] = by_bucket.get(f["bucket"], 0) + 1
    assert all(n == 1 for n in by_bucket.values())
    assert res["compacted_buckets"] == 2


def test_compact_skips_a_bucket_one_rewrite_split(spark, tmp_path, monkeypatch):
    """A rewrite splits a big bucket at MAX_RECORDS_PER_FILE into several
    files of one commit. That bucket is compact: the next compact() is a
    no-op, not an identical rewrite. Several files from an ingest commit
    still compact."""
    import dibbs_ecr_refiner_spark.lake.table as tbl

    monkeypatch.setattr(tbl, "MAX_RECORDS_PER_FILE", 3)
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=1)
    rows = [(f"c{i}", 0, f"t{i}", i, False) for i in range(10)]
    table.merge(_delta(spark, rows), "b0", mode="mor")
    assert not compact(table).get("skipped")
    snap = table.current_snapshot()
    assert len(snap["files"]) == 4 and all(f.get("rewrite") for f in snap["files"])

    assert compact(table)["skipped"] is True
    assert table.current_snapshot()["snapshot_id"] == snap["snapshot_id"]

    # a copy-on-write merge rewrites the bucket as 4 ingest files
    table.merge(_delta(spark, [("c0", 0, "t0b", 20, False)]), "b1")
    assert len(table.current_snapshot()["files"]) == 4
    assert compact(table)["compacted_buckets"] == 1
