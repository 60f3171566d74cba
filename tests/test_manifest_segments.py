"""Segmented manifests (lake/manifests.py): commits write O(touched-bucket)
metadata, untouched buckets are carried by segment path, the exactly-once
batch registry spills past a bounded inline tail, and GC/expire never tear
a referenced segment away. ≙ Iceberg's snapshot → manifest-list →
manifest-file indirection, keyed by bucket."""

import datetime as dt
import json
import os
import re

import pytest

from dibbs_ecr_refiner_spark.lake import maintenance
from dibbs_ecr_refiner_spark.lake import manifests as mf
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


def _raw(table, v):
    with open(os.path.join(table._manifest_dir, f"v{v:08d}.json")) as f:
        return json.load(f)


def _seg_paths(raw):
    return {b: s["path"] for b, s in raw["file_segments"].items()}


def test_commit_reuses_untouched_bucket_segments_by_path(spark, tmp_path):
    """A one-bucket delta commit must rewrite exactly that bucket's segment
    and carry every other bucket's segment verbatim (same path = zero
    metadata bytes written for it)."""
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=8)
    rows = [(f"c{i}", 0, f"t{i}", i, False) for i in range(40)]
    table.merge(_delta(spark, rows), "b0")
    b = table.bucket_of("c7")
    table.merge(_delta(spark, [("c7", 1, "new", 100, False)]), "b1", mode="mor")

    s1, s2 = _seg_paths(_raw(table, 1)), _seg_paths(_raw(table, 2))
    assert set(s1) == set(s2)
    changed = {bk for bk in s2 if s2[bk] != s1.get(bk)}
    assert changed == {str(b)}, f"only bucket {b} may get a new segment, got {changed}"
    # and the raw snapshot inlines NO file list at all
    assert "files" not in _raw(table, 2)


def test_inflated_snapshot_matches_reads_and_feeds(spark, tmp_path):
    """The inflated view must be exactly what consumers always saw:
    read(), time travel, read_changes across the segmented chain."""
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    table.merge(_delta(spark, [("c1", 0, "v1", 1, False), ("c2", 0, "x", 2, False)]), "b0")
    table.merge(_delta(spark, [("c1", 0, "v2", 5, False)]), "b1", mode="mor")
    got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in table.read().collect()}
    assert got == {("c1", 0): "v2", ("c2", 0): "x"}
    old = {r["text"] for r in table.read(version=1).collect()}
    assert old == {"v1", "x"}
    changed = {r["text"] for r in table.read_changes(1, 2).collect()}
    assert changed == {"v2"}


def test_metadata_only_commit_writes_no_segments(spark, tmp_path):
    """rename/drop are metadata-only: the commit must carry EVERY segment
    by path — one small snapshot JSON regardless of table size."""
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=8)
    table.merge(_delta(spark, [(f"c{i}", 0, "t", i, False) for i in range(30)]), "b0")
    before = set(_seg_paths(_raw(table, 1)).values())
    table.rename_column("text", "body")
    after = _seg_paths(_raw(table, 2))
    assert set(after.values()) == before
    assert {r["body"] for r in table.read().collect()} == {"t"}


def test_snapshot_json_size_is_o_touched_not_o_files(spark, tmp_path):
    """The metadata write-amplification claim itself: after growing the
    table, a small commit's NEW metadata bytes (snapshot + new segments)
    must track the touched bucket, not the total file count."""
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=8)
    for k in range(6):
        rows = [(f"c{k}_{i}", 0, "x" * 20, k * 100 + i, False) for i in range(24)]
        table.merge(_delta(spark, rows), f"grow{k}", mode="mor")
    raw_before = {
        fn: os.path.getsize(os.path.join(table._manifest_dir, fn))
        for fn in os.listdir(table._manifest_dir)
    }
    table.merge(_delta(spark, [("c0_0", 1, "tiny", 10_000, False)]), "tiny", mode="mor")
    new_bytes = sum(
        os.path.getsize(os.path.join(table._manifest_dir, fn))
        for fn in os.listdir(table._manifest_dir)
        if fn not in raw_before
    )
    total_meta = sum(raw_before.values())
    # the tiny commit writes the snapshot + ONE bucket's segment; the
    # accumulated metadata of 6 fat commits is far larger
    assert new_bytes < total_meta / 3, (new_bytes, total_meta)
    snap_sz = os.path.getsize(os.path.join(table._manifest_dir, "v00000007.json"))
    assert snap_sz < 8_000, "snapshot JSON must stay small (no inline file list)"


def test_applied_batches_spill_keeps_registry_exact(spark, tmp_path):
    """Past the spill threshold the snapshot inlines only the tail, but
    the registry and lineage() must still see every batch ever applied."""
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=2)
    n = mf.APPLIED_SPILL_AT + 8
    for k in range(n):
        table.merge(_delta(spark, [("c1", 0, f"v{k}", k + 1, False)]), f"b{k}", mode="mor")
    raw = _raw(table, n)
    assert raw["applied_segments"], "registry must have spilled"
    assert len(raw["applied_recent"]) <= mf.APPLIED_SPILL_AT
    applied = table.current_snapshot()["applied_batches"]
    for k in range(n):
        assert f"b{k}" in applied, f"b{k} lost from the registry"
    assert table.merge(_delta(spark, [("c1", 0, "dup", 1, False)]), "b0")["skipped"]
    assert table.lineage().count() == n


def test_gc_sweeps_orphaned_segments_but_never_referenced_ones(spark, tmp_path):
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    for k in range(4):
        table.merge(_delta(spark, [(f"c{k}", 0, "x", k + 1, False)]), f"b{k}")
    seg_dir = table._manifest_dir
    live_before = {fn for fn in os.listdir(seg_dir) if fn.startswith("seg-")}
    # expire everything but the last 2 snapshots, then GC with age 0
    maintenance.expire_snapshots(table, keep_last=2)
    res = maintenance.gc_orphans(table, min_age_sec=0.0)
    live_after = {fn for fn in os.listdir(seg_dir) if fn.startswith("seg-")}
    assert res["removed_segments"] == len(live_before) - len(live_after)
    # every surviving snapshot still fully loads and reads
    for v in (3, 4):
        assert mf.load_snapshot(seg_dir, v)["files"]
    assert table.read().count() == 4
    # young orphans are protected: drop a fake orphan segment, age-guard on
    fake = os.path.join(seg_dir, "seg-deadbeefdeadbeef.json")
    with open(fake, "w") as f:
        json.dump([], f)
    res2 = maintenance.gc_orphans(table, min_age_sec=3600.0)
    assert os.path.exists(fake) and res2["removed_segments"] == 0
    os.remove(fake)


def test_inline_manifest_is_rejected(spark, tmp_path):
    """Format-2 manifests are always segmented: a manifest that inlines
    its files/applied_batches raises on open instead of loading."""
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    table.merge(_delta(spark, [("c1", 0, "old", 1, False)]), "b0")
    # rewrite v1 to the legacy inline shape
    raw = _raw(table, 1)
    snap = mf.inflate(table._manifest_dir, raw)
    legacy = {k: v for k, v in snap.items() if k not in ("file_segments", "applied_segments", "applied_recent")}
    p = os.path.join(table._manifest_dir, "v00000001.json")
    os.remove(p)
    with open(p, "w") as f:
        json.dump(legacy, f)
    for fn in list(os.listdir(table._manifest_dir)):
        if fn.startswith("seg-"):
            os.remove(os.path.join(table._manifest_dir, fn))
    mf._SEG_CACHE.clear()

    with pytest.raises(ValueError, match="inlines its file list"):
        LakeTable(spark, str(tmp_path / "t"), num_buckets=4)


def test_rebucket_rewrites_every_segment(spark, tmp_path):
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=2)
    table.merge(_delta(spark, [(f"c{i}", 0, "x", i + 1, False) for i in range(10)]), "b0")
    old = set(_seg_paths(_raw(table, 1)).values())
    maintenance.rebucket(table, 4)
    raw = _raw(table, 2)
    assert raw["num_buckets"] == 4
    assert not (set(_seg_paths(raw).values()) & old), "no old-layout segment may carry over"
    assert table.read().count() == 10


def test_segment_files_are_valid_compact_json(spark, tmp_path):
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=2)
    table.merge(_delta(spark, [("c1", 0, "x", 1, False)]), "b0")
    segs = [fn for fn in os.listdir(table._manifest_dir) if re.fullmatch(r"seg-[0-9a-f]+\.json", fn)]
    assert segs
    for fn in segs:
        with open(os.path.join(table._manifest_dir, fn)) as f:
            body = f.read()
        assert json.loads(body) is not None
        assert "\n " not in body, "segments must be compact (no indent)"
