"""Merge-on-read mode, time travel, incremental (CDC-out) scans.

MOR commits write only the batch's refined winners as delta files (write
cost O(batch), no bucket rewrite); ``LakeTable.read`` LWW-resolves deltas
at read time and ``maintenance.compact`` folds them back to base files.
Correctness bar: a MOR replay, through ``ReplayEngine.read_refined`` or
after a fold, must equal the COW replay and the batch oracle exactly —
including narrative-display back-fill across batches."""

import collections
import dataclasses
import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from dibbs_ecr_refiner_spark.engine import ReplayEngine, batch_oracle, final_state_matches
from dibbs_ecr_refiner_spark.fixtures.changelog import ChangeLogParams, generate_changes
from dibbs_ecr_refiner_spark.lake import maintenance
from dibbs_ecr_refiner_spark.lake.table import LakeTable
from dibbs_ecr_refiner_spark.plans.config import default_plan

PARAMS = ChangeLogParams(
    n_conversations=40,
    turns_per_conv=8,
    n_events=2500,
    pct_out_of_order=0.15,
    pct_duplicates=0.08,
    pct_deletes=0.05,
    n_batches=5,
)

TS = dt.datetime(2026, 1, 1)
SCHEMA = (
    "conv_id string, turn_idx int, ts timestamp, change_lsn long, "
    "role string, text string, tool string, _deleted boolean"
)

CMP_COLS = [
    "conv_id", "turn_idx", "role", "text", "tool", "ts",
    "_outcome", "_matched_code", "_matched_display",
]


@pytest.fixture(scope="module")
def changes(spark):
    df = generate_changes(spark, PARAMS).cache()
    df.count()
    yield df
    df.unpersist()


def _fresh(spark, tmp_path, name="lake"):
    table = LakeTable(spark, str(tmp_path / name), num_buckets=8)
    return table, ReplayEngine(spark, table, default_plan())


def _delta(spark, rows):
    return spark.createDataFrame(
        [(c, i, t or TS, lsn, "user", x, None, d) for (c, i, x, lsn, d, t) in rows], SCHEMA
    )


def _rows(df):
    return sorted(tuple(r) for r in df.select(*CMP_COLS).collect())


def _bytes_per_bucket(snap):
    return sum(f["bytes"] for f in snap["files"]) // snap["num_buckets"]


# ---------------- MOR replay correctness ----------------


def test_mor_replay_matches_oracle(spark, tmp_path, changes):
    table, eng = _fresh(spark, tmp_path)
    stats = eng.replay(changes, mode="mor")
    assert stats.batches == PARAMS.n_batches
    # text/state equality straight off the resolved read
    assert final_state_matches(table.read(), batch_oracle(changes, eng.plan))
    # full-column equality (incl. cross-batch display back-fill) through
    # the enrichment-recomputing view
    assert _rows(eng.read_refined()) == _rows(batch_oracle(changes, eng.plan).select(*CMP_COLS))


def test_mor_writes_deltas_without_rewriting_base(spark, tmp_path, changes):
    """The write-amplification claim: after batch 2 commits in MOR mode,
    batch 1's files are still referenced byte-identical (carried), and the
    new files are tagged kind=delta."""
    table, eng = _fresh(spark, tmp_path)
    batch_ids = sorted(r[0] for r in changes.select("ingest_file").distinct().collect())
    eng.apply_batch(changes.where(F.col("ingest_file") == batch_ids[0]), batch_ids[0], mode="mor")
    snap1 = table.current_snapshot()
    eng.apply_batch(changes.where(F.col("ingest_file") == batch_ids[1]), batch_ids[1], mode="mor")
    snap2 = table.current_snapshot()
    paths1 = {f["path"] for f in snap1["files"]}
    paths2 = {f["path"] for f in snap2["files"]}
    assert paths1 <= paths2, "MOR must carry every existing file untouched"
    added = [f for f in snap2["files"] if f["path"] not in paths1]
    assert added and all(f.get("kind") == "delta" for f in added)


def test_mor_fold_converges_to_cow(spark, tmp_path, changes):
    cow_table, cow_eng = _fresh(spark, tmp_path, "cow")
    cow_eng.replay(changes, mode="cow")  # explicit: the cross-mode reference
    mor_table, mor_eng = _fresh(spark, tmp_path, "mor")
    mor_eng.replay(changes, mode="mor")
    res = mor_eng.fold_deltas()
    assert not res.get("skipped")
    snap = mor_table.current_snapshot()
    assert all(f.get("kind", "base") == "base" for f in snap["files"])
    # after the fold, the plain read (no enrichment recompute needed)
    # equals the COW replay on every column
    assert _rows(mor_table.read()) == _rows(cow_table.read())


def test_grouped_fold_equals_oneshot_with_valid_chain(spark, tmp_path, changes, monkeypatch):
    """Disk-bounded fold: with FOLD_SCRATCH_BYTES at three buckets' bytes,
    compact folds in groups of 3 buckets, one atomic snapshot commit per
    group — O(k·bucket) transient scratch instead of O(table). The grouped
    result must equal a one-shot fold row-for-row, and every intermediate
    snapshot must be a valid readable table (a crash between groups leaves
    committed groups folded and the rest still pending)."""
    one_t, one_e = _fresh(spark, tmp_path, "one")
    one_e.replay(changes, mode="mor")
    one_e.fold_deltas()

    grp_t, grp_e = _fresh(spark, tmp_path, "grp")
    grp_e.replay(changes, mode="mor")
    pending = sorted(
        {f["bucket"] for f in grp_t.current_snapshot()["files"] if f.get("kind") == "delta"}
    )
    assert len(pending) > 3, "fixture must leave several delta buckets"
    v0 = grp_t.current_snapshot()["snapshot_id"]
    monkeypatch.setattr(
        maintenance, "FOLD_SCRATCH_BYTES", 3 * _bytes_per_bucket(grp_t.current_snapshot())
    )
    res = grp_e.fold_deltas()
    assert res["group_buckets"] == 3
    assert res["commits"] == -(-len(pending) // 3)  # ceil
    vN = grp_t.current_snapshot()["snapshot_id"]
    assert vN == v0 + res["commits"], "one snapshot commit per group"

    # final state: all base files, row-identical to the one-shot fold
    assert all(f.get("kind", "base") == "base" for f in grp_t.current_snapshot()["files"])
    assert _rows(grp_t.read()) == _rows(one_t.read())

    # every intermediate snapshot in the chain is a valid table with the
    # same resolved live content (folding changes layout, never rows)
    n = grp_t.read().count()
    for v in range(v0, vN + 1):
        assert grp_t.read(version=v).count() == n


def test_auto_completion_fold_commits_in_scratch_bounded_groups(
    spark, tmp_path, changes, monkeypatch
):
    """A default auto replay's completion fold is disk-bounded with no
    option set: compact folds the pending buckets in groups of
    k = FOLD_SCRATCH_BYTES ÷ the snapshot's mean bytes per bucket, one
    commit each, and plain read() still equals the batch oracle, displays
    included."""
    probe, probe_eng = _fresh(spark, tmp_path, "probe")
    probe_eng.replay(changes, mode="mor")
    monkeypatch.setattr(
        maintenance, "FOLD_SCRATCH_BYTES", 3 * _bytes_per_bucket(probe.current_snapshot())
    )

    table, eng = _fresh(spark, tmp_path)
    stats = eng.replay(changes)
    last = table.snapshot(stats.lineage[-1]["snapshot_id"])
    pending = {f["bucket"] for f in last["files"] if f.get("kind") == "delta"}
    k = maintenance.FOLD_SCRATCH_BYTES // _bytes_per_bucket(last)
    assert 1 < k < len(pending), (k, len(pending))
    folds = table.current_snapshot()["snapshot_id"] - last["snapshot_id"]
    assert folds == -(-len(pending) // k)  # ceil
    assert not any(
        f.get("kind", "base") == "delta" for f in table.current_snapshot()["files"]
    )
    assert _rows(table.read()) == _rows(batch_oracle(changes, eng.plan).select(*CMP_COLS))


def _added_kinds_per_commit(table, stats):
    kinds_by_snapshot = []
    for rec in stats.lineage:
        snap = table.snapshot(rec["snapshot_id"])
        new_paths = {f["path"]: f for f in snap["files"]}
        prev = table.snapshot(rec["snapshot_id"] - 1) if rec["snapshot_id"] > 1 else None
        prev_paths = {f["path"] for f in prev["files"]} if prev else set()
        added = [f for p, f in new_paths.items() if p not in prev_paths]
        kinds_by_snapshot.append({f.get("kind", "base") for f in added})
    return kinds_by_snapshot


@pytest.mark.parametrize("final_fold", ["all", "threshold"])
@pytest.mark.parametrize("n_batches", [1, 2])
def test_auto_commits_mor_and_converges_on_fresh_small_log(
    spark, tmp_path, n_batches, final_fold
):
    """Auto mode has one commit policy whatever the batch-to-table ratio:
    even a 1-2 bulk-batch replay into an empty table commits every batch
    merge-on-read. ``final_fold="all"`` then leaves no delta behind (plain
    read equals the batch oracle, displays included); under either policy
    read_refined() equals the batch oracle."""
    table, eng = _fresh(spark, tmp_path)
    log = generate_changes(
        spark,
        ChangeLogParams(
            n_conversations=40, turns_per_conv=8, n_events=1000, n_batches=n_batches
        ),
    )
    want = _rows(batch_oracle(log, eng.plan).select(*CMP_COLS))
    stats = eng.replay(log, final_fold=final_fold)
    assert stats.batches == n_batches
    kinds_by_snapshot = _added_kinds_per_commit(table, stats)
    assert all(k == {"delta"} for k in kinds_by_snapshot), kinds_by_snapshot
    if final_fold == "all":
        assert not any(
            f.get("kind", "base") == "delta" for f in table.current_snapshot()["files"]
        )
        assert _rows(table.read()) == want
    assert _rows(eng.read_refined()) == want


def test_auto_with_final_fold_resolves_all_mor_and_converges(spark, tmp_path, changes):
    """Auto mode WITH the default completion fold over a multi-batch log:
    every batch commits MOR — each row is written at most twice (ingest +
    fold) — and the completed replay still gives the COW guarantee: no
    pending deltas, plain read == batch oracle, displays included."""
    table, eng = _fresh(spark, tmp_path)
    stats = eng.replay(changes)  # default mode="auto", final_fold="all"
    assert stats.batches == PARAMS.n_batches

    # every ingest commit is a delta commit
    kinds_by_snapshot = _added_kinds_per_commit(table, stats)
    assert all(k == {"delta"} for k in kinds_by_snapshot), kinds_by_snapshot

    # converged at completion: no pending deltas, plain read == oracle
    assert not any(
        f.get("kind", "base") == "delta" for f in table.current_snapshot()["files"]
    )
    assert _rows(table.read()) == _rows(batch_oracle(changes, eng.plan).select(*CMP_COLS))


def _max_deltas_per_bucket(snap):
    """The most pending delta commits in one bucket (should_fold's count)."""
    commits = {
        (f["bucket"], os.path.dirname(f["path"])) for f in snap["files"] if f.get("kind") == "delta"
    }
    return max(collections.Counter(b for b, _ in commits).values(), default=0)


def test_mor_replay_with_periodic_fold_matches_oracle(spark, tmp_path):
    """An auto replay of more than 8 batches folds a bucket between batches
    as soon as it holds more than 8 delta commits: no batch commits onto a
    bucket over that bound, a fold commit lands below the last batch's
    snapshot, and the result still equals the batch oracle."""
    table, eng = _fresh(spark, tmp_path)
    log = generate_changes(spark, dataclasses.replace(PARAMS, n_batches=12))
    stats = eng.replay(log)
    assert stats.batches == 12
    for rec in stats.lineage[1:]:
        assert _max_deltas_per_bucket(table.snapshot(rec["snapshot_id"] - 1)) <= 8
    applied = table.current_snapshot()["applied_batches"]
    last_batch = stats.lineage[-1]["snapshot_id"]
    assert any(
        b.startswith("compact-") and r["snapshot_id"] < last_batch for b, r in applied.items()
    ), "no fold ran between batches"
    assert _rows(table.read()) == _rows(batch_oracle(log, eng.plan).select(*CMP_COLS))


def test_mor_exactly_once_reapply(spark, tmp_path, changes):
    table, eng = _fresh(spark, tmp_path)
    eng.replay(changes, mode="mor")
    snap1 = table.current_snapshot()["snapshot_id"]
    stats2 = eng.replay(changes, mode="mor")
    assert stats2.batches == 0 and stats2.batches_skipped == PARAMS.n_batches
    assert table.current_snapshot()["snapshot_id"] == snap1


# ---------------- MOR primitive semantics (direct table API) ----------------


def test_mor_late_event_loses_at_read(spark, tmp_path):
    """A stale redelivery committed as a LATER MOR delta must lose the
    read-time LWW against the newer base row — and against a tombstone."""
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    table.merge(
        _delta(spark, [("c1", 0, "new", 9, False, dt.datetime(2026, 1, 2)),
                       ("c2", 0, None, 8, True, dt.datetime(2026, 1, 2))]),
        "b0",
    )
    table.merge(
        _delta(spark, [("c1", 0, "stale", 3, False, dt.datetime(2026, 1, 1)),
                       ("c2", 0, "zombie", 2, False, dt.datetime(2026, 1, 1))]),
        "b1",
        mode="mor",
    )
    got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in table.read().collect()}
    assert got == {("c1", 0): "new"}


def test_mor_upsert_and_tombstone_resolve_at_read(spark, tmp_path):
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    table.merge(_delta(spark, [("c1", 0, "v1", 1, False, None)]), "b0")
    table.merge(
        _delta(spark, [("c1", 0, "v2", 5, False, dt.datetime(2026, 1, 2)),
                       ("c1", 1, "x", 6, True, dt.datetime(2026, 1, 2))]),
        "b1",
        mode="mor",
    )
    rows = {(r["conv_id"], r["turn_idx"]): r["text"] for r in table.read().collect()}
    assert rows == {("c1", 0): "v2"}
    assert table.read(include_tombstones=True).count() == 2


def test_cow_merge_after_mor_folds_touched_buckets(spark, tmp_path):
    """Mixed modes: a COW merge touching a bucket with pending MOR deltas
    unions base + delta rows into its LWW, rewrites the bucket, and drops
    the superseded delta files from the manifest — modes interleave freely
    per batch."""
    from dibbs_ecr_refiner_spark.lake.table import bucket_expr

    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    table.merge(_delta(spark, [("c1", 0, "base", 1, False, None)]), "b0")
    table.merge(
        _delta(spark, [("c1", 1, "from-delta", 2, False, None)]), "b1", mode="mor"
    )
    assert any(f.get("kind") == "delta" for f in table.current_snapshot()["files"])
    # COW batch touching c1's bucket
    table.merge(
        _delta(spark, [("c1", 2, "cow", 3, False, dt.datetime(2026, 1, 2))]), "b2"
    )
    b = spark.createDataFrame([("c1",)], "conv_id string").select(bucket_expr(4)).collect()[0][0]
    snap = table.current_snapshot()
    assert not any(
        f.get("kind") == "delta" for f in snap["files"] if f["bucket"] == b
    ), "COW rewrite must supersede the bucket's delta files"
    got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in table.read().collect()}
    assert got == {("c1", 0): "base", ("c1", 1): "from-delta", ("c1", 2): "cow"}


def test_mor_schema_evolution(spark, tmp_path):
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    table.merge(_delta(spark, [("c1", 0, "v1", 1, False, None)]), "b0")
    evolved = _delta(spark, [("c2", 0, "v2", 2, False, None)]).withColumn(
        "metadata", F.lit("m-1")
    )
    table.merge(evolved, "b1", mode="mor")
    out = {r["conv_id"]: r["metadata"] for r in table.read().collect()}
    assert out == {"c1": None, "c2": "m-1"}
    assert table.current_snapshot()["schema_version"] == 2


def test_should_fold_policy_bounds_read_amplification(spark, tmp_path, changes):
    """should_fold names exactly the buckets whose pending delta-file count
    exceeds the threshold; compacting those (and only those) clears them."""
    from dibbs_ecr_refiner_spark.lake.maintenance import compact, should_fold

    table, eng = _fresh(spark, tmp_path)
    eng.replay(changes, mode="mor")
    over = should_fold(table, max_deltas_per_bucket=2)
    assert over, "5 MOR batches over 8 buckets must exceed 2 deltas somewhere"
    compact(table, buckets=over)
    assert should_fold(table, max_deltas_per_bucket=2) == []
    # untargeted buckets keep their (<=2) deltas — the fold was surgical
    snap = table.current_snapshot()
    remaining = {f["bucket"] for f in snap["files"] if f.get("kind") == "delta"}
    assert remaining.isdisjoint(over)


# ---------------- partition evolution ----------------


def test_rebucket_preserves_state_and_lww_continuity(spark, tmp_path, changes):
    """Rebucket 8→16 under live data (pending MOR deltas included): state
    is unchanged, the manifest flips num_buckets atomically, per-bucket
    watermark floor survives, and a later update to an existing key still
    wins LWW (the new bucket mapping unions the key's rows correctly)."""
    from dibbs_ecr_refiner_spark.lake.maintenance import min_safe_gc_lsn, rebucket

    table, eng = _fresh(spark, tmp_path)
    eng.replay(changes, mode="mor")  # leaves pending deltas
    before = _rows(eng.read_refined())
    gc_before = min_safe_gc_lsn(table)

    res = rebucket(table, 16)
    assert res["num_buckets"] == 16 and not res.get("skipped")
    snap = table.current_snapshot()
    assert snap["num_buckets"] == 16
    assert all(f.get("kind", "base") == "base" for f in snap["files"])
    assert {int(k) for k in snap["watermarks"]} == set(range(16))
    assert min_safe_gc_lsn(table) == gc_before
    assert _rows(eng.read_refined()) == before

    # reopened handle picks up the new bucketing; an upsert to an existing
    # key must still union that key's rows (LWW continuity across layouts)
    reopened = LakeTable(spark, str(tmp_path / "lake"))
    assert reopened.num_buckets == 16
    probe = before[0]
    conv, turn = probe[0], probe[1]
    reopened.merge(
        _delta(spark, [(conv, turn, "post-rebucket", 99_999_999, False,
                        dt.datetime(2027, 1, 1))]),
        "after-rebucket",
    )
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in reopened.read().where(
            (F.col("conv_id") == conv) & (F.col("turn_idx") == turn)
        ).collect()
    }
    assert got == {(conv, turn): "post-rebucket"}
    # exactly one row for the key — no duplicate from the old layout
    assert (
        reopened.read(include_tombstones=True)
        .groupBy("conv_id", "turn_idx").count().where("count > 1").isEmpty()
    )


def test_crash_mid_rebucket_resumes(spark, tmp_path, changes):
    """Crash inside a rebucket, after its files are written but before the
    snapshot commit: the handle keeps the old bucket count, the table
    reads and verifies as before, GC reclaims the orphaned commit dir, and
    the rerun lands with every new bucket at the old minimum watermark."""
    import os

    from dibbs_ecr_refiner_spark.lake.maintenance import (
        gc_orphans,
        min_safe_gc_lsn,
        rebucket,
        verify_table,
    )

    table, eng = _fresh(spark, tmp_path)
    eng.replay(changes, mode="mor")  # leaves pending deltas
    snap = table.current_snapshot()
    before = _rows(table.read())
    floor = min(int(v) for v in snap["watermarks"].values())
    data_dirs = set(os.listdir(table._data_dir))

    def crash(*_a, **_kw):
        raise OSError("simulated crash before the rebucket commit")

    table._commit = crash
    with pytest.raises(OSError):
        rebucket(table, 16)
    del table._commit

    assert table.num_buckets == 8
    assert table.current_snapshot()["snapshot_id"] == snap["snapshot_id"]
    assert _rows(table.read()) == before
    assert verify_table(table)["issues"] == []
    orphans = set(os.listdir(table._data_dir)) - data_dirs
    assert len(orphans) == 1, "the rebucket's commit dir is left unreferenced"
    assert gc_orphans(table, min_age_sec=0)["removed_dirs"] >= 1
    assert not orphans & set(os.listdir(table._data_dir))

    res = rebucket(table, 16)
    assert res["num_buckets"] == 16 and not res.get("skipped")
    wm = table.current_snapshot()["watermarks"]
    assert wm == {str(b): floor for b in range(16)}
    assert min_safe_gc_lsn(table) == floor
    assert _rows(table.read()) == before
    assert verify_table(table)["ok"]


def test_rebucket_same_count_is_noop(spark, tmp_path):
    from dibbs_ecr_refiner_spark.lake.maintenance import rebucket

    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    table.merge(_delta(spark, [("c1", 0, "v", 1, False, None)]), "b0")
    assert rebucket(table, 4).get("skipped")


# ---------------- time travel + incremental scan ----------------


def test_time_travel_reads_old_snapshot(spark, tmp_path):
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    table.merge(_delta(spark, [("c1", 0, "v1", 1, False, None)]), "b0")
    table.merge(_delta(spark, [("c1", 0, "v2", 5, False, dt.datetime(2026, 1, 2))]), "b1")
    assert [r["text"] for r in table.read(version=1).collect()] == ["v1"]
    assert [r["text"] for r in table.read().collect()] == ["v2"]


def test_incremental_scan_is_exact_under_mor(spark, tmp_path, changes):
    """Between consecutive MOR snapshots, read_changes emits exactly the
    batch's refined winners (upserts + tombstones) — the table's own CDC
    output feed."""
    table, eng = _fresh(spark, tmp_path)
    batch_ids = sorted(r[0] for r in changes.select("ingest_file").distinct().collect())
    eng.apply_batch(changes.where(F.col("ingest_file") == batch_ids[0]), batch_ids[0], mode="mor")
    v1 = table.current_snapshot()["snapshot_id"]
    eng.apply_batch(changes.where(F.col("ingest_file") == batch_ids[1]), batch_ids[1], mode="mor")
    v2 = table.current_snapshot()["snapshot_id"]

    feed = table.read_changes(v1, v2)
    # the feed is exactly batch 2's prepared winners (LWW + refine +
    # batch-local enrichment — what the MOR commit wrote), tombstones
    # included; lineage's rows_upserted counts raw applied *events*
    # (pre-LWW), so compare content, not the event count
    from dibbs_ecr_refiner_spark.engine import prepare_delta

    want = prepare_delta(changes.where(F.col("ingest_file") == batch_ids[1]), eng.plan)
    key_cols = ["conv_id", "turn_idx", "text", "change_lsn", "_deleted"]
    got_rows = sorted(tuple(r) for r in feed.select(*key_cols).collect())
    want_rows = sorted(tuple(r) for r in want.select(*key_cols).collect())
    assert got_rows == want_rows
    assert feed.groupBy("conv_id", "turn_idx").count().where("count > 1").isEmpty()
    lin = {r["batch_id"]: r for r in table.lineage().collect()}
    lo, hi = lin[batch_ids[1]]["lsn_min"], lin[batch_ids[1]]["lsn_max"]
    assert feed.where((F.col("change_lsn") < lo) | (F.col("change_lsn") > hi)).isEmpty()
    # tombstones are visible in the feed
    assert feed.where(F.col("_deleted")).count() > 0


def test_incremental_scan_from_none_is_full_table(spark, tmp_path):
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    table.merge(_delta(spark, [("c1", 0, "v1", 1, False, None)]), "b0")
    assert table.read_changes(None).count() == 1


# ---------------- change-feed consumer ----------------


def test_change_feed_reader_exactly_once_per_consumer(spark, tmp_path, changes):
    """CDC-out consumer: poll/commit cursor semantics — first poll streams
    the whole table, quiet polls are empty, new MOR batches arrive exactly
    once after commit, and an uncommitted poll re-delivers (at-least-once
    + idempotent downstream = exactly-once)."""
    from dibbs_ecr_refiner_spark.lake.feed import ChangeFeedReader

    table, eng = _fresh(spark, tmp_path)
    batch_ids = sorted(r[0] for r in changes.select("ingest_file").distinct().collect())
    eng.apply_batch(changes.where(F.col("ingest_file") == batch_ids[0]), batch_ids[0], mode="mor")

    feed = ChangeFeedReader(table, str(tmp_path / "cursor.json"))
    first = feed.poll()
    assert first.count() == table.read(include_tombstones=True).count()
    feed.commit()
    assert feed.poll().isEmpty()  # nothing new

    eng.apply_batch(changes.where(F.col("ingest_file") == batch_ids[1]), batch_ids[1], mode="mor")
    second = feed.poll()
    from dibbs_ecr_refiner_spark.engine import prepare_delta

    want = prepare_delta(changes.where(F.col("ingest_file") == batch_ids[1]), eng.plan).count()
    assert second.count() == want
    # crash before commit: re-poll re-delivers the same span
    assert feed.poll().count() == want
    feed.commit()
    assert feed.poll().isEmpty()
    # a second consumer has its own cursor and replays the full history:
    # every delta file's rows (batch-1 winners + batch-2 winners — a key
    # updated in both batches appears once per batch, as a feed should)
    other = ChangeFeedReader(table, str(tmp_path / "cursor2.json"))
    assert other.poll().count() == first.count() + want


def test_feed_lagging_past_retention_raises_then_resets(spark, tmp_path):
    """A consumer whose cursor predates the retention horizon gets a clear
    error (not a raw file error) and can reset() for a full resync."""
    from dibbs_ecr_refiner_spark.lake.feed import ChangeFeedReader, FeedLagsBehindRetention
    from dibbs_ecr_refiner_spark.lake.maintenance import expire_snapshots

    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    table.merge(_delta(spark, [("c1", 0, "v1", 1, False, None)]), "b0")
    feed = ChangeFeedReader(table, str(tmp_path / "cur.json"))
    feed.poll()
    feed.commit()  # cursor at snapshot 1
    for i in range(4):
        table.merge(
            _delta(spark, [("c1", i + 1, f"v{i}", 10 + i, False, None)]), f"b{i + 1}"
        )
    expire_snapshots(table, keep_last=1)  # snapshot 1 is gone
    with pytest.raises(FeedLagsBehindRetention):
        feed.poll()
    # a commit after the failed poll must NOT silently skip the span
    with pytest.raises(RuntimeError):
        feed.commit()
    feed.reset()
    assert feed.poll().count() == table.read(include_tombstones=True).count()


def test_feed_skips_maintenance_rewrites_without_losing_changes(spark, tmp_path):
    """A fold between polls is invisible to the feed (same logical
    content), BUT a fold that superseded an unconsumed delta must not
    swallow that delta's changes — the span walk reads the superseded
    file through the retained manifest."""
    from dibbs_ecr_refiner_spark.lake.feed import ChangeFeedReader
    from dibbs_ecr_refiner_spark.lake.maintenance import compact

    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    table.merge(_delta(spark, [("c1", 0, "v1", 1, False, None)]), "b0", mode="mor")
    feed = ChangeFeedReader(table, str(tmp_path / "cur.json"))
    feed.poll()
    feed.commit()

    # fold with nothing unconsumed → empty poll
    compact(table)
    assert feed.poll().isEmpty()
    feed.commit()

    # unconsumed MOR delta, then a fold that supersedes it → the poll
    # still returns exactly that delta's rows
    table.merge(
        _delta(spark, [("c1", 1, "unconsumed", 5, False, dt.datetime(2026, 1, 2))]),
        "b1",
        mode="mor",
    )
    compact(table)
    got = feed.poll().collect()
    assert [(r["conv_id"], r["turn_idx"], r["text"]) for r in got] == [("c1", 1, "unconsumed")]
    feed.commit()
    assert feed.poll().isEmpty()


def test_feed_reads_superseded_delta_through_its_era_after_rename_then_fold(spark, tmp_path):
    """A MOR delta written under column ``m``, then ``rename m -> meta``,
    then a fold of every bucket: the fold prunes the delta's era from the
    END manifest, but the span walk still delivers the delta file — it
    must be read through the era recorded in the walked manifests, not by
    the current name (which the file does not have)."""
    from dibbs_ecr_refiner_spark.lake.feed import ChangeFeedReader
    from dibbs_ecr_refiner_spark.lake.maintenance import compact

    schema = SCHEMA.replace(" _deleted", " m string, _deleted")
    rows = lambda *rs: spark.createDataFrame(  # noqa: E731
        [(c, 0, TS, lsn, "user", "t", None, m, False) for (c, lsn, m) in rs], schema
    )
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=2)
    table.merge(rows(("c0", 1, "base")), "b0")
    v1 = table.current_snapshot()["snapshot_id"]
    feed = ChangeFeedReader(table, str(tmp_path / "cur.json"))
    feed.poll()
    feed.commit()

    table.merge(rows(("c1", 2, "a")), "b1", mode="mor")
    table.rename_column("m", "meta")
    compact(table, buckets=[0, 1])

    want = [("c1", "a")]
    assert [(r["conv_id"], r["meta"]) for r in table.read_changes(v1).collect()] == want
    assert [(r["conv_id"], r["meta"]) for r in feed.poll().collect()] == want


def test_feed_expired_intermediate_falls_back_to_full_redelivery(spark, tmp_path):
    """When the span's manifests were expired, the feed over-delivers (the
    endpoint diff including rewrites) instead of silently losing changes."""
    from dibbs_ecr_refiner_spark.lake.feed import ChangeFeedReader
    from dibbs_ecr_refiner_spark.lake.maintenance import compact, expire_snapshots

    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    table.merge(_delta(spark, [("c1", 0, "v1", 1, False, None)]), "b0", mode="mor")
    feed = ChangeFeedReader(table, str(tmp_path / "cur.json"))
    feed.poll()
    feed.commit()  # cursor at v1
    table.merge(
        _delta(spark, [("c1", 1, "mid", 5, False, dt.datetime(2026, 1, 2))]), "b1", mode="mor"
    )
    compact(table)  # v3 rewrite absorbs v2's delta
    # expire the intermediate v2 manifest but keep the cursor's v1
    import os as _os

    _os.remove(_os.path.join(str(tmp_path / "t"), "_manifests", "v00000002.json"))
    rows = feed.poll().collect()
    texts = sorted(r["text"] for r in rows)
    assert texts == ["mid", "v1"], "full redelivery, never loss"


# ---------------- incremental materialized view ----------------


def test_incremental_rollup_view_matches_full_recompute(spark, tmp_path, changes):
    """Materialized-view maintenance off the change feed: refresh after
    every ingest batch recomputes only touched conversations, yet the
    derived table always equals a full recompute over the live source —
    including conversations that disappear entirely (rollup tombstones).
    A crashed refresh (merge landed, feed ack lost) re-runs to identical
    rows."""
    from dibbs_ecr_refiner_spark.lake.feed import ChangeFeedReader
    from dibbs_ecr_refiner_spark.lake.views import (
        conversation_rollup,
        refresh_conversation_rollup,
    )

    src, eng = _fresh(spark, tmp_path)
    dst = LakeTable(spark, str(tmp_path / "rollup"), num_buckets=4)
    feed = ChangeFeedReader(src, str(tmp_path / "cursor.json"))

    batch_ids = sorted(r[0] for r in changes.select("ingest_file").distinct().collect())
    for i, b in enumerate(batch_ids):
        eng.apply_batch(changes.where(F.col("ingest_file") == b), b, mode="mor")
        refresh_conversation_rollup(src, dst, feed, f"refresh-{i}")

    cmp_cols = ["conv_id", "n_turns", "roles", "first_ts", "last_ts"]
    got = sorted(tuple(r) for r in dst.read().select(*cmp_cols).collect())
    want = sorted(
        tuple(r)
        for r in conversation_rollup(src.read())
        .select(*cmp_cols)
        .collect()
    )
    assert got == want and got

    # lost-ack crash: re-deliver the last span under a fresh batch id —
    # rows recompute to the same values, the view is unchanged
    import json as _json

    with open(str(tmp_path / "cursor.json")) as f:
        cur = _json.load(f)
    prev = dst.current_snapshot()["snapshot_id"]
    with open(str(tmp_path / "cursor.json"), "w") as f:
        _json.dump({"version": max(1, cur["version"] - 1)}, f)
    refresh_conversation_rollup(src, dst, feed, "refresh-replayed")
    got2 = sorted(tuple(r) for r in dst.read().select(*cmp_cols).collect())
    assert got2 == want
    assert dst.current_snapshot()["snapshot_id"] > prev  # it DID re-merge


ROLLUP_COLS = ["conv_id", "n_turns", "roles", "first_ts", "last_ts"]


def _rollup_rows(df):
    return sorted(tuple(r) for r in df.select(*ROLLUP_COLS).collect())


def _view_step(spark, src, i):
    """One small merge-on-read commit on the view's source: a new turn of
    one of three conversations, and a delete of the first one's turn 0 at
    step 6."""
    t = TS + dt.timedelta(minutes=i)
    rows = [(f"c{i % 3}", i, f"s{i}", 100 + i, False, t)]
    if i == 6:
        rows.append(("c0", 0, None, 200, True, t))
    src.merge(_delta(spark, rows), f"src-{i}", mode="mor")


def test_rollup_refreshes_fold_by_the_one_policy(spark, tmp_path):
    """More than 8 refreshes into a one-bucket view: every refresh lands a
    merge-on-read delta, and the refresh folds the view's buckets over
    should_fold's threshold, so after each refresh no bucket is over it
    and the view equals a full recompute."""
    from dibbs_ecr_refiner_spark.lake.feed import ChangeFeedReader
    from dibbs_ecr_refiner_spark.lake.views import (
        conversation_rollup,
        refresh_conversation_rollup,
    )

    src = LakeTable(spark, str(tmp_path / "src"), num_buckets=2)
    dst = LakeTable(spark, str(tmp_path / "rollup"), num_buckets=1)
    feed = ChangeFeedReader(src, str(tmp_path / "cursor.json"))
    for i in range(10):
        _view_step(spark, src, i)
        refresh_conversation_rollup(src, dst, feed, f"refresh-{i}")
        assert not maintenance.should_fold(dst), f"refresh {i} left the view over the threshold"
        assert _rollup_rows(dst.read()) == _rollup_rows(conversation_rollup(src.read()))
    assert any(b.startswith("compact-") for b in dst.current_snapshot()["applied_batches"])


def test_rollup_refresh_heals_a_fold_that_crashed(spark, tmp_path, monkeypatch):
    """A crash in the fold after a refresh's merge (and feed ack) landed
    leaves the view over the threshold. The next refresh has an empty feed
    and merges nothing, yet it folds: no bucket stays over the threshold
    and the view equals a full recompute."""
    from dibbs_ecr_refiner_spark.lake.feed import ChangeFeedReader
    from dibbs_ecr_refiner_spark.lake.views import (
        conversation_rollup,
        refresh_conversation_rollup,
    )

    src = LakeTable(spark, str(tmp_path / "src"), num_buckets=2)
    dst = LakeTable(spark, str(tmp_path / "rollup"), num_buckets=1)
    feed = ChangeFeedReader(src, str(tmp_path / "cursor.json"))
    for i in range(8):
        _view_step(spark, src, i)
        refresh_conversation_rollup(src, dst, feed, f"refresh-{i}")
    assert not maintenance.should_fold(dst)

    real_compact = maintenance.compact

    def crash_once(*a, **kw):
        monkeypatch.setattr(maintenance, "compact", real_compact)
        raise OSError("simulated crash before the fold")

    monkeypatch.setattr(maintenance, "compact", crash_once)
    _view_step(spark, src, 8)
    with pytest.raises(OSError):
        refresh_conversation_rollup(src, dst, feed, "refresh-8")
    assert maintenance.should_fold(dst) == [0]
    assert maintenance.compact is real_compact

    version = dst.current_snapshot()["snapshot_id"]
    res = refresh_conversation_rollup(src, dst, feed, "refresh-9")
    assert res.get("empty_feed")
    assert dst.current_snapshot()["snapshot_id"] > version  # the fold committed
    assert not maintenance.should_fold(dst)
    assert _rollup_rows(dst.read()) == _rollup_rows(conversation_rollup(src.read()))


# ---------------- chaos: interleaved modes + maintenance ----------------


def test_chaos_interleaved_modes_and_maintenance_match_oracle(spark, tmp_path, changes):
    """The strongest MOR correctness claim: COW and MOR batches interleaved
    with folds, surgical compaction, partition evolution, snapshot expiry
    and GC — in any order — still converge to the single-shot batch oracle
    on every column. Every step the engine exposes is exercised against
    the same invariant."""
    from dibbs_ecr_refiner_spark.lake.maintenance import (
        compact,
        expire_snapshots,
        gc_orphans,
        rebucket,
        should_fold,
    )

    table, eng = _fresh(spark, tmp_path)
    batch_ids = sorted(r[0] for r in changes.select("ingest_file").distinct().collect())
    for i, b in enumerate(batch_ids):
        mode = "mor" if i % 2 == 0 else "cow"
        eng.apply_batch(changes.where(F.col("ingest_file") == b), b, mode=mode)
        if i == 1:
            over = should_fold(table, max_deltas_per_bucket=0)
            if over:
                compact(table, buckets=over, post=lambda d: d)
        if i == 2:
            rebucket(table, 16)
        if i == 3:
            eng.fold_deltas()
            expire_snapshots(table, keep_last=2)
            gc_orphans(table, min_age_sec=0.0)
    got = _rows(eng.read_refined())
    want = _rows(batch_oracle(changes, eng.plan).select(*CMP_COLS))
    assert got == want


def test_mor_crash_resume_heals(spark, tmp_path, changes):
    """Crash during a MOR commit: uncommitted delta files are unreferenced;
    resume re-applies only the failed batch and converges to the oracle."""
    table, eng = _fresh(spark, tmp_path)
    batch_ids = sorted(r[0] for r in changes.select("ingest_file").distinct().collect())
    for b in batch_ids[:2]:
        eng.apply_batch(changes.where(F.col("ingest_file") == b), b, mode="mor")

    crash = table._commit
    table._commit = lambda m, **kw: (_ for _ in ()).throw(OSError("simulated crash"))
    with pytest.raises(OSError):
        eng.apply_batch(
            changes.where(F.col("ingest_file") == batch_ids[2]), batch_ids[2], mode="mor"
        )
    table._commit = crash

    stats = eng.replay(changes, mode="mor")
    assert stats.batches_skipped == 2 and stats.batches == PARAMS.n_batches - 2
    assert final_state_matches(table.read(), batch_oracle(changes, eng.plan))


def test_rerun_after_crash_before_completion_fold_still_folds(spark, tmp_path, changes):
    """A crash between the last batch commit and the completion fold
    leaves every batch applied and the table all pending deltas. The rerun
    applies no batch, yet must still fold: no delta file may remain and
    the plain read equals the batch oracle, displays included."""
    table, eng = _fresh(spark, tmp_path)

    def crash(*_a, **_kw):
        raise OSError("simulated crash before the completion fold")

    eng.fold_deltas = crash
    with pytest.raises(OSError):
        eng.replay(changes)
    del eng.fold_deltas
    assert any(f.get("kind") == "delta" for f in table.current_snapshot()["files"])

    stats = eng.replay(changes)
    assert stats.batches == 0 and stats.batches_skipped == PARAMS.n_batches
    assert not any(f.get("kind") == "delta" for f in table.current_snapshot()["files"])
    assert _rows(table.read()) == _rows(batch_oracle(changes, eng.plan).select(*CMP_COLS))


# ---------------- snapshot retention ----------------


def test_gc_preserves_time_travel_until_expiry(spark, tmp_path):
    """gc_orphans honors every RETAINED manifest: files superseded by a
    rewrite stay on disk while an old snapshot still references them; after
    expire_snapshots they are reclaimed."""
    from dibbs_ecr_refiner_spark.lake.maintenance import expire_snapshots, gc_orphans

    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    table.merge(_delta(spark, [("c1", 0, "v1", 1, False, None)]), "b0")
    table.merge(_delta(spark, [("c1", 0, "v2", 5, False, dt.datetime(2026, 1, 2))]), "b1")
    table.merge(_delta(spark, [("c1", 0, "v2", 9, False, dt.datetime(2026, 1, 3))]), "b2")
    # each COW merge rewrote c1's bucket: history v1, v2, v3 with
    # superseded files still on disk

    gc_orphans(table, min_age_sec=0.0)
    # time travel to every retained snapshot still works after GC
    assert [r["text"] for r in table.read(version=1).collect()] == ["v1"]
    assert [r["text"] for r in table.read(version=2).collect()] == ["v2"]

    res = expire_snapshots(table, keep_last=1)
    assert res["expired"] == 2
    reclaimed = gc_orphans(table, min_age_sec=0.0)
    assert reclaimed["removed_dirs"] + reclaimed["removed_files"] > 0
    # current state intact; expired history gone
    assert [r["text"] for r in table.read().collect()] == ["v2"]
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        table.read(version=1)


def test_auto_replay_final_fold_threshold_keeps_refined_read_converged(
    spark, tmp_path, changes
):
    """Continuous-pipeline mode: final_fold="threshold" skips the
    end-of-replay sweep (under-threshold delta buckets stay pending), but
    read_refined() still equals the batch oracle — LWW resolves at read,
    display enrichment recomputes at read — and core columns are
    oracle-equal from plain read() too."""
    table, eng = _fresh(spark, tmp_path)
    stats = eng.replay(changes, final_fold="threshold")
    assert stats.batches == PARAMS.n_batches
    assert any(
        f.get("kind", "base") == "delta" for f in table.current_snapshot()["files"]
    ), "threshold mode should leave under-threshold deltas pending"
    assert _rows(eng.read_refined()) == _rows(batch_oracle(changes, eng.plan).select(*CMP_COLS))
    assert final_state_matches(table.read(), batch_oracle(changes, eng.plan))


def test_continuous_pipeline_threshold_final_fold_long_replay(
    spark, tmp_path, changes, monkeypatch
):
    """Continuous-pipeline mode (final_fold="threshold", the documented
    knob): replay call boundaries are arbitrary, so across a LONG sequence
    of alternating replay calls folds must stay demand-driven (no sweep
    that folds everything at each call's end) while read_refined() stays
    oracle-equal after every call."""
    table, eng = _fresh(spark, tmp_path)
    from dibbs_ecr_refiner_spark.lake.maintenance import should_fold

    logs = [changes]
    for i, prefix in enumerate(["ss1", "ss2"]):
        follow = generate_changes(
            spark,
            ChangeLogParams(
                n_conversations=40,
                turns_per_conv=8,
                n_events=800,
                n_batches=3,
                base_lsn=10_000 * (i + 1),
                batch_prefix=prefix,
            ),
        )
        logs.append(follow)

    seen = None
    for log in logs:
        eng.replay(log, final_fold="threshold")
        seen = log if seen is None else seen.unionByName(log)
        assert _rows(eng.read_refined()) == _rows(
            batch_oracle(seen, eng.plan).select(*CMP_COLS)
        ), "read_refined diverged from the batch oracle mid-pipeline"
        # demand-driven invariant: nothing over the fold threshold survives
        # a completed call (the call folds exactly the over-threshold set)
        assert not should_fold(table)

    # the pipeline never ran a full convergence sweep: deltas may remain
    # (that's the point — COW's guarantee is deferred), but plain read()'s
    # core columns are still oracle-equal from the read-time LWW
    assert final_state_matches(table.read(), batch_oracle(seen, eng.plan))

    # demand-driven + disk-bounded compose: a later operator decision to
    # converge the pipeline's table folds in scratch-bounded groups (here
    # two buckets' bytes), and the result is the full COW guarantee (all
    # base files, displays included)
    pending = should_fold(table, max_deltas_per_bucket=0)
    assert len(pending) > 2, "the pipeline must leave several delta buckets"
    monkeypatch.setattr(
        maintenance, "FOLD_SCRATCH_BYTES", 2 * _bytes_per_bucket(table.current_snapshot())
    )
    res = eng.fold_deltas()
    assert res["commits"] == -(-len(pending) // 2)
    assert not any(
        f.get("kind", "base") == "delta" for f in table.current_snapshot()["files"]
    )
    assert _rows(table.read()) == _rows(batch_oracle(seen, eng.plan).select(*CMP_COLS))
