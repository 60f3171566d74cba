"""Manifest-level file stats + data skipping (≙ Iceberg data-file column
stats; the lake-internal index behind point lookups and tail reads).

Exact stats are stamped only by maintenance rewrites (compact/fold); an
ingest MERGE stamps its MOR delta files with the pre-pass ts range and
stays footer-read-free. Readers treat a missing stats block as "must
scan", so mixed stamped/unstamped tables are always correct.
"""

import datetime as dt

from pyspark.sql import functions as F

import dibbs_ecr_refiner_spark.lake.table as tbl
from dibbs_ecr_refiner_spark.lake.maintenance import compact
from dibbs_ecr_refiner_spark.lake.table import LakeTable, _stats_keep, _ts_us

SCHEMA = (
    "conv_id string, turn_idx int, ts timestamp, change_lsn long, "
    "role string, text string, tool string, _deleted boolean"
)
JAN = dt.datetime(2026, 1, 10)
FEB = dt.datetime(2026, 2, 10)


def _delta(spark, rows):
    return spark.createDataFrame(
        [(c, i, t, lsn, "user", x, None, d) for (c, i, x, lsn, d, t) in rows], SCHEMA
    )


def _rows(df):
    return sorted(
        (r["conv_id"], r["turn_idx"], r["text"], r["ts"]) for r in df.collect()
    )


def test_compact_stamps_stats_and_ingest_does_not(spark, tmp_path):
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=2)
    table.merge(
        _delta(spark, [(f"c{i:03d}", 0, f"v{i}", i, False, JAN) for i in range(20)]), "b0"
    )
    snap = table.current_snapshot()
    assert all("stats" not in f for f in snap["files"]), "ingest must not pay footer reads"

    compact(table, buckets=list(range(table.num_buckets)))
    snap = table.current_snapshot()
    assert snap["files"] and all("stats" in f for f in snap["files"])
    # stamped ranges are correct and in the one canonical representation
    for f in snap["files"]:
        s = f["stats"]
        lo, hi = s["conv_id"]
        got = (
            spark.read.parquet(str(tmp_path / "t" / f["path"]))
            .agg(F.min("conv_id"), F.max("conv_id"), F.count("*"))
            .first()
        )
        assert (lo, hi) == (got[0], got[1]) and s["rows"] == got[2]
        assert isinstance(s["ts"][0], int) and s["ts"][0] == s["ts"][1] == _ts_us(JAN)


def test_point_lookup_prunes_to_one_file_in_a_multi_file_bucket(spark, tmp_path, monkeypatch):
    """Compaction writes key-sorted files split at MAX_RECORDS_PER_FILE, so
    a big bucket's files carry DISJOINT conv_id ranges: the manifest alone
    routes a point lookup to the single file that can hold the key."""
    monkeypatch.setattr(tbl, "MAX_RECORDS_PER_FILE", 12)
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=1)
    rows = [
        (f"c{i:03d}", t, f"v{i}.{t}", i * 2 + t, False, JAN)
        for i in range(60)
        for t in range(2)
    ]
    table.merge(_delta(spark, rows), "b0")
    compact(table, buckets=list(range(table.num_buckets)))
    snap = table.current_snapshot()
    assert len(snap["files"]) >= 5  # the split actually happened

    for conv in ("c000", "c031", "c059"):
        kept = [f for f in snap["files"] if _stats_keep(f, "conv_id", conv, conv)]
        assert len(kept) == 1, f"{conv}: expected 1 candidate file, got {len(kept)}"
        got = _rows(table.read_conversation(conv))
        want = _rows(table.read().where(F.col("conv_id") == conv))
        assert got == want and len(got) == 2


def test_read_since_skips_cold_files_and_matches_full_filter(spark, tmp_path):
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=2)
    table.merge(
        _delta(spark, [(f"c{i:02d}", 0, f"old{i}", i, False, JAN) for i in range(30)]), "b0"
    )
    compact(table, buckets=list(range(table.num_buckets)))  # cold base, stats stamped
    table.merge(
        _delta(spark, [(f"c{i:02d}", 0, f"new{i}", 100 + i, False, FEB) for i in range(5)]
               + [("c99", 0, "fresh", 200, False, FEB)]),
        "b1",
        mode="mor",
    )  # fresh delta files, stamped with the pre-pass ts range

    cut = dt.datetime(2026, 1, 20)
    snap = table.current_snapshot()
    kept = [f for f in snap["files"] if _stats_keep(f, "ts", lo=_ts_us(cut))]
    assert len(kept) < len(snap["files"]), "cold compacted files must be skipped"
    assert kept and all(f["stats"]["ts"] == [_ts_us(FEB)] * 2 for f in kept), "fresh deltas must be kept"

    got = _rows(table.read_since(cut))
    want = _rows(table.read().where(F.col("ts") >= F.lit(cut)))
    assert got == want and len(got) == 6


def test_read_since_safe_when_lsn_disagrees_with_ts(spark, tmp_path):
    """ts is the LEADING LWW order column, so ts-max pruning is safe even
    when change_lsn order disagrees with ts order (10% of real events):
    a higher-lsn/lower-ts row in a pruned cold file can never surface."""
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=1)
    # cold file: (c1,0) carries a HIGH lsn but an old ts
    table.merge(_delta(spark, [("c1", 0, "cold-high-lsn", 999, False, JAN),
                               ("c2", 0, "cold", 1, False, JAN)]), "b0")
    compact(table, buckets=list(range(table.num_buckets)))
    # warm delta: the true LWW winner for (c1,0) — newer ts, lower lsn
    table.merge(_delta(spark, [("c1", 0, "warm-low-lsn", 5, False, FEB)]), "b1", mode="mor")

    cut = dt.datetime(2026, 1, 20)
    got = _rows(table.read_since(cut))
    want = _rows(table.read().where(F.col("ts") >= F.lit(cut)))
    assert got == want == [("c1", 0, "warm-low-lsn", FEB)]
    # and the winner visible via a plain read is the same row
    assert table.read().where("conv_id = 'c1'").first()["text"] == "warm-low-lsn"


def test_point_lookup_correct_with_mixed_stamped_and_unstamped_files(spark, tmp_path):
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=1)
    table.merge(_delta(spark, [("c1", 0, "v1", 1, False, JAN), ("c2", 0, "x", 2, False, JAN)]), "b0")
    compact(table, buckets=list(range(table.num_buckets)))
    table.merge(_delta(spark, [("c1", 0, "v2", 10, False, FEB)]), "b1", mode="mor")
    table.merge(_delta(spark, [("c1", 1, "v3", 11, True, FEB)]), "b2", mode="mor")

    got = _rows(table.read_conversation("c1"))
    assert got == [("c1", 0, "v2", FEB)]
    # tombstone visible when asked
    assert table.read_conversation("c1", include_tombstones=True).count() == 2


# ---------------- ingest-path delta stats (pre-pass ts ranges) ----------------


def test_direct_mor_merge_stamps_prepass_ts_ranges(spark, tmp_path):
    """A direct ``merge(mode="mor")`` — no engine, no caller pre-pass —
    stamps each delta file with its bucket's [min, max] ts, as engine
    batches do."""
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=2)
    rows = [(f"c{i:02d}", 0, f"v{i}", i, False, JAN if i % 3 else FEB) for i in range(12)]
    table.merge(_delta(spark, rows), "b0", mode="mor")
    want: dict[int, list[int]] = {}
    for c, _, _, _, _, t in rows:
        b, us = table.bucket_of(c), _ts_us(t)
        lo, hi = want.get(b, [us, us])
        want[b] = [min(lo, us), max(hi, us)]
    deltas = [f for f in table.current_snapshot()["files"] if f.get("kind") == "delta"]
    assert {f["bucket"] for f in deltas} == set(want)
    assert all(f["stats"] == {"ts": want[f["bucket"]]} for f in deltas)


RAW_SCHEMA = (
    "conv_id string, turn_idx int, op string, role string, text string, "
    "tool string, ts timestamp, change_lsn long, ingest_file string"
)


def _raw(spark, rows):
    """Raw change-log rows for the ENGINE path (op + ingest_file present)."""
    return spark.createDataFrame(
        [(c, i, "update", "user", x, None, t, lsn, b) for (c, i, x, lsn, t, b) in rows],
        RAW_SCHEMA,
    )


def _engine(spark, tmp_path, buckets=2):
    from dibbs_ecr_refiner_spark.engine import ReplayEngine
    from dibbs_ecr_refiner_spark.plans.config import default_plan

    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=buckets)
    return table, ReplayEngine(spark, table, default_plan())


def test_engine_mor_batches_stamp_conservative_ts_stats(spark, tmp_path):
    """apply_batch's pre-pass aggregation already knows each bucket's
    min/max event ts, so MOR delta entries get a ts range with zero footer
    reads — a conservative superset of the winners the file holds."""
    table, eng = _engine(spark, tmp_path)
    eng.apply_batch(
        _raw(spark, [(f"c{i:02d}", 0, f"jan{i}", i, JAN, "b0") for i in range(12)]),
        "b0",
        mode="mor",
    )
    snap = table.current_snapshot()
    deltas = [f for f in snap["files"] if f.get("kind") == "delta"]
    assert deltas and all("stats" in f for f in deltas)
    for f in deltas:
        lo, hi = f["stats"]["ts"]
        got = (
            spark.read.parquet(str(tmp_path / "t" / f["path"]))
            .agg(F.min("ts"), F.max("ts"))
            .first()
        )
        # conservative superset of the file's true range
        assert lo <= _ts_us(got[0]) and hi >= _ts_us(got[1])
        # conv_id deliberately absent -> any conv_id predicate must-scans
        assert "conv_id" not in f["stats"]
        assert _stats_keep(f, "conv_id", "zzz", "zzz")


def test_fresh_deltas_are_since_prunable_before_any_fold(spark, tmp_path):
    """The tail-read win: a sinceTs cut between two UNFOLDED MOR batches
    prunes the cold batch's delta files on manifest stats alone."""
    table, eng = _engine(spark, tmp_path)
    eng.apply_batch(
        _raw(spark, [(f"c{i:02d}", 0, f"jan{i}", i, JAN, "b0") for i in range(12)]),
        "b0",
        mode="mor",
    )
    eng.apply_batch(
        _raw(spark, [(f"c{i:02d}", 1, f"feb{i}", 100 + i, FEB, "b1") for i in range(3)]),
        "b1",
        mode="mor",
    )
    cut = dt.datetime(2026, 1, 20)
    snap = table.current_snapshot()
    kept = [f for f in snap["files"] if _stats_keep(f, "ts", lo=_ts_us(cut))]
    assert 0 < len(kept) < len(snap["files"]), "JAN deltas must be pruned without a fold"
    got = _rows(table.read_since(cut))
    want = _rows(table.read().where(F.col("ts") >= F.lit(cut)))
    assert got == want and len(got) == 3
    # a later fold replaces the conservative range with exact footer stats
    compact(table, buckets=list(range(table.num_buckets)))
    snap = table.current_snapshot()
    assert all("stats" in f and "conv_id" in f["stats"] for f in snap["files"])
    assert _rows(table.read_since(cut)) == want
