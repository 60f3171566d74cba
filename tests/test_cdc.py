"""Unit tests for CDC primitives (dedup + LWW), mirroring the reference's
per-operator unit-test strategy (SURVEY.md §5 item 1)."""

import datetime as dt

from pyspark.sql import functions as F

from dibbs_ecr_refiner_spark.operators import cdc


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _changes(spark, rows):
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, op string, role string, text string, "
        "tool string, ts timestamp, change_lsn long",
    )


BASE = [
    ("c1", 0, "insert", "user", "v1", None, _ts("2026-01-01T00:00:00"), 1),
    ("c1", 0, "update", "user", "v2", None, _ts("2026-01-01T00:01:00"), 5),
    # out-of-order: higher lsn but EARLIER ts — must lose LWW to lsn=5
    ("c1", 0, "update", "user", "v0", None, _ts("2026-01-01T00:00:30"), 9),
    ("c1", 1, "insert", "user", "w1", None, _ts("2026-01-01T00:00:10"), 2),
    # duplicate delivery of lsn=2
    ("c1", 1, "insert", "user", "w1", None, _ts("2026-01-01T00:00:10"), 2),
    # same ts, lsn tie-break
    ("c2", 0, "insert", "user", "a", None, _ts("2026-01-01T00:00:00"), 3),
    ("c2", 0, "update", "user", "b", None, _ts("2026-01-01T00:00:00"), 4),
]


def test_dedup_deliveries(spark):
    df = _changes(spark, BASE)
    assert cdc.dedup_deliveries(df).count() == len(BASE) - 1


def test_lww_picks_max_ts_then_lsn(spark):
    out = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in cdc.lww_resolve(_changes(spark, BASE)).collect()
    }
    assert out == {("c1", 0): "v2", ("c1", 1): "w1", ("c2", 0): "b"}


def test_lww_agg_equals_window_form(spark):
    df = _changes(spark, BASE)
    a = sorted(map(tuple, cdc.lww_resolve(cdc.dedup_deliveries(df)).collect()))
    b = sorted(map(tuple, cdc.lww_resolve_window(cdc.dedup_deliveries(df)).collect()))
    assert a == b


def test_high_watermarks(spark):
    df = _changes(spark, BASE).withColumn(
        "part", F.col("conv_id")
    )
    wm = {r["part"]: r["high_watermark"] for r in cdc.high_watermarks(df, "part").collect()}
    assert wm == {"c1": 9, "c2": 4}

