"""Structured Streaming surface: stream replay == batch oracle,
checkpointed resume processes only new files (exactly-once), windowed
rates and stateful dedup run to completion on a memory sink."""

import dataclasses
import os

import pytest
from pyspark.sql import functions as F

from dibbs_ecr_refiner_spark.engine import batch_oracle, final_state_matches
from dibbs_ecr_refiner_spark.fixtures.changelog import ChangeLogParams, generate_changes
from dibbs_ecr_refiner_spark.lake.maintenance import should_fold
from dibbs_ecr_refiner_spark.lake.table import LakeTable
from dibbs_ecr_refiner_spark.plans.config import default_plan
from dibbs_ecr_refiner_spark.streaming.apply import (
    stream_replay,
    streaming_dedup,
    windowed_change_rates,
)

PARAMS = ChangeLogParams(
    n_conversations=30, turns_per_conv=6, n_events=1500, n_batches=3, pct_duplicates=0.1
)


@pytest.fixture(scope="module")
def log_dir(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("streamlog")
    generate_changes(spark, PARAMS).repartition("ingest_file").write.mode(
        "overwrite"
    ).partitionBy("ingest_file").parquet(str(p / "log"))
    return str(p / "log")


def test_stream_replay_matches_batch_oracle(spark, tmp_path, log_dir):
    table = LakeTable(spark, str(tmp_path / "lake"), num_buckets=8)
    q = stream_replay(
        spark,
        log_dir,
        table,
        default_plan(),
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    changes = spark.read.parquet(log_dir)
    assert final_state_matches(table.read(), batch_oracle(changes, default_plan()))
    # multiple micro-batches were committed
    assert len(table.current_snapshot()["applied_batches"]) >= 2


@pytest.fixture(scope="module")
def long_log_dir(spark, tmp_path_factory):
    """More log files than should_fold's threshold of 8 delta commits per
    bucket."""
    p = tmp_path_factory.mktemp("streamlog_long")
    params = dataclasses.replace(PARAMS, n_batches=10)
    generate_changes(spark, params).repartition("ingest_file").write.mode(
        "overwrite"
    ).partitionBy("ingest_file").parquet(str(p / "log"))
    return str(p / "log")


def test_stream_replay_mor_with_fold_matches_batch_oracle(spark, tmp_path, long_log_dir):
    """Low-latency streaming mode: each micro-batch commits as MOR delta
    files (commit cost independent of table size), and a bucket folds as
    soon as it holds more than 8 delta commits: a fold runs, no bucket ends
    over the threshold, and the final state equals the batch oracle."""
    table = LakeTable(spark, str(tmp_path / "lake"), num_buckets=8)
    q = stream_replay(
        spark,
        long_log_dir,
        table,
        default_plan(),
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        mode="mor",
    )
    q.awaitTermination(300)
    applied = table.current_snapshot()["applied_batches"]
    assert sum(b.startswith("epoch-") for b in applied) > 8
    assert any(b.startswith("compact-") for b in applied), "no fold ran"
    assert not should_fold(table)
    changes = spark.read.parquet(long_log_dir)
    assert final_state_matches(table.read(), batch_oracle(changes, default_plan()))


def test_stream_restart_is_exactly_once(spark, tmp_path, log_dir):
    table = LakeTable(spark, str(tmp_path / "lake"), num_buckets=8)
    ckpt = str(tmp_path / "ckpt")
    q = stream_replay(spark, log_dir, table, default_plan(), ckpt)
    q.awaitTermination(300)
    snap1 = table.current_snapshot()["snapshot_id"]

    # restart with no new data → no new commits
    q = stream_replay(spark, log_dir, table, default_plan(), ckpt)
    q.awaitTermination(300)
    assert table.current_snapshot()["snapshot_id"] == snap1

    # append a new log partition → exactly the delta is processed
    extra = generate_changes(
        spark,
        ChangeLogParams(n_conversations=5, turns_per_conv=3, n_events=100, n_batches=1),
    ).withColumn("change_lsn", F.col("change_lsn") + 10_000_000)
    extra.write.mode("append").parquet(os.path.join(log_dir, "ingest_file=batch-99999"))
    q = stream_replay(spark, log_dir, table, default_plan(), ckpt)
    q.awaitTermination(300)
    assert table.current_snapshot()["snapshot_id"] > snap1
    changes = spark.read.parquet(log_dir)
    assert final_state_matches(table.read(), batch_oracle(changes, default_plan()))


def test_windowed_change_rates(spark, log_dir):
    q = (
        windowed_change_rates(spark, log_dir)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("rates")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out = spark.sql("SELECT * FROM rates")
    assert out.count() > 0
    ops = {r["op"] for r in out.select("op").distinct().collect()}
    assert "insert" in ops


def test_streaming_dedup(spark, log_dir):
    q = (
        streaming_dedup(spark, log_dir)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out = spark.sql("SELECT conv_id, turn_idx, change_lsn FROM dedup")
    assert out.count() == out.distinct().count()


def test_stateful_conversation_digest(spark, tmp_path, log_dir):
    """applyInPandasWithState: running per-conversation digests across
    micro-batches; state accumulates (turn_updates grows monotonically,
    max_lsn equals the log's per-conversation max)."""
    from dibbs_ecr_refiner_spark.streaming.apply import CHANGE_SCHEMA
    from dibbs_ecr_refiner_spark.streaming.stateful import conversation_digest

    stream = (
        spark.readStream.schema(CHANGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(log_dir)
    )
    q = (
        conversation_digest(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("digest")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out = spark.sql(
        "SELECT conv_id, max(max_lsn) AS max_lsn, max(turn_updates) AS turns "
        "FROM digest GROUP BY conv_id"
    )
    expected = (
        spark.read.parquet(log_dir)
        .groupBy("conv_id")
        .agg(F.max("change_lsn").alias("want_lsn"))
    )
    joined = out.join(expected, "conv_id")
    assert joined.where(F.col("max_lsn") != F.col("want_lsn")).isEmpty()
    assert joined.where(F.col("turns") <= 0).isEmpty()


def test_streaming_session_windows_match_batch(spark, tmp_path, log_dir):
    """session_window over the stream (availableNow drain) must produce the
    same per-conversation sessions as the batch groupBy(session_window)."""
    from dibbs_ecr_refiner_spark.streaming.apply import streaming_sessions

    q = (
        streaming_sessions(spark, log_dir)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sessions")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["conv_id"], r["first_ts"], r["n_events"])
        for r in spark.sql("SELECT conv_id, first_ts, n_events FROM sessions").collect()
    }
    batch = (
        spark.read.parquet(log_dir)
        .groupBy("conv_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.min("ts").alias("first_ts"))
    )
    want = {
        (r["conv_id"], r["first_ts"], r["n_events"])
        for r in batch.select("conv_id", "first_ts", "n_events").collect()
    }
    assert got == want and got
