"""Structured Streaming surface: stream replay == batch oracle, a
merge-on-read stream folds by the one policy, and checkpointed resume
processes only new files (exactly-once)."""

import dataclasses
import os

import pytest
from pyspark.sql import functions as F

from dibbs_ecr_refiner_spark.engine import batch_oracle, final_state_matches
from dibbs_ecr_refiner_spark.fixtures.changelog import ChangeLogParams, generate_changes
from dibbs_ecr_refiner_spark.lake.maintenance import should_fold
from dibbs_ecr_refiner_spark.lake.table import LakeTable
from dibbs_ecr_refiner_spark.plans.config import default_plan
from dibbs_ecr_refiner_spark.streaming.apply import stream_replay

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

