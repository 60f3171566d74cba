"""Structured Streaming front-end for the CDC apply.

The reference is micro-batch event-driven (SQS → Lambda,
refiner/app/lambda/lambda_function.py:150-345); batch-incremental replay is
therefore the engine's primary mode (engine.ReplayEngine). This module is
the same apply expressed as a *stream*: ``readStream`` tails the change-log
directory, and ``foreachBatch`` routes every micro-batch through the exact
same prepare_delta → LakeTable.merge pipeline.

Exactly-once story (≙ SURVEY §2.9 row 1):
- the file source is replayable and checkpointed (offsets = seen files);
- micro-batch epoch ids are stable across restarts for unprocessed data;
- ``merge`` is idempotent per batch id, so a crash between "epoch processed"
  and "checkpoint advanced" makes the re-run a no-op — the same
  at-least-once-source + idempotent-sink ⇒ exactly-once argument as the
  reference's deterministic output identity (ecr/augment.py:124-133).

Late/out-of-order data needs no watermark here: LWW against the target's
stored (ts, change_lsn) makes stale arrivals lose deterministically — state
is bounded by the target row, not by stream history.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..engine import ReplayEngine
from ..lake import maintenance
from ..lake.table import LakeTable
from ..plans.config import RefinePlan

CHANGE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("op", T.StringType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("change_lsn", T.LongType()),
        T.StructField("ingest_file", T.StringType()),
        T.StructField("extra", T.MapType(T.StringType(), T.StringType())),
    ]
)


def stream_replay(
    spark: SparkSession,
    log_path: str,
    table: LakeTable,
    plan: RefinePlan,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    mode: str = "mor",
):
    """Tail ``log_path`` as a stream and MERGE each micro-batch.

    With ``available_now=True`` the query drains everything currently in
    the log and stops (the batch-replay analog, good for tests/backfill);
    with False it runs continuously. ``mode="mor"`` (default) commits each
    micro-batch as delta files — commit cost O(micro-batch), independent
    of table size; ``mode="cow"`` rewrites the touched buckets instead.
    After every merge-on-read epoch, a redelivered one included, the
    stream calls ``maintenance.fold_due`` with ``fold_deltas``, the
    trigger an auto replay uses between batches, so no bucket's pending
    deltas outgrow the threshold; a continuous stream has no "completion"
    to fold at."""
    reader = spark.readStream.schema(CHANGE_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    changes = reader.parquet(log_path)

    eng = ReplayEngine(spark, table, plan)

    def handle(df, epoch_id: int):
        eng.apply_batch(df, f"epoch-{epoch_id:08d}", mode=mode)
        if mode == "mor":
            maintenance.fold_due(table, eng.fold_deltas)

    writer = changes.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_between_lakes(
    spark: SparkSession,
    src: LakeTable,
    dst: LakeTable,
    checkpoint_dir: str,
    transform=None,
    available_now: bool = True,
    mode: str = "mor",
    max_versions_per_batch: int | None = None,
):
    """Bronze → silver: tail ``src``'s change stream with the native
    ``lake_cdc`` source (lake/stream_source.py) and LWW-merge each
    micro-batch into ``dst`` — a derived lake table maintained by
    Structured Streaming end to end, no external change log.

    ``transform`` (optional, DataFrame -> DataFrame) runs per micro-batch
    and must be row-wise-deterministic and preserve the key/order/
    ``_deleted`` columns: the change stream is at-least-once per offset
    span on a crash boundary, and row-wise transforms keep redelivered
    rows identical so ``dst``'s per-batch-id skip + LWW absorb them
    (same exactly-once argument as ``stream_replay``; a cross-row
    transform would break the per-key replay equivalence). Tombstones flow
    through: a delete in ``src`` deletes in ``dst``.

    Maintenance on ``src`` (fold/compact/rebucket) is invisible to the
    chain — the source skips rewrite commits — so both tables can be
    maintained independently while the stream runs. ``mode`` defaults to
    MOR: a long-lived chain is the steady-state regime where commit cost
    must stay O(micro-batch), not O(table). A merge-on-read chain calls
    ``maintenance.fold_due(dst)`` after every epoch, so ``dst``'s pending
    deltas stay under the fold threshold.

    ``max_versions_per_batch`` caps the commits one epoch spans, and only
    a continuous trigger honours it: Spark 4.1's Python stream API has no
    admission control, so ``availableNow`` lands the whole backlog as one
    epoch. The pair raises ``ValueError`` before the query starts."""
    from ..lake.stream_source import register

    if max_versions_per_batch and available_now:
        raise ValueError(
            "max_versions_per_batch needs available_now=False: an availableNow "
            "query lands the whole backlog as one epoch whatever the cap"
        )
    register(spark)
    reader = spark.readStream.format("lake_cdc").option("path", src.root)
    if max_versions_per_batch:
        reader = reader.option("maxVersionsPerBatch", str(max_versions_per_batch))
    changes = reader.load()

    def handle(df, epoch_id: int):
        out = transform(df) if transform is not None else df
        dst.merge(out, f"chain-{epoch_id:08d}", mode=mode)
        if mode == "mor":
            maintenance.fold_due(dst)

    writer = changes.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

