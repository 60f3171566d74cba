"""Incremental materialized-view maintenance over the change feed.

A derived table (per-conversation rollup) kept in sync with the source
transcripts table by polling its CDC-out feed: each refresh recomputes
ONLY the conversations the feed touched — read cost O(touched buckets),
write cost O(changed conversations) — and lands the rows through the same
exactly-once LWW merge the ingest path uses. ≙ an incrementally-maintained
materialized view (Delta/Snowflake MV refresh, scoped-recompute strategy:
correct for any aggregate because each group is recomputed from source,
not patched).

Refresh contract: at-least-once feed delivery + LWW idempotent merge ⇒
exactly-once effect; a crash between merge and feed.commit() re-refreshes
the same conversations to identical rows (pure function of source state).

The rollup row carries the source's KEY/ORDER columns so the generic merge
applies unchanged: key = (conv_id, turn_idx=0), order = (last activity ts,
max lsn) — monotone per conversation, so newer refreshes win LWW and a
fully-deleted conversation lands as a tombstone.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

from . import maintenance
from .feed import ChangeFeedReader
from .table import LakeTable


def conversation_rollup(src_rows: DataFrame) -> DataFrame:
    """The view definition: one row per conversation over LIVE rows.
    (Recomputed per group — any aggregate works here.)"""
    return src_rows.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.concat_ws(",", F.sort_array(F.collect_set("role"))).alias("roles"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.max("change_lsn").alias("last_lsn"),
    )


def refresh_conversation_rollup(
    src: LakeTable, dst: LakeTable, feed: ChangeFeedReader, batch_id: str
) -> dict:
    """One incremental refresh: poll the feed, recompute the rollup for
    touched conversations only, LWW-merge into ``dst``, ack the feed, then
    fold ``dst``'s buckets over the threshold (``maintenance.fold_due``).
    The fold runs on every call, an empty-feed one included, so a refresh
    also completes a fold that a crash cut short."""
    delta = feed.poll()
    touched_convs = delta.select("conv_id").distinct()
    buckets = src.prepass(delta)[None].touched
    if not buckets:
        maintenance.fold_due(dst)
        return {"skipped": True, "empty_feed": True}

    # bucket-pruned source read + broadcast semi join down to the touched
    # conversations; includes tombstones so fully-deleted conversations
    # are detected (n_live == 0 → rollup tombstone)
    src_rows = src.read(buckets=buckets, include_tombstones=True).join(
        F.broadcast(touched_convs), "conv_id", "left_semi"
    )
    per_conv = src_rows.groupBy("conv_id").agg(
        F.sum((~F.col("_deleted")).cast("long")).alias("n_live"),
        F.max("ts").alias("any_last_ts"),
        F.max("change_lsn").alias("any_last_lsn"),
    )
    live_roll = conversation_rollup(src_rows.where(~F.col("_deleted")))

    rollup = (
        per_conv.join(live_roll, "conv_id", "left")
        .select(
            "conv_id",
            F.lit(0).alias("turn_idx"),
            # ORDER columns: monotone per conversation, so a newer refresh
            # (which saw a higher LSN) always wins the LWW in dst
            F.col("any_last_ts").alias("ts"),
            F.col("any_last_lsn").alias("change_lsn"),
            (F.col("n_live") == 0).alias("_deleted"),
            F.coalesce(F.col("n_turns"), F.lit(0)).alias("n_turns"),
            F.coalesce(F.col("roles"), F.lit("")).alias("roles"),
            "first_ts",
            "last_ts",
        )
    )
    # merge runs two jobs over the rollup (its bucket pre-pass, then the
    # write); persisted, the join of the two aggregates runs once
    rollup = rollup.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        res = dst.merge(rollup, batch_id, mode="mor")
    finally:
        rollup.unpersist()
    feed.commit()
    maintenance.fold_due(dst)
    return res
