"""CDC primitives: duplicate-delivery dedup + last-writer-wins resolution.

Reference semantics being reproduced:
- at-least-once delivery + idempotent processing ⇒ exactly-once
  (reference refiner/app/lambda/lambda_function.py:170-341 partial-batch
  retry; refiner/app/services/ecr/augment.py:124-133 deterministic ids).
- LWW order: (ts, change_lsn) lexicographic per (conv_id, turn_idx)
  (BASELINE.json north_star).

Scale notes (the part that matters at 10^10 events):
- ``lww_resolve`` is a **hash aggregation**, not a window. ``max(struct(
  ts, change_lsn, payload...))`` gives the lexicographic-max row per key
  with map-side partial aggregation — each input partition reduces its
  local candidates before the shuffle, so a hot (conv_id, turn_idx) key
  ships at most one row per upstream partition instead of all of its
  updates. That is the skew-splitting the north rule asks for, expressed
  through Catalyst's partial-agg machinery rather than manual salting.
- ``lww_resolve_window`` is the window-function spelling of the same thing
  (one full sort shuffle, no partial reduce) — kept for the driver-oracle
  comparison and for callers that need losing rows too.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

KEY = ("conv_id", "turn_idx")
ORDER = ("ts", "change_lsn")


def dedup_deliveries(df: DataFrame, key: Sequence[str] = KEY, lsn: str = "change_lsn") -> DataFrame:
    """Drop exact duplicate deliveries: the same (key, change_lsn) is the
    same change event re-delivered (at-least-once source). Hash-agg form —
    dropDuplicates compiles to an Aggregate with partial combine."""
    return df.dropDuplicates([*key, lsn])


def lww_resolve(
    df: DataFrame,
    key: Sequence[str] = KEY,
    order: Sequence[str] = ORDER,
) -> DataFrame:
    """One winning row per key by lexicographic-max (order..., payload...).

    Exact duplicate deliveries tie on (ts, change_lsn) and carry identical
    payloads, so the tie is harmless — which also means an upstream
    dropDuplicates is unnecessary (dedup is subsumed by this reduce);
    distinct events never tie because change_lsn is unique.
    Output column order == input column order.

    Plan-shape note: max_by's struct buffer compiles to SortAggregate (not
    HashAggregate — UnsafeRow agg buffers can't hold structs), but it keeps
    the property that matters at scale: a *partial* reduce before the
    exchange (partial_max_by), so hot keys combine map-side. A packed-string
    max(...) HashAggregate variant was measured slower (JSON encode/decode
    outweighs the sort at every scale tried); see git history.
    """
    payload = [c for c in df.columns if c not in key and c not in order]
    winner = F.max_by(
        F.struct(*[F.col(c) for c in (*order, *payload)]),
        F.struct(*[F.col(c) for c in order]),
    ).alias("_w")
    out = df.groupBy(*[F.col(k) for k in key]).agg(winner)
    # one Project, straight into input column order
    return out.select(
        *[F.col(c) if c in key else F.col(f"_w.{c}").alias(c) for c in df.columns]
    )


def lww_resolve_window(
    df: DataFrame,
    key: Sequence[str] = KEY,
    order: Sequence[str] = ORDER,
) -> DataFrame:
    """Window spelling of lww_resolve (row_number over desc order == 1)."""
    w = Window.partitionBy(*key).orderBy(*[F.col(c).desc() for c in order])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def high_watermarks(df: DataFrame, partition_col: str, lsn: str = "change_lsn") -> DataFrame:
    """Per-partition max applied LSN (checkpoint manifest content, ≙ the
    TES sha256 manifest diff state, reference
    refiner/scripts/pipeline/detect_changes.py:227-265)."""
    return df.groupBy(partition_col).agg(F.max(lsn).alias("high_watermark"))
