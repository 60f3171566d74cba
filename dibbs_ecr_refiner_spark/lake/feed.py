"""Checkpointed change-feed consumer (CDC-out): tail a LakeTable's own
refined change stream, exactly-once per consumer.

``read_changes(v1, v2)`` gives the rows of files added between snapshots;
this wraps it with a durable per-consumer cursor so a downstream job can
poll: each ``poll()`` returns everything committed since the last
*acknowledged* poll and ``commit()`` advances the cursor — the standard
at-least-once consume / idempotent-downstream contract (ack after the
downstream lands its write). Under merge-on-read commits the feed is the
exact per-batch refined winners + tombstones; under copy-on-write it is
bucket-granular (a superset). ≙ Delta's Change Data Feed / an Iceberg
incremental consumer.

Scale shape: the poll reads only the files added by new snapshots — cost
O(new data), never O(table). The cursor file is one integer; consumers
are independent (one cursor file each).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from . import manifests
from .table import LakeTable


class FeedLagsBehindRetention(Exception):
    """The consumer's cursor points at an expired snapshot: the incremental
    span can no longer be computed. Recover with ``reset()`` (full resync
    from the current table — safe when the downstream is idempotent) or
    raise the table's ``expire_snapshots(keep_last=...)`` horizon."""


class ChangeFeedReader:
    def __init__(self, table: LakeTable, cursor_path: str):
        self.table = table
        self.cursor_path = cursor_path
        self._pending: int | None = None

    def position(self) -> int | None:
        """Last acknowledged snapshot version (None = never committed:
        the next poll returns the whole table)."""
        if not os.path.exists(self.cursor_path):
            return None
        with open(self.cursor_path) as f:
            return int(json.load(f)["version"])

    def poll(self) -> DataFrame:
        """Rows committed after the acknowledged position, up to the
        current snapshot. Re-polling without commit() returns the same
        span again (at-least-once); expired-snapshot gaps are fine because
        the span is computed from the two endpoint manifests only."""
        snap = self.table.current_snapshot()
        cur = snap["snapshot_id"] if snap else None
        # _pending is only armed on a SUCCESSFUL poll: a commit() after a
        # failed poll must not advance the cursor past an undelivered span
        self._pending = None
        frm = self.position()
        if cur is None or frm == cur:
            schema = self.table.schema()
            if schema is None:
                raise ValueError("table has no snapshot yet")
            self._pending = cur
            return self.table.spark.createDataFrame([], schema)
        try:
            out = self.table.read_changes(frm, cur)
        except FileNotFoundError as e:
            raise FeedLagsBehindRetention(
                f"cursor at snapshot {frm} but that manifest was expired; "
                f"reset() for a full resync or raise keep_last"
            ) from e
        self._pending = cur
        return out

    def reset(self) -> None:
        """Drop the cursor: the next poll streams the whole current table
        (full resync). Correct whenever the downstream is idempotent —
        e.g. re-merging everything into an LWW table is a no-op."""
        if os.path.exists(self.cursor_path):
            os.remove(self.cursor_path)

    def commit(self) -> int:
        """Acknowledge the last poll()'s endpoint (atomic cursor write).
        Call AFTER the downstream write landed — crash between poll and
        commit means the next poll re-delivers, and the downstream's
        idempotency (e.g. its own LWW merge) absorbs the repeat."""
        if self._pending is None:
            raise RuntimeError("commit() without a prior poll()")
        manifests.replace(self.cursor_path, json.dumps({"version": self._pending}))
        return self._pending
