"""Dump before/after formatted plans for the round-6 optimization targets
into plans/r06/<name>_<tag>.txt.

Usage: python tools/dump_r06_plans.py before|after [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

QUERY_NAMES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "lww_agg",
    "rollup_lineage",
    "embed_cosine_topk",
    "dedup_exact",
    "top1_per_group",
    "dedup_minhash_lsh",
    "token_count",
    "prune_entries",
    "validate_rows",
]


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return "".join(
        c if c == "\n" or c.isprintable() else f"\\x{ord(c):02x}" for c in buf.getvalue()
    )


def main():
    tag = sys.argv[1]
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out_dir = os.path.join(ROOT, "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)

    from pyspark.sql import functions as F

    from dibbs_ecr_refiner_spark.engine import ReplayEngine, normalize_changes
    from dibbs_ecr_refiner_spark.fixtures.changelog import ChangeLogParams, generate_changes
    from dibbs_ecr_refiner_spark.lake.table import LakeTable
    from dibbs_ecr_refiner_spark.plans.config import default_plan
    from dibbs_ecr_refiner_spark.queries import all_queries
    from dibbs_ecr_refiner_spark.session import get_spark

    spark = get_spark(app_name=f"dump-r06-{tag}", cores=8)
    qs = all_queries()
    for name in QUERY_NAMES:
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(_explain(qs[name](spark, sf)))

    # The per-batch merge pipelines (MOR delta write + COW merge write):
    # reconstruct the exact staged DataFrame merge() builds, via a capture
    # hook on the write, for a representative second batch.
    import tempfile

    work = tempfile.mkdtemp(prefix="r06-plan-")
    changes = generate_changes(
        spark,
        ChangeLogParams(n_conversations=200, turns_per_conv=8, n_events=6000, n_batches=2),
    )
    batch_ids = sorted(r[0] for r in changes.select("ingest_file").distinct().collect())

    captured = {}
    import dibbs_ecr_refiner_spark.lake.table as tbl

    orig_write = None

    class _Capture:
        """Grab the staged DataFrame right before its parquet write."""

    def capture_merge(table, eng, batch, bid, mode, key):
        from unittest.mock import patch

        from pyspark.sql.readwriter import DataFrameWriter

        orig = DataFrameWriter.parquet

        def spy(self, path, **kw):
            captured[key] = _explain(self._df)
            return orig(self, path, **kw)

        with patch.object(DataFrameWriter, "parquet", spy):
            eng.apply_batch(batch, bid, mode=mode)

    table = LakeTable(spark, os.path.join(work, "lake"), num_buckets=8)
    eng = ReplayEngine(spark, table, default_plan())
    capture_merge(
        table, eng, changes.where(F.col("ingest_file") == batch_ids[0]), batch_ids[0], "cow",
        "merge_cow",
    )
    capture_merge(
        table, eng, changes.where(F.col("ingest_file") == batch_ids[1]), batch_ids[1], "mor",
        "merge_mor",
    )
    # fold plan (compaction of the MOR deltas, global enrichment recompute)
    from unittest.mock import patch

    from pyspark.sql.readwriter import DataFrameWriter

    orig = DataFrameWriter.parquet

    def spy(self, path, **kw):
        captured["fold"] = _explain(self._df)
        return orig(self, path, **kw)

    with patch.object(DataFrameWriter, "parquet", spy):
        eng.fold_deltas()

    for key, plan in captured.items():
        with open(os.path.join(out_dir, f"{key}_{tag}.txt"), "w") as f:
            f.write(plan)
    print("wrote", sorted(captured) + QUERY_NAMES)


if __name__ == "__main__":
    main()
