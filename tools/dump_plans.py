"""Dump formatted physical plans of the headline queries + the CDC apply
to PLANS.md — the `.explain("formatted")` evidence that filters push down,
joins broadcast, and aggregations partial-combine.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

NAMES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "lww_agg",
    "join_broadcast_semi",
    "dedup_minhash_lsh",
    "asof_join",
    "top1_per_group",
    "split_assign",
    "pack_sequences",
    "domain_mix_sample",
]


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    # literal sentinel bytes in plan expressions (e.g. the \x00 key in the
    # display-map coalesce) would make the artifact a binary file
    return "".join(
        c if c == "\n" or c.isprintable() else f"\\x{ord(c):02x}"
        for c in buf.getvalue()
    )


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from dibbs_ecr_refiner_spark.engine import prepare_delta
    from dibbs_ecr_refiner_spark.fixtures.changelog import ChangeLogParams, generate_changes
    from dibbs_ecr_refiner_spark.plans.config import default_plan
    from dibbs_ecr_refiner_spark.queries import all_queries
    from dibbs_ecr_refiner_spark.session import get_spark

    spark = get_spark(app_name="dump-plans", cores=8)
    qs = all_queries()
    out = ["# PLANS — formatted physical plans (generated by tools/dump_plans.py)\n"]
    for name in NAMES:
        out.append(f"\n## {name}\n\n```\n{_explain(qs[name](spark, sf))}```\n")
    changes = generate_changes(
        spark, ChangeLogParams(n_conversations=10, turns_per_conv=2, n_events=200, n_batches=1)
    )
    out.append(
        "\n## cdc_apply (prepare_delta: LWW reduce + guarded refinement)\n\n```\n"
        + _explain(prepare_delta(changes, default_plan()))
        + "```\n"
    )

    # merge-on-read resolve: base + delta commit, then the read plan that
    # LWW-reduces them (partial combine before the exchange, no Window)
    import datetime as dt
    import tempfile

    from dibbs_ecr_refiner_spark.lake.table import LakeTable

    root = tempfile.mkdtemp(prefix="dump-plans-mor-")
    table = LakeTable(spark, root, num_buckets=4)
    schema = (
        "conv_id string, turn_idx int, ts timestamp, change_lsn long, "
        "role string, text string, tool string, _deleted boolean"
    )
    table.merge(
        spark.createDataFrame([("c1", 0, dt.datetime(2026, 1, 1), 1, "user", "a", None, False)], schema),
        "b0",
    )
    table.merge(
        spark.createDataFrame([("c1", 0, dt.datetime(2026, 1, 2), 2, "user", "b", None, False)], schema),
        "b1",
        mode="mor",
    )
    out.append("\n## mor_read_resolve (base ∪ delta files → read-time LWW)\n\n```\n" + _explain(table.read()) + "```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
