"""One pipeline, every surface: CSV quarantine ingest → auto replay with a
mid-stream fold → display-converged read → change-feed-driven rollup view
→ snapshot expiry + GC → CSV export. The cross-surface regression net: if
any stage's contract drifts, the end state stops matching the oracle."""

import collections
import csv
import io
import json
import os

from pyspark.sql import functions as F

from dibbs_ecr_refiner_spark.engine import ReplayEngine, batch_oracle
from dibbs_ecr_refiner_spark.fixtures.changelog import ChangeLogParams, generate_changes
from dibbs_ecr_refiner_spark.lake.feed import ChangeFeedReader
from dibbs_ecr_refiner_spark.lake.maintenance import expire_snapshots, gc_orphans
from dibbs_ecr_refiner_spark.lake.table import LakeTable
from dibbs_ecr_refiner_spark.lake.views import (
    conversation_rollup,
    refresh_conversation_rollup,
)
from dibbs_ecr_refiner_spark.plans.config import default_plan
from dibbs_ecr_refiner_spark.sources.ingest import read_change_log_csv


def _to_csv_lines(rows) -> str:
    buf = io.StringIO()
    w = csv.writer(buf, quoting=csv.QUOTE_MINIMAL, doublequote=True)
    w.writerow(
        ["conv_id", "turn_idx", "op", "role", "text", "tool", "ts", "change_lsn", "ingest_file", "extra"]
    )
    for r in rows:
        w.writerow(
            [
                r["conv_id"], r["turn_idx"], r["op"], r["role"], r["text"], r["tool"],
                r["ts"].strftime("%Y-%m-%dT%H:%M:%S"), r["change_lsn"], r["ingest_file"],
                json.dumps(dict(r["extra"])) if r["extra"] is not None else "",
            ]
        )
    return buf.getvalue()


def test_csv_to_export_full_pipeline(spark, tmp_path):
    params = ChangeLogParams(
        n_conversations=25, turns_per_conv=6, n_events=1500,
        pct_duplicates=0.08, pct_deletes=0.05, n_batches=12,
    )
    changes_df = generate_changes(spark, params)

    # 1) the log arrives as CSV, with garbage lines mixed in
    lines = _to_csv_lines(changes_df.collect()).splitlines()
    garbage = ["not,even,close", 'c1,NOT_INT,insert,user,x,,2026-01-01T00:00:00,9,b0,']
    (tmp_path / "log.csv").write_text("\n".join([lines[0], *garbage, *lines[1:]]) + "\n")
    valid, quarantined = read_change_log_csv(spark, str(tmp_path / "log.csv"))
    assert quarantined.count() == 2
    assert valid.count() == changes_df.count()

    # 2) auto replay: a bucket past 8 delta commits folds between batches
    table = LakeTable(spark, str(tmp_path / "lake"), num_buckets=8)
    eng = ReplayEngine(spark, table, default_plan())
    stats = eng.replay(valid)
    assert stats.batches == params.n_batches
    for rec in stats.lineage[1:]:
        before = table.snapshot(rec["snapshot_id"] - 1)
        commits = {
            (f["bucket"], os.path.dirname(f["path"]))
            for f in before["files"]
            if f.get("kind") == "delta"
        }
        deltas = collections.Counter(b for b, _ in commits)
        assert max(deltas.values(), default=0) <= 8, "a batch landed on an over-threshold bucket"
    applied = table.current_snapshot()["applied_batches"]
    assert any(
        b.startswith("compact-") and r["snapshot_id"] < stats.lineage[-1]["snapshot_id"]
        for b, r in applied.items()
    ), "no fold ran between batches"

    # 3) refined state equals the oracle computed from the ORIGINAL frame
    #    (CSV round-trip loses nothing)
    oracle = batch_oracle(changes_df, eng.plan)
    cols = ["conv_id", "turn_idx", "role", "text", "_outcome", "_matched_display"]
    got = sorted(tuple(r) for r in eng.read_refined().select(*cols).collect())
    want = sorted(tuple(r) for r in oracle.select(*cols).collect())
    assert got == want

    # 4) rollup view off the feed equals a full recompute
    dst = LakeTable(spark, str(tmp_path / "rollup"), num_buckets=4)
    feed = ChangeFeedReader(table, str(tmp_path / "cursor.json"))
    refresh_conversation_rollup(table, dst, feed, "r0")
    vc = ["conv_id", "n_turns", "roles"]
    got_v = sorted(tuple(r) for r in dst.read().select(*vc).collect())
    want_v = sorted(tuple(r) for r in conversation_rollup(table.read()).select(*vc).collect())
    assert got_v == want_v

    # 5) expiry + GC leave the live state intact
    expire_snapshots(table, keep_last=1)
    gc_orphans(table, min_age_sec=0.0)
    got2 = sorted(tuple(r) for r in eng.read_refined().select(*cols).collect())
    assert got2 == want

    # 6) export round-trips the live transcript view
    out = str(tmp_path / "export")
    table.read_transcripts().write.mode("overwrite").option("header", "true").option(
        "escape", '"'
    ).csv(out)
    back = spark.read.option("header", "true").option("escape", '"').csv(out)
    assert back.count() == table.read_transcripts().count()
