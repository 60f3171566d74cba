"""Command-line entry points — the spark-submit deployment surface.

Usage (local or cluster; only --master/conf changes):

    spark-submit --py-files dist/dibbs_ecr_refiner_spark.zip \
        -m ... cli.py replay --changelog <dir> --table <dir> [--config <dir>]
    python -m dibbs_ecr_refiner_spark.cli replay ...
    python -m dibbs_ecr_refiner_spark.cli generate ...
    python -m dibbs_ecr_refiner_spark.cli compact ...
    python -m dibbs_ecr_refiner_spark.cli show ...

Every subcommand prints one JSON line (machine-readable, like bench.py).
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    from dibbs_ecr_refiner_spark.session import get_spark

    return get_spark(app_name=f"refiner-{args.cmd}", cores=args.cores)


def cmd_generate(args) -> dict:
    from dibbs_ecr_refiner_spark.fixtures.changelog import ChangeLogParams, write_changes

    spark = _spark(args)
    params = ChangeLogParams(
        n_conversations=args.conversations,
        turns_per_conv=args.turns,
        n_events=args.events,
        n_batches=args.batches,
        batch_prefix=args.batch_prefix,
    )
    write_changes(spark, args.changelog, params)
    return {"cmd": "generate", "changelog": args.changelog, "events": args.events}


def cmd_replay(args) -> dict:
    from dibbs_ecr_refiner_spark.engine import ReplayEngine
    from dibbs_ecr_refiner_spark.lake.table import LakeTable
    from dibbs_ecr_refiner_spark.plans.config import default_plan
    from dibbs_ecr_refiner_spark.sources import ConfigStore

    spark = _spark(args)
    plan = ConfigStore(spark, args.config).load_plan() if args.config else default_plan()
    table = LakeTable(spark, args.table, num_buckets=args.buckets)
    stats = ReplayEngine(spark, table, plan).replay_path(args.changelog, mode=args.mode)
    return {
        "cmd": "replay",
        "mode": args.mode,
        "batches_applied": stats.batches,
        "batches_skipped": stats.batches_skipped,
        "events": stats.events,
        "events_per_sec": round(stats.events_per_sec, 1),
        "snapshot": table.current_snapshot()["snapshot_id"],
    }


def cmd_compact(args) -> dict:
    from dibbs_ecr_refiner_spark.lake.maintenance import compact, min_safe_gc_lsn
    from dibbs_ecr_refiner_spark.lake.table import LakeTable

    spark = _spark(args)
    table = LakeTable(spark, args.table)
    gc_below = min_safe_gc_lsn(table) if args.gc_tombstones else None
    post = None
    if args.config:
        # folding MOR deltas with a config present: recompute display
        # enrichment over the resolved rows (engine.fold_deltas semantics)
        from dibbs_ecr_refiner_spark.operators.enrich import enrich_displays
        from dibbs_ecr_refiner_spark.sources import ConfigStore

        plan = ConfigStore(spark, args.config).load_plan()
        post = lambda d: enrich_displays(d, plan)  # noqa: E731
    res = compact(table, drop_tombstones_below=gc_below, post=post)
    return {"cmd": "compact", "gc_below": gc_below, **{k: v for k, v in res.items() if k != "results"}}


def cmd_expire(args) -> dict:
    from dibbs_ecr_refiner_spark.lake.maintenance import expire_snapshots
    from dibbs_ecr_refiner_spark.lake.table import LakeTable

    spark = _spark(args)
    table = LakeTable(spark, args.table)
    return {"cmd": "expire", **expire_snapshots(table, keep_last=args.keep_last)}


def cmd_fsck(args) -> dict:
    """Metadata consistency check: segments, data files, eras, watermark
    monotonicity across every retained snapshot. Driver-side only."""
    from dibbs_ecr_refiner_spark.lake.maintenance import verify_table
    from dibbs_ecr_refiner_spark.lake.table import LakeTable

    spark = _spark(args)
    table = LakeTable(spark, args.table)
    return {"cmd": "fsck", **verify_table(table)}


def cmd_validate(args) -> dict:
    """Row-constraint validation of the refined view (≙ the reference's
    XSD/Schematron output backstop): default transcript rules — kept text
    non-null, role in enum, (conv_id, turn_idx) unique, ts non-null —
    appending the outcome to the table's `_validations.jsonl` audit log."""
    from dibbs_ecr_refiner_spark.lake.table import LakeTable
    from dibbs_ecr_refiner_spark.operators.validate import validate_table

    spark = _spark(args)
    table = LakeTable(spark, args.table)
    return {"cmd": "validate", **validate_table(table)}


def cmd_tag(args) -> dict:
    """Named snapshot refs (≙ Iceberg tags) — pin the exact dataset
    version a training run read; tagged snapshots survive expire/GC."""
    from dibbs_ecr_refiner_spark.lake.table import LakeTable

    spark = _spark(args)
    table = LakeTable(spark, args.table)
    if args.delete:
        if args.name is None:
            raise SystemExit("tag --delete requires --name")
        return {"cmd": "tag", **table.delete_tag(args.name)}
    if args.name is None:
        return {"cmd": "tag", "tags": table.tags()}
    return {"cmd": "tag", **table.tag(args.name, version=args.version, note=args.note)}


def cmd_export(args) -> dict:
    """Export the clean transcripts view for downstream consumers (simple
    columns only, so every format works). ``--tag`` exports the pinned
    snapshot a named ref points at (reproducible dataset exports)."""
    from dibbs_ecr_refiner_spark.lake.table import LakeTable

    spark = _spark(args)
    table = LakeTable(spark, args.table)
    df = table.read_transcripts(tag=args.tag) if args.tag else table.read_transcripts()
    w = df.write.mode("overwrite")
    if args.format == "csv":
        w = w.option("header", "true").option("escape", '"')
    w.format(args.format).save(args.out)
    return {"cmd": "export", "format": args.format, "rows": df.count(), "out": args.out}


def cmd_rebucket(args) -> dict:
    from dibbs_ecr_refiner_spark.lake.maintenance import rebucket
    from dibbs_ecr_refiner_spark.lake.table import LakeTable

    spark = _spark(args)
    table = LakeTable(spark, args.table)
    res = rebucket(table, args.to_buckets)
    return {"cmd": "rebucket", **{k: v for k, v in res.items() if k != "seconds"}}


def cmd_changes(args) -> dict:
    """Incremental scan (CDC-out): summarize rows added between snapshots."""
    from pyspark.sql import functions as F

    from dibbs_ecr_refiner_spark.lake.table import LakeTable

    spark = _spark(args)
    table = LakeTable(spark, args.table)
    feed = table.read_changes(
        args.from_version, args.to_version, from_tag=args.from_tag, to_tag=args.to_tag
    )
    agg = feed.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("_deleted").cast("long")).alias("deletes"),
        F.min("change_lsn").alias("lsn_min"),
        F.max("change_lsn").alias("lsn_max"),
    ).collect()[0]
    if args.out:
        feed.write.mode("overwrite").parquet(args.out)
    return {
        "cmd": "changes",
        "from": args.from_version or (table.resolve_tag(args.from_tag) if args.from_tag else None),
        "to": args.to_version
        or (table.resolve_tag(args.to_tag) if args.to_tag else None)
        or table.current_snapshot()["snapshot_id"],
        "rows": int(agg["rows"] or 0),
        "deletes": int(agg["deletes"] or 0),
        "lsn_min": agg["lsn_min"],
        "lsn_max": agg["lsn_max"],
        "out": args.out,
    }


def cmd_stream(args) -> dict:
    """Incremental CDC export via the NATIVE streaming source
    (lake/stream_source.py): drain every commit since the checkpoint's
    last offset into a parquet directory and stop (availableNow). Re-runs
    resume from the checkpoint, so cron-ing this command gives an
    exactly-once incremental export — the streaming sibling of
    ``changes --out`` (which re-scans an explicit version span)."""
    from dibbs_ecr_refiner_spark.lake.stream_source import register

    spark = _spark(args)
    register(spark)
    reader = spark.readStream.format("lake_cdc").option("path", args.table)
    if args.from_version:
        reader = reader.option("startingVersion", str(args.from_version))

    def _count() -> int:
        # the file sink's _spark_metadata manifest makes this exact
        try:
            return spark.read.parquet(args.out).count()
        except Exception:
            return 0  # first run: out dir doesn't exist yet

    before = _count()
    q = (
        reader.load()
        .writeStream.format("parquet")
        .option("path", args.out)
        .option("checkpointLocation", args.checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # counted from the sink manifest, not query progress events (those are
    # posted async and can lag an availableNow termination)
    total = _count()
    return {
        "cmd": "stream",
        "table": args.table,
        "out": args.out,
        "rows_drained": total - before,
        "rows_total": total,
    }


def cmd_tail(args) -> dict:
    """Tail read: LWW-resolved rows with ts >= --since, skipping cold data
    files at the manifest via compaction-stamped stats (lake/table.py
    read_since). Reports how many files the stats pruned — at steady state
    on a compacted table that is almost all of them."""
    import datetime as dt

    from pyspark.sql import functions as F

    from dibbs_ecr_refiner_spark.lake import meta
    from dibbs_ecr_refiner_spark.lake.table import LakeTable, _ts_us

    spark = _spark(args)
    table = LakeTable(spark, args.table)
    since = dt.datetime.fromisoformat(args.since)
    snap = table.current_snapshot()
    total = len(snap["files"]) if snap else 0
    kept = len(meta.prune(snap["files"], snap["num_buckets"], ts_lo=_ts_us(since))) if snap else 0
    df = table.read_since(since)
    agg = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("conv_id").alias("conversations"),
        F.max("ts").alias("ts_max"),
    ).collect()[0]
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
    return {
        "cmd": "tail",
        "since": args.since,
        "rows": int(agg["rows"] or 0),
        "conversations": int(agg["conversations"] or 0),
        "ts_max": str(agg["ts_max"]) if agg["ts_max"] else None,
        "files_total": total,
        "files_scanned": kept,
        "files_skipped_by_stats": total - kept,
        "out": args.out,
    }


def cmd_gc(args) -> dict:
    from dibbs_ecr_refiner_spark.lake.maintenance import gc_orphans
    from dibbs_ecr_refiner_spark.lake.table import LakeTable

    spark = _spark(args)
    table = LakeTable(spark, args.table)
    res = gc_orphans(table, min_age_sec=args.min_age)
    return {"cmd": "gc", **res}


def cmd_events(args) -> dict:
    from dibbs_ecr_refiner_spark.sources import ConfigStore

    spark = _spark(args)
    ev = ConfigStore(spark, args.config).events().orderBy("event_id")
    rows = ev.tail(args.limit)
    return {
        "cmd": "events",
        "total": ev.count(),
        "tail": [
            {"event_id": r["event_id"], "event_type": r["event_type"], "version": r["version"]}
            for r in rows
        ],
    }


def cmd_refine_one(args) -> dict:
    """Interactive simulator (≙ the reference's simulator surface,
    refiner/app/api/v1/simulator.py:58,137,194 + services/testing.py:200-308):
    run a chosen config version against ONE stored conversation and show
    the per-turn diff — which turns a new config would keep, drop, or
    re-match — WITHOUT writing anything. The read is a bucket-pruned point
    lookup; refinement is the same compiled expression pass the engine
    runs, over a handful of rows."""
    from pyspark.sql import functions as F

    from dibbs_ecr_refiner_spark.lake.table import LakeTable
    from dibbs_ecr_refiner_spark.operators.refine import compile_refinement
    from dibbs_ecr_refiner_spark.plans.config import default_plan
    from dibbs_ecr_refiner_spark.sources import ConfigStore

    spark = _spark(args)
    plan = (
        ConfigStore(spark, args.config).load_plan(version=args.config_version)
        if args.config
        else default_plan()
    )
    table = LakeTable(spark, args.table)
    cur = table.read_conversation(args.conv, include_tombstones=True)
    payload = [c for c in ("conv_id", "turn_idx", "role", "text", "tool", "extra", "items") if c in cur.columns]
    before = cur.select(
        *payload,
        F.col("_deleted").alias("_was_deleted"),
        F.col("_outcome").alias("_outcome_before"),
        F.col("_matched_code").alias("_code_before"),
    )
    sim = compile_refinement(plan)(before)
    rows = sim.orderBy("turn_idx").collect()
    turns, n_changed = [], 0
    for r in rows:
        keep_before = not r["_was_deleted"]
        keep_after = bool(r["_keep"])
        changed = (keep_before != keep_after) or (r["_outcome_before"] != r["_outcome"]) or (
            r["_code_before"] != r["_matched_code"]
        )
        n_changed += changed
        t = {
            "turn_idx": r["turn_idx"],
            "role": r["role"],
            "before": {"kept": keep_before, "outcome": r["_outcome_before"], "code": r["_code_before"]},
            "after": {"kept": keep_after, "outcome": r["_outcome"], "code": r["_matched_code"]},
            "changed": changed,
        }
        if changed:
            t["text_after"] = r["text"]
        turns.append(t)
    return {
        "cmd": "refine-one",
        "conv_id": args.conv,
        "config_version": plan.config_version,
        "n_turns": len(turns),
        "n_changed": n_changed,
        "turns": turns if not args.diff_only else [t for t in turns if t["changed"]],
    }


def cmd_show(args) -> dict:
    from dibbs_ecr_refiner_spark.lake.table import LakeTable

    spark = _spark(args)
    table = LakeTable(spark, args.table)
    snap = table.current_snapshot()
    live = table.read().count()
    return {
        "cmd": "show",
        "snapshot": snap["snapshot_id"],
        "schema_version": snap["schema_version"],
        "files": len(snap["files"]),
        "delta_files": sum(1 for f in snap["files"] if f.get("kind", "base") == "delta"),
        "batches_applied": len(snap["applied_batches"]),
        "live_rows": live,
        "watermark_min": min((int(v) for v in snap["watermarks"].values()), default=None),
        "watermark_max": max((int(v) for v in snap["watermarks"].values()), default=None),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="dibbs_ecr_refiner_spark")
    ap.add_argument("--cores", type=int, default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate", help="write a synthetic change log")
    g.add_argument("--changelog", required=True)
    g.add_argument("--events", type=int, default=100_000)
    g.add_argument("--conversations", type=int, default=1000)
    g.add_argument("--turns", type=int, default=24)
    g.add_argument("--batches", type=int, default=4)
    g.add_argument(
        "--batch-prefix",
        default="batch",
        help="batch-id prefix; must differ between logs replayed into the "
        "same table (the applied-batches registry is id-keyed)",
    )

    r = sub.add_parser("replay", help="apply a change log to a lake table")
    r.add_argument("--changelog", required=True)
    r.add_argument("--table", required=True)
    r.add_argument("--config", default=None, help="config store root (default: built-in plan)")
    r.add_argument("--buckets", type=int, default=64)
    r.add_argument("--mode", choices=["auto", "cow", "mor"], default="auto",
                   help="auto (default) commits every batch as delta files (mor), folds "
                        "a bucket between batches once it holds more than 8 delta commits and "
                        "folds all pending deltas at the end; mor commits delta files "
                        "resolved at read and never folds; cow rewrites touched buckets")

    c = sub.add_parser("compact", help="compact buckets / fold MOR deltas / GC tombstones")
    c.add_argument("--table", required=True)
    c.add_argument("--gc-tombstones", action="store_true")
    c.add_argument("--config", default=None,
                   help="config store root: re-enrich displays while folding deltas")

    s = sub.add_parser("show", help="table status from the current snapshot")
    s.add_argument("--table", required=True)

    gc = sub.add_parser("gc", help="remove orphaned/unreferenced data files")
    gc.add_argument("--table", required=True)
    gc.add_argument("--min-age", type=float, default=3600.0)

    e = sub.add_parser("events", help="config-mutation audit log")
    e.add_argument("--config", required=True)
    e.add_argument("--limit", type=int, default=10)

    xp = sub.add_parser("export", help="export the transcripts view (parquet/json/csv)")
    xp.add_argument("--table", required=True)
    xp.add_argument("--out", required=True)
    xp.add_argument("--format", choices=["parquet", "json", "csv"], default="parquet")
    xp.add_argument("--tag", help="export the snapshot this named ref pins")

    fs = sub.add_parser("fsck", help="metadata consistency check over all retained snapshots")
    fs.add_argument("--table", required=True)

    va = sub.add_parser("validate", help="row-constraint validation of the refined view")
    va.add_argument("--table", required=True)

    tg = sub.add_parser("tag", help="named snapshot refs: pin/list/delete (expiry-protected)")
    tg.add_argument("--table", required=True)
    tg.add_argument("--name", help="tag name (omit to list tags)")
    tg.add_argument("--version", type=int, help="snapshot to pin (default: current)")
    tg.add_argument("--note", help="free-form note stored with the tag")
    tg.add_argument("--delete", action="store_true")

    ex = sub.add_parser("expire", help="expire old snapshots (bound the time-travel horizon)")
    ex.add_argument("--table", required=True)
    ex.add_argument("--keep-last", type=int, default=5)

    rb = sub.add_parser("rebucket", help="partition evolution: rewrite under a new bucket count")
    rb.add_argument("--table", required=True)
    rb.add_argument("--to-buckets", type=int, required=True)

    ro = sub.add_parser(
        "refine-one",
        help="simulator: run a config against one conversation, show the per-turn diff",
    )
    ro.add_argument("--table", required=True)
    ro.add_argument("--conv", required=True, help="conversation id to simulate on")
    ro.add_argument("--config", default=None, help="config store root (default: built-in plan)")
    ro.add_argument("--config-version", type=int, default=None,
                    help="store version to simulate (default: active)")
    ro.add_argument("--diff-only", action="store_true",
                    help="emit only the turns whose outcome would change")

    tl = sub.add_parser("tail", help="rows updated since a timestamp (stats-pruned read)")
    tl.add_argument("--table", required=True)
    tl.add_argument("--since", required=True, help="ISO timestamp, e.g. 2026-01-20T00:00:00")
    tl.add_argument("--out", default=None, help="optional parquet dir to write the tail")

    ch = sub.add_parser("changes", help="incremental scan: rows added between snapshots")
    ch.add_argument("--table", required=True)
    ch.add_argument("--from-version", type=int, default=None)
    ch.add_argument("--to-version", type=int, default=None)
    ch.add_argument("--from-tag", default=None, help="resolve the low endpoint via a named ref")
    ch.add_argument("--to-tag", default=None, help="resolve the high endpoint via a named ref")
    ch.add_argument("--out", default=None, help="optional parquet dir to write the feed")

    st = sub.add_parser(
        "stream",
        help="exactly-once incremental CDC export (native streaming source, drains and stops)",
    )
    st.add_argument("--table", required=True)
    st.add_argument("--out", required=True, help="parquet dir the change stream appends to")
    st.add_argument("--checkpoint", required=True, help="streaming checkpoint dir (the cursor)")
    st.add_argument("--from-version", type=int, default=None)

    args = ap.parse_args(argv)
    out = {
        "generate": cmd_generate,
        "replay": cmd_replay,
        "compact": cmd_compact,
        "show": cmd_show,
        "gc": cmd_gc,
        "events": cmd_events,
        "changes": cmd_changes,
        "stream": cmd_stream,
        "tail": cmd_tail,
        "rebucket": cmd_rebucket,
        "expire": cmd_expire,
        "export": cmd_export,
        "tag": cmd_tag,
        "fsck": cmd_fsck,
        "validate": cmd_validate,
        "refine-one": cmd_refine_one,
    }[args.cmd](args)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
