"""Chunked scale-up evidence run — 10^9-event territory on one box.

The 100M tool (bench_scaleup.py) materializes the whole change log before
replaying; at 10^9 events the log alone would blow /dev/shm. This variant
streams the generation: each chunk is generated (deterministically, with a
base_lsn offset so LSN/ts stay globally monotone), ingested as one MOR
batch, then its log files are deleted — peak disk is O(one chunk + table),
not O(full log). Every chunk re-touches the same conversation keyspace, so
the workload is the steady-state update pattern (each chunk a full wave of
updates over existing keys), which is exactly the 10^10 regime the north
rule targets.

Full-table oracle recompute needs the full log (gone) and a driver-sized
compare, so correctness is evidenced on a 1-in-MOD conv_id sample: each
chunk appends its sampled rows (whole conversations — display enrichment is
conversation-scoped) to a side log, and at the end the batch oracle over
that sample must equal the replayed table restricted to the same
conversations — exact per-turn text equality, the BASELINE.json invariant.

Usage (solo on the box — any concurrent Spark invalidates the numbers):

    python tools/bench_scaleup_chunked.py [events] [chunks] [sample_mod]

Prints one JSON line. Defaults: 1_000_000_000 events, 16 chunks, 1-in-101
conversations sampled for the oracle.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, fn))
            except OSError:
                pass
    return total


def main() -> None:
    events = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000_000
    chunks = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    sample_mod = int(sys.argv[3]) if len(sys.argv) > 3 else 101

    from pyspark.sql import functions as F

    from dibbs_ecr_refiner_spark.engine import ReplayEngine, batch_oracle, final_state_matches
    from dibbs_ecr_refiner_spark.fixtures.changelog import ChangeLogParams, write_changes
    from dibbs_ecr_refiner_spark.lake.table import LakeTable
    from dibbs_ecr_refiner_spark.plans.config import default_plan
    from dibbs_ecr_refiner_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name=f"scaleup-chunked-{events}", cores=cores)
    # SPARK_GRAFT_SCALEUP_DIR: pick the roomy volume. At 10^9 events the
    # table alone is ~30 GB and the final fold needs transient scratch on
    # top — /dev/shm is the right default only while table+scratch fit RAM.
    base_dir = os.environ.get(
        "SPARK_GRAFT_SCALEUP_DIR",
        "/dev/shm" if os.path.isdir("/dev/shm") else None,
    )
    work = tempfile.mkdtemp(prefix="scaleup1b-", dir=base_dir)
    per_chunk = events // chunks
    out: dict = {
        "metric": "scaleup_replay_chunked",
        "events": events,
        "chunks": chunks,
        "mode": "mor",
        "cores": cores,
        "sample_mod": sample_mod,
    }
    sample_pred = F.pmod(F.xxhash64("conv_id"), F.lit(sample_mod)) == 0
    try:
        table = LakeTable(spark, os.path.join(work, "lake"), num_buckets=64)
        eng = ReplayEngine(spark, table, default_plan())
        sample_log = os.path.join(work, "sample_log")
        gen_sec = ingest_sec = 0.0
        actual_events = 0
        curve = []  # per-chunk ingest throughput — the cost-vs-scale curve
        for i in range(chunks):
            params = ChangeLogParams(
                n_conversations=events // 100,  # same conv:event ratio as bench
                turns_per_conv=24,
                n_events=per_chunk,
                n_batches=1,
                base_lsn=i * per_chunk,
                batch_prefix=f"ck{i:03d}",
            )
            log = os.path.join(work, f"log_{i:03d}")
            t0 = time.time()
            write_changes(spark, log, params)
            # the oracle's sampled side-log: whole conversations only
            (
                spark.read.parquet(log)
                .where(sample_pred)
                .withColumn("ingest_file", F.lit(f"ck{i:03d}-00000"))
                .write.mode("append")
                .parquet(sample_log)
            )
            gen_sec += time.time() - t0
            t0 = time.time()
            stats = eng.replay_path(log, mode="mor")
            chunk_sec = time.time() - t0
            ingest_sec += chunk_sec
            actual_events += stats.events
            shutil.rmtree(log, ignore_errors=True)
            row = {
                "chunk": i,
                "chunk_events": stats.events,
                "chunk_eps": round(stats.events / chunk_sec, 1),
                "events_so_far": actual_events,
                "ingest_eps_so_far": round(actual_events / ingest_sec, 1),
                "data_bytes": _du(os.path.join(work, "lake", "data")),
            }
            curve.append(row)
            print(json.dumps(row), file=sys.stderr, flush=True)
        out["chunk_curve"] = curve
        out["gen_sec"] = round(gen_sec, 1)
        out["ingest_sec"] = round(ingest_sec, 1)
        out["events_per_sec"] = round(actual_events / ingest_sec, 1)
        out["actual_events"] = actual_events

        # Convergence fold: compact folds in commit groups sized from the
        # manifest's byte accounting (maintenance.FOLD_SCRATCH_BYTES per
        # commit) — the unbounded one-commit fold is what died with ENOSPC
        # at 1.05B events.
        t0 = time.time()
        fold_res = eng.fold_deltas()
        out["fold_sec"] = round(time.time() - t0, 1)
        out["fold_commits"] = fold_res["commits"]
        out["fold_group_buckets"] = fold_res["group_buckets"]
        out["events_per_sec_incl_fold"] = round(
            actual_events / (ingest_sec + out["fold_sec"]), 1
        )
        out["data_bytes"] = _du(os.path.join(work, "lake", "data"))

        # Sampled oracle: batch recompute over the sampled conversations
        # vs the replayed table restricted to the same conversations.
        t0 = time.time()
        sampled = spark.read.parquet(sample_log)
        got = table.read().where(sample_pred)
        out["oracle_match"] = bool(
            final_state_matches(got, batch_oracle(sampled, eng.plan))
        )
        out["sampled_convs"] = sampled.select("conv_id").distinct().count()
        out["sampled_live_rows"] = got.count()
        out["oracle_check_sec"] = round(time.time() - t0, 1)
        out["live_rows"] = table.read().count()

        # Data-quality stamp at scale: the row-constraint backstop over the
        # folded table (default transcript rules), outcome appended to the
        # table's _validations.jsonl and echoed into this record.
        from dibbs_ecr_refiner_spark.operators.validate import validate_table

        t0 = time.time()
        vrec = validate_table(table)
        out["validation"] = {
            "ok": vrec["ok"],
            "violations": vrec["violations"],
            "rules": vrec["rules"],
            "seconds": round(time.time() - t0, 1),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
