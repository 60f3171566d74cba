"""Metadata write amplification: segmented vs inline manifests.

Simulates the metadata side of a commit stream against a LARGE table
(default: 4096 buckets, 200k live data files — the manifest shape of a
~100 TB table at 512 MB/file) without any Spark session: for each commit
that touches K buckets, measure the bytes + wall time the driver spends
writing metadata under

- **inline** (pre-round-3): one snapshot JSON carrying the full file list
  and full batch registry — O(total files) per commit;
- **segmented** (lake/manifests.py): the touched buckets' segments + one
  small snapshot JSON — O(touched) per commit.

Usage: python tools/bench_manifest.py [--files 200000] [--buckets 4096]
       [--touch 8] [--commits 20]
Prints one JSON line; wire the numbers into BENCH.md.
"""

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dibbs_ecr_refiner_spark.lake import manifests as mf  # noqa: E402


def synth_snapshot(n_files: int, n_buckets: int, n_batches: int) -> dict:
    files = [
        {
            "path": f"data/c{i:012x}/_bucket={i % n_buckets}/part-{i:05d}.parquet",
            "bucket": i % n_buckets,
            "sv": 1,
            "bytes": 512 * 1024 * 1024,
        }
        for i in range(n_files)
    ]
    applied = {
        f"batch-{k}": {
            "snapshot_id": k + 1,
            "lsn_min": k * 1000,
            "lsn_max": k * 1000 + 999,
            "rows_upserted": 100_000,
            "rows_deleted": 10,
            "files_written": 8,
            "buckets_touched": 8,
        }
        for k in range(n_batches)
    }
    return {
        "format_version": 3,
        "snapshot_id": n_batches,
        "parent_id": n_batches - 1,
        "committed_at": 0.0,
        "schema": {"type": "struct", "fields": []},
        "schema_version": 1,
        "columns": [{"id": i + 1, "name": f"c{i}", "type": "string"} for i in range(8)],
        "next_column_id": 9,
        "schemas": {"1": []},
        "num_buckets": n_buckets,
        "files": files,
        "watermarks": {str(b): n_batches * 1000 for b in range(n_buckets)},
        "applied_batches": applied,
        "dropped_columns": [],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--files", type=int, default=200_000)
    ap.add_argument("--buckets", type=int, default=4096)
    ap.add_argument("--touch", type=int, default=8)
    ap.add_argument("--commits", type=int, default=20)
    args = ap.parse_args()

    work = tempfile.mkdtemp(prefix="bench-manifest-")
    try:
        snap = synth_snapshot(args.files, args.buckets, n_batches=1000)

        # inline: what every commit used to write
        t0 = time.time()
        inline_path = os.path.join(work, "inline.json")
        with open(inline_path, "w") as f:
            json.dump(snap, f, indent=1, sort_keys=True)
        inline_s = time.time() - t0
        inline_bytes = os.path.getsize(inline_path)

        # segmented: bootstrap once (the one-time upgrade cost)...
        seg_dir = os.path.join(work, "_manifests")
        os.makedirs(seg_dir)
        t0 = time.time()
        parent_disk = mf.deflate(seg_dir, dict(snap), None, set())
        with open(mf.snapshot_path(seg_dir, snap["snapshot_id"]), "w") as f:
            json.dump(parent_disk, f, indent=1, sort_keys=True)
        bootstrap_s = time.time() - t0
        # commits deflate against the inflated parent, as LakeTable.merge does
        parent = mf.inflate(seg_dir, parent_disk)

        # ...then steady-state commits touching `touch` buckets each
        per_commit_bytes, per_commit_s = [], []
        files = snap["files"]
        for c in range(args.commits):
            touched = [(c * args.touch + j) % args.buckets for j in range(args.touch)]
            tset = set(touched)
            new_files = [
                {
                    "path": f"data/n{c:04d}-{j}/part.parquet",
                    "bucket": touched[j % args.touch],
                    "sv": 1,
                    "kind": "delta",
                    "bytes": 512 * 1024 * 1024,
                }
                for j in range(args.touch)
            ]
            manifest = dict(snap)
            manifest["snapshot_id"] = snap["snapshot_id"] + c + 1
            manifest["files"] = files + new_files
            manifest["applied_batches"] = {
                **snap["applied_batches"],
                f"new-{c}": {"snapshot_id": manifest["snapshot_id"]},
            }
            before = {fn: None for fn in os.listdir(seg_dir)}
            t0 = time.time()
            disk = mf.deflate(seg_dir, manifest, parent, tset)
            with open(mf.snapshot_path(seg_dir, manifest["snapshot_id"]), "w") as f:
                json.dump(disk, f, indent=1, sort_keys=True)
            per_commit_s.append(time.time() - t0)
            per_commit_bytes.append(
                sum(
                    os.path.getsize(os.path.join(seg_dir, fn))
                    for fn in os.listdir(seg_dir)
                    if fn not in before
                )
            )
            parent = mf.inflate(seg_dir, disk)

        med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
        print(
            json.dumps(
                {
                    "files": args.files,
                    "buckets": args.buckets,
                    "touched_per_commit": args.touch,
                    "inline_bytes_per_commit": inline_bytes,
                    "inline_sec_per_commit": round(inline_s, 4),
                    "segmented_bytes_per_commit": med(per_commit_bytes),
                    "segmented_sec_per_commit": round(med(per_commit_s), 4),
                    "bootstrap_sec": round(bootstrap_s, 3),
                    "bytes_amplification_inline_over_segmented": round(
                        inline_bytes / max(1, med(per_commit_bytes)), 1
                    ),
                }
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
