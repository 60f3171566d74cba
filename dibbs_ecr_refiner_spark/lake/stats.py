"""Per-file column statistics for manifest-level data skipping
(≙ Iceberg data-file column stats; reference analog: the per-run manifest
bookkeeping of refiner/app/lambda/lambda_function.py:276-295, generalized
to file-granular pruning metadata).

EXACT (footer-read) stats are stamped only by maintenance rewrites
(compact / fold / rebucket commit through ``LakeTable.merge(mode=
"rewrite")``). Every ingest merge stamps a CONSERVATIVE ``ts`` range
on its merge-on-read delta entries instead: the batch's pre-pass
aggregate (``LakeTable.prepass``) already computes each bucket's min/max
event ts — a superset of the winners the delta file holds — so fresh
deltas are ``read_since``-prunable with zero extra jobs and
zero footer reads (pinned by
tests/test_lake.py::test_no_driver_side_footer_reads).
Readers treat a missing stats block, or a missing per-column range, as
"must scan", so mixed stamped/unstamped tables are always correct.

Requires int64-µs parquet timestamps: legacy INT96 carries no parquet
min/max statistics at all (session.py sets outputTimestampType).
"""

from __future__ import annotations

# Columns stamped into each file entry: the bucketing/point-lookup key and
# the LEADING LWW order column (the only order component that is safe to
# prune on — see LakeTable.read's safety argument).
STATS_COLS = ("conv_id", "ts")


def _ts_us(v) -> int:
    """A timestamp as integer epoch microseconds — the one representation
    used both when stamping file stats and when pruning against them, so the
    comparison can never be skewed by tz/precision formatting."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        return int(v.timestamp() * 1_000_000)
    return int(v)


def file_column_stats(path: str) -> dict | None:
    """Footer-only min/max of STATS_COLS for one parquet file (pyarrow
    metadata read — no data pages touched, no Spark job). Returns
    ``{"conv_id": [lo, hi], "ts": [lo_us, hi_us], "rows": n}`` or None if
    any row group lacks stats for a wanted column (conservative)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
    out: dict = {}
    for col in STATS_COLS:
        if col not in idx:
            return None
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[col]).statistics
            if st is None or not st.has_min_max:
                return None
            mn, mx = st.min, st.max
            if col == "ts":
                mn, mx = _ts_us(mn), _ts_us(mx)
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
        out[col] = [lo, hi]
    out["rows"] = md.num_rows
    return out


def _stats_keep(f: dict, col: str, lo=None, hi=None) -> bool:
    """Can file-entry ``f`` contain a row with ``lo <= col <= hi``?
    Missing stats ⇒ True (must scan)."""
    rng = (f.get("stats") or {}).get(col)
    if rng is None:
        return True
    if hi is not None and rng[0] > hi:
        return False
    if lo is not None and rng[1] < lo:
        return False
    return True
