"""Declarative row-constraint validation over a DataFrame / lake table —
the engine's analog of the reference's XSD + Schematron output backstop
(``refiner/tests/integration/scenarios/conftest.py:15-19`` validates every
refined document against the schema before it counts as produced; here the
post-merge refined view is validated against declarative row rules).

Spark-first shape: every rule compiles to a Column predicate; ALL
row-level rules are evaluated in a single projection over a single scan
(failed-rule structs, array-compacted and exploded) and each set-level
rule (uniqueness) becomes one aggregation, UNIONed into a single
violations DataFrame — pure built-in expressions, no UDFs, so Catalyst
prunes the scan to the referenced columns and the whole check is one job,
with ONE scan of the input for every row rule, at any scale. The
violations frame is small by construction (violations, not rows), so
``validate_table`` can safely count it on the driver and append the
outcome as an audit row next to the table's manifests (the fsck-style
lineage trail: which snapshot was checked, when, what failed).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..lake import meta

VIOLATION_SCHEMA = "rule string, key string, detail string"


@dataclass(frozen=True)
class Rule:
    """One declarative constraint. ``kind`` is 'row' (predicate must hold
    per row) or 'unique' (no duplicate groups over ``cols``)."""

    name: str
    kind: str
    cols: tuple[str, ...] = ()
    predicate: Column | None = field(default=None, compare=False)
    detail: Column | None = field(default=None, compare=False)


def not_null(col: str, name: str | None = None) -> Rule:
    return Rule(
        name or f"not_null({col})",
        "row",
        (col,),
        F.col(col).isNotNull(),
        F.lit("value is NULL"),
    )


def in_set(col: str, values, name: str | None = None) -> Rule:
    vals = sorted(values)
    return Rule(
        name or f"in_set({col})",
        "row",
        (col,),
        F.col(col).isin(vals),
        F.concat(F.lit("value "), F.coalesce(F.col(col).cast("string"), F.lit("NULL"))),
    )


def in_range(col: str, lo=None, hi=None, name: str | None = None) -> Rule:
    pred = F.lit(True)
    if lo is not None:
        pred = pred & (F.col(col) >= F.lit(lo))
    if hi is not None:
        pred = pred & (F.col(col) <= F.lit(hi))
    return Rule(
        name or f"in_range({col})",
        "row",
        (col,),
        pred,
        F.concat(F.lit("value "), F.coalesce(F.col(col).cast("string"), F.lit("NULL"))),
    )


def unique(*cols: str, name: str | None = None) -> Rule:
    return Rule(name or f"unique({','.join(cols)})", "unique", tuple(cols))


def expr_rule(name: str, sql_predicate: str, key_detail: str | None = None) -> Rule:
    """Escape hatch: violation wherever the SQL predicate is NOT satisfied
    (NULL counts as unsatisfied, matching SQL CHECK semantics inverted)."""
    det = F.expr(key_detail) if key_detail else F.lit("predicate failed")
    return Rule(name, "row", (), F.expr(sql_predicate), det)


def _key_col(cols: tuple[str, ...]) -> Column:
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("NULL")) for c in cols]
    return F.concat_ws("|", *parts) if parts else F.lit("")


def violations(df: DataFrame, rules: list[Rule], key_cols: tuple[str, ...]) -> DataFrame:
    """One violations row per offending input row (row rules) or per
    duplicate key group (unique rules): (rule, key, detail).

    ALL row rules are evaluated in ONE projection over ONE scan of ``df``:
    each rule compiles to a conditional struct entry, the per-row array of
    failed-rule entries is compacted and exploded, and only the uniqueness
    aggregations remain separate union branches. The previous shape — one
    filtered projection per row rule, unioned — re-scanned the input once
    per rule (Spark does not share file scans across union branches), so
    the default 3-row-rule check read the table 3× (guide §1.2: don't pay
    passes you don't need)."""
    for r in rules:
        if r.kind not in ("row", "unique"):
            raise ValueError(f"unknown rule kind {r.kind!r}")
    branches = []
    row_rules = [r for r in rules if r.kind == "row"]
    if row_rules:
        # NULL predicate = violation (CHECK semantics): NOT coalesce(p, false)
        entries = [
            F.when(
                ~F.coalesce(r.predicate, F.lit(False)),
                F.struct(
                    F.lit(r.name).alias("rule"),
                    (r.detail if r.detail is not None else F.lit("")).alias("detail"),
                ),
            )
            for r in row_rules
        ]
        failed = F.array_compact(F.array(*entries))
        branches.append(
            df.select(_key_col(key_cols).alias("key"), F.explode(failed).alias("_v"))
            .select(F.col("_v.rule").alias("rule"), "key", F.col("_v.detail").alias("detail"))
        )
    for r in rules:
        if r.kind != "unique":
            continue
        dup = (
            df.groupBy(*[F.col(c) for c in r.cols])
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > 1)
        )
        branches.append(
            dup.select(
                F.lit(r.name).alias("rule"),
                _key_col(r.cols).alias("key"),
                F.concat(F.lit("count="), F.col("n").cast("string")).alias("detail"),
            )
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


# default constraints on the refined transcripts view — the shape every
# downstream consumer of the lake assumes (≙ the reference's schema gate
# on refined output)
def transcript_rules(roles=("assistant", "system", "tool", "user")) -> list[Rule]:
    return [
        not_null("text", name="kept_text_not_null"),
        not_null("ts", name="ts_not_null"),
        in_set("role", roles, name="role_in_enum"),
        unique("conv_id", "turn_idx", name="turn_key_unique"),
    ]


def _log_path(table) -> str:
    return os.path.join(meta.manifest_dir(table.root), "_validations.jsonl")


def validate_table(table, rules: list[Rule] | None = None) -> dict:
    """Validate a lake table's live rows and append the outcome to the
    table's validation audit log (`_validations.jsonl` beside the
    manifests — one line per run: snapshot version, per-rule violation
    counts, wall time). Returns the summary dict; the violations
    DataFrame itself is re-derivable from `violations()` for triage."""
    rules = rules if rules is not None else transcript_rules()
    t0 = time.time()
    v = violations(table.read(), rules, ("conv_id", "turn_idx"))
    by_rule = {r["rule"]: int(r["n"]) for r in v.groupBy("rule").agg(F.count(F.lit(1)).alias("n")).collect()}
    rec = {
        "version": table._current_version(),
        "checked_at": time.time(),
        "seconds": round(time.time() - t0, 3),
        "rules": [r.name for r in rules],
        "violations": sum(by_rule.values()),
        "by_rule": by_rule,
        "ok": not by_rule,
    }
    with open(_log_path(table), "a") as f:
        f.write(json.dumps(rec) + "\n")
    return rec


def validation_log(table) -> list[dict]:
    try:
        with open(_log_path(table)) as f:
            return [json.loads(line) for line in f if line.strip()]
    except FileNotFoundError:
        return []
