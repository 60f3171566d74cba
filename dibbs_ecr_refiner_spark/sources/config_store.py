"""Versioned configuration store over lake dimension tables.

Reference chain being reproduced (refiner/app/lambda/lambda_function.py):
- ``current.json`` holds the active config version int; ``active.json``
  holds that version's payload, gated on schema_version
  (:537-627, :881-936)                      → ``_current`` pointer file +
  per-version parquet dimension tables, schema gate on load
- maintenance-lock object defers the whole batch (:353-410, :231-233)
  → ``_lock`` file makes the apply job refuse to run; the batch "returns
  to the queue" = the replay simply reruns from the checkpoint later
- Postgres config CRUD (app/db/*) → config *writes* here are snapshot-
  style too: write tables for version N, then flip ``_current`` atomically
- the reference guarantees "same fidelity regardless of source"
  (services/pipeline.py:259-262) → one loader, one RefinePlan, whatever
  wrote the tables.

Layout::

    <root>/v<NNNN>/refine_config.parquet
    <root>/v<NNNN>/keep_codes.parquet
    <root>/v<NNNN>/match_rules.parquet
    <root>/_current            # version int, atomic replace
    <root>/_lock               # present ⇒ maintenance in progress
    <root>/events.jsonl       # append-only audit log of config mutations

The ``events.jsonl`` audit log ≙ the reference's ``events`` table — "a
literal change log" of config CRUD (refiner/app/db/events/model.py:12-27,
schema.sql:296): every mutation (version write, activation flip,
lock acquire/release) appends one immutable event row. Reads come back as
a DataFrame (``ConfigStore.events()``) so lineage queries run like any
other table.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

from ..lake import manifests
from ..plans.config import (
    CURRENT_CONFIG_SCHEMA_VERSION,
    KeepCode,
    MatchRule,
    RefinePlan,
    RoleInstruction,
    build_plan,
)

EVENT_SCHEMA = (
    "event_id long, event_type string, version int, created_at double, "
    "payload string"
)

EVENT_TYPES = (
    "create_configuration",   # version-N dimension tables written
    "activate_version",       # _current pointer flipped
    "add_code",               # CRUD: keep-code added (new version)
    "remove_code",            # CRUD: keep-code removed (new version)
    "section_update",         # CRUD: role instruction changed (new version)
    "lock_acquire",
    "lock_release",
)


def _append_event(root: str, event_type: str, version: int | None, payload: dict) -> None:
    """Append one immutable audit event (like the reference's Postgres
    events insert). event_id is a monotone per-store sequence kept in a
    cursor file — O(1) per append instead of re-counting the log (which
    was O(n^2) over the log's life). The store is SINGLE-WRITER by design
    (≙ the reference's one Lambda mutator): the cursor read-increment-write
    and ``write_config_tables``'s version claim are not guarded against
    concurrent mutators; concurrent *readers* are always safe (append-only
    log, snapshot-style version dirs, atomic pointer flips)."""
    p = os.path.join(root, "events.jsonl")
    cur = os.path.join(root, "events.cursor")
    n = manifests.read_pointer(cur) or 0
    rec = {
        "event_id": n,
        "event_type": event_type,
        "version": version,
        "created_at": time.time(),
        "payload": json.dumps(payload, sort_keys=True),
    }
    with open(p, "a") as f:
        f.write(json.dumps(rec, sort_keys=True) + "\n")
    manifests.flip_pointer(cur, n + 1)


class MaintenanceLocked(Exception):
    """Config store is locked for maintenance — defer the batch (the rerun
    picks up from the checkpoint, ≙ SQS visibility-timeout retry)."""


def write_config_tables(spark: SparkSession, root: str, plan: RefinePlan) -> int:
    """Persist a RefinePlan as version-N dimension tables and flip
    ``_current``. Returns the new version."""
    pointer = manifests.pointer_path(root)
    cur = manifests.read_pointer(pointer)
    version = (cur or 0) + 1
    vdir = os.path.join(root, f"v{version:04d}")
    os.makedirs(vdir, exist_ok=True)

    spark.createDataFrame(
        [
            (plan.config_version, i.role, i.include, i.action, i.narrative, plan.schema_version)
            for i in plan.instructions.values()
        ],
        "config_version int, role string, include boolean, action string, "
        "narrative string, schema_version int",
    ).write.mode("overwrite").parquet(os.path.join(vdir, "refine_config.parquet"))

    spark.createDataFrame(
        [(plan.config_version, k.system, k.code, k.display) for k in plan.keep_codes],
        "config_version int, system string, code string, display string",
    ).write.mode("overwrite").parquet(os.path.join(vdir, "keep_codes.parquet"))

    spark.createDataFrame(
        [
            (
                r.role, r.rule_idx, r.target, r.system, r.fallback_target,
                r.preserve_whole, r.tier, r.require_attr,
            )
            for r in plan.rules
        ],
        "role string, rule_idx int, target string, system string, "
        "fallback_target string, preserve_whole boolean, tier int, "
        "require_attr string",
    ).write.mode("overwrite").parquet(os.path.join(vdir, "match_rules.parquet"))

    _append_event(
        root,
        "create_configuration",
        version,
        {
            "roles": sorted(plan.instructions),
            "n_keep_codes": len(plan.keep_codes),
            "n_rules": len(plan.rules),
            "schema_version": plan.schema_version,
        },
    )
    manifests.flip_pointer(pointer, version)
    _append_event(root, "activate_version", version, {"previous": cur})
    return version


class ConfigStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def lock(self) -> None:
        with open(os.path.join(self.root, "_lock"), "w") as f:
            f.write("maintenance")
        _append_event(self.root, "lock_acquire", self.current_version(), {})

    def unlock(self) -> None:
        try:
            os.remove(os.path.join(self.root, "_lock"))
        except FileNotFoundError:
            return
        _append_event(self.root, "lock_release", self.current_version(), {})

    def events(self) -> DataFrame:
        """The append-only config-mutation audit log as a DataFrame (≙
        querying the reference's events table). Empty-but-typed when no
        mutation has happened yet."""
        p = os.path.join(self.root, "events.jsonl")
        if not os.path.exists(p):
            return self.spark.createDataFrame([], EVENT_SCHEMA)
        return self.spark.read.schema(EVENT_SCHEMA).json(p)

    def is_locked(self) -> bool:
        return os.path.exists(os.path.join(self.root, "_lock"))

    def current_version(self) -> int | None:
        return manifests.read_pointer(manifests.pointer_path(self.root))

    # ---- CRUD (≙ the reference's configuration endpoints, app/db/*/db.py:
    # every mutation is snapshot-style — a NEW immutable version + an audit
    # event — never an in-place edit; readers keep the version they loaded).

    def _mutate(self, event_type: str, payload: dict, fn) -> int:
        """Snapshot-style CRUD: build the next plan stamped with the STORE
        version it will be written as — so provenance strings ('by cfg-vN')
        and reconstructed text identify the actual configuration, not the
        version the chain started from."""
        plan = self.load_plan()
        next_version = (self.current_version() or 0) + 1
        new_plan = fn(plan, next_version)
        version = write_config_tables(self.spark, self.root, new_plan)
        assert version == next_version, "single-writer store: version raced"
        _append_event(self.root, event_type, version, payload)
        return version

    def add_code(self, code: KeepCode) -> int:
        """Add a keep-code (≙ add_code / custom-code CRUD). Returns the new
        active version."""
        return self._mutate(
            "add_code",
            {"system": code.system, "code": code.code},
            lambda p, v: build_plan(
                list(p.instructions.values()),
                [*p.keep_codes, code],
                list(p.rules),
                config_version=v,
                schema_version=p.schema_version,
            ),
        )

    def remove_code(self, system: str, code: str) -> int:
        return self._mutate(
            "remove_code",
            {"system": system, "code": code},
            lambda p, v: build_plan(
                list(p.instructions.values()),
                [k for k in p.keep_codes if not (k.system == system and k.code == code)],
                list(p.rules),
                config_version=v,
                schema_version=p.schema_version,
            ),
        )

    def update_role_instruction(self, instr: RoleInstruction) -> int:
        """Replace one role's instruction (≙ section_update)."""
        return self._mutate(
            "section_update",
            {"role": instr.role, "action": instr.action, "narrative": instr.narrative},
            lambda p, v: build_plan(
                [i for r, i in p.instructions.items() if r != instr.role] + [instr],
                list(p.keep_codes),
                list(p.rules),
                config_version=v,
                schema_version=p.schema_version,
            ),
        )

    def load_plan(self, version: int | None = None) -> RefinePlan:
        """Resolve the active plan (≙ load_active_configuration):
        lock gate → current-version pointer → dimension tables → schema
        gate (inside build_plan) → RefinePlan."""
        if self.is_locked():
            raise MaintenanceLocked(self.root)
        v = version or self.current_version()
        if v is None:
            raise FileNotFoundError(f"no committed config version under {self.root}")
        vdir = os.path.join(self.root, f"v{v:04d}")

        cfg = self.spark.read.parquet(os.path.join(vdir, "refine_config.parquet")).collect()
        codes = self.spark.read.parquet(os.path.join(vdir, "keep_codes.parquet")).collect()
        rules = self.spark.read.parquet(os.path.join(vdir, "match_rules.parquet")).collect()

        instructions = [
            RoleInstruction(r["role"], r["include"], r["action"], r["narrative"]) for r in cfg
        ]
        keep = [KeepCode(r["system"], r["code"], r["display"]) for r in codes]
        mrules = [
            MatchRule(
                r["role"], r["rule_idx"], r["target"], r["system"],
                r["fallback_target"], r["preserve_whole"], r["tier"],
                # tolerate v1 tables written before the attribute guard
                r["require_attr"] if "require_attr" in r.__fields__ else None,
            )
            for r in rules
        ]
        schema_version = cfg[0]["schema_version"] if cfg else CURRENT_CONFIG_SCHEMA_VERSION
        config_version = cfg[0]["config_version"] if cfg else v
        return build_plan(
            instructions, keep, mrules,
            config_version=config_version, schema_version=schema_version,
        )
