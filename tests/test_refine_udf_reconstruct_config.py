"""Differential test (compiled expressions vs pandas-UDF interpreter),
grouped-map reconstruction, and the versioned config store + lock gate."""

import pytest
from pyspark.sql import functions as F

from dibbs_ecr_refiner_spark.engine import ReplayEngine, batch_oracle, final_state_matches
from dibbs_ecr_refiner_spark.fixtures.changelog import ChangeLogParams, generate_changes
from dibbs_ecr_refiner_spark.lake.table import LakeTable
from dibbs_ecr_refiner_spark.operators.cdc import lww_resolve
from dibbs_ecr_refiner_spark.operators.reconstruct import SUMMARY_TURN_IDX, reconstruct
from dibbs_ecr_refiner_spark.operators.refine import compile_refinement
from udf_refinement_oracle import apply_refinement_udf
from dibbs_ecr_refiner_spark.plans.config import default_plan
from dibbs_ecr_refiner_spark.sources import ConfigStore, MaintenanceLocked, write_config_tables

PARAMS = ChangeLogParams(n_conversations=25, turns_per_conv=6, n_events=1200, n_batches=2)
OUT = ["conv_id", "turn_idx", "_matched_code", "_tier", "_keep", "_outcome", "text", "_matched_display", "_provenance"]


@pytest.fixture(scope="module")
def winners(spark):
    df = lww_resolve(generate_changes(spark, PARAMS)).where(F.col("op") != "delete").cache()
    df.count()
    yield df
    df.unpersist()


def test_compiled_and_udf_refinement_agree(spark, winners):
    """Two independent implementations of the same plan must agree
    row-for-row (the reference's two-engine parity idea, SURVEY §3.2)."""
    plan = default_plan()
    a = {tuple(r[c] for c in ["conv_id", "turn_idx"]): tuple(r[c] for c in OUT[2:])
         for r in compile_refinement(plan)(winners).select(OUT).collect()}
    b = {tuple(r[c] for c in ["conv_id", "turn_idx"]): tuple(r[c] for c in OUT[2:])
         for r in apply_refinement_udf(winners, plan).select(OUT).collect()}
    assert set(a) == set(b)
    mismatches = {k: (a[k], b[k]) for k in a if a[k] != b[k]}
    assert not mismatches, f"{len(mismatches)} mismatches, first: {next(iter(mismatches.items()))}"


def test_reconstruct_adds_summary_turn(spark, tmp_path, winners):
    table = LakeTable(spark, str(tmp_path / "lake"), num_buckets=4)
    eng = ReplayEngine(spark, table, default_plan())
    eng.replay(generate_changes(spark, PARAMS))
    out = reconstruct(table.read_transcripts()).cache()
    convs = out.select("conv_id").distinct().count()
    summaries = out.where(F.col("turn_idx") == SUMMARY_TURN_IDX)
    assert summaries.count() == convs
    row = summaries.orderBy("conv_id").first()
    assert row["role"] == "summary"
    assert "USER[n=" in row["text"] or "ASSISTANT[n=" in row["text"]
    # deterministic: same input → same summary text
    again = reconstruct(table.read_transcripts()).where(
        F.col("turn_idx") == SUMMARY_TURN_IDX
    )
    assert sorted(r["text"] for r in summaries.collect()) == sorted(
        r["text"] for r in again.collect()
    )
    out.unpersist()


def test_config_store_roundtrip_and_lock(spark, tmp_path):
    root = str(tmp_path / "cfg")
    store = ConfigStore(spark, root)
    plan = default_plan()
    v1 = write_config_tables(spark, root, plan)
    assert v1 == 1 and store.current_version() == 1
    loaded = store.load_plan()
    assert loaded.instructions == plan.instructions
    assert set(loaded.keep_codes) == set(plan.keep_codes)
    assert loaded.rules == plan.rules

    # version bump: flip is atomic, old version still loadable
    v2 = write_config_tables(spark, root, plan)
    assert v2 == 2 and store.current_version() == 2
    assert store.load_plan(version=1).config_version == plan.config_version

    store.lock()
    with pytest.raises(MaintenanceLocked):
        store.load_plan()
    store.unlock()
    assert store.load_plan() is not None


def test_replay_with_store_loaded_plan_matches_oracle(spark, tmp_path):
    """Same fidelity regardless of config source (≙ pipeline.py:259-262)."""
    root = str(tmp_path / "cfg")
    write_config_tables(spark, root, default_plan())
    plan = ConfigStore(spark, root).load_plan()
    changes = generate_changes(spark, PARAMS)
    table = LakeTable(spark, str(tmp_path / "lake"), num_buckets=4)
    ReplayEngine(spark, table, plan).replay(changes)
    assert final_state_matches(table.read(), batch_oracle(changes, default_plan()))


def test_reconstruct_footnote_renders_outcomes(spark, tmp_path, winners):
    """Provenance footnote (≙ narrative/footnote.py:40-160): reconstruction
    over a provenance-bearing view appends an outcome-accounting line."""
    table = LakeTable(spark, str(tmp_path / "lake-fn"), num_buckets=4)
    eng = ReplayEngine(spark, table, default_plan())
    eng.replay(generate_changes(spark, PARAMS))
    out = reconstruct(table.read(), with_provenance=True)
    texts = [
        r["text"] for r in out.where(F.col("turn_idx") == SUMMARY_TURN_IDX).collect()
    ]
    assert texts and all("footnote: outcomes " in t for t in texts)
    assert any("refined_kept=" in t or "retained=" in t for t in texts)
    # without provenance columns, no footnote
    plain = reconstruct(table.read_transcripts()).where(
        F.col("turn_idx") == SUMMARY_TURN_IDX
    )
    assert all("footnote" not in r["text"] for r in plain.collect())


def test_provenance_comment_rendered_per_matched_turn(spark, winners):
    """Per-entry provenance comment (≙ section/utils.py:225-324): matched
    turns carry the human-facing string, unmatched carry NULL."""
    out = compile_refinement(default_plan())(winners)
    rows = out.select("_matched_code", "_tier", "_provenance").collect()
    assert any(r["_provenance"] for r in rows)
    for r in rows:
        if r["_matched_code"] is None:
            assert r["_provenance"] is None
        else:
            assert r["_provenance"] == (
                f"refined: matched {r['_matched_code']} tier {r['_tier']} by cfg-v1"
            )


def test_config_store_appends_audit_events(spark, tmp_path):
    """S9 audit log (≙ the reference's events table, db/events/model.py:
    12-27): every config mutation appends an immutable event row."""
    root = str(tmp_path / "cfg-events")
    store = ConfigStore(spark, root)
    assert store.events().count() == 0
    write_config_tables(spark, root, default_plan())
    store.lock()
    store.unlock()
    write_config_tables(spark, root, default_plan())
    ev = store.events().orderBy("event_id").collect()
    assert [r["event_type"] for r in ev] == [
        "create_configuration", "activate_version",
        "lock_acquire", "lock_release",
        "create_configuration", "activate_version",
    ]
    assert [r["event_id"] for r in ev] == list(range(6))
    assert ev[0]["version"] == 1 and ev[4]["version"] == 2
    # append-only: unlock of a non-existent lock appends nothing
    store.unlock()
    assert store.events().count() == 6


def test_config_store_crud_is_snapshot_style(spark, tmp_path):
    """CRUD surface (≙ the reference's configuration endpoints): every
    mutation creates a NEW version + its audit event; prior versions stay
    loadable (readers keep the version they resolved)."""
    from dibbs_ecr_refiner_spark.plans.config import KeepCode, RoleInstruction
    from dibbs_ecr_refiner_spark.sources import ConfigStore, write_config_tables

    root = str(tmp_path / "cfg-crud")
    store = ConfigStore(spark, root)
    write_config_tables(spark, root, default_plan())

    v2 = store.add_code(KeepCode("token", "oscar", "Oscar"))
    assert v2 == 2
    assert any(k.code == "oscar" for k in store.load_plan().keep_codes)
    assert not any(k.code == "oscar" for k in store.load_plan(version=1).keep_codes)

    v3 = store.remove_code("token", "oscar")
    assert not any(k.code == "oscar" for k in store.load_plan().keep_codes)

    v4 = store.update_role_instruction(
        RoleInstruction("tool", include=True, action="retain", narrative="retain")
    )
    assert store.load_plan().instructions["tool"].action == "retain"
    assert store.load_plan(version=v3).instructions["tool"].action == "refine"

    kinds = [r["event_type"] for r in store.events().orderBy("event_id").collect()]
    assert kinds.count("add_code") == 1
    assert kinds.count("remove_code") == 1
    assert kinds.count("section_update") == 1
    assert v4 == 4

    # event_ids stay a gapless monotone sequence (cursor-file allocator)
    ids = [r["event_id"] for r in store.events().orderBy("event_id").collect()]
    assert ids == list(range(len(ids)))


def test_crud_bumps_config_version_so_provenance_attributes_correctly(spark, tmp_path):
    """Each CRUD mutation stamps the plan with the NEW store version, so
    provenance strings ('by cfg-vN') identify the configuration that
    actually refined the row — not the version the chain started from."""
    from dibbs_ecr_refiner_spark.plans.config import KeepCode
    from dibbs_ecr_refiner_spark.sources import ConfigStore, write_config_tables

    root = str(tmp_path / "cfg-prov")
    store = ConfigStore(spark, root)
    write_config_tables(spark, root, default_plan())
    assert store.load_plan().config_version == 1

    v2 = store.add_code(KeepCode("token", "oscar", "Oscar"))
    assert store.load_plan().config_version == v2 == 2
    v3 = store.remove_code("token", "oscar")
    assert store.load_plan().config_version == v3 == 3
    # historical versions keep their own attribution
    assert store.load_plan(version=2).config_version == 2
