"""CLI surface: generate → replay (MOR) → show → compact (fold) → changes.

Exercises the spark-submit deployment surface end-to-end in-process
(cli.main with argv), sharing the session fixture so no second JVM spins
up. Each subcommand's JSON contract is what operators script against."""

import json

from dibbs_ecr_refiner_spark import cli


def _run(capsys, *argv):
    assert cli.main(list(argv)) == 0
    out = capsys.readouterr().out.strip().splitlines()[-1]
    return json.loads(out)


def test_cli_mor_lifecycle(spark, tmp_path, capsys):
    log = str(tmp_path / "log")
    table = str(tmp_path / "table")

    gen = _run(capsys, "generate", "--changelog", log, "--events", "2000",
               "--conversations", "40", "--batches", "2")
    assert gen["events"] == 2000

    rep = _run(capsys, "replay", "--changelog", log, "--table", table,
               "--buckets", "8", "--mode", "mor")
    assert rep["mode"] == "mor" and rep["batches_applied"] == 2

    shown = _run(capsys, "show", "--table", table)
    assert shown["delta_files"] > 0 and shown["live_rows"] > 0
    live_before = shown["live_rows"]

    # incremental scan: full feed from table creation
    ch = _run(capsys, "changes", "--table", table)
    assert ch["rows"] >= live_before

    comp = _run(capsys, "compact", "--table", table)
    assert not comp.get("skipped")

    shown2 = _run(capsys, "show", "--table", table)
    assert shown2["delta_files"] == 0
    assert shown2["live_rows"] == live_before

    # replay again: exactly-once no-op
    rep2 = _run(capsys, "replay", "--changelog", log, "--table", table,
                "--buckets", "8", "--mode", "mor")
    assert rep2["batches_applied"] == 0 and rep2["batches_skipped"] == 2

    # export the transcripts view for downstream consumers
    out = str(tmp_path / "export")
    exp = _run(capsys, "export", "--table", table, "--out", out, "--format", "csv")
    assert exp["rows"] == live_before
    assert spark.read.option("header", "true").csv(out).count() == live_before


def test_cli_tail_stats_pruned(spark, tmp_path, capsys):
    """`tail --since` reads the LWW tail and reports manifest data
    skipping: after a compact (which stamps file stats), a future cut
    scans ZERO files while a past cut scans them all — same row counts
    as the unpruned view either way."""
    log = str(tmp_path / "log")
    table = str(tmp_path / "table")
    _run(capsys, "generate", "--changelog", log, "--events", "2000",
         "--conversations", "40", "--batches", "2")
    rep = _run(capsys, "replay", "--changelog", log, "--table", table, "--buckets", "8",
               "--mode", "mor")
    comp = _run(capsys, "compact", "--table", table)
    assert not comp.get("skipped")  # the fold is what stamps the file stats
    live = _run(capsys, "show", "--table", table)["live_rows"]

    past = _run(capsys, "tail", "--table", table,
                "--since", "2000-01-01T00:00:00")
    assert past["rows"] == live and past["files_skipped_by_stats"] == 0

    fut = _run(capsys, "tail", "--table", table,
               "--since", "2100-01-01T00:00:00")
    assert fut["rows"] == 0 and fut["files_scanned"] == 0
    assert fut["files_total"] == past["files_total"] > 0
    assert rep["batches_applied"] == 2  # the tail read touched nothing


def test_cli_refine_one_simulator(spark, tmp_path, capsys):
    """The simulator surface (≙ reference simulator.py:194): run a config
    version against ONE conversation, read-only, and show the per-turn
    diff. A v2 config that re-includes the 'system' role must show the
    previously-dropped system turns flipping kept False→True; the table
    itself must be untouched."""
    from dibbs_ecr_refiner_spark.lake.table import LakeTable
    from dibbs_ecr_refiner_spark.plans.config import RoleInstruction, default_plan
    from dibbs_ecr_refiner_spark.sources import ConfigStore, write_config_tables

    log = str(tmp_path / "log")
    table_dir = str(tmp_path / "table")
    _run(capsys, "generate", "--changelog", log, "--events", "2000",
         "--conversations", "40", "--batches", "2")
    _run(capsys, "replay", "--changelog", log, "--table", table_dir, "--buckets", "8")

    # a conversation that actually lost a system turn to refinement
    table = LakeTable(spark, table_dir, num_buckets=8)
    conv = (
        table.read(include_tombstones=True)
        .where("_outcome = 'removed_wholesale'")
        .select("conv_id")
        .first()["conv_id"]
    )
    snap_before = table.current_snapshot()["snapshot_id"]

    cfg = str(tmp_path / "cfg")
    write_config_tables(spark, cfg, default_plan())
    store = ConfigStore(spark, cfg)
    v2 = store.update_role_instruction(
        RoleInstruction("system", include=True, action="retain", narrative="retain")
    )

    # v1 (the active config the table was built with): system turns stay dropped
    out1 = _run(capsys, "refine-one", "--table", table_dir,
                "--conv", conv, "--config", cfg, "--config-version", "1")
    sys_turns = [t for t in out1["turns"] if t["role"] == "system"]
    assert sys_turns and all(not t["after"]["kept"] for t in sys_turns)

    # v2: the same turns flip to kept, reported as changes
    out2 = _run(capsys, "refine-one", "--table", table_dir,
                "--conv", conv, "--config", cfg, "--config-version", str(v2), "--diff-only")
    assert out2["config_version"] == v2
    flipped = [
        t for t in out2["turns"]
        if t["role"] == "system" and not t["before"]["kept"] and t["after"]["kept"]
    ]
    assert flipped, out2
    assert all(t["changed"] for t in out2["turns"])

    # read-only: no new snapshot was committed
    assert table.current_snapshot()["snapshot_id"] == snap_before


def test_cli_stream_incremental_export(spark, tmp_path, capsys):
    """`stream` drains new commits exactly once per invocation: first run
    exports the table, an idle re-run drains nothing, a post-commit run
    drains only the new span — and the output dir accumulates all of it."""
    log = str(tmp_path / "log")
    table = str(tmp_path / "table")
    out = str(tmp_path / "export")
    cp = str(tmp_path / "cp")

    _run(capsys, "generate", "--changelog", log, "--events", "1000",
         "--conversations", "20", "--batches", "1")
    _run(capsys, "replay", "--changelog", log, "--table", table,
         "--buckets", "8", "--mode", "mor")

    first = _run(capsys, "stream", "--table", table, "--out", out, "--checkpoint", cp)
    assert first["rows_drained"] > 0

    idle = _run(capsys, "stream", "--table", table, "--out", out, "--checkpoint", cp)
    assert idle["rows_drained"] == 0

    log2 = str(tmp_path / "log2")
    _run(capsys, "generate", "--changelog", log2, "--events", "300",
         "--conversations", "20", "--batches", "1", "--batch-prefix", "b2")
    _run(capsys, "replay", "--changelog", log2, "--table", table,
         "--buckets", "8", "--mode", "mor")
    third = _run(capsys, "stream", "--table", table, "--out", out, "--checkpoint", cp)
    assert third["rows_drained"] > 0

    exported = spark.read.parquet(out).count()
    assert exported == first["rows_drained"] + third["rows_drained"]
