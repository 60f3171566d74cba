"""Named snapshot refs (≙ Iceberg tags): pin a dataset version by name,
read/export it reproducibly, and survive expire/GC until deleted."""

import datetime as dt
import os

import pytest

from dibbs_ecr_refiner_spark.lake import maintenance, manifests
from dibbs_ecr_refiner_spark.lake.table import LakeTable

TS = dt.datetime(2026, 1, 1)
SCHEMA = (
    "conv_id string, turn_idx int, ts timestamp, change_lsn long, "
    "role string, text string, tool string, _deleted boolean"
)


def _delta(spark, rows):
    return spark.createDataFrame(
        [(c, i, TS, lsn, "user", x, None, False) for (c, i, x, lsn) in rows], SCHEMA
    )


def test_tag_pins_a_version_and_reads_by_name(spark, tmp_path):
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    table.merge(_delta(spark, [("c1", 0, "v1", 1)]), "b0")
    res = table.tag("corpus-2026-08", note="train run 17")
    assert res == {"tag": "corpus-2026-08", "version": 1}
    table.merge(_delta(spark, [("c1", 0, "v2", 5)]), "b1")

    assert [r["text"] for r in table.read(tag="corpus-2026-08").collect()] == ["v1"]
    assert [r["text"] for r in table.read().collect()] == ["v2"]
    assert [r["text"] for r in table.read_transcripts(tag="corpus-2026-08").collect()] == ["v1"]
    assert table.tags()["corpus-2026-08"]["note"] == "train run 17"


def test_tags_are_immutable_and_validated(spark, tmp_path):
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    table.merge(_delta(spark, [("c1", 0, "v1", 1)]), "b0")
    table.tag("gold")
    with pytest.raises(ValueError, match="already pins"):
        table.tag("gold")
    with pytest.raises(FileNotFoundError):
        table.tag("bad", version=99)
    with pytest.raises(ValueError, match="unknown tag"):
        table.read(tag="nope")
    with pytest.raises(ValueError, match="not both"):
        table.read(tag="gold", version=1)


def test_tagged_snapshot_survives_expire_and_gc_until_deleted(spark, tmp_path):
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=2)
    table.merge(_delta(spark, [("c1", 0, "pinned", 1)]), "b0")
    table.tag("gold", version=1)
    for k in range(6):
        table.merge(_delta(spark, [("c1", 0, f"v{k + 2}", k + 2)]), f"b{k + 1}")

    res = maintenance.expire_snapshots(table, keep_last=2)
    assert 1 in res["pinned"]
    assert os.path.exists(os.path.join(table._manifest_dir, "v00000001.json"))
    maintenance.gc_orphans(table, min_age_sec=0.0)
    # the pinned version still fully reads after expire+GC
    assert [r["text"] for r in table.read(tag="gold").collect()] == ["pinned"]

    # delete the tag: the next expire+GC reclaims it
    table.delete_tag("gold")
    maintenance.expire_snapshots(table, keep_last=2)
    assert not os.path.exists(os.path.join(table._manifest_dir, "v00000001.json"))
    maintenance.gc_orphans(table, min_age_sec=0.0)
    with pytest.raises(FileNotFoundError):
        table.read(version=1).collect()
    # current is untouched
    assert [r["text"] for r in table.read().collect()] == ["v7"]


def test_cli_tag_and_reproducible_export(spark, tmp_path, capsys):
    import json

    from dibbs_ecr_refiner_spark import cli

    def run(*argv):
        assert cli.main(list(argv)) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    root = str(tmp_path / "t")
    table = LakeTable(spark, root, num_buckets=2)
    table.merge(_delta(spark, [("c1", 0, "old", 1)]), "b0")
    assert run("tag", "--table", root, "--name", "gold") == {
        "cmd": "tag",
        "tag": "gold",
        "version": 1,
    }
    table.merge(_delta(spark, [("c1", 0, "new", 5)]), "b1")

    listed = run("tag", "--table", root)
    assert listed["tags"]["gold"]["version"] == 1

    out = str(tmp_path / "export")
    exp = run("export", "--table", root, "--out", out, "--format", "json", "--tag", "gold")
    assert exp["rows"] == 1
    assert [r["text"] for r in spark.read.json(out).collect()] == ["old"]

    assert run("tag", "--table", root, "--name", "gold", "--delete")["deleted"] is True
    assert run("tag", "--table", root)["tags"] == {}


def test_read_changes_between_tags(spark, tmp_path):
    """Tag-to-tag incremental diff: 'what changed between corpus versions'
    without anyone remembering snapshot ids."""
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=2)
    table.merge(_delta(spark, [("c1", 0, "a", 1), ("c2", 0, "b", 2)]), "b0")
    table.tag("july")
    table.merge(_delta(spark, [("c3", 0, "c", 3)]), "b1", mode="mor")
    table.tag("august")
    got = {r["text"] for r in table.read_changes(None, from_tag="july", to_tag="august").collect()}
    assert got == {"c"}
    with pytest.raises(ValueError, match="not both"):
        table.read_changes(1, from_tag="july")


def test_fsck_clean_table_and_injected_corruption(spark, tmp_path):
    from dibbs_ecr_refiner_spark.lake.maintenance import verify_table

    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    table.merge(_delta(spark, [("c1", 0, "a", 1), ("c2", 0, "b", 2)]), "b0")
    table.merge(_delta(spark, [("c1", 0, "a2", 5)]), "b1", mode="mor")
    res = verify_table(table)
    assert res["ok"] and res["snapshots_checked"] == 2 and res["files_checked"] > 0

    # injected corruption: delete one data file -> fsck flags it
    victim = table.current_snapshot()["files"][0]["path"]
    os.remove(os.path.join(str(tmp_path / "t"), victim))
    bad = verify_table(table)
    assert not bad["ok"]
    assert any("missing data file" in i and victim in i for i in bad["issues"])


def test_fsck_flags_missing_segment(spark, tmp_path):
    from dibbs_ecr_refiner_spark.lake import manifests as mf
    from dibbs_ecr_refiner_spark.lake.maintenance import verify_table

    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=2)
    table.merge(_delta(spark, [("c1", 0, "a", 1)]), "b0")
    seg = next(f for f in os.listdir(table._manifest_dir) if f.startswith("seg-"))
    os.remove(os.path.join(table._manifest_dir, seg))
    mf._SEG_CACHE.clear()
    bad = verify_table(table)
    assert not bad["ok"] and any("missing segment" in i for i in bad["issues"])


def test_fsck_flags_tag_pinning_missing_snapshot(spark, tmp_path):
    from dibbs_ecr_refiner_spark.lake.maintenance import verify_table

    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=2)
    table.merge(_delta(spark, [("c1", 0, "a", 1)]), "b0")
    table.merge(_delta(spark, [("c1", 0, "b", 2)]), "b1")
    table.tag("gold", version=1)
    assert verify_table(table)["ok"]
    os.remove(os.path.join(table._manifest_dir, "v00000001.json"))
    bad = verify_table(table)
    assert any("tag 'gold' pins missing v1" in i for i in bad["issues"])


def test_concurrent_taggers_with_different_names_both_land(spark, tmp_path):
    """Round-4 ADVICE fix: tags are one file each, created atomically —
    concurrent taggers with DIFFERENT names can no longer lose each other
    to a read-modify-write of a shared refs blob. 16 threads racing on a
    mix of unique and colliding names: every unique name must survive,
    every collision must raise 'already pins'."""
    import threading

    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    table.merge(_delta(spark, [("c1", 0, "v1", 1)]), "b0")

    errors, collisions = [], []
    barrier = threading.Barrier(16)

    def work(i):
        barrier.wait()
        try:
            table.tag(f"run-{i % 12}")  # 12 unique names, 4 collisions
        except ValueError as e:
            if "already pins" in str(e):
                collisions.append(i)
            else:
                errors.append(e)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=work, args=(i,)) for i in range(16)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert set(table.tags()) == {f"run-{i}" for i in range(12)}
    assert len(collisions) == 4


def test_tag_names_are_validated_as_filenames(spark, tmp_path):
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    table.merge(_delta(spark, [("c1", 0, "v1", 1)]), "b0")
    for bad in ("a/b", ".hidden", "", "a b", "../up"):
        with pytest.raises(ValueError, match="invalid tag name"):
            table.tag(bad)
    table.tag("ok-1.2_3")


def test_delete_tag_validates_name_before_touching_paths(spark, tmp_path):
    """Regression (r5 advice): delete_tag('../v00000001') must not resolve
    outside _refs/ — an unvalidated join would os.remove a snapshot
    manifest and destroy time travel."""
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    table.merge(_delta(spark, [("c1", 0, "v1", 1)]), "b0")
    table.tag("keep")
    manifest = tmp_path / "t" / "_manifests" / "v00000001.json"
    assert manifest.exists()
    for bad in ("../v00000001", "a/b", ".hidden", ""):
        with pytest.raises(ValueError, match="invalid tag name"):
            table.delete_tag(bad)
    assert manifest.exists()  # nothing escaped the refs dir
    assert table.read(tag="keep").count() == 1


def test_stream_source_tag_options_reject_traversal_names(spark, tmp_path):
    from dibbs_ecr_refiner_spark.lake.stream_source import LakeCdcBatchReader

    root = str(tmp_path / "t")
    table = LakeTable(spark, root, num_buckets=4)
    table.merge(_delta(spark, [("c1", 0, "v1", 1)]), "b0")
    table.tag("good")
    assert LakeCdcBatchReader({"path": root, "totag": "good"}).to == 1
    for bad in ("../v00000001", "a/b", ".hidden"):
        with pytest.raises(ValueError, match="invalid tag name"):
            LakeCdcBatchReader({"path": root, "fromtag": bad})


def test_tag_collision_message_survives_winner_deletion(spark, tmp_path, monkeypatch):
    """The FileExistsError handler re-reads the winner's metadata; if the
    winning tag vanished in between, the error must stay a ValueError."""
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    table.merge(_delta(spark, [("c1", 0, "v1", 1)]), "b0")
    table.tag("gold")

    def racing_create(path, text):
        raise FileExistsError(path)

    monkeypatch.setattr(manifests, "create_if_absent", racing_create)
    monkeypatch.setattr(table, "tags", lambda: {})  # winner already deleted
    with pytest.raises(ValueError, match="already exists"):
        table.tag("gold")
