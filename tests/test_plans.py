"""Physical-plan shape assertions: the properties that make these operators
survive a 100× scale-up are visible in explain() output — filters reaching
the parquet scan, broadcast joins for dimensions, partial aggregation for
the LWW reduce, no Python eval in the hot path. Pin them so regressions in
plan shape fail CI, not just the wall clock."""

import contextlib
import io

from pyspark.sql import functions as F

from dibbs_ecr_refiner_spark.engine import prepare_delta
from dibbs_ecr_refiner_spark.fixtures.changelog import ChangeLogParams, generate_changes
from dibbs_ecr_refiner_spark.plans.config import default_plan
from dibbs_ecr_refiner_spark.queries import relational


def _explain(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_q1_pushdown_and_pruning(spark, sf_dir):
    plan = _explain(relational.q1_pricing_summary(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: only the 6 needed columns in ReadSchema
    read_schema = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "l_orderkey" not in read_schema and "l_quantity" in read_schema
    # two-phase hash agg (map-side partial combine)
    assert plan.count("HashAggregate") >= 2


def test_semi_join_is_broadcast(spark, sf_dir):
    plan = _explain(relational.join_broadcast_semi(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # the dimension filter is pushed to its scan
    assert "LessThan(p_size,10)" in plan


def test_enrichment_joins_are_broadcast(spark, sf_dir):
    plan = _explain(relational.enrich_left_join(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_lww_agg_is_partial_aggregation_not_sort(spark):
    changes = generate_changes(
        spark, ChangeLogParams(n_conversations=10, turns_per_conv=2, n_events=200, n_batches=1)
    )
    from dibbs_ecr_refiner_spark.operators.cdc import lww_resolve

    plan = _explain(lww_resolve(changes), "simple")
    # hash-agg based reduce: no global Sort, no Window
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2 or "SortAggregate" in plan


def test_q5_star_join_is_all_broadcast(spark, sf_dir):
    """Six-table star join: every join compiles to BroadcastHashJoin (the
    dims are small) — no sort-merge exchange in the plan."""
    plan = _explain(relational.q5_supplier_volume(spark, sf_dir), "simple")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_mor_read_resolves_with_partial_agg(spark, tmp_path):
    """The merge-on-read resolve must keep the property that makes LWW
    scale: a partial reduce before the exchange (hot keys combine
    map-side), and no Window/global sort in the plan."""
    import datetime as dt

    from dibbs_ecr_refiner_spark.lake.table import LakeTable

    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    schema = (
        "conv_id string, turn_idx int, ts timestamp, change_lsn long, "
        "role string, text string, tool string, _deleted boolean"
    )
    rows = [("c1", 0, dt.datetime(2026, 1, 1), 1, "user", "a", None, False)]
    table.merge(spark.createDataFrame(rows, schema), "b0")
    rows2 = [("c1", 0, dt.datetime(2026, 1, 2), 2, "user", "b", None, False)]
    table.merge(spark.createDataFrame(rows2, schema), "b1", mode="mor")

    plan = _explain(table.read(), "simple")
    assert "Window" not in plan
    # partial + final max_by reduce (SortAggregate carries the struct
    # buffer; what matters is the partial stage before the exchange)
    assert plan.count("SortAggregate") >= 2 or plan.count("HashAggregate") >= 2
    assert "partial" in plan.lower()


def test_refine_pass_has_no_python_eval(spark):
    changes = generate_changes(
        spark, ChangeLogParams(n_conversations=10, turns_per_conv=2, n_events=200, n_batches=1)
    )
    plan = _explain(prepare_delta(changes, default_plan()), "simple")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert marker not in plan
    # the refine core is projections + ONE aggregation with a map-side
    # partial reduce (partial_max_by): the dedup shuffle is subsumed by the
    # LWW reduce. Display enrichment adds the narrative-index aggregate and
    # its join (the index side is tiny — AQE picks a broadcast at runtime);
    # pin the total so a regression that sneaks in an extra shuffle fails.
    assert "Project" in plan and "partial_max_by" in plan
    assert plan.count("Exchange") <= 4


def test_mor_merge_plan_is_one_projection_per_stage(spark, tmp_path, monkeypatch):
    """The frame a merge-on-read batch writes carries one Project per stage
    above the LWW aggregate: the winner unpacking, the refinement's two
    (match columns, then everything that reads them) and the final column
    select. The planner re-walks this chain at every node, so a
    per-column withColumn chain costs every small batch fixed planning
    time. The match expression stays computed once: as many
    regexp_extract calls as the rule table compiles to."""
    from pyspark.sql import readwriter

    from dibbs_ecr_refiner_spark.engine import ReplayEngine
    from dibbs_ecr_refiner_spark.lake.table import LakeTable

    written = []
    parquet = readwriter.DataFrameWriter.parquet

    def capture(self, *args, **kwargs):
        written.append(self._df)
        return parquet(self, *args, **kwargs)

    monkeypatch.setattr(readwriter.DataFrameWriter, "parquet", capture)
    changes = generate_changes(
        spark, ChangeLogParams(n_conversations=20, turns_per_conv=3, n_events=200, n_batches=1)
    )
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    res = ReplayEngine(spark, table, default_plan()).apply_batch(changes, "b0", mode="mor")
    assert not res.get("skipped") and len(written) == 1

    plan = written[0]._jdf.queryExecution().optimizedPlan().toString()
    nodes = [line.lstrip(" :+-").split(" ")[0] for line in plan.splitlines()]
    above_lww = nodes[: nodes.index("Aggregate")]
    assert above_lww.count("Project") <= 4, plan
    # the default plan's match expressions hold 10 regexp_extract calls;
    # more means a stage re-inlines the match expression
    assert plan.count("regexp_extract(") == 10


def test_changelog_batch_filter_prunes_partitions(spark, tmp_path):
    from dibbs_ecr_refiner_spark.fixtures.changelog import write_changes

    log = str(tmp_path / "log")
    write_changes(
        spark,
        log,
        ChangeLogParams(n_conversations=10, turns_per_conv=2, n_events=400, n_batches=4, files_per_batch=2),
    )
    df = spark.read.parquet(log).where(F.col("ingest_file") == "batch-00001")
    plan = _explain(df)
    # partition pruning happens at the source (ingest_file is a partition
    # column — the predicate appears as a partition filter, not a data one)
    assert "PartitionFilters: [isnotnull(ingest_file" in plan
    assert df.count() > 0


def test_dedup_clusters_final_plan_has_no_shingling_subtree(spark, sf_dir):
    """The CC loop must not re-derive the MinHash-LSH DAG each round:
    edges are persisted and labels localCheckpoint'ed, so the returned
    frame's plan reads materialized round state, not the documents scan."""
    from dibbs_ecr_refiner_spark.queries import text

    result = text.dedup_clusters(spark, sf_dir)
    plan = _explain(result, "extended")
    assert "documents" not in plan
    assert "parquet" not in plan.lower()
    assert "ExistingRDD" in plan or "LogicalRDD" in plan


def test_enrichment_index_join_broadcasts_at_runtime(spark):
    """The narrative-index join must resolve to a broadcast at runtime (AQE
    sizes the tiny index side), so the big refined frame pays no exchange
    for display enrichment."""
    changes = generate_changes(
        spark, ChangeLogParams(n_conversations=50, turns_per_conv=6, n_events=2000, n_batches=1)
    )
    df = prepare_delta(changes, default_plan())
    df.write.format("noop").mode("overwrite").save()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final
    assert "SortMergeJoin" not in final
