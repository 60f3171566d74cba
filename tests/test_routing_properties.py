"""Hypothesis property tests for the CDC core (LWW equivalences, policy
idempotence, generator determinism, incremental replay == oracle)."""

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dibbs_ecr_refiner_spark.engine import batch_oracle, final_state_matches
from dibbs_ecr_refiner_spark.fixtures.changelog import ChangeLogParams, generate_changes
from dibbs_ecr_refiner_spark.operators import cdc
from dibbs_ecr_refiner_spark.plans.config import (
    ACTIONS,
    NARRATIVES,
    RoleInstruction,
    default_plan,
    normalize_policy,
)

# ------------------------------------------------- hypothesis properties

event_st = st.tuples(
    st.sampled_from(["c1", "c2", "c3"]),           # conv_id
    st.integers(0, 3),                              # turn_idx
    st.sampled_from(["insert", "update", "delete"]),
    st.integers(0, 86_400),                         # ts offset seconds
    st.integers(0, 10_000),                         # change_lsn
    st.text(alphabet="abc ", max_size=8),           # text
)


def _df(spark, events):
    base = dt.datetime(2026, 1, 1)
    rows = [
        (c, t, op, "user", txt, None, base + dt.timedelta(seconds=s), lsn)
        for (c, t, op, s, lsn, txt) in events
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, op string, role string, text string, "
        "tool string, ts timestamp, change_lsn long",
    )


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(event_st, min_size=1, max_size=25))
def test_lww_spellings_agree(spark, events):
    """agg max_by == window row_number, for arbitrary event sets (incl.
    ties on (ts, lsn) — resolved to SOME row with the winning order key;
    we compare winning order keys, which are unique given distinct
    payloads share the key only on true duplicates)."""
    df = _df(spark, events)
    key = lambda rows: {  # noqa: E731
        (r["conv_id"], r["turn_idx"]): (r["ts"], r["change_lsn"]) for r in rows
    }
    a = key(cdc.lww_resolve(df).collect())
    b = key(cdc.lww_resolve_window(df).collect())
    assert a == b


@settings(max_examples=50, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.booleans(),
    st.sampled_from(ACTIONS),
    st.sampled_from(NARRATIVES),
)
def test_policy_normalizer_is_idempotent_and_total(include, action, narrative):
    n1 = normalize_policy(RoleInstruction("r", include, action, narrative))
    n2 = normalize_policy(n1)
    assert n1 == n2
    assert n1.action in ACTIONS and n1.narrative in NARRATIVES
    if not include:
        assert (n1.action, n1.narrative) == ("retain", "remove")


def test_generator_is_deterministic(spark):
    p = ChangeLogParams(n_conversations=10, turns_per_conv=4, n_events=500, n_batches=2)
    a = sorted(map(repr, generate_changes(spark, p).collect()))
    b = sorted(map(repr, generate_changes(spark, p).collect()))
    assert a == b


@pytest.mark.parametrize("pct_dup", [0.0, 0.3])
def test_oracle_invariant_under_duplicate_rate(spark, pct_dup):
    """The final oracle state must be independent of the duplicate-delivery
    rate (duplicates are pure redeliveries)."""
    base = ChangeLogParams(
        n_conversations=12, turns_per_conv=4, n_events=400, n_batches=2, pct_duplicates=0.0
    )
    dup = ChangeLogParams(
        n_conversations=12, turns_per_conv=4, n_events=400, n_batches=2, pct_duplicates=pct_dup
    )
    a = batch_oracle(generate_changes(spark, base), default_plan())
    b = batch_oracle(generate_changes(spark, dup), default_plan())
    assert final_state_matches(a, b)


# randomized end-to-end: arbitrary tiny changelogs, incremental replay
# must equal the single-shot oracle

changelog_st = st.lists(
    st.tuples(
        st.sampled_from(["c1", "c2"]),
        st.integers(0, 2),
        st.sampled_from(["insert", "update", "delete", "refine"]),
        st.integers(0, 3600),
        st.integers(0, 500),
        st.sampled_from(["user", "assistant", "tool", "system"]),
        st.sampled_from(["hello there", "patient has fever", "alert raised", ""]),
        st.sampled_from([None, "t0", "t9"]),
        st.integers(0, 1),  # batch assignment
    ),
    min_size=1,
    max_size=20,
)


def _changes_df(spark, events):
    base = dt.datetime(2026, 1, 1)
    rows = [
        (
            c, t, op,
            None if op == "delete" else role,
            None if op == "delete" else txt,
            None if op == "delete" else tool,
            base + dt.timedelta(seconds=s), lsn, f"batch-{b}",
        )
        for (c, t, op, s, lsn, role, txt, tool, b) in events
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, op string, role string, text string, "
        "tool string, ts timestamp, change_lsn long, ingest_file string",
    )


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(changelog_st)
def test_random_replay_matches_oracle(spark, tmp_path_factory, events):
    from dibbs_ecr_refiner_spark.engine import ReplayEngine
    from dibbs_ecr_refiner_spark.lake.table import LakeTable

    changes = _changes_df(spark, events)
    root = tmp_path_factory.mktemp("hyp-lake")
    table = LakeTable(spark, str(root / "t"), num_buckets=2)
    ReplayEngine(spark, table, default_plan()).replay(changes)
    assert final_state_matches(table.read(), batch_oracle(changes, default_plan()))


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    changelog_st,
    st.lists(st.sampled_from(["merge_cow", "merge_mor", "consume", "consume_crash"]),
             min_size=2, max_size=6),
)
def test_feed_consumer_reconstructs_source(spark, tmp_path_factory, events, ops):
    """Consumer contract property: a downstream that LWW-applies every
    polled span — with arbitrary interleavings of COW/MOR commits, polls,
    and crashes between poll and commit (re-delivery) — ends up exactly
    equal to the source's live state. At-least-once + idempotent apply ⇒
    exactly-once effect, for random inputs."""

    from dibbs_ecr_refiner_spark.lake.feed import ChangeFeedReader
    from dibbs_ecr_refiner_spark.lake.table import LakeTable

    # drop colliding (conv, turn, ts, lsn) draws: the engine breaks such
    # ties lexicographically on payload, which the plain-dict downstream
    # deliberately does not reimplement (re-delivery of IDENTICAL rows is
    # still exercised via consume_crash)
    events = list({(e[0], e[1], e[3], e[4]): e for e in events}.values())
    changes = _changes_df(spark, events)
    rows = changes.collect()
    # split events round-robin into as many deltas as merge ops
    merge_ops = [o for o in ops if o.startswith("merge")]
    chunks = [rows[i :: len(merge_ops)] for i in range(len(merge_ops))]

    root = tmp_path_factory.mktemp("hyp-feed")
    table = LakeTable(spark, str(root / "t"), num_buckets=2)
    feed = ChangeFeedReader(table, str(root / "cursor.json"))
    downstream: dict = {}

    def apply_feed(df):
        for r in df.collect():
            k = (r["conv_id"], r["turn_idx"])
            o = (r["ts"], r["change_lsn"])
            if k not in downstream or o >= downstream[k][0]:
                downstream[k] = (o, r["_deleted"], r["text"])

    mi = 0
    from dibbs_ecr_refiner_spark.engine import ReplayEngine
    from dibbs_ecr_refiner_spark.plans.config import default_plan

    eng = ReplayEngine(spark, table, default_plan())
    for op in ops:
        if op.startswith("merge"):
            chunk = chunks[mi]
            mi += 1
            if not chunk:
                continue
            batch = spark.createDataFrame(chunk, changes.schema)
            eng.apply_batch(batch, f"b{mi}", mode="mor" if op == "merge_mor" else "cow")
        elif table.current_snapshot() is not None:
            df = feed.poll()
            apply_feed(df)
            if op == "consume":
                feed.commit()
            # consume_crash: applied but never acked — next poll re-delivers
    if table.current_snapshot() is not None:
        apply_feed(feed.poll())
        feed.commit()
        got = {
            (k, v[2]) for k, v in downstream.items() if not v[1]
        }
        want = {
            ((r["conv_id"], r["turn_idx"]), r["text"])
            for r in table.read().select("conv_id", "turn_idx", "text").collect()
        }
        assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(changelog_st, st.tuples(st.booleans(), st.booleans()))
def test_random_replay_random_modes_matches_oracle(spark, tmp_path_factory, events, modes):
    """Same property, but hypothesis also chooses each batch's commit mode
    (COW vs merge-on-read) — the final resolved state must be invariant to
    HOW each batch was committed, for arbitrary tiny changelogs with
    arbitrary duplicate/out-of-order/delete interleavings."""
    from pyspark.sql import functions as F

    from dibbs_ecr_refiner_spark.engine import ReplayEngine
    from dibbs_ecr_refiner_spark.lake.table import LakeTable

    changes = _changes_df(spark, events)
    root = tmp_path_factory.mktemp("hyp-mor-lake")
    table = LakeTable(spark, str(root / "t"), num_buckets=2)
    eng = ReplayEngine(spark, table, default_plan())
    batch_ids = sorted(r[0] for r in changes.select("ingest_file").distinct().collect())
    for i, b in enumerate(batch_ids):
        mode = "mor" if modes[i % len(modes)] else "cow"
        eng.apply_batch(changes.where(F.col("ingest_file") == b), b, mode=mode)
    assert final_state_matches(table.read(), batch_oracle(changes, default_plan()))
