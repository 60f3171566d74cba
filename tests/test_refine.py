"""Refinement-pass unit tests — transcript analogs of the reference's
entry-matching/policy suites (refiner/tests/unit/test_service_section_
entry_matching.py, test_service_policy.py): minimal inline rows, literal
keep-sets, assert surviving turns + outcomes."""

import datetime as dt

import pytest

from dibbs_ecr_refiner_spark.operators.refine import compile_refinement
from dibbs_ecr_refiner_spark.plans.config import (
    IncompatibleConfigSchema,
    KeepCode,
    MatchRule,
    RoleInstruction,
    build_plan,
    normalize_policy,
)

TS = dt.datetime(2026, 1, 1)


def _turns(spark, rows):
    return spark.createDataFrame(
        [(c, i, r, x, t, TS, 1) for (c, i, r, x, t) in rows],
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp, change_lsn long",
    )


def _plan(**kw):
    defaults = dict(
        instructions=[
            RoleInstruction("system", include=False),
            RoleInstruction("user", action="retain", narrative="retain"),
            RoleInstruction("assistant", action="refine", narrative="remove"),
            RoleInstruction("tool", action="refine", narrative="remove"),
        ],
        keep_codes=[
            KeepCode("token", "fever", "Fever"),
            KeepCode("tool", "t1", "Tool One"),
        ],
        rules=[
            MatchRule("assistant", 0, target="text", system="token", tier=1),
            MatchRule("tool", 0, target="tool", system="tool", fallback_target="text", tier=1),
        ],
    )
    defaults.update(kw)
    return build_plan(**defaults)


def _run(spark, plan, rows):
    out = compile_refinement(plan)(_turns(spark, rows))
    return {(r["conv_id"], r["turn_idx"]): r.asDict() for r in out.collect()}


def test_four_way_branch(spark):
    res = _run(
        spark,
        _plan(),
        [
            ("c", 0, "system", "internal prompt", None),   # include=False
            ("c", 1, "user", "hello there", None),          # retain
            ("c", 2, "assistant", "patient has fever", None),  # refine, match
            ("c", 3, "assistant", "nothing relevant", None),   # refine, no match
        ],
    )
    assert res[("c", 0)]["_outcome"] == "removed_wholesale" and not res[("c", 0)]["_keep"]
    assert res[("c", 1)]["_outcome"] == "retained" and res[("c", 1)]["_keep"]
    assert res[("c", 2)]["_outcome"] == "refined_kept" and res[("c", 2)]["_matched_code"] == "fever"
    assert res[("c", 2)]["_matched_display"] == "Fever"
    assert res[("c", 3)]["_outcome"] == "removed_no_match" and not res[("c", 3)]["_keep"]


def test_unknown_role_passes_through(spark):
    res = _run(spark, _plan(), [("c", 0, "critic", "anything", None)])
    assert res[("c", 0)]["_outcome"] == "no_config" and res[("c", 0)]["_keep"]


def test_rule_precedence_first_match_claims(spark):
    # Two rules for assistant: rule0 matches 'alert' tokens, rule1 matches any
    # tool in keep set. A row satisfying both must be claimed by rule0 (tier 1)
    # — ≙ entry_matching.py:381-382 break-on-first-candidate.
    plan = _plan(
        keep_codes=[KeepCode("token", "alert", None), KeepCode("tool", "t1", None)],
        rules=[
            MatchRule("assistant", 0, target="text", system="token", tier=1),
            MatchRule("assistant", 1, target="tool", system="tool", tier=2),
        ],
    )
    res = _run(spark, plan, [("c", 0, "assistant", "red alert", "t1")])
    assert res[("c", 0)]["_matched_code"] == "alert" and res[("c", 0)]["_tier"] == 1
    res = _run(spark, plan, [("c", 1, "assistant", "nothing", "t1")])
    assert res[("c", 1)]["_matched_code"] == "t1" and res[("c", 1)]["_tier"] == 2


def test_fallback_target_only_when_primary_empty(spark):
    # tool rule: primary target=tool, fallback=text (≙ translation fallback,
    # entry_matching.py:346-379).
    plan = _plan(keep_codes=[KeepCode("tool", "t1", None), KeepCode("tool", "fever", None)])
    # primary hits
    res = _run(spark, plan, [("c", 0, "tool", "fever mentioned", "t1")])
    assert res[("c", 0)]["_matched_code"] == "t1"
    # primary misses (t9 not in keep set) → fallback scans text tokens
    res = _run(spark, plan, [("c", 1, "tool", "fever mentioned", "t9")])
    assert res[("c", 1)]["_matched_code"] == "fever"
    # both miss → removed
    res = _run(spark, plan, [("c", 2, "tool", "nothing", "t9")])
    assert not res[("c", 2)]["_keep"]


def test_narrative_reconstruct_rewrites_text(spark):
    plan = _plan(
        instructions=[RoleInstruction("assistant", action="refine", narrative="reconstruct")],
    )
    res = _run(spark, plan, [("c", 0, "assistant", "nothing pertinent here", None)])
    row = res[("c", 0)]
    assert row["_keep"] and row["_outcome"] == "reconstructed"
    assert row["text"].startswith("[reconstructed cfg-v1] role=assistant tokens=3")


def test_narrative_retain_keeps_unmatched(spark):
    plan = _plan(
        instructions=[RoleInstruction("assistant", action="refine", narrative="retain")],
    )
    res = _run(spark, plan, [("c", 0, "assistant", "nothing", None)])
    assert res[("c", 0)]["_keep"] and res[("c", 0)]["_outcome"] == "retained_no_match"


def test_token_match_is_word_boundary(spark):
    # 'feverish' must NOT match keep token 'fever' (tokenized, not substring).
    res = _run(spark, _plan(), [("c", 0, "assistant", "patient feverish", None)])
    assert res[("c", 0)]["_matched_code"] is None


def test_policy_normalizer():
    # include=False canonicalizes (≙ ecr/policy.py:151-226)
    n = normalize_policy(RoleInstruction("x", include=False, action="refine", narrative="reconstruct"))
    assert (n.action, n.narrative) == ("retain", "remove")
    # retain + keep_on_match is incoherent → retain
    n = normalize_policy(RoleInstruction("x", action="retain", narrative="keep_on_match"))
    assert n.narrative == "retain"
    with pytest.raises(ValueError):
        normalize_policy(RoleInstruction("x", action="explode"))


def test_config_schema_gate():
    with pytest.raises(IncompatibleConfigSchema):
        _plan(schema_version=99)


def test_plan_rejects_bad_rule_target():
    with pytest.raises(ValueError):
        _plan(rules=[MatchRule("assistant", 0, target="xpath")])


# ---------------- container-level pruning (P4) ----------------


def _turns_with_items(spark, rows):
    """rows: (conv, idx, role, text, tool, items) where items is a list of
    (code, text, is_context) tuples or None."""
    return spark.createDataFrame(
        [(c, i, r, x, t, TS, 1, items) for (c, i, r, x, t, items) in rows],
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp, change_lsn long, "
        "items array<struct<code:string,text:string,is_context:boolean>>",
    )


def _items_of(df):
    return {
        (r["conv_id"], r["turn_idx"]): (
            None if r["items"] is None else [it["code"] for it in r["items"]]
        )
        for r in df.collect()
    }


def test_matched_turn_items_pruned_guard_exempts_context(spark):
    """Within a MATCHED turn, sub-items lacking a keep code are dropped —
    except context-guarded ones (≙ entry_matching.py:466-551, guard :535)."""
    df = _turns_with_items(
        spark,
        [
            ("c", 0, "assistant", "has fever today", None,
             [("fever", "a", False), ("junk", "b", False), ("junk", "c", True)]),
        ],
    )
    out = compile_refinement(_plan())(df)
    assert _items_of(out) == {("c", 0): ["fever", "junk"]}  # junk kept via guard


def test_unmatched_turn_items_untouched(spark):
    """Container pruning applies only inside matched turns: an unmatched
    (removed or retained) turn's items pass through unchanged."""
    df = _turns_with_items(
        spark,
        [
            ("c", 0, "user", "retained narrative", None, [("junk", "a", False)]),
            ("c", 1, "assistant", "no match here", None, [("junk", "b", False)]),
        ],
    )
    out = compile_refinement(_plan())(df)
    assert _items_of(out) == {("c", 0): ["junk"], ("c", 1): ["junk"]}


def test_matched_turn_never_deleted_by_item_pruning(spark):
    """The empty-entry invariant (≙ :543-551): pruning may empty a matched
    turn's items, but the turn itself survives (_keep stays true)."""
    df = _turns_with_items(
        spark,
        [("c", 0, "assistant", "fever", None, [("junk", "a", False)])],
    )
    out = compile_refinement(_plan())(df)
    row = out.collect()[0]
    assert row["_keep"] is True and row["_matched_code"] == "fever"
    assert [it["code"] for it in row["items"]] == []


def test_preserve_whole_rule_keeps_container_intact(spark):
    """A winning rule with preserve_whole exempts the matched turn from
    container pruning (MatchRule.preserve_whole wired end-to-end)."""
    plan = _plan(
        rules=[
            MatchRule("assistant", 0, target="text", system="token",
                      preserve_whole=True, tier=1),
            MatchRule("tool", 0, target="tool", system="tool", tier=1),
        ]
    )
    df = _turns_with_items(
        spark,
        [("c", 0, "assistant", "fever", None,
          [("junk", "a", False), ("junk", "b", False)])],
    )
    out = compile_refinement(plan)(df)
    assert _items_of(out) == {("c", 0): ["junk", "junk"]}


# ---------------- attribute guard (P6, ≙ sdtc:valueSet) ----------------


def _turns_with_extra(spark, rows):
    """rows: (conv, idx, role, text, extra_dict_or_None)"""
    return spark.createDataFrame(
        [(c, i, r, x, None, TS, 1, e) for (c, i, r, x, e) in rows],
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp, change_lsn long, extra map<string,string>",
    )


def test_attribute_guard_gates_candidates(spark):
    """A rule with require_attr only claims turns carrying the attribute
    (≙ candidate counts only if sdtc:valueSet present,
    entry_matching.py:329-331); an identical unguarded later rule may still
    claim at its own (lower-precedence) tier."""
    plan = _plan(
        rules=[
            MatchRule("assistant", 0, target="text", system="token",
                      require_attr="vs", tier=1),
            MatchRule("assistant", 1, target="text", system="token", tier=2),
        ]
    )
    df = _turns_with_extra(
        spark,
        [
            ("c", 0, "assistant", "fever with attr", {"vs": "2.16"}),
            ("c", 1, "assistant", "fever without attr", {"other": "x"}),
            ("c", 2, "assistant", "fever null map", None),
        ],
    )
    out = {r["turn_idx"]: (r["_matched_code"], r["_tier"]) for r in
           compile_refinement(plan)(df).collect()}
    assert out[0] == ("fever", 1)   # guard satisfied → tier-1 rule claims
    assert out[1] == ("fever", 2)   # guard fails → falls to unguarded tier-2
    assert out[2] == ("fever", 2)


def test_attribute_guard_udf_parity(spark):
    """The pandas-UDF interpreter applies the same guard."""
    from udf_refinement_oracle import apply_refinement_udf

    plan = _plan(
        rules=[
            MatchRule("assistant", 0, target="text", system="token",
                      require_attr="vs", tier=1),
        ]
    )
    df = _turns_with_extra(
        spark,
        [
            ("c", 0, "assistant", "fever yes", {"vs": "1"}),
            ("c", 1, "assistant", "fever no", None),
        ],
    )
    compiled = {r["turn_idx"]: r["_matched_code"] for r in
                compile_refinement(plan)(df).collect()}
    udf = {r["turn_idx"]: r["_matched_code"] for r in
           apply_refinement_udf(df, plan).collect()}
    assert compiled == udf == {0: "fever", 1: None}


def test_store_roundtrips_require_attr(spark, tmp_path):
    from dibbs_ecr_refiner_spark.sources import ConfigStore, write_config_tables

    plan = _plan(
        rules=[MatchRule("assistant", 0, target="text", system="token",
                         require_attr="vs", tier=1)]
    )
    root = str(tmp_path / "cfg")
    write_config_tables(spark, root, plan)
    loaded = ConfigStore(spark, root).load_plan()
    assert loaded.rules[0].require_attr == "vs"
