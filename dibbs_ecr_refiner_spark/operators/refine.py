"""The refinement pass, compiled from a RefinePlan into Catalyst expressions.

This is the engine's re-expression of the reference's refinement executor
(refiner/app/services/ecr/refine.py:406-557): per-section (here: per-role)
4-way branch remove / narrative-only / retain / refine (:487-545), ordered
first-match-wins entry matching (entry_matching.py:289-384), keep-set
membership with per-system scoping and any-system fallback
(terminology.py:116-154), translation-fallback (entry_matching.py:346-379),
display enrichment (section/utils.py:42-133), and narrative dispositions
remove/retain/reconstruct/keep_on_match (narrative/writers.py:69-150).

Where the reference walks an lxml tree per document, we fold the (small,
versioned) configuration into literal Spark expressions once on the driver —
the rule table is *data constant-folded into the plan* — and let
whole-stage codegen evaluate it. No Python executes per row. The tests
check this compiler row for row against an independent pandas-UDF
interpreter of the same plan (tests/udf_refinement_oracle.py).

Output contract (columns added to the input):
- ``_keep``            boolean — False ⇒ turn removed (becomes a tombstone)
- ``text``             possibly rewritten (reconstruction)
- ``_outcome``         removed_wholesale | retained | retained_no_match |
                       refined_kept | reconstructed | removed_no_match |
                       no_config   (≙ SectionOutcome, ecr/model.py:356-472)
- ``_matched_code``, ``_matched_display``, ``_tier`` — provenance
  (≙ SectionProvenanceRecord, ecr/model.py:475-528)
- ``items``            when present (optional array<struct> of sub-items),
                       pruned within matched turns (container-level pruning,
                       ≙ entry_matching.py:466-551) — see ITEM_SCHEMA
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.config import RefinePlan
from .enrich import config_display_expr

OUTCOMES = (
    "removed_wholesale",
    "retained",
    "retained_no_match",
    "refined_kept",
    "reconstructed",
    "removed_no_match",
    "no_config",
)

# Optional sub-item column for container-level pruning (P4). A turn may
# carry components the way a matched entry carries organizer components
# (reference entry_matching.py:466-551): ``code`` is the component's coded
# identity, ``is_context`` marks shared context exempted by the guard xpath
# (the specimen-collection case, :535).
ITEM_SCHEMA = "array<struct<code:string,text:string,is_context:boolean>>"


import re as _re


def _tokens(col: Column) -> Column:
    """Token array — used only in the (conditional) reconstruction branch;
    the hot-path matching uses a single regexp_extract instead (see
    _first_match)."""
    toks = F.split(F.lower(F.coalesce(col, F.lit(""))), "[^a-z0-9]+")
    return F.filter(toks, lambda t: t != "")


def _toks() -> Column:
    return _tokens(F.col("text"))


def _first_match(plan: RefinePlan, target: str, system: str | None) -> Column:
    """First keep-set code found in the rule's target column, else NULL.

    target='tool': the tool name itself is the code (≙ code/@code).
    target='text': first keep-set token in document order (≙ scanning
    code-bearing descendants in document order, entry_matching.py:317-344).
    System scoping ≙ code_system_oid constraint with all-systems fallback
    when unknown (terminology.py:116-154).

    The text match compiles to ONE regexp_extract per rule — a single
    codegen'd scan of the string. The equivalent
    filter(tokens, isin(...)) spelling is a higher-order function whose
    lambda is evaluated interpreted per element: measured ~10× slower on
    the 2M-row bench batch.
    """
    codes = sorted(plan.codes_for(system))
    if not codes:
        return F.lit(None).cast("string")
    if target == "tool":
        return F.when(F.col("tool").isin(codes), F.col("tool"))
    # token boundaries = runs of non-alnum, matching _tokens()
    alts = "|".join(_re.escape(c) for c in codes)
    pattern = f"(?:^|[^a-z0-9])({alts})(?:[^a-z0-9]|$)"
    m = F.regexp_extract(F.lower(F.coalesce(F.col("text"), F.lit(""))), pattern, 1)
    return F.when(m != "", m)


def _rule_match(plan: RefinePlan, rule) -> Column:
    primary = _first_match(plan, rule.target, rule.system)
    if rule.fallback_target:
        # Fallback evaluated only when the primary found no codes
        # (≙ translation fallback, entry_matching.py:346-379).
        primary = F.coalesce(primary, _first_match(plan, rule.fallback_target, rule.system))
    if rule.require_attr:
        # Attribute guard (≙ sdtc:valueSet, entry_matching.py:329-331):
        # the candidate only counts when the turn's ``extra`` map carries
        # the key. try_element_at: missing keys are NULL, not an ANSI error.
        primary = F.when(
            F.try_element_at(F.col("extra"), F.lit(rule.require_attr)).isNotNull(),
            primary,
        )
    return primary


def _reconstructed_text(plan: RefinePlan) -> Column:
    """Deterministic narrative reconstruction at turn granularity: a summary
    line derived only from the surviving row (≙ rebuilding section <text>
    from surviving entries, narrative/reconstruction.py:1341-1400; the
    conversation-level grouped rollup lives in operators/reconstruct.py)."""
    n = F.size(_toks())
    return F.format_string(
        "[reconstructed cfg-v%d] role=%s tokens=%d head=%s",
        F.lit(plan.config_version),
        F.col("role"),
        n,
        # try_element_at: empty text → empty token array, and plain
        # element_at throws under ANSI semantics (found by hypothesis)
        F.coalesce(F.try_element_at(_toks(), F.lit(1)), F.lit("")),
    )


def compile_refinement(plan: RefinePlan, guarded: bool = False):
    """Return fn(DataFrame) -> DataFrame implementing the plan.

    Expects transcript-shaped input (role, text, tool present). Pure
    projection + filter expressions: no shuffle, no UDF, fully
    whole-stage-codegen'd; Catalyst pushes the cheap include=False
    role filter below anything expensive (≙ skip-rule partition-pruning
    analog, ecr/policy.py:24-82).

    guarded=True: the input already carries ``_outcome``/``_deleted``/
    provenance columns and only rows with ``_outcome IS NULL`` (fresh
    change-log winners) are refined; already-refined rows (carried over
    from the target during a MERGE) pass through untouched. This is what
    lets the engine run ONE LWW shuffle per batch over (delta ∪ target)
    and refine afterward — re-refining refined text would not be
    idempotent (e.g. reconstruction of a reconstruction).
    """
    # Per-role matched code + tier + preserve flag (ordered rules, first
    # match claims — a nested CASE WHEN is exactly "break on first
    # candidate-bearing rule"). preserve_whole rides along with the winning
    # rule (≙ EntryMatchRule preserve semantics: a rule may exempt its
    # matched entry's sub-items from container pruning).
    matched_code: Column = F.lit(None).cast("string")
    matched_tier: Column = F.lit(None).cast("int")
    matched_preserve: Column = F.lit(False)
    for role, instr in sorted(plan.instructions.items()):
        if not instr.include or instr.action != "refine":
            continue
        role_code: Column = F.lit(None).cast("string")
        role_tier: Column = F.lit(None).cast("int")
        role_preserve: Column = F.lit(False)
        for rule in reversed(plan.rules_for(role)):
            m = _rule_match(plan, rule)
            role_code = F.when(m.isNotNull(), m).otherwise(role_code)
            role_tier = F.when(m.isNotNull(), F.lit(rule.tier)).otherwise(role_tier)
            role_preserve = F.when(m.isNotNull(), F.lit(rule.preserve_whole)).otherwise(role_preserve)
        matched_code = F.when(F.col("role") == role, role_code).otherwise(matched_code)
        matched_tier = F.when(F.col("role") == role, role_tier).otherwise(matched_tier)
        matched_preserve = F.when(F.col("role") == role, role_preserve).otherwise(matched_preserve)

    def _pruned_items() -> Column:
        """Container-level pruning within a MATCHED turn (P4, ≙
        entry_matching.py:466-551): drop sub-items that neither match the
        keep set nor carry the context guard. Invariants mirrored from the
        reference: the matched turn itself is never deleted by item pruning
        (:543-551 — we only rewrite ``items``, never ``_keep``), the guard
        exempts shared context (:535), and a winning rule with
        preserve_whole keeps the container intact. The array filter's
        lambda is interpreted per element, but items arrays are small
        (components of one turn) and only matched turns pay it — this is
        not the hot text-match path."""
        codes = sorted(plan.codes_for(None))
        if codes:
            keep_item = lambda x: x["is_context"] | x["code"].isin(codes)  # noqa: E731
        else:
            keep_item = lambda x: x["is_context"]  # noqa: E731
        hit = F.col("_matched_code").isNotNull()
        return F.when(
            hit & ~matched_preserve, F.filter(F.col("items"), keep_item)
        ).otherwise(F.col("items"))

    matched_display = config_display_expr(plan)

    # Per-turn provenance comment (≙ the per-entry provenance comments the
    # reference renders into the document, section/utils.py:225-324): a
    # human-facing string, not just provenance columns. The conversation-
    # level footnote lives in operators/reconstruct.py.
    provenance = F.when(
        F.col("_matched_code").isNotNull(),
        F.format_string(
            "refined: matched %s tier %s by cfg-v%d",
            F.col("_matched_code"),
            F.coalesce(F.col("_tier").cast("string"), F.lit("?")),
            F.lit(plan.config_version),
        ),
    )

    def _branches():
        """(keep, outcome, text) via the 4-way per-role branch."""
        keep: Column = F.lit(True)
        outcome: Column = F.lit("no_config")
        text: Column = F.col("text")
        for role, instr in sorted(plan.instructions.items()):
            is_role = F.col("role") == role
            if not instr.include:
                keep = F.when(is_role, F.lit(False)).otherwise(keep)
                outcome = F.when(is_role, F.lit("removed_wholesale")).otherwise(outcome)
                continue
            if instr.action == "retain":
                outcome = F.when(is_role, F.lit("retained")).otherwise(outcome)
                continue
            # action == 'refine'
            hit = F.col("_matched_code").isNotNull()
            if instr.narrative == "retain":
                role_keep = F.lit(True)
                role_out = F.when(hit, F.lit("refined_kept")).otherwise(F.lit("retained_no_match"))
                role_text = F.col("text")
            elif instr.narrative in ("remove", "keep_on_match"):
                role_keep = hit
                role_out = F.when(hit, F.lit("refined_kept")).otherwise(F.lit("removed_no_match"))
                role_text = F.col("text")
            else:  # reconstruct
                role_keep = F.lit(True)
                role_out = F.when(hit, F.lit("refined_kept")).otherwise(F.lit("reconstructed"))
                role_text = F.when(hit, F.col("text")).otherwise(_reconstructed_text(plan))
            keep = F.when(is_role, role_keep).otherwise(keep)
            outcome = F.when(is_role, role_out).otherwise(outcome)
            text = F.when(is_role, role_text).otherwise(text)
        return keep, outcome, text

    # All Column trees are DataFrame-independent (unresolved expressions),
    # so they are built ONCE at compile time and reused across every apply
    # — per-batch reconstruction of these trees was ~0.2 s of py4j driver
    # chatter per replay batch (profiled in OPTIMIZATION_r06.md).
    keep_c, outcome_c, text_c = _branches()
    if guarded:
        # refine only fresh (unrefined) rows; CASE branches are evaluated
        # lazily, so refined rows pay ~nothing. Every guard reads the
        # input ``_outcome``: a Project evaluates all of its columns from
        # the same input row.
        unref = F.col("_outcome").isNull()

        def fresh(c: Column, name: str) -> Column:
            return F.when(unref, c).otherwise(F.col(name))

        match_cols = {
            "_matched_code": fresh(matched_code, "_matched_code"),
            "_tier": fresh(matched_tier, "_tier"),
        }
        out_cols = {
            "_deleted": fresh(F.col("_deleted") | ~keep_c, "_deleted"),
            "text": fresh(text_c, "text"),
            "_matched_display": fresh(matched_display, "_matched_display"),
            "_provenance": fresh(provenance, "_provenance"),
            "_outcome": fresh(outcome_c, "_outcome"),
        }
        items_c = fresh(_pruned_items(), "items")
    else:
        match_cols = {"_matched_code": matched_code, "_tier": matched_tier}
        out_cols = {
            "_keep": keep_c,
            "_outcome": outcome_c,
            "text": text_c,
            "_matched_display": matched_display,
            "_provenance": provenance,
        }
        items_c = _pruned_items()

    def apply(df: DataFrame) -> DataFrame:
        # Two Projects: the match columns once, then everything that reads
        # them. Requires CollapseProject to stay excluded (session.py) or
        # the match expression is re-inlined per reference. Not one
        # Project per column: the physical planner re-walks the Project
        # chain above each node, a fixed cost on every small batch.
        cols = {**out_cols, "items": items_c} if "items" in df.columns else out_cols
        return df.withColumns(match_cols).withColumns(cols)

    return apply
