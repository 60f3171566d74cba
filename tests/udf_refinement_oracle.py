"""Differential oracle for the refinement pass: a pandas-UDF interpreter
of the same RefinePlan that ``operators.refine.compile_refinement`` compiles
into Catalyst expressions.

The two implementations share no code: this one evaluates the plan with
pandas string ops over Arrow batches (``mapInPandas``), the engine folds it
into literal Spark expressions. ``test_compiled_and_udf_refinement_agree``
and ``test_attribute_guard_udf_parity`` assert that they agree row for row
on generated data — the same two-implementations oracle pattern the replay
gate uses (``engine.batch_oracle``).

This module lives under ``tests/``, which Python workers cannot import, so
it registers itself to be pickled by value: ``mapInPandas`` ships its
functions to the workers with the closure."""

from __future__ import annotations

import re
import sys

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame

from dibbs_ecr_refiner_spark.plans.config import RefinePlan

cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _match_series(plan: RefinePlan, pdf: pd.DataFrame, target: str, system: str | None) -> pd.Series:
    codes = sorted(plan.codes_for(system))
    if not codes:
        return pd.Series([None] * len(pdf), index=pdf.index, dtype=object)
    if target == "tool":
        tool = pdf["tool"]
        return tool.where(tool.isin(codes), None)
    alts = "|".join(re.escape(c) for c in codes)
    pat = f"(?:^|[^a-z0-9])({alts})(?:[^a-z0-9]|$)"
    return pdf["text"].fillna("").str.lower().str.extract(pat, expand=False)


def refine_batch(plan: RefinePlan, pdf: pd.DataFrame) -> pd.DataFrame:
    """Vectorized interpretation of the plan over one Arrow batch."""
    n = len(pdf)
    out = pdf.copy()
    matched = pd.Series([None] * n, index=pdf.index, dtype=object)
    tier = pd.Series([None] * n, index=pdf.index, dtype=object)

    display_by_code: dict[str, str] = {}
    for k in sorted(plan.keep_codes, key=lambda k: (k.system, k.code)):
        if k.display is not None:
            display_by_code.setdefault(k.code, k.display)

    for role, instr in sorted(plan.instructions.items()):
        role_mask = (pdf["role"] == role) if "role" in pdf else pd.Series(False, index=pdf.index)
        if not instr.include or instr.action != "refine" or not role_mask.any():
            continue
        for rule in plan.rules_for(role):
            m = _match_series(plan, pdf, rule.target, rule.system)
            if rule.fallback_target:
                fb = _match_series(plan, pdf, rule.fallback_target, rule.system)
                m = m.where(m.notna(), fb)
            if rule.require_attr:
                attr = rule.require_attr
                has_attr = pdf["extra"].map(
                    lambda mp: bool(mp) and attr in mp and mp[attr] is not None
                )
                m = m.where(has_attr, None)
            claim = role_mask & matched.isna() & m.notna()
            matched = matched.where(~claim, m)
            tier = tier.where(~claim, rule.tier)

    toks = pdf["text"].fillna("").str.lower().str.findall(r"[a-z0-9]+")
    recon = (
        "[reconstructed cfg-v" + str(plan.config_version) + "] role="
        + pdf["role"].astype(str) + " tokens=" + toks.str.len().astype(str)
        + " head=" + toks.map(lambda t: t[0] if t else "")
    )

    keep = pd.Series(True, index=pdf.index)
    outcome = pd.Series("no_config", index=pdf.index, dtype=object)
    text = pdf["text"].copy()
    hit = matched.notna()
    for role, instr in sorted(plan.instructions.items()):
        mask = pdf["role"] == role
        if not instr.include:
            keep = keep.where(~mask, False)
            outcome = outcome.where(~mask, "removed_wholesale")
        elif instr.action == "retain":
            outcome = outcome.where(~mask, "retained")
        else:
            if instr.narrative == "retain":
                outcome = outcome.where(~mask, pd.Series(None, index=pdf.index).where(
                    ~hit, "refined_kept").fillna("retained_no_match"))
            elif instr.narrative in ("remove", "keep_on_match"):
                keep = keep.where(~mask, hit)
                outcome = outcome.where(
                    ~mask, hit.map({True: "refined_kept", False: "removed_no_match"})
                )
            else:  # reconstruct
                outcome = outcome.where(
                    ~mask, hit.map({True: "refined_kept", False: "reconstructed"})
                )
                text = text.where(~(mask & ~hit), recon)

    out["_matched_code"] = matched
    out["_tier"] = tier.astype("Int32")
    out["_keep"] = keep
    out["_outcome"] = outcome
    out["text"] = text
    out["_matched_display"] = matched.map(display_by_code)
    out["_provenance"] = (
        "refined: matched " + matched.astype(str)
        + " tier " + tier.astype(str)
        + f" by cfg-v{plan.config_version}"
    ).where(hit, None)
    return out


def apply_refinement_udf(df: DataFrame, plan: RefinePlan) -> DataFrame:
    """mapInPandas driver: same output contract as compile_refinement."""
    schema_parts = [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
    schema = ", ".join(
        schema_parts
        + ["_matched_code string", "_tier int", "_keep boolean", "_outcome string",
           "_matched_display string", "_provenance string"]
    )

    ordered = [f.name for f in df.schema.fields] + [
        "_matched_code", "_tier", "_keep", "_outcome", "_matched_display",
        "_provenance",
    ]

    def run(batches):
        for pdf in batches:
            yield refine_batch(plan, pdf).reindex(columns=ordered)

    return df.mapInPandas(run, schema)
