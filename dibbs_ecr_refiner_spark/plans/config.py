"""Refinement configuration model and logical-plan build.

Mirrors the reference's plan/execute split (reference:
refiner/app/services/ecr/refine.py:247-322 builds an EICRRefinementPlan;
:406-557 executes it with no further introspection). Here the "plan" is a
small frozen dataclass resolved once on the driver; execution compiles it
into Catalyst expressions (operators/refine.py) — the physical plan is
whatever Catalyst picks.

Config shapes follow FIXTURES.md §3-§5:
- RoleInstruction ≙ DbConfigurationSectionInstructions
  (reference refiner/app/db/configurations/model.py:8-10,48)
- KeepCode ≙ Coding / CodeSystemSets
  (reference refiner/app/services/terminology.py:38-145)
- MatchRule ≙ EntryMatchRule, ordered + tiered, first-match-wins
  (reference refiner/app/services/ecr/model.py:101-281,
   entry_matching.py:289-384)
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

ACTIONS = ("retain", "refine")
NARRATIVES = ("retain", "remove", "reconstruct", "keep_on_match")
TARGETS = ("tool", "text")

CURRENT_CONFIG_SCHEMA_VERSION = 1


class IncompatibleConfigSchema(Exception):
    """≙ the reference's hard incompatible-schema error
    (lambda_function.py:604-627): refuse to run with a config written by a
    newer writer."""


@dataclass(frozen=True)
class RoleInstruction:
    role: str
    include: bool = True
    action: str = "refine"          # retain | refine
    narrative: str = "remove"       # retain | remove | reconstruct | keep_on_match


@dataclass(frozen=True)
class KeepCode:
    system: str                     # e.g. 'tool' | 'token'
    code: str
    display: str | None = None


@dataclass(frozen=True)
class MatchRule:
    role: str
    rule_idx: int
    target: str                     # 'tool' | 'text'
    system: str | None = None       # constrain to one keep-set system; None = any
    fallback_target: str | None = None  # checked only if primary found nothing
    preserve_whole: bool = False
    tier: int = 1
    # attribute guard (≙ the sdtc:valueSet guard, reference
    # entry_matching.py:329-331,362-365 + rationale ecr/model.py:191-210):
    # a candidate only counts when the turn carries this ``extra`` map key —
    # distinguishing trigger-style annotated matches from incidental ones.
    require_attr: str | None = None


@dataclass(frozen=True)
class RefinePlan:
    """Fully-resolved logical refinement plan (≙ EICRRefinementPlan,
    reference ecr/model.py:536-589)."""

    config_version: int
    instructions: dict[str, RoleInstruction]
    keep_codes: tuple[KeepCode, ...]
    rules: tuple[MatchRule, ...]
    schema_version: int = CURRENT_CONFIG_SCHEMA_VERSION

    def codes_for(self, system: str | None) -> set[str]:
        if system is None:
            return {k.code for k in self.keep_codes}
        return {k.code for k in self.keep_codes if k.system == system}

    def rules_for(self, role: str) -> list[MatchRule]:
        return sorted((r for r in self.rules if r.role == role), key=lambda r: r.rule_idx)


def normalize_policy(instr: RoleInstruction) -> RoleInstruction:
    """Coerce invalid (include, action, narrative) combinations to the
    nearest valid policy — ≙ the reference's policy normalizer
    (refiner/app/services/ecr/policy.py:151-226):

    - include=False ⇒ action/narrative are irrelevant; canonicalize to
      ('retain', 'remove') so equality checks are stable.
    - action='retain' with narrative in {'keep_on_match'} is incoherent
      (nothing is matched when retaining wholesale) ⇒ narrative='retain'.
    - unknown action/narrative values ⇒ ValueError (hard fail, like the
      reference's schema gate).
    """
    if instr.action not in ACTIONS:
        raise ValueError(f"invalid action {instr.action!r} for role {instr.role!r}")
    if instr.narrative not in NARRATIVES:
        raise ValueError(f"invalid narrative {instr.narrative!r} for role {instr.role!r}")
    if not instr.include:
        return replace(instr, action="retain", narrative="remove")
    if instr.action == "retain" and instr.narrative == "keep_on_match":
        return replace(instr, narrative="retain")
    return instr


def build_plan(
    instructions: list[RoleInstruction],
    keep_codes: list[KeepCode],
    rules: list[MatchRule],
    config_version: int = 1,
    schema_version: int = CURRENT_CONFIG_SCHEMA_VERSION,
) -> RefinePlan:
    """Resolve a plan once on the driver (constant folding: everything the
    executor needs is pre-computed; reference refine.py:279-283)."""
    if schema_version > CURRENT_CONFIG_SCHEMA_VERSION:
        raise IncompatibleConfigSchema(
            f"config schema_version={schema_version} > supported {CURRENT_CONFIG_SCHEMA_VERSION}"
        )
    for r in rules:
        if r.target not in TARGETS:
            raise ValueError(f"invalid rule target {r.target!r}")
        if r.fallback_target is not None and r.fallback_target not in TARGETS:
            raise ValueError(f"invalid fallback_target {r.fallback_target!r}")
    normalized = {i.role: normalize_policy(i) for i in instructions}
    return RefinePlan(
        config_version=config_version,
        instructions=normalized,
        keep_codes=tuple(keep_codes),
        rules=tuple(sorted(rules, key=lambda r: (r.role, r.rule_idx))),
        schema_version=schema_version,
    )


def default_plan() -> RefinePlan:
    """The fixture plan used by tests and bench — lines up with the
    generator vocabulary in fixtures/changelog.py (KEEP tokens/tools)."""
    instructions = [
        RoleInstruction("system", include=False),
        RoleInstruction("user", include=True, action="retain", narrative="retain"),
        RoleInstruction("assistant", include=True, action="refine", narrative="reconstruct"),
        RoleInstruction("tool", include=True, action="refine", narrative="remove"),
    ]
    keep_codes = [
        KeepCode("tool", "t0", "Tool Zero"),
        KeepCode("tool", "t2", "Tool Two"),
        KeepCode("tool", "t4", "Tool Four"),
        KeepCode("token", "fever", "Fever"),
        KeepCode("token", "alert", "Alert"),
        KeepCode("token", "error", "Error"),
        KeepCode("token", "condition", "Condition"),
        # no config display — resolved through the per-conversation
        # narrative index instead (operators/enrich.py, ≙ the reference's
        # originalText/reference fallback)
        KeepCode("token", "followup", None),
    ]
    rules = [
        MatchRule("tool", 0, target="tool", system="tool", fallback_target="text", tier=1),
        MatchRule("assistant", 0, target="text", system="token", tier=1),
        MatchRule("assistant", 1, target="tool", system=None, tier=2),
    ]
    return build_plan(instructions, keep_codes, rules, config_version=1)
