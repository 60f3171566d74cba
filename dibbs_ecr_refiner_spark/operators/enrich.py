"""Display enrichment with two fallback sources (SURVEY §2.3 J4).

The reference fills a matched element's missing ``displayName`` from, in
order, (1) the configuration's codings by (code, codeSystem)
(refiner/app/services/ecr/section/utils.py:42-133) and (2) a per-section
narrative-ID index resolved through ``originalText/reference`` fragment
refs (utils.py:151-181 builds the index, :184-217 resolves) — the narrative
text a clinician wrote IS the display when the config has none.

Engine mapping: the "narrative" of a conversation is its narrative-bearing
turns (roles whose instruction retains the text wholesale — the
human-readable part of the transcript, ≙ the section ``<text>``). The index
maps (conv_id, code) → a normalized snippet of the EARLIEST narrative turn
mentioning that code; refined rows with a matched code but no config
display resolve through it, per conversation, exactly like a fragment ref.

Scale shape: the index is a filter (narrative roles only) → explode of the
per-turn matched-code set → one hash agg on (conv_id, code); the fill is a
left join keyed on (conv_id, code). Both are conv_id-clustered, so at a
real table layout (bucketed by conv_id) AQE keeps the exchange local; the
index side is tiny (≤ |keep codes| rows per conversation).

A merge-on-read batch fills only the config display (its batch cannot see
narrative turns outside itself). Both sources are recomputed over whole
conversations at fold time and in ``ReplayEngine.read_refined`` (and on a
copy-on-write merge, over the touched buckets — a conversation lives wholly
in its bucket), so a narrative turn arriving in a later batch back-fills
earlier rows' displays — converging to the batch oracle's global view. The
recompute is idempotent: display is a pure function of (config, live
conversation content).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.config import RefinePlan

SNIPPET_LEN = 64


def narrative_roles(plan: RefinePlan) -> list[str]:
    """Roles whose text is retained wholesale — the transcript's narrative
    (≙ the section <text> the reference indexes, utils.py:151-181)."""
    return sorted(
        r
        for r, i in plan.instructions.items()
        if i.include and (i.action == "retain" or i.narrative == "retain")
    )


def config_display_expr(plan: RefinePlan, code_col: str = "_matched_code") -> Column:
    """Source 1: the config codings map (≙ utils.py:42-133). Constant-folded
    into the plan like the rest of the refinement pass."""
    display_by_code: dict[str, str] = {}
    for k in sorted(plan.keep_codes, key=lambda k: (k.system, k.code)):
        if k.display is not None:
            display_by_code.setdefault(k.code, k.display)
    if not display_by_code:
        return F.lit(None).cast("string")
    pairs = [x for c, d in sorted(display_by_code.items()) for x in (F.lit(c), F.lit(d))]
    return F.element_at(
        F.create_map(*pairs), F.coalesce(F.col(code_col), F.lit("\x00"))
    )


def _displayless_codes(plan: RefinePlan) -> list[str]:
    """Only codes WITHOUT a config display can ever resolve through the
    narrative index (``coalesce(config, narrative)`` never reaches the
    second source otherwise) — indexing the rest would be dead work."""
    have_display = {k.code for k in plan.keep_codes if k.display is not None}
    return sorted(plan.codes_for(None) - have_display)


def narrative_index(df: DataFrame, plan: RefinePlan) -> DataFrame | None:
    """Source 2: per-(conv_id, code) snippet of the earliest live narrative
    turn mentioning the code. None when the plan has no narrative roles or
    no display-less keep codes (nothing the index could ever resolve)."""
    roles = narrative_roles(plan)
    codes = _displayless_codes(plan)
    if not roles or not codes:
        return None
    toks = F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), "[^a-z0-9]+")
    found = F.array_intersect(toks, F.array(*[F.lit(c) for c in codes]))
    # normalize-space + truncate ≙ the reference's normalize_space display
    # extraction (utils.py:180)
    snippet = F.substring(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "), 1, SNIPPET_LEN)
    live = df.where(F.col("role").isin(roles) & ~F.col("_deleted"))
    return (
        live.select(
            "conv_id",
            F.col("turn_idx").alias("_narr_turn"),
            F.explode(found).alias("_narr_code"),
            snippet.alias("_narr_text"),
        )
        .groupBy("conv_id", "_narr_code")
        .agg(F.min_by("_narr_text", "_narr_turn").alias("_narr_display"))
    )


def enrich_displays(df: DataFrame, plan: RefinePlan) -> DataFrame:
    """Recompute ``_matched_display`` for every row from both sources:
    ``coalesce(config display, narrative-index display)``. Rows without a
    matched code keep NULL. Pure function of (config, conversation content)
    — safe to re-run on carried rows during a MERGE."""
    cfg = config_display_expr(plan)
    idx = narrative_index(df, plan)
    if idx is None:
        return df.withColumn("_matched_display", cfg)
    cols = df.columns
    left = df.alias("L")
    right = idx.alias("R")
    joined = left.join(
        right,
        (F.col("L.conv_id") == F.col("R.conv_id"))
        & (F.col("L._matched_code") == F.col("R._narr_code")),
        "left",
    )
    display = F.coalesce(cfg, F.col("R._narr_display")).alias("_matched_display")
    return joined.select(
        *[display if c == "_matched_display" else F.col(f"L.{c}") for c in cols]
    )
