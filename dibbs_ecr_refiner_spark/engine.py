"""ReplayEngine: tail the change log batch-by-batch, refine, MERGE.

The generalization of the reference's Lambda handler loop
(refiner/app/lambda/lambda_function.py:150-345): one ingest batch ≙ one SQS
delivery; the committed snapshot manifest ≙ RefinerComplete; a batch that
fails before commit is retried from the checkpoint exactly like an SQS
partial-batch failure (:303-341) — and is a no-op if it already committed.

Also provides the single-shot batch-recompute **oracle** (sort → LWW →
refine) used by the correctness gate: incremental replay and the oracle must
produce identical final table states per FIXTURES.md §6.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lake import maintenance
from .lake.table import LakeTable, Prepass
from .operators import cdc
from .operators.enrich import enrich_displays
from .operators.refine import compile_refinement
from .plans.config import RefinePlan

CHANGE_COLS = ("conv_id", "turn_idx", "op", "role", "text", "tool", "ts", "change_lsn")


@dataclass
class ReplayStats:
    batches: int = 0
    batches_skipped: int = 0
    events: int = 0
    seconds: float = 0.0
    fold_seconds: float = 0.0  # time inside the between-batch + completion folds (⊂ seconds)
    lineage: list[dict] = field(default_factory=list)
    # per-applied-batch apply() wall time + event count (fold time excluded):
    # the first batch carries the session's one-time JIT/codegen/broadcast
    # warmup (measured 10-16s on a fresh JVM), so steady-state throughput
    # claims should quote the warm-batch median, not the mean the cold
    # batch drags around (bench.py reports both)
    batch_seconds: list[float] = field(default_factory=list)
    batch_events: list[int] = field(default_factory=list)

    @property
    def events_per_sec(self) -> float:
        return self.events / self.seconds if self.seconds else 0.0

    @property
    def events_per_sec_ingest(self) -> float:
        """Throughput of the apply path alone — fold time excluded. Auto
        mode commits every batch merge-on-read, so this is the MOR ingest
        rate; the folds are the separately-amortizable convergence work
        (same split the bench reports for explicit MOR + fold_deltas)."""
        ingest = self.seconds - self.fold_seconds
        return self.events / ingest if ingest > 0 else 0.0

    @property
    def cold_first_batch_seconds(self) -> float:
        return self.batch_seconds[0] if self.batch_seconds else 0.0

    @property
    def warm_median_events_per_sec(self) -> float:
        """Median per-batch throughput over the WARM batches (first batch
        excluded — it pays the JVM/codegen/Python-worker warmup). The
        steady-state number a long-running pipeline actually sustains;
        immune to the cold-start term that gave single-shot bench rows
        ±30% round-over-round error bars."""
        if len(self.batch_seconds) < 2:
            return self.events_per_sec
        rates = sorted(
            e / s
            for e, s in zip(self.batch_events[1:], self.batch_seconds[1:])
            if s > 0
        )
        return rates[(len(rates) - 1) // 2] if rates else 0.0


def normalize_changes(changes: DataFrame) -> DataFrame:
    """Raw change-log rows → target-schema rows: delete ops become
    tombstone candidates, refinement/provenance columns are NULL (meaning
    'not yet refined'). Pure projection, no shuffle.

    ``op`` and ``ingest_file`` are log-transport columns, not table state
    (op is folded into ``_deleted``; the batch id lives in the lineage
    manifest) — dropping them here cuts bytes/row through the LWW shuffle,
    the parquet write, AND every later touched-bucket re-read."""
    # single projection (one plan node, one py4j round trip) — column
    # order identical to the old withColumn-chain + drop spelling
    keep = [c for c in changes.columns if c not in ("op", "ingest_file")]
    return changes.select(
        *keep,
        (F.col("op") == "delete").alias("_deleted"),
        F.lit(None).cast("string").alias("_outcome"),
        F.lit(None).cast("string").alias("_matched_code"),
        F.lit(None).cast("string").alias("_matched_display"),
        F.lit(None).cast("int").alias("_tier"),
        F.lit(None).cast("string").alias("_provenance"),
    )


def prepare_delta(changes: DataFrame, plan: RefinePlan) -> DataFrame:
    """changes → fully-resolved rows: LWW (duplicate deliveries are
    identical rows and tie harmlessly — dedup is subsumed by the reduce,
    saving a whole shuffle) → guarded refinement on the winners.

    This is the single-shot form used by the batch oracle and small jobs.
    The incremental engine runs the same two stages, but with the LWW
    taken over (delta ∪ target) inside LakeTable.merge so each batch pays
    exactly ONE aggregation shuffle (see ReplayEngine.apply_batch).

    The whole thing is one Catalyst plan: scan → hash-agg (partial+final)
    → codegen'd projection — plus the display-enrichment join (config map,
    then per-conversation narrative index: operators/enrich.py).
    """
    winners = cdc.lww_resolve(normalize_changes(changes))
    return enrich_displays(compile_refinement(plan, guarded=True)(winners), plan)


class ReplayEngine:
    def __init__(self, spark: SparkSession, table: LakeTable, plan: RefinePlan):
        self.spark = spark
        self.table = table
        self._plan = plan
        # The compiled refinement is a pure Column expression tree
        # (DataFrame-independent) — build it once per engine, not once per
        # batch: per-batch reconstruction was ~0.2 s of py4j driver chatter
        # (profiled, OPTIMIZATION_r06.md). ``plan`` is read-only so it can
        # never drift from it.
        self._refine = compile_refinement(plan, guarded=True)

    @property
    def plan(self) -> RefinePlan:
        return self._plan

    def apply_batch(
        self,
        changes: DataFrame,
        batch_id: str,
        prepass: Prepass | None = None,
        mode: str = "mor",
    ) -> dict:
        """Refine and commit one batch of raw change rows through
        ``LakeTable.merge`` — the one exactly-once gate: an applied
        ``batch_id`` returns ``{"skipped": True}``. ``prepass`` is the
        batch's ``table.prepass`` entry (``replay`` computes every batch's
        in one job); without it ``merge`` computes it. One call is one
        commit and never folds: the loops around it (an auto ``replay``,
        ``stream_replay``) call ``maintenance.fold_due``."""
        if mode not in ("mor", "cow"):
            raise ValueError(f"mode must be 'mor' or 'cow', got {mode!r}")
        # The batch is merged RAW: merge runs one LWW over (delta ∪ target)
        # — or over the delta alone in merge-on-read mode — and then the
        # guarded refinement pass over the fresh winners: exactly one
        # aggregation shuffle per batch either way. Refinement is a pure
        # row function, so MOR's batch-local refine composes with the
        # read-time LWW: the global winner per key carries exactly the
        # refinement the batch oracle would compute. Display enrichment is
        # conversation-scoped (not row-pure), so under MOR it is batch-local
        # here and converges globally at read_refined()/compaction-fold.
        delta = normalize_changes(changes)
        refine = self._refine
        plan = self.plan
        # Display enrichment source split by commit mode (guide §2.4 —
        # remove dead shuffles/subtrees): a COW merge rewrites the whole
        # touched-bucket content, so its committed rows ARE the converged
        # view and must carry the full two-source display (config +
        # narrative index). A MOR delta's display is batch-local either
        # way — it cannot see narrative turns outside its own batch, and
        # the converged value is recomputed at fold / read_refined() time
        # — so the narrative index there is dead work that doubles the
        # batch pipeline (the index branch re-evaluates the LWW aggregate
        # subtree; measured ~2× per-batch cost in OPTIMIZATION_r06.md).
        if mode != "mor":
            # refine the fresh LWW winners, then recompute display
            # enrichment over the whole touched-bucket content so narrative
            # turns arriving in later batches back-fill earlier displays
            # (converging to the batch oracle's global view)
            post = lambda d: enrich_displays(refine(d), plan)  # noqa: E731
        else:
            # every MOR winner is fresh, so the guarded refinement alone
            # gives it the config display
            post = refine
        return self.table.merge(delta, batch_id, post_reduce=post, prepass=prepass, mode=mode)

    def read_refined(self) -> DataFrame:
        """Fully-converged live view: table read (LWW-resolves any
        merge-on-read deltas) + a display-enrichment recompute over the
        resolved content. Under COW commits this equals ``table.read()``
        (enrichment already ran per merge, and it is idempotent); under
        MOR it converges displays that batch-local enrichment could not
        see (a narrative turn in batch k back-filling a row from batch
        k-1), matching the batch oracle exactly."""
        df = self.table.read(include_tombstones=True)
        return enrich_displays(df, self.plan).where(~F.col("_deleted"))

    def fold_deltas(self, buckets: list[int] | None = None) -> dict:
        """Compact merge-on-read deltas into base files, recomputing the
        display enrichment over the resolved rows so the folded table is
        byte-equal to a COW replay of the same log. ``maintenance.compact``
        sizes the commit groups, so the fold's transient scratch stays
        bounded however big the table is."""
        plan = self.plan
        return maintenance.compact(
            self.table, buckets=buckets, post=lambda d: enrich_displays(d, plan)
        )

    def _fold(self, stats: ReplayStats, **threshold) -> None:
        """``maintenance.fold_due`` through ``fold_deltas``, timed into
        ``stats.fold_seconds``."""
        tf = time.time()
        maintenance.fold_due(self.table, self.fold_deltas, **threshold)
        stats.fold_seconds += time.time() - tf

    def replay(
        self,
        changes: DataFrame,
        batch_col: str = "ingest_file",
        mode: str = "auto",
        final_fold: str = "all",
    ) -> ReplayStats:
        """Replay every batch in batch-id order (≙ LSN-range order). Batches
        already recorded in the manifest are skipped — resuming after a
        crash replays only uncommitted work (exactly-once).

        ``mode="auto"`` (default) commits every batch merge-on-read: delta
        files, write cost O(batch) instead of O(touched buckets). Folding
        is DEMAND-driven: between batches, ``maintenance.fold_due`` folds
        the buckets whose pending delta commits exceed the ``should_fold``
        threshold, so read amplification stays bounded without a sweep
        that folds everything. ``mode="mor"`` commits the same delta files
        and never folds; ``mode="cow"`` rewrites the touched buckets on
        every commit.

        ``final_fold`` controls what a completed auto replay leaves behind:
        ``"all"`` (default) folds every pending delta bucket so plain
        ``table.read()`` equals the batch oracle, displays included — the
        converged-completion guarantee; ``"threshold"`` folds only
        over-threshold buckets (continuous-pipeline mode: the replay call
        boundary is arbitrary, reads go through ``read_refined()`` which
        converges displays at read time, and core columns are oracle-equal
        from the read-time LWW either way).

        Scale note: each batch filters ``changes`` on ``batch_col``. When
        the input is parquet partitioned by that column (use
        ``replay_path``), partition pruning makes every per-batch read
        touch only its own files; on an UNPARTITIONED frame each batch
        re-scans the full input — fine for small backfills, a full-scan-
        per-batch footgun at log scale. Prefer ``replay_path``."""
        if final_fold not in ("all", "threshold"):
            # a typo'd value would otherwise silently run the full
            # completion fold — the opposite of what a continuous-pipeline
            # caller asked for
            raise ValueError(f"final_fold must be 'all' or 'threshold', got {final_fold!r}")
        batch_mode = "mor" if mode == "auto" else mode
        stats = ReplayStats()
        # one pass over (batch_col, bucket) for the event count, the batch
        # list, every batch's touched/hot bucket sets AND the true
        # per-bucket applied-LSN watermarks — replaces one driver job per
        # batch with a single partial-agg job
        pre = self.table.prepass(changes, batch_col)
        stats.events = sum(sum(p.counts.values()) for p in pre.values())
        batch_ids = sorted(pre)
        t0 = time.time()
        for batch_id in batch_ids:
            batch = changes.where(F.col(batch_col) == batch_id)
            tb = time.time()
            res = self.apply_batch(batch, batch_id, prepass=pre[batch_id], mode=batch_mode)
            if res.get("skipped"):
                stats.batches_skipped += 1
                continue
            stats.batches += 1
            stats.batch_seconds.append(round(time.time() - tb, 3))
            stats.batch_events.append(sum(pre[batch_id].counts.values()))
            stats.lineage.append(res)
            if mode == "auto" and batch_id != batch_ids[-1]:
                self._fold(stats)
        # Not gated on this call having applied a batch: a rerun after a
        # crash between the last commit and the fold must still fold.
        if mode == "auto":
            self._fold(stats, **({"max_deltas_per_bucket": 0} if final_fold == "all" else {}))
        stats.seconds = time.time() - t0
        return stats

    def replay_path(
        self,
        path: str,
        batch_col: str = "ingest_file",
        mode: str = "auto",
        final_fold: str = "all",
    ) -> ReplayStats:
        """Replay a change log laid out as parquet partitioned by batch —
        partition pruning makes each per-batch read touch only its own
        files (the 'tail above the high-watermark' pattern, SURVEY §2.1 S1)."""
        changes = self.spark.read.parquet(path)
        return self.replay(changes, batch_col=batch_col, mode=mode, final_fold=final_fold)


def batch_oracle(changes: DataFrame, plan: RefinePlan) -> DataFrame:
    """Single-shot recompute: global dedup → global LWW → refine → final
    live rows. The replay correctness oracle (FIXTURES.md §6): the
    incremental engine's read() must equal this exactly."""
    delta = prepare_delta(changes, plan)
    return delta.where(~F.col("_deleted"))


def final_state_matches(engine_df: DataFrame, oracle_df: DataFrame) -> bool:
    """Per-turn text equality under stable (conv_id, turn_idx) ordering —
    the BASELINE.json invariant. Compared as an order-insensitive,
    null-safe multiset digest (sum of per-row sha2 prefixes + row count):
    distributed, no driver-side materialization, no sort."""
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

    def digest(df: DataFrame):
        row_str = F.concat_ws(
            "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]
        )
        h = F.conv(F.substring(F.sha2(row_str, 256), 1, 15), 16, 10).cast("decimal(38,0)")
        r = df.agg(F.sum(h).alias("s"), F.count(F.lit(1)).alias("n")).collect()[0]
        return (r["s"], r["n"])

    return digest(engine_df.select(cols)) == digest(oracle_df.select(cols))
