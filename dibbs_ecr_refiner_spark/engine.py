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

from .lake.stats import _ts_us
from .lake.table import LakeTable
from .operators import cdc
from .operators.enrich import enrich_displays
from .operators.refine import compile_refinement
from .plans.config import RefinePlan

CHANGE_COLS = ("conv_id", "turn_idx", "op", "role", "text", "tool", "ts", "change_lsn")


def _touched_and_hot(bucket_counts: dict[int, int]) -> tuple[list[int], list[int]]:
    """Hot = a bucket carrying >2× the mean delta rows (the cheap pre-pass
    hot-key detection of SURVEY §4 item 1); hot buckets get salted parallel
    writes, cold ones stay one-file-per-bucket."""
    touched = sorted(bucket_counts)
    if not touched:
        return [], []
    mean = sum(bucket_counts.values()) / len(bucket_counts)
    hot = sorted(b for b, n in bucket_counts.items() if n > 2 * mean)
    return touched, hot


@dataclass
class ReplayStats:
    batches: int = 0
    batches_skipped: int = 0
    events: int = 0
    seconds: float = 0.0
    fold_seconds: float = 0.0  # time inside mid-replay + final folds (⊂ seconds)
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
        """Throughput of the apply path alone — fold time excluded. The
        number comparable with a pure-MOR replay's ingest rate: auto mode's
        per-batch cost IS the MOR cost at steady state; the fold is the
        separately-amortizable convergence sweep (same split the bench
        reports for explicit MOR + fold_deltas)."""
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
        # The compiled refinement and the config display map are pure
        # Column expression trees (DataFrame-independent) — build them once
        # per engine, not once per batch: per-batch reconstruction was
        # ~0.2 s of py4j driver chatter (profiled, OPTIMIZATION_r06.md).
        # ``plan`` is read-only so they can never drift from it.
        self._refine = compile_refinement(plan, guarded=True)
        from .operators.enrich import config_display_expr

        self._cfg_display = config_display_expr(plan)

    @property
    def plan(self) -> RefinePlan:
        return self._plan

    # auto mode switches to merge-on-read once the table holds more than
    # MOR_THRESHOLD× the batch's rows: COW rewrites O(touched buckets) per
    # batch, so at steady state (small batches into a big table) it writes
    # 14-18× more bytes than MOR (measured in BENCH.md); for bulk backfill
    # (batch ≈ table) the rewrite IS the batch and COW's read-optimal files
    # win. The estimate sums per-batch upsert counts from the manifest —
    # an overcount when keys are re-updated, which only biases toward MOR
    # in update-heavy regimes, exactly where MOR wins.
    MOR_THRESHOLD = 2.0

    def _live_rows_estimate(self) -> int:
        snap = self.table.current_snapshot()
        if not snap:
            return 0
        # maintenance rewrites (compact/fold/rebucket) register as applied
        # batches whose rows_upserted is the ENTIRE rewritten bucket
        # content — counting them would inflate the estimate by up to a
        # table-size per maintenance pass and drift auto mode unboundedly
        # MOR-biased. Skip anything flagged as a rewrite.
        return sum(
            max(0, r["rows_upserted"])
            for r in snap["applied_batches"].values()
            if not r.get("rewrite")
        )

    def _resolve_mode(self, mode: str, batch_rows: int) -> str:
        if mode != "auto":
            return mode
        table_rows = self._live_rows_estimate()
        return "mor" if table_rows > self.MOR_THRESHOLD * max(1, batch_rows) else "cow"

    def apply_batch(
        self,
        changes: DataFrame,
        batch_id: str,
        touched: list[int] | None = None,
        hot: list[int] | None = None,
        bucket_lsn_max: dict[int, int] | None = None,
        bucket_ts_range: dict[int, list[int]] | None = None,
        mode: str = "auto",
    ) -> dict:
        if self.table.is_applied(batch_id):
            return {"skipped": True, "batch_id": batch_id}
        if touched is None:
            # Touched + hot buckets, per-bucket applied-LSN maxes AND
            # per-bucket ts ranges from a three-column scan of the raw batch
            # (column pruning keeps this to conv_id+change_lsn+ts + a
            # partial agg). replay() precomputes these for ALL batches in
            # one pass instead.
            from .lake.table import bucket_expr

            counts = (
                changes.groupBy(bucket_expr(self.table.num_buckets).alias("b"))
                .agg(
                    F.count(F.lit(1)).alias("count"),
                    F.max("change_lsn").alias("lsn"),
                    F.min("ts").alias("ts_lo"),
                    F.max("ts").alias("ts_hi"),
                )
                .collect()
            )
            touched, hot = _touched_and_hot({r["b"]: r["count"] for r in counts})
            bucket_lsn_max = {int(r["b"]): int(r["lsn"]) for r in counts}
            # an all-NULL-ts bucket has no range to stamp; leaving the key
            # out already means "must-scan" at prune time
            bucket_ts_range = {
                int(r["b"]): [_ts_us(r["ts_lo"]), _ts_us(r["ts_hi"])]
                for r in counts
                if r["ts_lo"] is not None
            }
            mode = self._resolve_mode(mode, sum(r["count"] for r in counts))
        elif mode == "auto":
            # caller precomputed buckets but not the row count — a pruned
            # count on the batch is cheap relative to the merge itself
            mode = self._resolve_mode(mode, changes.count())
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
            # identical to enrich_displays(..., narrative=False), with the
            # config display Column prebuilt once per engine
            cfg = self._cfg_display
            post = lambda d: refine(d).withColumn("_matched_display", cfg)  # noqa: E731
        return self.table.merge(
            delta,
            batch_id,
            touched_buckets=touched,
            post_reduce=post,
            hot_buckets=hot,
            bucket_lsn_max=bucket_lsn_max,
            bucket_ts_range=bucket_ts_range,
            mode=mode,
        )

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

    def fold_deltas(
        self,
        buckets: list[int] | None = None,
        max_buckets_per_commit: int | None = None,
    ) -> dict:
        """Compact merge-on-read deltas into base files, recomputing the
        display enrichment over the resolved rows so the folded table is
        byte-equal to a COW replay of the same log.

        ``max_buckets_per_commit`` bounds a big fold's transient scratch to
        O(k·bucket) by folding in groups of k buckets, one atomic commit
        each — the disk-bounded convergence fold a 10^9-event table needs
        (see maintenance.compact)."""
        from .lake.maintenance import compact

        plan = self.plan
        return compact(
            self.table,
            buckets=buckets,
            post=lambda d: enrich_displays(d, plan),
            max_buckets_per_commit=max_buckets_per_commit,
        )

    def _pending_delta_buckets(self) -> list[int]:
        snap = self.table.current_snapshot()
        if not snap:
            return []
        return sorted({f["bucket"] for f in snap["files"] if f.get("kind", "base") == "delta"})

    def replay(
        self,
        changes: DataFrame,
        batch_col: str = "ingest_file",
        mode: str = "auto",
        fold_every: int | None = None,
        final_fold: str = "all",
    ) -> ReplayStats:
        """Replay every batch in batch-id order (≙ LSN-range order). Batches
        already recorded in the manifest are skipped — resuming after a
        crash replays only uncommitted work (exactly-once).

        ``mode="mor"`` commits each batch as delta files (write cost
        O(batch) instead of O(touched buckets) — the COW write
        amplification is the dominant ingest cost when batches are small
        relative to the table); ``fold_every=k`` compacts the deltas every
        k committed batches so read-time merge cost stays bounded.
        ``mode="auto"`` (default) resolves per batch: COW while the batch
        is large relative to the table (bulk backfill), MOR once the table
        dwarfs the batch (steady-state ingest, where COW's measured write
        amplification is 14-18×). With ``final_fold="all"`` a lookahead
        over the known batch list overrides the ramp: if any batch would
        resolve MOR, the completion fold will rewrite its buckets anyway,
        so every batch commits MOR and each row is written exactly twice
        (ingest + fold) instead of the COW ramp's rewrite-then-fold
        double-pay (see the cost model at the lookahead below). Mid-replay folding is DEMAND-driven:
        after each MOR batch (checked every ``fold_every`` of them, default
        8) only the buckets whose pending delta count exceeds the
        ``should_fold`` threshold are compacted — read amplification stays
        bounded without the old fold-everything sweep, whose cost at
        steady state approached a table rewrite per cadence.

        ``final_fold`` controls what a completed auto replay leaves behind:
        ``"all"`` (default) folds every pending delta bucket so plain
        ``table.read()`` equals the batch oracle, displays included — the
        converged-completion guarantee; ``"threshold"`` folds only
        over-threshold buckets (continuous-pipeline mode: the replay call
        boundary is arbitrary, reads go through ``read_refined()`` which
        converges displays at read time, and core columns are oracle-equal
        from the read-time LWW either way); ``"none"`` skips it.

        Scale note: each batch filters ``changes`` on ``batch_col``. When
        the input is parquet partitioned by that column (use
        ``replay_path``), partition pruning makes every per-batch read
        touch only its own files; on an UNPARTITIONED frame each batch
        re-scans the full input — fine for small backfills, a full-scan-
        per-batch footgun at log scale. Prefer ``replay_path``."""
        from .lake.table import bucket_expr

        if final_fold not in ("all", "threshold", "none"):
            # a typo'd value would otherwise silently run the full
            # completion fold — the opposite of what a continuous-pipeline
            # caller asked for
            raise ValueError(
                f"final_fold must be 'all', 'threshold' or 'none', got {final_fold!r}"
            )
        stats = ReplayStats()
        # one pass over (batch_col, bucket) for the event count, the batch
        # list, every batch's touched/hot bucket sets AND the true
        # per-bucket applied-LSN watermarks — replaces one driver job per
        # batch with a single partial-agg job
        pre = (
            changes.groupBy(
                F.col(batch_col), bucket_expr(self.table.num_buckets).alias("b")
            )
            .agg(
                F.count(F.lit(1)).alias("count"),
                F.max("change_lsn").alias("lsn"),
                F.min("ts").alias("ts_lo"),
                F.max("ts").alias("ts_hi"),
            )
            .collect()
        )
        stats.events = sum(r["count"] for r in pre)
        by_batch: dict[str, dict[int, int]] = {}
        lsn_by_batch: dict[str, dict[int, int]] = {}
        ts_by_batch: dict[str, dict[int, list[int]]] = {}
        for r in pre:
            by_batch.setdefault(r[batch_col], {})[r["b"]] = r["count"]
            lsn_by_batch.setdefault(r[batch_col], {})[int(r["b"])] = int(r["lsn"])
            ts_by_batch.setdefault(r[batch_col], {})
            if r["ts_lo"] is not None:  # all-NULL ts bucket: no range = must-scan
                ts_by_batch[r[batch_col]][int(r["b"])] = [
                    _ts_us(r["ts_lo"]),
                    _ts_us(r["ts_hi"]),
                ]
        if mode == "auto" and fold_every is None:
            fold_every = 8
        # Completion-fold lookahead (the whole-replay form of the COW/MOR
        # trade): with ``final_fold="all"`` the fold rewrites every bucket
        # any MOR batch touches, so a COW batch in the SAME replay pays its
        # table-so-far rewrite now AND the fold rewrites the result again —
        # pure double-write. Cost model (equal batches of b rows, n
        # batches): heuristic ramp ≈ (2n+3)·b rows written vs all-MOR+fold
        # 2n·b, so once ANY batch would resolve MOR, committing every batch
        # MOR is never worse and saves the whole ramp. replay() knows the
        # batch list up front — simulate the per-batch heuristic on the
        # known sizes; only replays that stay COW throughout (1-2 bulk
        # batches: there COW genuinely wins, no fold happens) keep it.
        # ``final_fold="threshold"``/``"none"`` keep the per-batch
        # heuristic: no scheduled sweep, so COW's read-optimal commits are
        # not thrown away. apply_batch() callers (no fold knowledge) are
        # untouched.
        force_mor = False
        if mode == "auto" and final_fold == "all":
            running = self._live_rows_estimate()
            for bid in sorted(by_batch):
                b = sum(by_batch[bid].values())
                if running > self.MOR_THRESHOLD * max(1, b):
                    force_mor = True
                    break
                running += b
        t0 = time.time()
        mor_batches = 0
        for batch_id in sorted(by_batch):
            touched, hot = _touched_and_hot(by_batch[batch_id])
            batch = changes.where(F.col(batch_col) == batch_id)
            n_batch_events = sum(by_batch[batch_id].values())
            batch_mode = (
                "mor" if force_mor else self._resolve_mode(mode, n_batch_events)
            )
            tb = time.time()
            res = self.apply_batch(
                batch,
                batch_id,
                touched=touched,
                hot=hot,
                bucket_lsn_max=lsn_by_batch[batch_id],
                bucket_ts_range=ts_by_batch[batch_id],
                mode=batch_mode,
            )
            if res.get("skipped"):
                stats.batches_skipped += 1
            else:
                stats.batches += 1
                stats.batch_seconds.append(round(time.time() - tb, 3))
                stats.batch_events.append(n_batch_events)
                if batch_mode == "mor":
                    mor_batches += 1
                stats.lineage.append(res)
                # demand-driven periodic fold: only when THIS batch was MOR
                # (a non-MOR batch can't have advanced the counter — the old
                # `mor_batches % k` check re-fired on every later COW batch
                # while the count sat on a multiple) and only the buckets
                # whose delta pile-up actually exceeds the threshold
                if fold_every and batch_mode == "mor" and mor_batches % fold_every == 0:
                    from .lake.maintenance import should_fold

                    over = should_fold(self.table)
                    if over:
                        tf = time.time()
                        self.fold_deltas(buckets=over)
                        stats.fold_seconds += time.time() - tf
        # Not gated on this call having applied a batch: a rerun after a
        # crash between the last commit and the fold must still fold.
        if mode == "auto" and final_fold != "none":
            if final_fold == "threshold":
                from .lake.maintenance import should_fold

                pending = should_fold(self.table)
            else:
                # finish converged: fold any pending deltas (only their
                # buckets) so a completed auto replay gives the COW
                # guarantee — plain table.read() equals the batch oracle,
                # displays included — while the per-batch writes kept MOR's
                # O(batch) cost.
                pending = self._pending_delta_buckets()
            if pending:
                tf = time.time()
                self.fold_deltas(buckets=pending)
                stats.fold_seconds += time.time() - tf
        stats.seconds = time.time() - t0
        return stats

    def replay_path(
        self,
        path: str,
        batch_col: str = "ingest_file",
        mode: str = "auto",
        fold_every: int | None = None,
        final_fold: str = "all",
    ) -> ReplayStats:
        """Replay a change log laid out as parquet partitioned by batch —
        partition pruning makes each per-batch read touch only its own
        files (the 'tail above the high-watermark' pattern, SURVEY §2.1 S1)."""
        changes = self.spark.read.parquet(path)
        return self.replay(
            changes, batch_col=batch_col, mode=mode, fold_every=fold_every, final_fold=final_fold
        )


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
