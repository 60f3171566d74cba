"""CDC operator inventory (SURVEY.md §2.5/§2.9) exercised on the driver's
``events`` stream table (the stand-in change stream per FIXTURES.md §7).

(user_id, event_type) plays (conv_id, turn_idx); (ts, event_id) plays
(ts, change_lsn)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import cdc


def _events(spark: SparkSession, sf: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/events.parquet")


def _events_wide(spark: SparkSession, sf: str) -> DataFrame:
    """events fanned out across cores (the ``_docs_wide`` pattern): the
    bench table arrives as a single one-row-group parquet file, so any
    CPU-heavy pre-shuffle work (the LWW partial reduce here) runs on one
    core unless explicitly spread. The spread key is a deterministic hash
    of the full delivery identity — never rand() (guide §2.5: retried map
    tasks must reproduce the same row→partition assignment) — and hash
    repartitioning avoids keyless repartition's local sort.

    Size-adaptive (derive from input size, not a constant): below a few MB
    the exchange's fixed cost exceeds the single-core work it parallelizes
    (measured +0.2s at sf0.1 vs −0.75s at sf1.0), so small inputs pass
    through. At lake scale the scan has many splits and the fan-out branch
    never fires; it is a bench-input shim, not a design assumption."""
    e = _events(spark, sf)
    try:
        import os

        small = os.path.getsize(f"{sf}/events.parquet") < 8 * 1024 * 1024
    except OSError:
        small = False
    if small:
        return e
    n = spark.sparkContext.defaultParallelism
    return e.repartition(n, F.xxhash64("user_id", "event_type", "event_id"))


QUERIES = {}
ORACLES = {}


def q(name: str, sql: str | None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


_LWW_SQL = """
SELECT user_id, event_type, event_id, value FROM (
  SELECT user_id, event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1
"""


@q("lww_rank", _LWW_SQL)
def lww_rank(spark, sf):
    """W1 last-writer-wins via row_number over desc (ts, lsn)."""
    out = cdc.lww_resolve_window(
        _events(spark, sf), key=("user_id", "event_type"), order=("ts", "event_id")
    )
    return out.select("user_id", "event_type", "event_id", "value")


@q("lww_agg", _LWW_SQL)
def lww_agg(spark, sf):
    """W1 again as the scale-path hash aggregation (max_by with map-side
    partial combine — same result, no sort shuffle, skew-immune). The
    oracle is intentionally the window SQL: both spellings must agree."""
    out = cdc.lww_resolve(
        _events_wide(spark, sf), key=("user_id", "event_type"), order=("ts", "event_id")
    )
    return out.select("user_id", "event_type", "event_id", "value")


@q(
    "dedup_deliveries",
    """
    SELECT event_type, COUNT(*) AS n FROM (
      SELECT DISTINCT event_id, event_type FROM (
        SELECT event_id, event_type FROM events
        UNION ALL
        SELECT event_id, event_type FROM events WHERE event_id % 10 = 0))
    GROUP BY event_type
    """,
)
def dedup_deliveries(spark, sf):
    """W2 duplicate-delivery drop: re-deliver 10% of the stream, dedup by
    the delivery key, count per type (counts must equal the clean stream)."""
    e = _events(spark, sf).select("event_id", "event_type")
    redelivered = e.unionByName(e.where(F.col("event_id") % 10 == 0))
    return (
        cdc.dedup_deliveries(redelivered, key=("event_type",), lsn="event_id")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@q(
    "high_watermark",
    "SELECT event_type, MAX(event_id) AS high_watermark FROM events GROUP BY event_type",
)
def high_watermark(spark, sf):
    """W4 per-partition high-watermark (checkpoint manifest content)."""
    return cdc.high_watermarks(_events(spark, sf), "event_type", lsn="event_id")


@q(
    "ordered_turns",
    """
    SELECT user_id, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
    FROM events
    """,
)
def ordered_turns(spark, sf):
    """W3 stable per-conversation ordering + lag for invariant checks."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return _events(spark, sf).select(
        "user_id",
        "event_id",
        F.row_number().over(w).alias("rn"),
        F.lag("event_type").over(w).alias("prev_type"),
    )


@q(
    "frame_context",
    """
    SELECT user_id, event_id,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS ctx_sum
    FROM events
    """,
)
def frame_context(spark, sf):
    """W5 frame-spec analytic: rolling context window (≙ keeping organizer-
    scoped context around matches, entry_matching.py:529-541)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return _events(spark, sf).select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double").alias("ctx_sum"),
    )


@q(
    "rule_precedence",
    """
    WITH rules(event_type, rule_idx, tier) AS (
      VALUES ('purchase', 0, 1), ('error', 1, 1), ('signup', 2, 2))
    SELECT user_id, event_type, tier FROM (
      SELECT e.user_id, e.event_type, r.tier,
             ROW_NUMBER() OVER (PARTITION BY e.user_id
                                ORDER BY r.rule_idx, e.ts, e.event_id) AS rn
      FROM events e JOIN rules r ON e.event_type = r.event_type)
    WHERE rn = 1
    """,
)
def rule_precedence(spark, sf):
    """§2.5 structural precedence: ordered rules, first candidate-bearing
    rule claims the group (≙ entry_matching.py:289-384 break at :381-382)
    = row_number over (rule_idx, arrival order) == 1."""
    rules = spark.createDataFrame(
        [("purchase", 0, 1), ("error", 1, 1), ("signup", 2, 2)],
        "event_type string, rule_idx int, tier int",
    )
    e = _events(spark, sf)
    w = Window.partitionBy("user_id").orderBy("rule_idx", "ts", "event_id")
    return (
        e.join(F.broadcast(rules), "event_type")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "tier")
    )


@q(
    "sessionize",
    """
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start
    FROM (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE OR
                         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events))
    GROUP BY user_id, session_id
    """,
)
def sessionize(spark, sf):
    """Gap-based sessionization (30-min inactivity): lag + cumsum over one
    window — the batch spelling of session_window() (SURVEY §2.9)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = _events(spark, sf)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    is_new = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        ev.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(run))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        )
    )


@q(
    "percentiles",
    """
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.95) AS p95
    FROM events GROUP BY event_type
    """,
)
def percentiles(spark, sf):
    """Exact interpolated percentiles (Spark percentile == DuckDB
    quantile_cont); the approx_percentile sketch is the at-scale variant."""
    return (
        _events(spark, sf)
        .groupBy("event_type")
        .agg(
            F.percentile("value", F.lit(0.5)).alias("p50"),
            F.percentile("value", F.lit(0.95)).alias("p95"),
        )
    )


@q(
    "config_events",
    """
    SELECT e.user_id,
           ROW_NUMBER() OVER (PARTITION BY e.user_id
                              ORDER BY e.ts, e.event_id) AS version,
           e.event_type
    FROM events e
    WHERE e.user_id IN (
      SELECT user_id FROM (
        SELECT user_id FROM events GROUP BY user_id
        ORDER BY COUNT(*) DESC, user_id LIMIT 5))
    """,
)
def config_events(spark, sf):
    """S9 audit-log lineage: the ordered mutation history of the busiest
    entities, each mutation stamped with its monotone version — the query
    shape the config store's append-only ``_events.jsonl`` supports (≙ the
    reference's events table, app/db/events/model.py:12-27, described by
    its own docs as "a literal change log"). Engine surface:
    sources/config_store.ConfigStore.events()."""
    e = _events(spark, sf)
    busiest = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "user_id")
        .limit(5)
        .select("user_id")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.join(F.broadcast(busiest), "user_id", "leftsemi")
        .select("user_id", F.row_number().over(w).alias("version"), "event_type")
    )


@q(
    "session_window_agg",
    """
    SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE OR
                         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events))
    GROUP BY user_id, sid
    """,
)
def session_window_agg(spark, sf):
    """Sessionization via Spark's NATIVE session_window() (the primitive
    `sessionize` spells out with lag+cumsum): dynamic-gap grouped agg —
    one shuffle on the grouping key, session state merged inside the agg,
    no window function at all. Oracle: gaps-and-islands SQL; both emit
    (user, first-event ts, count), so the two spellings cross-check."""
    ev = _events(spark, sf)
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.min("ts").alias("first_ts"))
        .select(
            "user_id",
            F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


@q(
    "cdc_source_span",
    """
    WITH mapped AS (
      SELECT 'u' || CAST(user_id AS VARCHAR) AS conv_id,
             CAST(event_id % 50 AS INT) AS turn_idx,
             ts, event_id AS change_lsn, event_type AS role
      FROM events WHERE event_id % 2 = 1
    ), w AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx
                                   ORDER BY ts DESC, change_lsn DESC) AS rn
      FROM mapped)
    SELECT role, COUNT(*) AS n,
           CAST(SUM(change_lsn) AS BIGINT) AS sum_lsn,
           MAX(ts) AS max_ts
    FROM w WHERE rn = 1 GROUP BY role ORDER BY role
    """,
)
def cdc_source_span(spark, sf):
    """End-to-end oracle for the NATIVE streaming CDC source
    (lake/stream_source.py): build a two-batch lake table from `events`
    (second batch merge-on-read, so its delta files are exactly the
    batch's LWW winners), read the incremental span (v1, v2] through
    ``spark.read.format("lake_cdc").option("fromVersion", 1)``, and
    aggregate. This drives merge → manifest span walk → per-file Arrow
    partitions → field-id projection through the driver's DuckDB check;
    the oracle recomputes the second batch's winners with window SQL.
    """
    import tempfile

    from ..lake.stream_source import scan
    from ..lake.table import LakeTable

    delta = _events(spark, sf).select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("conv_id"),
        (F.col("event_id") % 50).cast("int").alias("turn_idx"),
        F.col("ts"),
        F.col("event_id").alias("change_lsn"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(False).alias("_deleted"),
    )
    work = tempfile.mkdtemp(prefix="cdc-source-span-")
    t = LakeTable(spark, f"{work}/lake", num_buckets=8)
    t.merge(delta.where(F.col("change_lsn") % 2 == 0), "b0")
    t.merge(delta.where(F.col("change_lsn") % 2 == 1), "b1", mode="mor")
    span = scan(spark, f"{work}/lake", fromVersion=1)
    return (
        span.groupBy("role")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("change_lsn").alias("sum_lsn"),
            F.max("ts").alias("max_ts"),
        )
        .orderBy("role")
    )


@q(
    "validate_rows",
    """
    SELECT 'event_type_in_enum' AS rule, CAST(event_id AS VARCHAR) AS key,
           'value ' || COALESCE(CAST(event_type AS VARCHAR), 'NULL') AS detail
    FROM events
    WHERE NOT COALESCE(event_type IN ('click','purchase','signup','view'), FALSE)
    UNION ALL
    SELECT 'value_in_range', CAST(event_id AS VARCHAR),
           'value ' || COALESCE(CAST(value AS VARCHAR), 'NULL')
    FROM events WHERE NOT COALESCE(value >= 0 AND value <= 400, FALSE)
    UNION ALL
    SELECT 'not_null(event_id)', CAST(event_id AS VARCHAR), 'value is NULL'
    FROM events WHERE event_id IS NULL
    UNION ALL
    SELECT 'user_type_unique',
           COALESCE(CAST(user_id AS VARCHAR), 'NULL') || '|' || COALESCE(event_type, 'NULL'),
           'count=' || CAST(count(*) AS VARCHAR)
    FROM events GROUP BY user_id, event_type HAVING count(*) > 1
    """,
)
def validate_rows(spark, sf):
    """Declarative row-constraint validation (operators/validate.py) — the
    reference's XSD/Schematron output backstop re-expressed as one Spark
    job: per-row CHECK predicates + a uniqueness aggregation UNIONed into
    a violations frame. Rules here are chosen to exercise all three rule
    kinds against the clean synthetic events table: the enum excludes
    'error' (every error row violates), the range caps value at 400, and
    (user_id, event_type) is deliberately non-unique."""
    from ..operators.validate import in_range, in_set, not_null, unique, violations

    rules = [
        in_set("event_type", ["click", "purchase", "signup", "view"], name="event_type_in_enum"),
        in_range("value", 0, 400, name="value_in_range"),
        not_null("event_id"),
        unique("user_id", "event_type", name="user_type_unique"),
    ]
    return violations(_events(spark, sf), rules, ("event_id",))
