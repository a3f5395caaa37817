"""Window/time-series queries (q41+): moving averages, gap-based
sessionization, pivot, and near-dup cluster assignment.

Sessionization and dedup clustering are the two operations every
training-data pipeline runs between "raw events" and "examples";
neither exists in the reference (SURVEY §2.5: no window functions at
all) — both are expressed here with windows / iterative joins and
oracle-checked (the cluster query against a DuckDB RECURSIVE CTE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.scalar import dec_sum, dec_sum_sql
from ..operators.graph import connected_components
from ..sources.readers import load_table
from .registry import query
from .training_queries import TOK  # noqa: F401  (shared token expr)
from ..operators import dedup

# one cached rollup per query name, via the shared bounded slot
# registry (see caching.py for the discipline and the contrast with
# global_row_index's correctness-critical localCheckpoint). The
# returned DataFrame also carries the cache as ``_graft_cached`` so
# callers can release it eagerly.
from ..caching import release_caches, slot_persist  # noqa: F401

_slot_persist = slot_persist


@query(
    "q41_moving_average",
    oracle="""
    SELECT event_id, user_id, ts, value,
           round(AVG(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS ma3,
           round(SUM(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS running_total
    FROM events
    """,
)
def q41_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 3-row moving average + running total — bounded-frame
    windows (frame order fixed by (ts, event_id) so the float sums
    accumulate in the same order on both engines)."""
    ev = load_table(spark, sf_dir, "events")
    frame = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.round(F.avg("value").over(frame.rowsBetween(-2, 0)), 4).alias("ma3"),
        F.round(
            F.sum("value").over(
                frame.rowsBetween(W.unboundedPreceding, 0)
            ),
            4,
        ).alias("running_total"),
    )


SESSION_GAP_MIN = 30


@query(
    "q42_sessionize",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER w <= INTERVAL {SESSION_GAP_MIN} MINUTE
                  THEN 0 ELSE 1 END AS new_session
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sessions AS (
      SELECT user_id, ts, event_id,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS BIGINT) AS session_no
      FROM gaps)
    SELECT user_id, session_no,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end
    FROM sessions
    GROUP BY user_id, session_no
    """,
)
def q42_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min idle timeout): lag → boundary
    flag → running sum = session number → per-session rollup. The
    batch twin of streaming session windows; one shuffle on user_id.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
    flagged = ev.withColumn(
        "new_session",
        F.when(gap <= SESSION_GAP_MIN * 60, F.lit(0)).otherwise(F.lit(1)),
    )
    sessions = flagged.withColumn(
        "session_no",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return sessions.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@query(
    "q43_type_pivot",
    oracle="""
    SELECT user_id,
           round(COALESCE(SUM(value) FILTER (event_type = 'click'), 0), 4)
             AS click_value,
           round(COALESCE(SUM(value) FILTER (event_type = 'view'), 0), 4)
             AS view_value,
           round(COALESCE(SUM(value) FILTER (event_type = 'error'), 0), 4)
             AS error_value,
           COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
)
def q43_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide, the inverse of T1's melt) as conditional
    aggregation — map-side combinable, unlike `df.groupBy().pivot()`
    whose value discovery needs an extra pass."""
    ev = load_table(spark, sf_dir, "events")

    def bucket(t: str):
        return F.round(
            F.coalesce(
                F.sum(F.when(F.col("event_type") == t, F.col("value"))),
                F.lit(0),
            ),
            4,
        ).alias(f"{t}_value")

    return ev.groupBy("user_id").agg(
        bucket("click"),
        bucket("view"),
        bucket("error"),
        F.count("*").alias("n_events"),
    )


def _cluster_oracle() -> str:
    # transitive min-label closure over the q28 near-dup edges,
    # as a DuckDB RECURSIVE CTE (Spark side: iterative join loop)
    pair_sql = "SELECT id_a, id_b FROM (" + __import__(
        "building_energy_data_pipeline_spark.plans.training_queries",
        fromlist=["_minhash_oracle"],
    )._minhash_oracle() + ")"
    return f"""
    WITH RECURSIVE pairs AS ({pair_sql}),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    reach(node, other) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.other FROM edges e JOIN reach r ON e.v = r.node)
    SELECT node, MIN(other) AS component
    FROM reach GROUP BY node
    """


@query("q44_neardup_clusters", oracle=_cluster_oracle())
def q44_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: q28's LSH pairs → connected components →
    (node, component=min reachable doc_id). Iterative min-label
    propagation (``operators/graph.py``); oracle is a DuckDB
    recursive-CTE transitive closure — two entirely different
    algorithms, same fixpoint."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, "doc_id", TOK, k=3)
    pairs = dedup.minhash_lsh_pairs(sigs, "doc_id", min_jaccard=0.5)
    return connected_components(pairs)


_Q72_SQL = """
    WITH s1 AS (
      SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t1
      FROM {events} WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t2
      FROM {events} e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t3
      FROM {events} e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > s2.t2
      GROUP BY e.user_id
    )
    SELECT 1 AS step, 'view' AS stage, COUNT(*) AS n_users FROM s1
    UNION ALL
    SELECT 2, 'view>click', COUNT(*) FROM s2
    UNION ALL
    SELECT 3, 'view>click>purchase', COUNT(*) FROM s3
"""


@query(
    "q72_event_funnel",
    oracle=_Q72_SQL.format(events="events"),
)
def q72_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential conversion funnel — users whose first 'view'
    precedes a later 'click' precedes a later 'purchase', counted per
    stage. The ordered-sequence pattern (a window/temporal-join
    hybrid) the reference's SQL surface never reaches; expressed as
    IDENTICAL query text on both engines (per-stage min-timestamp
    joins, which Catalyst plans as hash joins over pre-aggregated
    per-user rows).

    Scale: each stage aggregates events to ONE row per user before
    joining (shuffle carries user-level rows, not event-level);
    stages prune monotonically (s3 ⊆ s2 ⊆ s1), so later joins only
    touch surviving users. The timestamp comparison is exact
    microseconds on both engines.
    """
    load_table(spark, sf_dir, "events").createOrReplaceTempView("q72_events")
    return spark.sql(_Q72_SQL.format(events="q72_events"))


@query(
    "q73_gapfill_locf",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
             COUNT(*) AS n_events,
             {dec_sum_sql("value")} AS sum_value
      FROM events GROUP BY 1, 2
    ),
    b AS (SELECT MIN(hour_start) AS lo, MAX(hour_start) AS hi FROM hourly),
    types AS (SELECT DISTINCT event_type FROM events),
    spine AS (
      SELECT t.event_type,
             unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS hour_start
      FROM types t CROSS JOIN b
    )
    SELECT s.event_type,
           CAST(s.hour_start AS TIMESTAMP) AS hour_start,
           COALESCE(h.n_events, 0) AS n_events,
           LAST_VALUE(h.sum_value IGNORE NULLS) OVER (
             PARTITION BY s.event_type ORDER BY s.hour_start
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS locf_value
    FROM spine s
    LEFT JOIN hourly h USING (event_type, hour_start)
    """,
)
def q73_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap-filled rollup — the time-series operator
    the task brief names explicitly: hourly buckets, a DENSE spine
    over the observed range (``sequence`` + ``explode``, per type),
    empty buckets surfaced as zero-count rows, and missing measures
    interpolated by last-observation-carried-forward
    (``last(..., ignorenulls)`` over an ordered window). The
    reference can only aggregate hours that exist; a meter that goes
    dark silently disappears from its reports — here it shows up as
    a gap with a carried value.

    Scale: the rollup is map-side combined; bounds are ONE broadcast
    row; the spine is (types × hours) — generated, not shuffled; the
    LOCF window partitions by type (hash-parallel, bounded frames).
    At 100 TB partition the spine join by time range so each task
    fills its own slice.
    """
    ev = load_table(spark, sf_dir, "events")
    # persist the rollup: bounds, the type list, and the spine join
    # all derive from it — events is scanned ONCE (without this the
    # plan re-reads the fact table per consumer; at 100 TB the
    # rollup is ~10^4x smaller than the scan it saves)
    hourly = _slot_persist("q73", ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(
        F.count("*").alias("n_events"),
        dec_sum("value").alias("sum_value"),
    ))
    bounds = hourly.agg(
        F.min("hour_start").alias("lo"), F.max("hour_start").alias("hi")
    )
    types = hourly.select("event_type").distinct()
    spine = types.crossJoin(bounds).select(
        "event_type",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_start"),
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    out = (
        spine.join(hourly, ["event_type", "hour_start"], "left")
        .select(
            "event_type",
            "hour_start",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("sum_value", ignorenulls=True).over(w).alias("locf_value"),
        )
    )
    out._graft_cached = hourly  # callers may unpersist after the action
    return out


_Q74_HOURLY = f"""
      SELECT event_type,
             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
             COUNT(*) AS n_events,
             {dec_sum_sql("value")} AS sum_value
      FROM events GROUP BY 1, 2
"""


@query(
    "q74_continuous_aggregate",
    oracle=f"""
    WITH hourly AS ({_Q74_HOURLY}),
    daily AS (
      SELECT event_type, date_trunc('day', bucket) AS bucket,
             CAST(SUM(n_events) AS BIGINT) AS n_events,
             CAST(ROUND(SUM(CAST(sum_value AS DECIMAL(28,6))), 4) AS DOUBLE)
               AS sum_value
      FROM hourly GROUP BY 1, 2
    ),
    monthly AS (
      SELECT event_type, date_trunc('month', bucket) AS bucket,
             CAST(SUM(n_events) AS BIGINT) AS n_events,
             CAST(ROUND(SUM(CAST(sum_value AS DECIMAL(28,6))), 4) AS DOUBLE)
               AS sum_value
      FROM daily GROUP BY 1, 2
    )
    SELECT 'day' AS grain, event_type, CAST(bucket AS TIMESTAMP) AS bucket,
           n_events, sum_value
    FROM daily
    UNION ALL
    SELECT 'month', event_type, CAST(bucket AS TIMESTAMP), n_events, sum_value
    FROM monthly
    """,
)
def q74_continuous_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate cascade (hypertable rollup): daily and
    monthly totals RE-AGGREGATED from the hourly materialization —
    never from raw events. This is the at-scale pattern: the hourly
    aggregate is ~10⁴× smaller than the fact table, so coarser
    grains cost almost nothing, and a materialized hourly table
    makes every downstream grain incremental.

    Determinism across the cascade: counts re-add exactly (ints);
    the hourly sums are already rounded engine-identical doubles, so
    re-summing them through DECIMAL(28,6) is again order-independent
    and exact on both engines.

    Scale: raw events are touched ONCE (map-side-combined hourly
    rollup); the day/month re-aggregations shuffle only
    (types × hours) rows. The union of grains is metadata-tagged, not
    recomputed.
    """
    ev = load_table(spark, sf_dir, "events")
    # persist: daily feeds BOTH the output union and the monthly
    # re-aggregation — one events scan, one tiny cached rollup
    hourly = _slot_persist("q74", ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        F.count("*").alias("n_events"),
        dec_sum("value").alias("sum_value"),
    ))

    def _coarsen(df: DataFrame, grain: str) -> DataFrame:
        return df.groupBy(
            "event_type", F.date_trunc(grain, "bucket").alias("bucket")
        ).agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.round(F.sum(F.col("sum_value").cast("decimal(28,6)")), 4)
            .cast("double")
            .alias("sum_value"),
        )

    daily = _coarsen(hourly, "day")
    monthly = _coarsen(daily, "month")
    tag = lambda df, g: df.select(  # noqa: E731
        F.lit(g).alias("grain"), "event_type", "bucket", "n_events", "sum_value"
    )
    out = tag(daily, "day").unionByName(tag(monthly, "month"))
    out._graft_cached = hourly  # callers may unpersist after the action
    return out


@query(
    "q75_ntile_segmentation",
    oracle=f"""
    WITH ranked AS (
      SELECT c_nationkey, c_acctbal,
             NTILE(4) OVER (
               PARTITION BY c_nationkey
               ORDER BY c_acctbal, c_custkey
             ) AS quartile
      FROM customer
    )
    SELECT c_nationkey, quartile,
           COUNT(*) AS n_cust,
           MIN(c_acctbal) AS min_bal,
           MAX(c_acctbal) AS max_bal,
           {dec_sum_sql("c_acctbal")} AS sum_bal
    FROM ranked
    GROUP BY 1, 2
    """,
)
def q75_ntile_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE quartile segmentation — equal-frequency customer tiers
    per nation with per-tier balance stats, the cohort/segment
    primitive (windows §2.5; NTILE follows the SQL-standard
    remainder rule on both engines, and the ORDER BY carries the
    unique c_custkey tiebreak so tile assignment is total-ordered
    and engine-identical).

    Scale: the window partitions by nation — hash-parallel, no
    global sort; the follow-up rollup reuses the same partitioning
    (Catalyst reuses the exchange).
    """
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    ranked = cust.select(
        "c_nationkey", "c_acctbal", F.ntile(4).over(w).alias("quartile")
    )
    return ranked.groupBy("c_nationkey", "quartile").agg(
        F.count("*").alias("n_cust"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
        dec_sum("c_acctbal").alias("sum_bal"),
    )


@query(
    "q80_sliding_window",
    oracle=f"""
    WITH shifted AS (
      SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value,
             unnest([0, 1]) AS k
      FROM events
    ),
    assigned AS (
      SELECT event_type, value,
             CAST(to_timestamp(
               (epoch_us(ts) // 1000000 // 1800) * 1800 - k * 1800
             ) AS TIMESTAMP) AS win_start
      FROM shifted
      WHERE (epoch_us(ts) // 1000000 // 1800) * 1800 - k * 1800
            + 3600 > epoch_us(ts) // 1000000
    )
    SELECT event_type,
           win_start,
           COUNT(*) AS n_events,
           {dec_sum_sql("value")} AS sum_value
    FROM assigned
    GROUP BY 1, 2
    """,
)
def q80_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING window aggregation — 1-hour windows every 30 minutes
    (``F.window(ts, "1 hour", "30 minutes")``), completing the
    window-family trio: tumbling (q25/q52), session (q42/q62),
    sliding (here). Each event lands in width/slide = 2 windows; the
    oracle derives the same assignment arithmetically (epoch
    floor-division to the two candidate starts, keeping those whose
    [start, start+1h) contains the event — Spark's windows are
    epoch-aligned, so integer epoch math reproduces them exactly).

    Scale: window assignment is a narrow 2× row expansion (like
    explode), then one map-side-combined shuffle on (type, window) —
    state per group, never per event. The same plan runs under
    ``readStream`` + watermark unchanged.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.window("ts", "1 hour", "30 minutes").alias("w"),
        )
        .agg(
            F.count("*").alias("n_events"),
            dec_sum("value").alias("sum_value"),
        )
        .select(
            "event_type",
            F.col("w.start").alias("win_start"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "q81_first_nth_value",
    oracle="""
    SELECT DISTINCT user_id,
           FIRST_VALUE(event_id) OVER w AS first_event,
           NTH_VALUE(event_id, 2) OVER w AS second_event,
           LAST_VALUE(event_id) OVER w AS last_event
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
)
def q81_first_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``first_value`` / ``nth_value`` / ``last_value`` over an
    explicit unbounded frame — per-user first, second, and last event
    (entry/onboarding/exit analysis). The frame is spelled out
    because the SQL default (RANGE … CURRENT ROW) makes LAST_VALUE
    famously return the current row; both engines get the IDENTICAL
    explicit frame and a total order (ts, event_id).

    Scale: one hash-partitioned window on user_id; DISTINCT collapses
    the per-row window output to one row per user and reuses the same
    partitioning — no second shuffle of event-level data.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return (
        ev.select(
            "user_id",
            F.first("event_id").over(w).alias("first_event"),
            F.nth_value("event_id", 2).over(w).alias("second_event"),
            F.last("event_id").over(w).alias("last_event"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Cohort retention matrix — q141
# ---------------------------------------------------------------------------


def _q141_oracle() -> str:
    wk = "datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7"
    return f"""
    WITH d AS (
      SELECT DISTINCT user_id, {wk} AS week FROM events
    ),
    c AS (
      SELECT user_id, week,
             MIN(week) OVER (PARTITION BY user_id) AS cohort
      FROM d
    ),
    g AS (
      SELECT cohort AS cohort_week,
             week - cohort AS week_offset,
             CAST(COUNT(*) AS BIGINT) AS n_active
      FROM c GROUP BY 1, 2
    ),
    b AS (SELECT cohort_week, n_active AS n_cohort FROM g
          WHERE week_offset = 0)
    SELECT CAST(g.cohort_week AS BIGINT) AS cohort_week,
           CAST(g.week_offset AS BIGINT) AS week_offset,
           g.n_active,
           b.n_cohort,
           CAST(g.n_active * 1000 // b.n_cohort AS BIGINT)
             AS retained_permille
    FROM g JOIN b USING (cohort_week)
    """


@query("q141_retention_cohorts", oracle=_q141_oracle())
def q141_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix over the event stream: users are
    cohorted by their FIRST active week, and each (cohort,
    week-offset) cell counts how many of that cohort were active
    again offset weeks later, with integer-permille retention against
    the cohort's own size — the product-analytics staple (and, for a
    data pipeline, the contributor-churn view of a crawl snapshot).
    Weeks are integer ``epoch-days div 7`` — no engine week-start
    convention (ISO vs locale) can disagree.

    Scale: the raw stream collapses FIRST to distinct
    (user, week) — a map-side-combined dedup that shrinks everything
    downstream to user-weeks; the cohort stamp is a keyed window
    (partitioned by user — hash-parallel, no global window); the
    matrix aggregate is cohort-count-sized and its offset-0 diagonal
    broadcasts back for the permille. Cost tracks distinct
    user-weeks, not events.
    """
    ev = load_table(spark, sf_dir, "events")
    wk = "datediff(cast(ts as date), date'1970-01-01') div 7"
    uw = (
        ev.select("user_id", F.expr(wk).alias("week"))
        .distinct()
        .withColumn(
            "cohort", F.min("week").over(W.partitionBy("user_id"))
        )
    )
    g = (
        uw.groupBy(
            F.col("cohort").cast("long").alias("cohort_week"),
            (F.col("week") - F.col("cohort"))
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("n_active"))
    )
    base = g.filter(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_active").alias("n_cohort")
    )
    return g.join(base, "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "n_cohort",
        F.expr("n_active * 1000 div n_cohort").alias("retained_permille"),
    )
