"""Extended operator queries (q36+): as-of join, embedding near-dup,
exact percentiles, join-USING with theta residual, JSON batch bounds.

These close the SURVEY §2 rows not yet exercised by q01–q35 (J6, A2,
F8) and add the two §7 extension operators the reference conspicuously
lacks: time-series as-of alignment (SURVEY §2.3 "absent" note) and
embedding-space near-duplicate detection (BASELINE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import scale, similarity
from ..operators.asof import asof_join
from ..sources.readers import load_table
from .registry import query


@query(
    "q36_asof_join",
    oracle="""
    SELECT l.event_id, l.user_id, l.ts, l.value,
           r.ts AS prior_error_ts,
           r.event_id AS prior_error_id,
           epoch_us(l.ts) - epoch_us(r.ts) AS lag_us
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'error') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    headline=True,
)
def q36_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click aligned to the user's most recent prior
    error (inclusive). Oracle is DuckDB's native ASOF JOIN; the Spark
    plan is the union–sort–carry-forward operator
    (``operators/asof.py``) — one shuffle, no range-join pair blowup.

    ``right_unique=True``: (user_id, ts) is unique among error events
    at every shipped SF (verified 0 duplicate pairs at sf0.001/0.01/
    0.1), so the deterministic tie-break struct is skippable — it
    cost +38% on this bench entry (VERDICT r4 #6). Note ties would
    make DuckDB's own ASOF pick arbitrary too: uniqueness is what
    makes this query oracle-checkable at all, tie-break or not.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id"
    )
    out = asof_join(
        clicks,
        errors,
        on=["user_id"],
        right_prefix="prior_error_",
        right_unique=True,
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.col("prior_error_ts"),
        F.col("prior_error_event_id").alias("prior_error_id"),
        (F.unix_micros("ts") - F.unix_micros("prior_error_ts")).alias("lag_us"),
    )


NEARDUP_MIN_COS = 0.45


def _neardup_oracle() -> str:
    cos = (
        f"{similarity.duck_dot_sql('a.embedding', 'b.embedding')}"
        f" / ({similarity.duck_norm_sql('a.embedding')}"
        f" * {similarity.duck_norm_sql('b.embedding')})"
    )
    return f"""
    SELECT * FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round({cos}, 6) AS cos
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ) WHERE cos >= {NEARDUP_MIN_COS}
    """


@query("q37_embedding_neardup", oracle=_neardup_oracle())
def q37_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact, O(n²) pair scan).

    This is the recall-1 verifier; at corpus scale the pair space is
    first blocked by IVF buckets (q35's assignment) or LSH — the
    verify expression is this one either way.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # spread the STREAM side: the theta join is a broadcast
    # nested-loop, and a single-file corpus otherwise runs every one
    # of the O(n²) interpreted cosine folds on ONE task — measured 9×
    # on sf0.1. Conditional (scale.spread_scan): a multi-split corpus
    # skips the exchange. The broadcast side stays unpartitioned.
    a = scale.spread_scan(emb, by=["vec_id"]).select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        F.expr(similarity.norm_expr("embedding")).alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        F.expr(similarity.norm_expr("embedding")).alias("nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos",
            F.round(F.expr(similarity.cosine_expr("va", "vb", "na", "nb")), 6),
        )
        .filter(F.col("cos") >= NEARDUP_MIN_COS)
        .select("id_a", "id_b", "cos")
    )


@query(
    "q38_percentiles_by_type",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           round(quantile_cont(value, 0.5), 4) AS p50_value,
           round(quantile_cont(value, 0.9), 4) AS p90_value
    FROM events
    GROUP BY event_type
    """,
)
def q38_percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group — absent from the
    reference (SURVEY §2.4: 'no median/percentile'), free in Spark.
    ``percentile`` is the exact (sort-based) form; swap for
    ``percentile_approx`` (t-digest, one pass, mergeable) at 100 TB.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50_value"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90_value"),
    )


@query(
    "q39_user_journey_drift",
    oracle="""
    WITH firsts AS (
      SELECT user_id, arg_min(event_type, ts) AS first_type
      FROM events GROUP BY user_id),
    lasts AS (
      SELECT user_id, arg_max(event_type, ts) AS last_type
      FROM events GROUP BY user_id)
    SELECT user_id, first_type, last_type,
           printf('%s->%s', first_type, last_type) AS journey
    FROM firsts JOIN lasts USING (user_id)
    WHERE first_type != last_type
    """,
)
def q39_user_journey_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join USING + theta residual (J6: the reference's schema-diff
    shape, ``postgres_manager.py:1083-1085``) + printf formatting
    (F8), over per-user first/last event types (min_by/max_by).
    """
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.expr("min_by(event_type, ts)").alias("first_type")
    )
    lasts = ev.groupBy("user_id").agg(
        F.expr("max_by(event_type, ts)").alias("last_type")
    )
    return (
        firsts.join(lasts, "user_id")
        .filter(F.col("first_type") != F.col("last_type"))
        .select(
            "user_id",
            "first_type",
            "last_type",
            F.format_string("%s->%s", "first_type", "last_type").alias(
                "journey"
            ),
        )
    )


@query(
    "q40_batch_bounds_json",
    oracle="""
    SELECT to_json(struct_pack(
             start_time := strftime(MIN(ts), '%Y-%m-%d %H:%M:%S'),
             end_time := strftime(MAX(ts), '%Y-%m-%d %H:%M:%S'),
             n_rows := COUNT(*)))::VARCHAR AS bounds
    FROM events
    """,
)
def q40_batch_bounds_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/F7: the overlap gate's scalar-aggregate JSON summary
    (``json_build_object`` over MIN/MAX bounds,
    ``data_loader.py:400-416``) as ``to_json(struct(...))``."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.to_json(
            F.struct(
                F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                    "start_time"
                ),
                F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                    "end_time"
                ),
                F.count("*").alias("n_rows"),
            )
        ).alias("bounds")
    )


@query(
    "q158_approx_quantile_bound",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           round(quantile_cont(value, 0.5), 4) AS p50_exact,
           TRUE AS within_bound
    FROM events
    GROUP BY event_type
    """,
)
def q158_approx_quantile_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-quantile sketch with an oracle-pinned error bound —
    the quantile member of the sketch family (HLL distinct q51,
    count-min frequencies q156): per group, the one-pass mergeable
    ``percentile_approx`` (accuracy=100 → rank error ε ≤ 1 %) must
    land between the exact 0.45 and 0.55 quantiles (5×ε margin,
    q51's convention). The oracle states ``within_bound = TRUE`` and
    hash-compares the exact median alongside — a sketch regression
    flips the flag and fails the hash, without asking two engines to
    agree on sketch internals.

    Scale: the exact percentiles here are the AUDIT side; production
    keeps only the approx aggregate — single pass, fixed-size
    mergeable state per group, no sort — which is the point of
    shipping the bound check as a first-class query.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50_exact"),
        F.expr(
            "approx_percentile(value, 0.5, 100)"
            " between percentile(value, 0.45) and percentile(value, 0.55)"
        ).alias("within_bound"),
    )
