"""Array / map / lateral / pivot surface (q59–q61, q63, q65–q66):
explode (the UDTF surface), higher-order array and map functions,
native SQL PIVOT, TF-IDF term ranking, and distributed embedding
centroids.

SURVEY.md §2.8 notes the reference has "no map functions, no explode"
— melt (T1) is its only reshaping op — and §2.4 notes pivot-style
conditional aggregation is absent. These are first-class Spark
capabilities a training-data pipeline leans on constantly (token
explosion, embedding math, wide feature matrices), so the engine
exposes them as oracle-checked queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .registry import query


@query(
    "q59_explode_tokens",
    headline=True,
    oracle="""
    SELECT tok, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    WHERE tok <> ''
    GROUP BY tok
    ORDER BY n_occurrences DESC, tok
    LIMIT 20
    """,
)
def q59_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token explosion — ``explode(split(...))``, the LATERAL
    VIEW / UDTF surface the reference lacks entirely (SURVEY §2.8:
    "no explode"; its only reshape is melt, T1). Top-20 corpus
    vocabulary with document frequency, the first step of any
    TF/IDF- or BPE-style pipeline over the ``documents`` table.

    Scale: explode is a narrow transformation — each input row
    expands within its partition, no shuffle until the groupBy, which
    partial-aggregates map-side so the exchange carries one row per
    (partition, token), not one per token occurrence. The top-20 is
    a TakeOrdered over the aggregated set, never a global sort of
    the exploded data.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    return (
        toks.groupBy("tok")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "tok")
        .limit(20)
    )


@query(
    "q60_vector_norms",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           CAST(ROUND(list_sum(list_transform(embedding,
                x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,12)))),
                6) AS DOUBLE) AS sq_norm,
           CAST(ROUND(list_sum(list_transform(embedding,
                x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(28,12)))),
                6) AS DOUBLE) AS sum_comp
    FROM embeddings
    """,
)
def q60_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions — ``transform`` + ``aggregate``
    lambda expressions over the ``embedding`` column, entirely
    JVM-side (no UDF). Computes the squared L2 norm and component
    sum per vector, the primitives under cosine similarity and
    embedding normalization (SURVEY §2.8 absent-list: the reference
    has no array functions beyond ``ANY``/``array_agg``).

    Determinism: each element is cast to DECIMAL(28,12) before the
    fold, so the accumulation is exact and order-independent on both
    engines (the functions/scalar.py convention applied element-wise).

    Scale: pure narrow projection — no shuffle, no state; whole-stage
    codegen keeps the fold in the JVM, and at 100 TB this runs at
    scan speed with column pruning down to (vec_id, embedding).
    """
    zero = F.lit(0).cast("decimal(28,12)")
    emb = load_table(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        "embedding",
        zero,
        lambda acc, x: (
            acc + (x.cast("double") * x.cast("double")).cast("decimal(28,12)")
        ).cast("decimal(28,12)"),
    )
    sm = F.aggregate(
        "embedding",
        zero,
        lambda acc, x: (acc + x.cast("double").cast("decimal(28,12)")).cast(
            "decimal(28,12)"
        ),
    )
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(sq, 6).cast("double").alias("sq_norm"),
        F.round(sm, 6).cast("double").alias("sum_comp"),
    )


@query(
    "q61_sql_pivot",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q61_sql_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native SQL ``PIVOT`` — long→wide reshaping, the inverse of the
    reference's melt (T1, its ONLY reshape op). Order counts by
    priority × status as a wide matrix; the oracle states the same
    contract as portable conditional aggregation (``COUNT(*) FILTER``),
    which is also exactly what Catalyst lowers PIVOT to — one
    aggregation pass, not one scan per output column.

    Scale: single shuffle on o_orderpriority (5 groups); the pivot
    value list is explicit (O/F/P), so no extra distinct-values job
    runs to discover columns — at 100 TB an *implicit* pivot column
    list would cost a full extra scan.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("q61_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COALESCE(st_o, 0) AS n_open,
               COALESCE(st_f, 0) AS n_filled,
               COALESCE(st_p, 0) AS n_pending
        FROM (SELECT o_orderpriority, o_orderstatus FROM q61_orders)
        PIVOT (COUNT(*) FOR o_orderstatus IN ('O' AS st_o, 'F' AS st_f, 'P' AS st_p))
        ORDER BY o_orderpriority
        """
    )


@query(
    "q63_map_functions",
    headline=True,
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS INT) AS hr,
             COUNT(*) AS n
      FROM events
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type,
             COUNT(*) AS n_hours,
             CAST(SUM(n) AS BIGINT) AS total,
             CAST(MAX(CASE WHEN hr = 12 THEN n END) AS BIGINT) AS midday_n
      FROM hourly
      GROUP BY 1
    )
    SELECT h.event_type, t.n_hours, t.total, t.midday_n, h.hr, h.n
    FROM hourly h JOIN tot t USING (event_type)
    WHERE h.n * t.n_hours > t.total
    ORDER BY h.event_type, h.hr
    """,
)
def q63_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed columns end to end — SURVEY §2.8 absent-note: the
    reference has "no map functions". Builds an hour→count map per
    event type (``map_from_entries`` over sorted entries), folds
    ``map_values`` for the total (exact bigint fold), probes
    ``element_at`` for the midday count (null-safe when absent),
    keeps only above-average hours with ``map_filter`` (its lambda
    captures the row's own n_hours/total — integer math, so the
    predicate is scale-adaptive AND engine-exact), and ``explode``\\ s
    the surviving map back to rows. The oracle states the identical
    contract relationally (hourly CTE ⋈ totals).

    Scale: two shuffles (hour rollup, then per-type map build); the
    map is bounded at 24 entries per type so `collect_list` state is
    O(1) per group — maps here are a *row-local* structure, never an
    unbounded aggregation.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hr")
    ).agg(F.count("*").alias("n"))
    asmap = hourly.groupBy("event_type").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("hr", "n")))
        ).alias("by_hr")
    )
    enriched = asmap.select(
        "event_type",
        F.size("by_hr").alias("n_hours"),
        F.aggregate(
            F.map_values("by_hr"),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("total"),
        F.element_at("by_hr", F.lit(12)).alias("midday_n"),
        "by_hr",
    )
    return (
        enriched.select(
            "event_type",
            "n_hours",
            "total",
            "midday_n",
            F.explode(
                F.map_filter(
                    "by_hr",
                    lambda k, v: v * F.col("n_hours") > F.col("total"),
                )
            ).alias("hr", "n"),
        )
        # no trailing orderBy (r14): determinism-only — row order is
        # canonicalized by the driver/oracle comparison (r13 codec
        # precedent); it cost a range exchange + sort
    )


@query(
    "q65_tfidf_top_terms",
    headline=True,
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM toks WHERE tok <> '' GROUP BY 1, 2
    ),
    df AS (
      SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok, tf.tf, df.df,
             tf.tf * (n.n_docs + 1) * 1000000 // (df.df + 1) AS score_micro
      FROM tf JOIN df USING (tok) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id
        ORDER BY tf DESC, df ASC, tok ASC
      ) AS rn
      FROM scored
    )
    SELECT doc_id, tok, tf, df,
           CAST(score_micro AS BIGINT) AS score_micro
    FROM ranked WHERE rn <= 3
    """,
)
def q65_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF term ranking — top-3 terms per document, the canonical
    text-analysis primitive layered on the explode surface (q59).
    Term frequency and document frequency are exact integers; the
    rank orders by (tf desc, df asc, tok) — pure integer/string
    comparisons, engine-identical — and the reported score is the
    log-free idf ratio ``tf·(N+1)/(df+1)`` in exact micro-units
    (integer floor division; ``ln``-based idf would drift by libm
    ulps and is a monotone transform of this ratio at fixed N
    anyway).

    Scale: tf is a map-side-combined groupBy on (doc, token); df
    re-aggregates the *already-compact* tf set; N is a broadcast
    scalar; the per-doc top-3 is a partitioned window — every stage
    hash-partitions, nothing global.
    """
    docs = load_table(spark, sf_dir, "documents")
    # N rides inside the plan as a broadcast 1-row aggregate — no
    # eager driver-side count job, the query stays lazy/single-pass
    n_df = docs.agg(F.count("*").alias("n_docs"))
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    # exact integer score: tf·(N+1)·10⁶ floor-div (df+1) — engine-
    # identical with no float-rounding tie risk (Spark rounds doubles
    # HALF_UP via BigDecimal, DuckDB via float math; they can disagree
    # at 6th-decimal ties, so hashed floats must come from exact
    # decimals — functions/scalar.py convention)
    scored = (
        tf.join(df_, "tok")
        .crossJoin(n_df)
        .withColumn(
            "score_micro",
            F.expr("tf * (n_docs + 1) * 1000000 div (df + 1)").cast("bigint"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("tok")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "tok", "tf", "df", "score_micro")
    )


@query(
    "q66_label_centroids",
    headline=True,
    oracle="""
    WITH comps AS (
      SELECT label,
             generate_subscripts(embedding, 1) AS pos,
             unnest(embedding) AS x
      FROM embeddings
    )
    SELECT label, pos,
           COUNT(*) AS n_vecs,
           CAST(ROUND(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,12))), 6)
                AS DOUBLE) AS sum_comp,
           CAST(ROUND(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,12))), 6)
                AS DOUBLE) / COUNT(*) AS centroid
    FROM comps
    GROUP BY label, pos
    """,
)
def q66_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids — the k-means/class-prototype
    step of a similarity pipeline, computed DISTRIBUTED: ``posexplode``
    flattens vectors to (label, pos, x) so the mean is a plain
    hash-partitioned groupBy over (label, dimension) — never a
    driver-side vector fold, never a ``collect_list`` of whole
    vectors per group (which at 100 TB would hold entire label
    populations in one aggregation buffer).

    Float sums go through DECIMAL(28,12) (functions/scalar.py
    convention, element-wise) so the centroid hash-matches the
    oracle; the final divide is one IEEE op on identical operands.

    Scale: explode is narrow; the single shuffle carries
    (labels × dims) partial aggregates — with map-side combine the
    exchange is O(partitions · labels · dims), independent of row
    count. Reassembly to array<float> (when needed downstream) is
    ``array_agg(x ORDER BY pos)`` over tiny groups.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comps = emb.select(
        "label",
        F.posexplode("embedding").alias("pos0", "x"),
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),  # 1-based like SQL subscripts
        F.col("x").cast("double").alias("x"),
    )
    dec = F.sum(F.col("x").cast("decimal(28,12)"))
    return comps.groupBy("label", "pos").agg(
        F.count("*").alias("n_vecs"),
        F.round(dec, 6).cast("double").alias("sum_comp"),
        (F.round(dec, 6).cast("double") / F.count("*")).alias("centroid"),
    )


@query(
    "q67_variant_json",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def q67_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON through Spark 4's VARIANT type —
    ``parse_json`` → binary variant → typed ``try_variant_get``
    path extraction, the modern upgrade over string-based
    ``get_json_object`` (q14, the reference's F7 JSON surface):
    variant parses each document ONCE into a binary form instead of
    re-parsing the string per path access.

    Scale: at 100 TB the variant column shreds into Parquet with
    per-path statistics (Spark 4 variant shredding), so a filter on
    one JSON path prunes row groups like a real column — a string
    JSON column can never do that. Here: one narrow projection +
    one map-side-combined groupBy on the extracted key.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.try_variant_get(F.parse_json("props"), "$.k", "int").alias(
                "k_val"
            )
        )
        .groupBy("k_val")
        .agg(F.count("*").alias("n_events"))
        .orderBy("k_val")
    )
