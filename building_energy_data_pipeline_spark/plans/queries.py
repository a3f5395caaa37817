"""Oracle-checked query library — the engine's relational surface.

Every capability row from SURVEY.md §2 that is SQL-expressible lives
here as a named :class:`QuerySpec`: a Spark DataFrame program plus the
ANSI-SQL oracle DuckDB runs on the same parquet tables. The driver
hash-compares the two at sf0.01 (see ``__spark_entry__.py``).

Reproducibility rules (see ``functions/scalar.py`` for the why):

- float aggregates go through DECIMAL (``dec_sum``/``dec_avg`` and
  their generated SQL twins) so results are order-independent and
  engine-identical;
- every LIMIT query sorts on a unique tiebreaker;
- set-valued aggregates are sorted (``sort_array``/``list_sort``)
  before stringification;
- timestamps compare under session TZ = UTC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.scalar import dec_avg, dec_avg_sql, dec_sum, dec_sum_sql
from ..schema.sampling import duck_hash_bucket_sql
from ..sources.readers import load_table
from .registry import HEADLINE, QuerySpec, REGISTRY, query

__all__ = ["HEADLINE", "QuerySpec", "REGISTRY", "query"]


# ---------------------------------------------------------------------------
# Aggregation surface (SURVEY §2.4 A1/A5, §2.8 F3/F4)
# ---------------------------------------------------------------------------


@query(
    "q01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dec_sum_sql("l_quantity")} AS sum_qty,
           {dec_sum_sql("l_extendedprice")} AS sum_base_price,
           {dec_sum_sql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
           {dec_sum_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)", scale=8)}
               AS sum_charge,
           {dec_avg_sql("l_quantity")} AS avg_qty,
           {dec_avg_sql("l_extendedprice")} AS avg_price,
           {dec_avg_sql("l_discount")} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    headline=True,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q1-shaped grouped multi-aggregate (A1/A5/F3).

    Scale: one scan, map-side partial agg on 6 groups — shuffle moves
    only 6×|aggs| rows regardless of input size. ``spread_scan``
    (conditional, no-op on multi-split inputs) fans the decimal folds
    across cores when the input is a single row group — 1.9× at
    sf0.1.
    """
    from ..operators.scale import spread_scan

    li = spread_scan(
        load_table(spark, sf_dir, "lineitem"),
        cols=[
            "l_shipdate",
            "l_returnflag",
            "l_linestatus",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
        ],
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity").alias("sum_qty"),
            dec_sum("l_extendedprice").alias("sum_base_price"),
            dec_sum(disc_price).alias("sum_disc_price"),
            dec_sum(disc_price * (1 + F.col("l_tax")), scale=8).alias("sum_charge"),
            dec_avg("l_quantity").alias("avg_qty"),
            dec_avg("l_extendedprice").alias("avg_price"),
            dec_avg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Filters / predicates (SURVEY §2.2 P3/P4/P5)
# ---------------------------------------------------------------------------


@query(
    "q02_filtered_scan",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_returnflag IN ('A', 'R')
      AND l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                         AND TIMESTAMP '1996-12-31 00:00:00'
      AND l_discount > 0.02
    """,
    headline=True,
)
def q02_filtered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list (P4) + time-range (P5) + threshold (P3) conjunctive
    filter with projection — all pushed to the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_returnflag").isin("A", "R")
        & F.col("l_shipdate").between(
            F.to_timestamp(F.lit("1995-01-01 00:00:00")),
            F.to_timestamp(F.lit("1996-12-31 00:00:00")),
        )
        & (F.col("l_discount") > 0.02)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# ---------------------------------------------------------------------------


@query(
    "q03_top_revenue_orders",
    oracle=f"""
    SELECT o.o_orderkey, c.c_name, o.o_orderdate, rev.revenue
    FROM orders o
    JOIN (SELECT l_orderkey,
                 {dec_sum_sql("l_extendedprice * (1 - l_discount)")} AS revenue
          FROM lineitem GROUP BY l_orderkey) rev
      ON o.o_orderkey = rev.l_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY rev.revenue DESC, o.o_orderkey
    LIMIT 10
    """,
    headline=True,
)
def q03_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way equi join (J3) + grouped agg + deterministic top-k (O1/O3).

    Scale: lineitem agg shuffles on l_orderkey; customer is a
    dimension → broadcast (no shuffle of the fact side for that join);
    top-k is a TakeOrdered, never a full sort. ``spread_scan``
    (conditional, keyed on l_orderkey so the revenue groupBy reuses
    the exchange) fans the decimal folds out of a single row group —
    ~2× at sf0.1, no-op on multi-split inputs.
    """
    from ..operators.scale import spread_scan

    li = spread_scan(
        load_table(spark, sf_dir, "lineitem"),
        cols=["l_orderkey", "l_extendedprice", "l_discount"],
        by=["l_orderkey"],
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    rev = li.groupBy("l_orderkey").agg(
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )
    return (
        orders.join(rev, orders.o_orderkey == rev.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("o_orderkey", "c_name", "o_orderdate", "revenue")
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@query(
    "q04_exists_semi_join",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > TIMESTAMP '1998-06-01 00:00:00')
    """,
)
def q04_exists_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left-semi join (J1/J2 family: the idempotent-load
    overlap gate shape, ``data_loader.py:377-429``)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    recent = li.filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1998-06-01 00:00:00"))
    )
    return orders.join(
        recent, orders.o_orderkey == recent.l_orderkey, "left_semi"
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


@query(
    "q05_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
    """,
)
def q05_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN / NOT EXISTS → left-anti join (J7,
    ``postgres_manager.py:1064-1075``): customers with no 1998+ order.
    (Unfiltered anti-join is degenerate — every customer has *some*
    order at sf≥0.01.)"""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.to_timestamp(F.lit("1998-01-01 00:00:00"))
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_acctbal")


@query(
    "q06_nation_customer_rollup",
    oracle=f"""
    SELECT n.n_name,
           COUNT(c.c_custkey) AS n_customers,
           {dec_sum_sql("c.c_acctbal")} AS total_acctbal,
           array_to_string(
               list_sort(list(DISTINCT c.c_mktsegment)
                         FILTER (WHERE c.c_mktsegment IS NOT NULL)),
               ', ') AS segments
    FROM nation n
    LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q06_nation_customer_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join + grouped agg + distinct string aggregation
    (J4/A3/A6: ``array_agg(DISTINCT ...)`` / ``string_agg`` →
    ``sort_array(collect_set)`` + ``array_join``)."""
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    return (
        nation.join(cust, cust.c_nationkey == nation.n_nationkey, "left")
        .groupBy("n_name")
        .agg(
            F.count("c_custkey").alias("n_customers"),
            dec_sum("c_acctbal").alias("total_acctbal"),
            F.array_join(F.sort_array(F.collect_set("c_mktsegment")), ", ").alias(
                "segments"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Windows (SURVEY §2.5 — the engine's upgrade over chunk-local pandas)
# ---------------------------------------------------------------------------


@query(
    "q07_event_gaps",
    oracle="""
    SELECT event_id, user_id, event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
               (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap_us
    FROM events
    """,
)
def q07_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() window over per-user event time — the A9 monotonicity
    primitive (reference computes chunk-local in pandas; we compute a
    true partitioned window)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        (us - F.lag(us).over(w)).alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# Reshaping (SURVEY §2.9 T1 — melt/unpivot)
# ---------------------------------------------------------------------------


@query(
    "q08_unpivot_metrics",
    oracle=f"""
    WITH lu AS (
        SELECT 'l_quantity' AS metric, l_quantity AS val FROM lineitem
        UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
    SELECT metric, COUNT(*) AS n_vals,
           {dec_sum_sql("val")} AS sum_val,
           MIN(val) AS min_val, MAX(val) AS max_val
    FROM lu GROUP BY metric
    """,
    headline=True,
)
def q08_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (T1, the reference's melt
    ``data_transformer.py:169-211``) + per-metric profile.

    ``spread_scan`` (conditional) parallelizes the unpivot + decimal
    folds when the input is a single row group."""
    from ..operators.scale import spread_scan

    li = spread_scan(
        load_table(spark, sf_dir, "lineitem"),
        cols=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )
    lu = li.unpivot(
        [],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "val",
    )
    return lu.groupBy("metric").agg(
        F.count("*").alias("n_vals"),
        dec_sum("val").alias("sum_val"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )


# ---------------------------------------------------------------------------
# Null-safe theta join (SURVEY §2.3 J5) and cross join (J8)
# ---------------------------------------------------------------------------


@query(
    "q09_nullsafe_pair_join",
    oracle="""
    SELECT a.c_nationkey AS nationkey, COUNT(*) AS n_pairs
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey
     AND nullif(a.c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM
         nullif(b.c_mktsegment, 'BUILDING')
     AND a.c_custkey < b.c_custkey
    GROUP BY a.c_nationkey
    """,
    headline=True,
)
def q09_nullsafe_pair_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe theta self-join (J5: the reference's 9-way
    ``IS NOT DISTINCT FROM`` lock join, ``postgres_manager.py:847-876``)
    → ``eqNullSafe`` + ``<`` residual, aggregated to pair counts."""
    cust = load_table(spark, sf_dir, "customer")
    seg = F.expr("nullif(c_mktsegment, 'BUILDING')")
    a = cust.select(
        F.col("c_custkey").alias("a_key"),
        F.col("c_nationkey").alias("nationkey"),
        seg.alias("a_seg"),
    )
    b = cust.select(
        F.col("c_custkey").alias("b_key"),
        F.col("c_nationkey").alias("b_nat"),
        seg.alias("b_seg"),
    )
    return (
        a.join(
            b,
            (a.nationkey == b.b_nat)
            & a.a_seg.eqNullSafe(b.b_seg)
            & (a.a_key < b.b_key),
        )
        .groupBy("nationkey")
        .agg(F.count("*").alias("n_pairs"))
    )


@query(
    "q10_cross_join_constants",
    oracle=f"""
    WITH stats AS (SELECT {dec_avg_sql("l_extendedprice")} AS avg_price,
                          COUNT(*) AS n_items
                   FROM lineitem)
    SELECT r.r_name, s.avg_price, s.n_items
    FROM region r CROSS JOIN stats s
    """,
)
def q10_cross_join_constants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join with a scalar-aggregate CTE (J8: constants × stats,
    ``postgres_manager.py:965,991``) — a 1-row broadcast, no shuffle."""
    region = load_table(spark, sf_dir, "region")
    li = load_table(spark, sf_dir, "lineitem")
    stats = li.agg(
        dec_avg("l_extendedprice").alias("avg_price"),
        F.count("*").alias("n_items"),
    )
    return region.crossJoin(stats).select(
        "r_name", "avg_price", "n_items"
    )


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.7 U1/U3)
# ---------------------------------------------------------------------------


@query(
    "q11_union_halves",
    oracle="""
    WITH u AS (
        SELECT o_orderpriority AS pri, 'h1' AS half FROM orders
        WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        UNION ALL
        SELECT o_orderpriority, 'h2' FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00')
    SELECT pri, half, COUNT(*) AS n FROM u GROUP BY pri, half
    """,
)
def q11_union_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of filtered projections + grouped count (U1,
    ``postgres_manager.py:1067,1076``)."""
    orders = load_table(spark, sf_dir, "orders")
    cut = F.to_timestamp(F.lit("1996-01-01 00:00:00"))
    h1 = orders.filter(F.col("o_orderdate") < cut).select(
        F.col("o_orderpriority").alias("pri"), F.lit("h1").alias("half")
    )
    h2 = orders.filter(F.col("o_orderdate") >= cut).select(
        F.col("o_orderpriority").alias("pri"), F.lit("h2").alias("half")
    )
    return h1.unionByName(h2).groupBy("pri", "half").agg(F.count("*").alias("n"))


@query(
    "q12_nation_key_set_ops",
    oracle="""
    SELECT nationkey, 'customer_only' AS src FROM
        (SELECT c_nationkey AS nationkey FROM customer
         EXCEPT
         SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT nationkey, 'both' AS src FROM
        (SELECT c_nationkey AS nationkey FROM customer
         INTERSECT
         SELECT s_nationkey FROM supplier)
    """,
)
def q12_nation_key_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT / INTERSECT distinct-set semantics (U3: ``NOT IN`` →
    anti, ``postgres_manager.py:1066,1075``)."""
    cust_n = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp_n = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    only = cust_n.distinct().subtract(supp_n.distinct()).withColumn(
        "src", F.lit("customer_only")
    )
    both = cust_n.intersect(supp_n).withColumn("src", F.lit("both"))
    return only.unionByName(both)


# ---------------------------------------------------------------------------
# Rollup / grouping sets (free in Spark per SURVEY §2.4 note)
# ---------------------------------------------------------------------------


@query(
    "q13_regional_rollup",
    oracle=f"""
    SELECT CAST(GROUPING(r_name) AS INTEGER) AS g_region,
           CAST(GROUPING(n_name) AS INTEGER) AS g_nation,
           r_name, n_name,
           COUNT(*) AS n_cust,
           {dec_sum_sql("c_acctbal")} AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    """,
)
def q13_regional_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals with GROUPING flags — absent from the
    reference (SURVEY §2.4 'come free in Spark'), exposed natively."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = cust.join(
        nation, cust.c_nationkey == nation.n_nationkey
    ).join(region, nation.n_regionkey == region.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.grouping("r_name").cast("int").alias("g_region"),
        F.grouping("n_name").cast("int").alias("g_nation"),
        F.count("*").alias("n_cust"),
        dec_sum("c_acctbal").alias("total_bal"),
    )


# ---------------------------------------------------------------------------
# Scalar function families (SURVEY §2.8)
# ---------------------------------------------------------------------------


@query(
    "q14_json_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(json_extract_string(props, '$.k')) AS n_with_k
    FROM events
    GROUP BY event_type
    """,
)
def q14_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction + aggregation (F7:
    ``json_build_object``/``json_agg`` surface,
    ``data_loader.py:400-425``) via ``get_json_object``."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count(k).alias("n_with_k")
    )


@query(
    "q15_string_functions",
    oracle="""
    SELECT p_partkey,
           lower(p_name) AS name_lc,
           length(p_name) AS name_len,
           concat_ws('|', p_brand, p_type) AS brand_type,
           replace(p_type, ' ', '_') AS type_snake,
           substr(p_name, 1, 5) AS name5,
           regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowel
    FROM part
    WHERE p_name LIKE '%el%' OR p_type NOT LIKE '%BRASS%'
    """,
)
def q15_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family F1: lower/length/concat_ws/replace/substr/
    regexp_replace + LIKE / NOT LIKE predicates (P6)."""
    part = load_table(spark, sf_dir, "part")
    return part.filter(
        F.col("p_name").like("%el%") | ~F.col("p_type").like("%BRASS%")
    ).select(
        "p_partkey",
        F.lower("p_name").alias("name_lc"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.substring("p_name", 1, 5).alias("name5"),
        F.regexp_replace("p_name", "[aeiou]", "").alias("name_novowel"),
    )


@query(
    "q16_monthly_orders",
    oracle=f"""
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
           COUNT(*) AS n_orders,
           {dec_sum_sql("o_totalprice")} AS month_total,
           MIN(o_orderdate) AS first_order,
           MAX(o_orderdate) AS last_order
    FROM orders
    GROUP BY 1
    """,
)
def q16_monthly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time family F2: date_trunc bucketing + temporal min/max
    (the reference's batch time-bounds A1, ``data_loader.py:345-346``)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_trunc("month", F.col("o_orderdate")).alias("order_month")
        )
        .agg(
            F.count("*").alias("n_orders"),
            dec_sum("o_totalprice").alias("month_total"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )
    )


@query(
    "q17_try_cast_coercion",
    oracle="""
    SELECT doc_id,
           TRY_CAST(substr(source, 4) AS INTEGER) AS src_num,
           COALESCE(TRY_CAST(lang AS INTEGER), -1) AS lang_num,
           GREATEST(n_chars, 100) AS chars_floor,
           ROUND(n_chars / 7.0, 2) AS approx_tokens
    FROM documents
    """,
)
def q17_try_cast_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coerce-to-null casts (T5/F5: pandas ``to_numeric(errors=
    'coerce')`` → ``try_cast``, ``data_loader.py:551-579``) +
    COALESCE/GREATEST/ROUND (F3/F4)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr("substr(source, 4)").try_cast("int").alias("src_num"),
        F.coalesce(F.col("lang").try_cast("int"), F.lit(-1)).alias("lang_num"),
        F.greatest(F.col("n_chars"), F.lit(100)).alias("chars_floor"),
        F.round(F.col("n_chars") / 7.0, 2).alias("approx_tokens"),
    )


@query(
    "q18_conditional_ratio",
    oracle=f"""
    SELECT l_suppkey,
           {dec_sum_sql("CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END")}
             / GREATEST({dec_sum_sql("l_quantity")}, 1.0) AS return_ratio,
           COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY l_suppkey
    """,
)
def q18_conditional_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-guarded conditional aggregate + GREATEST-floored ratio
    (P8/A5/F4: the null-safe cache-hit ratio shape,
    ``postgres_manager.py:821-823,896-920``)."""
    li = load_table(spark, sf_dir, "lineitem")
    returned = dec_sum(
        F.when(F.col("l_returnflag") == "R", F.col("l_quantity")).otherwise(0.0)
    )
    total = dec_sum("l_quantity")
    return li.groupBy("l_suppkey").agg(
        (returned / F.greatest(total, F.lit(1.0))).alias("return_ratio"),
        F.count("*").alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# Profiling aggregates (SURVEY §2.4 A4/A9 — schema-stats primitives)
# ---------------------------------------------------------------------------


@query(
    "q19_column_stats",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(p_type) AS n_type,
           COUNT(DISTINCT p_type) AS n_distinct_type,
           COUNT(DISTINCT p_brand) AS n_distinct_brand,
           CAST(COUNT(DISTINCT p_type) AS DOUBLE) / COUNT(*) AS type_ratio
    FROM part
    """,
)
def q19_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profile: count / distinct-count /
    unique-ratio (A4, ``schema_analyzer.py:74-82``) — the primitive
    behind the schema-inference stats job."""
    part = load_table(spark, sf_dir, "part")
    return part.agg(
        F.count("*").alias("n_rows"),
        F.count("p_type").alias("n_type"),
        F.countDistinct("p_type").alias("n_distinct_type"),
        F.countDistinct("p_brand").alias("n_distinct_brand"),
        (F.countDistinct("p_type").cast("double") / F.count("*")).alias("type_ratio"),
    )


@query(
    "q20_monotonicity_check",
    oracle="""
    WITH g AS (
        SELECT user_id,
               CAST(ts AS TIMESTAMP) AS uts,
               lag(CAST(ts AS TIMESTAMP)) OVER
                   (PARTITION BY user_id ORDER BY event_id) AS prev_ts
        FROM events)
    SELECT user_id,
           CAST(MAX(CASE WHEN prev_ts > uts THEN 1 ELSE 0 END) AS INTEGER)
               AS has_regression,
           COUNT(*) AS n_events
    FROM g GROUP BY user_id
    """,
)
def q20_monotonicity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """is_monotonic column property (A9, ``schema_analyzer.py:87-88``)
    as a true partitioned lag-window instead of pandas."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("event_id")
    prev = F.lag("ts").over(w)
    return (
        ev.select("user_id", "ts", prev.alias("prev_ts"))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("prev_ts") > F.col("ts"), 1).otherwise(0)
            )
            .cast("int")
            .alias("has_regression"),
            F.count("*").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Sorts / limits / pagination / sampling (SURVEY §2.6, §2.9 T7)
# ---------------------------------------------------------------------------


@query(
    "q21_topk_per_group",
    oracle="""
    WITH r AS (
        SELECT c_mktsegment, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders JOIN customer ON o_custkey = c_custkey)
    SELECT c_mktsegment, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
    FROM r WHERE rn <= 3
    """,
)
def q21_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ranked window — the O1 ORDER-BY-DESC family
    generalized; deterministic tiebreak on the unique key."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    w = W.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        joined.select(
            "c_mktsegment",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "q22_pagination",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10 OFFSET 100
    """,
)
def q22_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFFSET/LIMIT pagination (O4, ``data_loader.py:777-787``) as a
    global-rank filter — computed with the SCALABLE index operator
    (``operators/scale.global_row_index``: range-partition →
    partitioned window → broadcast offsets), not a single-partition
    window; no task ever sees more than one range slice. For
    page-serving at 100 TB, keyset pagination (WHERE sortkey >
    last_seen) remains the O(page) alternative."""
    from ..operators.scale import global_row_index

    orders = load_table(spark, sf_dir, "orders")
    idx = global_row_index(
        orders.select("o_orderkey", "o_totalprice"),
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        "rn",
    )
    return (
        idx.filter((F.col("rn") > 100) & (F.col("rn") <= 110))
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "q23_systematic_sample",
    oracle="""
    WITH s AS (SELECT o_orderkey, o_totalprice,
                      row_number() OVER (ORDER BY o_orderkey) AS rn
               FROM orders)
    SELECT o_orderkey, o_totalprice FROM s WHERE (rn - 1) % 50 = 0
    """,
)
def q23_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic every-k-th sampling (T7,
    ``sampling_strategies.py:156-210``) — deterministic, so
    oracle-checkable (unlike Bernoulli ``df.sample`` whose RNG can't
    match DuckDB). Rank comes from the scalable
    ``global_row_index`` (see q22), not a single-partition window."""
    from ..operators.scale import global_row_index

    orders = load_table(spark, sf_dir, "orders")
    idx = global_row_index(
        orders.select("o_orderkey", "o_totalprice"), ["o_orderkey"], "rn"
    )
    return (
        idx.filter(F.pmod(F.col("rn") - 1, F.lit(50)) == 0)
        .select("o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Normalization & time-bucketed rollup (SURVEY §2.9 T2, §2.5)
# ---------------------------------------------------------------------------


@query(
    "q24_minmax_normalize",
    oracle="""
    SELECT event_id, event_type,
           CASE WHEN (max(value) OVER w) > (min(value) OVER w)
                THEN (value - min(value) OVER w)
                     / ((max(value) OVER w) - (min(value) OVER w))
           END AS normalized_value
    FROM events
    WINDOW w AS (PARTITION BY event_type)
    """,
)
def q24_minmax_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max normalization (T2, ``data_transformer.py:139-167``)
    with GLOBAL per-group bounds via an unbounded window — fixing the
    reference's chunk-local-bounds bug (SURVEY §2.5). Division of
    identical doubles → engine-identical, no decimal needed."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type")
    lo, hi = F.min("value").over(w), F.max("value").over(w)
    return ev.select(
        "event_id",
        "event_type",
        F.when(hi > lo, (F.col("value") - lo) / (hi - lo)).alias("normalized_value"),
    )


@query(
    "q25_hourly_rollup",
    oracle=f"""
    SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour_bucket,
           event_type,
           COUNT(*) AS n_events,
           {dec_sum_sql("value")} AS total_value,
           {dec_avg_sql("value")} AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
    headline=True,
)
def q25_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The building-energy flagship shape (SURVEY §7 minimum slice):
    time-bucketed per-type aggregate over the event fact stream —
    the batch twin of the streaming tumbling-window rollup (§2.11)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_bucket"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            dec_sum("value").alias("total_value"),
            dec_avg("value").alias("avg_value"),
        )
    )


@query(
    "q78_random_sample",
    oracle=f"""
    WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
    stats AS (
      SELECT COUNT(*) AS total, MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx
      FROM base
    )
    SELECT o_orderkey, o_totalprice
    FROM base, stats
    WHERE total <= 100
       OR ({duck_hash_bucket_sql("o_orderkey")}) * total
          < (GREATEST(2, LEAST(100, 100000, total // 200)) - 2) * 1000000
       OR o_orderkey IN (mn, mx)
    """,
)
def q78_random_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 random sampling (``sampling_strategies.py:45-153``) through
    the driver contract — the DETERMINISTIC md5-bucket form
    (``schema/sampling.hash_random_sample``), so DuckDB replays the
    exact predicate and the driver gets a full value-hash oracle
    (upgraded from round 1-2's rows-only seeded-RNG variant; the
    seed-42 ``df.sample`` path remains the library alternate,
    ``schema/sampling.random_sample``). The reference's
    keep-first-and-last-row contract (``sampling_strategies.py:79-81``)
    and cap chain (n / MAX_ROWS / ratio·total) are preserved.

    Scale: one count + tiny min/max broadcast, then a narrow
    md5-bucket filter — the fact table never shuffles.
    """
    from ..schema.sampling import hash_random_sample

    orders = load_table(spark, sf_dir, "orders")
    return hash_random_sample(
        orders.select("o_orderkey", "o_totalprice"), "o_orderkey", n=100
    )


@query(
    "q79_stratified_sample",
    oracle=f"""
    WITH sized AS (
      SELECT c_custkey, c_mktsegment,
             COUNT(*) OVER (PARTITION BY c_mktsegment) AS sz,
             (SELECT GREATEST(1, 100 // COUNT(DISTINCT c_mktsegment))
              FROM customer) AS quota
      FROM customer
    )
    SELECT c_custkey, c_mktsegment
    FROM sized
    WHERE ({duck_hash_bucket_sql("c_custkey")}) * sz < quota * 1000000
    """,
)
def q79_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 stratified sampling (``sampling_strategies.py:213-313``) —
    the DETERMINISTIC md5-bucket form
    (``schema/sampling.hash_stratified_sample``): per-stratum quota
    ``max(1, n // #strata)`` as an integer-exact bucket predicate
    DuckDB replays verbatim (upgraded from rows-only; seeded
    ``sampleBy`` remains the library alternate).

    Scale: stratum sizes from one map-side-combined groupBy broadcast
    into a narrow filter join — the fact table itself never shuffles.
    """
    from ..schema.sampling import hash_stratified_sample

    cust = load_table(spark, sf_dir, "customer")
    return hash_stratified_sample(
        cust.select("c_custkey", "c_mktsegment"), "c_mktsegment",
        "c_custkey", n=100,
    )


def _q163_oracle() -> str:
    from ..schema.sampling import duck_weighted_reservoir_sql

    return duck_weighted_reservoir_sql(
        "SELECT o_orderkey, o_totalprice FROM orders",
        "o_orderkey", "o_totalprice", 100,
    )


@query("q163_weighted_reservoir", oracle=_q163_oracle())
def q163_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sampling (A-Res, Efraimidis & Spirtes 2006;
    ``schema/sampling.weighted_reservoir_sample``): a 100-row sample
    of orders where selection probability tracks ``o_totalprice`` —
    the quality-weighted / importance-weighted corpus-sampling
    primitive (upsample high-value documents without a full sort or
    a second pass). Completes the sampling family: uniform q78,
    stratified q79, systematic q23, now weighted.

    Scale: priorities are a map-only projection; the top-n compiles
    to TakeOrderedAndProject — per-partition heaps of 100 rows, a
    driver merge of #partitions·100 candidates, the fact table never
    shuffles. Priorities are mergeable across streams (max-heap
    union), so the same operator runs incrementally over batches.

    Determinism: integer md5 uniforms + ``ln`` verified bit-identical
    across both engines on the real data; membership AND ordering are
    pinned (``priority_floor``).
    """
    from ..schema.sampling import weighted_reservoir_sample

    orders = load_table(spark, sf_dir, "orders")
    return weighted_reservoir_sample(
        orders.select("o_orderkey", "o_totalprice"),
        "o_orderkey", "o_totalprice", n=100,
    )
