"""OLAP-surface queries (q45+): multi-dimensional aggregation
(ROLLUP / CUBE / GROUPING SETS), bin-bucketed range join, set
operators (INTERSECT / EXCEPT), top-k with ties, and the
approximate-distinct scale path.

SURVEY.md §2.4 notes the reference issues *no* grouping
sets/cube/rollup, §2.6 no top-k-with-ties, and §2.7 no
INTERSECT/EXCEPT — "all come free in Spark if we expose them". This
module exposes them as first-class, oracle-checked capabilities, plus
the range join the reference also lacks (§2.3 absent-list).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.scalar import dec_avg, dec_avg_sql, dec_sum, dec_sum_sql
from ..operators import scale
from ..operators.rangejoin import point_in_interval_join
from ..sources.readers import load_table
from .registry import query


@query(
    "q45_rollup_acctbal",
    oracle=f"""
    SELECT r_name, n_name,
           GROUPING(r_name, n_name) AS gid,
           COUNT(*) AS n_cust,
           {dec_sum_sql("c_acctbal")} AS sum_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    headline=True,
)
def q45_rollup_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP region → nation → grand total in ONE pass
    (hierarchical subtotals; absent from the reference, SURVEY §2.4).

    Scale: both dimension joins broadcast (nation 25 / region 5
    rows); the rollup is a single shuffle on the grouping-set-expanded
    keys — no per-level re-aggregation.
    """
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_cust"),
            dec_sum("c_acctbal").alias("sum_acctbal"),
        )
        .select("r_name", "n_name", "gid", "n_cust", "sum_acctbal")
    )


@query(
    "q46_cube_orders",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus, o_orderpriority) AS gid,
           COUNT(*) AS n_orders,
           {dec_sum_sql("o_totalprice")} AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q46_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 2² marginal totals in one
    aggregation pass (absent from the reference, SURVEY §2.4)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_orders"),
            dec_sum("o_totalprice").alias("sum_price"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n_orders", "sum_price")
    )


@query(
    "q47_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           COUNT(*) AS n_items,
           {dec_avg_sql("l_quantity")} AS avg_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def q47_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the SQL front door
    (``spark.sql`` — Catalyst parses/plans it natively), demonstrating
    the engine's full SQL surface alongside the DataFrame API."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("q47_lineitem")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               grouping_id(l_returnflag, l_linestatus) AS gid,
               COUNT(*) AS n_items,
               CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(28,6))), 4) AS DOUBLE)
                   / COUNT(l_quantity) AS avg_qty
        FROM q47_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


#: price bands for q48 — irregular on purpose (spans 100–600, so a
#: 100-wide bin maps each interval to 2–7 buckets)
_BANDS = [
    ("budget", 800.0, 1000.0),
    ("value", 1000.0, 1150.0),
    ("mid", 1150.0, 1400.0),
    ("premium", 1400.0, 1500.0),
    ("luxury", 1500.0, 2100.0),
]


@query(
    "q48_range_join_bands",
    oracle=f"""
    SELECT band, {dec_avg_sql("p_retailprice")} AS avg_price,
           COUNT(*) AS n_parts
    FROM part
    JOIN (VALUES {", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _BANDS)})
         bands(band, lo, hi)
      ON p_retailprice >= lo AND p_retailprice < hi
    GROUP BY band
    """,
    headline=True,
)
def q48_range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join via bin bucketing
    (``operators/rangejoin.py``): parts priced into irregular bands.

    Scale: the naive plan for a pure range predicate is
    BroadcastNestedLoopJoin — O(points×intervals). Binning restores a
    hash-join shape: cost is points + intervals·(span/bin) + matches,
    and the bin key shuffles/broadcasts like any equi-join.
    """
    part = load_table(spark, sf_dir, "part")
    bands = scale.local_frame(spark, _BANDS, "band string, lo double, hi double")
    joined = point_in_interval_join(
        part.select("p_partkey", "p_retailprice"),
        "p_retailprice",
        bands,
        "lo",
        "hi",
        bin_width=100.0,
    )
    return joined.groupBy("band").agg(
        dec_avg("p_retailprice").alias("avg_price"),
        F.count("*").alias("n_parts"),
    )


@query(
    "q49_nation_intersect_except",
    oracle="""
    SELECT 'both' AS tag, k FROM
      (SELECT c_nationkey AS k FROM customer
       INTERSECT SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'customer_only' AS tag, k FROM
      (SELECT c_nationkey AS k FROM customer
       EXCEPT SELECT s_nationkey FROM supplier)
    """,
)
def q49_nation_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set operators (absent from the reference's
    issued SQL, SURVEY §2.7): nations with both customers and
    suppliers vs customer-only nations."""
    cust_k = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("int").alias("k")
    )
    supp_k = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("int").alias("k")
    )
    both = cust_k.intersect(supp_k).select(F.lit("both").alias("tag"), "k")
    # subtract = EXCEPT DISTINCT (set semantics); exceptAll would be
    # bag difference and leave surplus duplicate keys behind
    only = cust_k.subtract(supp_k).select(F.lit("customer_only").alias("tag"), "k")
    return both.unionByName(only)


@query(
    "q50_topk_with_ties",
    oracle="""
    SELECT * FROM (
      SELECT n_nationkey AS nationkey, c_custkey, c_acctbal,
             rank() OVER (PARTITION BY n_nationkey
                          ORDER BY round(c_acctbal, 0) DESC) AS rnk
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      WHERE n_regionkey < 2
    ) WHERE rnk <= 3
    """,
)
def q50_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k WITH ties (``rank() <= k``; SURVEY §2.6 notes the
    reference has none): top-3 rounded account balances per nation,
    ties all kept. Window sort is per-partition after one shuffle on
    the partition key."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") < 2)
    w = W.partitionBy("n_nationkey").orderBy(F.round("c_acctbal", 0).desc())
    return (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .select(
            F.col("n_nationkey").alias("nationkey"),
            "c_custkey",
            "c_acctbal",
            F.rank().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
    )


#: order-independent AVG threshold (see functions/scalar.dec_avg)
_AVG_BAL = (
    "CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(28,6))), 4) AS DOUBLE)"
    " / COUNT(c_acctbal)"
)
_AVG_PRICE = (
    "CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 4) AS DOUBLE)"
    " / COUNT(o_totalprice)"
)

_Q55_SQL = f"""
    SELECT c_custkey, c_acctbal
    FROM {{cust}}
    WHERE c_acctbal > (SELECT {_AVG_BAL} FROM {{cust}})
      AND EXISTS (
        SELECT 1 FROM {{orders}} o
        WHERE o.o_custkey = c_custkey
          AND o.o_totalprice > (SELECT {_AVG_PRICE} FROM {{orders}})
      )
"""


@query(
    "q55_correlated_subqueries",
    oracle=_Q55_SQL.format(cust="customer", orders="orders"),
)
def q55_correlated_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar + correlated-EXISTS subqueries through the SQL front
    door — the reference ships every subquery to PostgreSQL
    (``postgres_manager.py:388-416``); here Catalyst decorrelates the
    EXISTS to a left-semi join and plans the scalar aggregates as
    broadcast-reused subquery results (one scan each, not per-row).
    The IDENTICAL query text runs on both engines: only the table
    names are bound.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("q55_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("q55_orders")
    return spark.sql(_Q55_SQL.format(cust="q55_customer", orders="q55_orders"))


@query(
    "q56_salted_skew_join",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           {dec_sum_sql("l_extendedprice")} AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q56_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted fact-dimension join (``operators/scale.salted_join``)
    aggregated per priority — the oracle is the PLAIN join, proving
    salting is a pure physical rewrite with identical semantics.

    Scale: a hot ``l_orderkey`` would pile one shuffle partition onto
    one task; the salt spreads each key across ``salt`` partitions at
    the cost of replicating the (small) build side ``salt``×. AQE's
    skew-join split handles moderate skew automatically — explicit
    salting is the deterministic-layout fallback for extreme keys.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    from ..operators.scale import salted_join

    joined = salted_join(li, orders, on=["l_orderkey"], salt=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        dec_sum("l_extendedprice").alias("sum_price"),
    )


_Q57_SQL = """
    SELECT n_nationkey,
           CAST(cust.n_cust AS DOUBLE) AS n_cust,
           CAST(supp.n_supp AS DOUBLE) AS n_supp
    FROM (SELECT c_nationkey AS n_nationkey, COUNT(*) AS n_cust
          FROM {customer} WHERE c_acctbal > 9800 GROUP BY 1) cust
    FULL OUTER JOIN
         (SELECT s_nationkey AS n_nationkey, COUNT(*) AS n_supp
          FROM {supplier} WHERE s_acctbal > 7000 GROUP BY 1) supp
    USING (n_nationkey)
"""


@query(
    "q57_full_outer_join",
    oracle=_Q57_SQL.format(customer="customer", supplier="supplier"),
)
def q57_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER JOIN — absent from the reference's issued SQL
    (SURVEY §2.3 absent-list: "no full outer"), exposed as a
    first-class capability. High-balance customer nations vs
    high-balance supplier nations: rows null on either side are
    nations present in only one input (both directions occur at
    sf0.01). ``USING`` coalesces the key, so ``n_nationkey`` is
    never null. IDENTICAL query text runs on both engines.

    Scale: both inputs pre-aggregate to ≤25 rows before the join —
    the full outer joins the *aggregates*, not the base tables, so
    the shuffle moves two tiny keyed sets (and AQE plans a broadcast
    full-outer is impossible — full outer needs both sides
    partitioned — but 25-row sides make the exchange free).
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("q57_customer")
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("q57_supplier")
    return spark.sql(_Q57_SQL.format(customer="q57_customer", supplier="q57_supplier"))


_Q58_SQL = """
    WITH RECURSIVE spine(month_start) AS (
      SELECT CAST('1995-01-01' AS DATE)
      UNION ALL
      SELECT CAST(month_start + INTERVAL 1 MONTH AS DATE) FROM spine
      WHERE month_start < CAST('2001-08-01' AS DATE)
    ),
    monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
             COUNT(*) AS n_orders
      FROM {orders}
      GROUP BY 1
    )
    SELECT CAST(s.month_start AS TIMESTAMP) AS month_start,
           COALESCE(m.n_orders, 0) AS n_orders
    FROM spine s LEFT JOIN monthly m ON s.month_start = m.month_start
"""


@query(
    "q58_recursive_spine",
    oracle=_Q58_SQL.format(orders="orders"),
)
def q58_recursive_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``WITH RECURSIVE`` (Spark 4) generating a dense month
    spine, left-joined to monthly order counts so empty months
    surface as zero rows. SURVEY C7 flags recursive traversal as
    "driver-side BFS until Spark 4 recursive CTE" — this engine runs
    on Spark 4, so the recursion executes inside Catalyst with the
    IDENTICAL query text on both engines (the reference ships its
    one ``WITH RECURSIVE`` to PostgreSQL,
    ``postgres_manager.py:718``).

    Scale: the recursive branch produces 80 rows on the driver-side
    loop of the CTE execution — recursion depth is bounded by the
    calendar, not the data; the only data-sized work is the monthly
    pre-aggregation, one map-side-combined shuffle of ~80 groups.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("q58_orders")
    return spark.sql(_Q58_SQL.format(orders="q58_orders"))


@query(
    "q51_approx_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_bound
    FROM events
    GROUP BY event_type
    """,
)
def q51_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event type: HyperLogLog++
    (``approx_count_distinct``, rsd 2%) validated in-query against the
    exact count.

    The sketch estimate itself can't be hash-compared (DuckDB's HLL
    produces different estimates by construction), so the oracle
    checks what IS portable: the exact count, and the claim that the
    HLL++ estimate landed within 5× its configured rsd
    (``within_bound`` — Spark computes the check, the oracle states
    TRUE; a sketch regression flips the column and fails the hash).
    At 100 TB the exact column is the one you drop: HLL++ is one
    pass, fixed memory, mergeable across partitions; exact distinct
    is a full shuffle of the key space.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= 0.10 * F.col("exact_users")
            ).alias("within_bound"),
        )
    )


@query(
    "q69_sql_unpivot",
    oracle="""
    WITH lu AS (
      SELECT 'l_quantity' AS metric, l_quantity AS val FROM lineitem
      UNION ALL SELECT 'l_tax', l_tax FROM lineitem
    )
    SELECT metric, COUNT(*) AS n_vals, MIN(val) AS min_val, MAX(val) AS max_val
    FROM lu WHERE val IS NOT NULL GROUP BY metric
    """,
)
def q69_sql_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-text surface of melt — Spark's native ``UNPIVOT``
    clause (the q08 DataFrame ``unpivot`` as a query string), so a
    SQL-only user of the engine gets T1 without touching the
    DataFrame API. The oracle states the portable equivalent
    (stacked UNION ALL with ``val IS NOT NULL`` — UNPIVOT drops null
    measures by default, and the oracle pins that semantic so a
    nullable measure column can't silently diverge the twins).

    Scale: same shape as q08 — narrow row expansion, map-side
    combined aggregate, one small exchange.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "q69_lineitem"
    )
    return spark.sql(
        """
        SELECT metric, COUNT(*) AS n_vals,
               MIN(val) AS min_val, MAX(val) AS max_val
        FROM (
          SELECT * FROM q69_lineitem
          UNPIVOT (val FOR metric IN (l_quantity, l_tax))
        )
        GROUP BY metric
        """
    )


@query(
    "q70_histogram",
    oracle=f"""
    SELECT CAST(FLOOR(l_quantity / 5) AS BIGINT) AS bucket,
           MIN(l_quantity) AS lo,
           MAX(l_quantity) AS hi,
           COUNT(*) AS n,
           {dec_sum_sql("l_extendedprice")} AS sum_price
    FROM lineitem
    GROUP BY 1
    ORDER BY 1
    """,
)
def q70_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram — fixed-stride binning of a measure with
    per-bucket aggregates, the profiling primitive behind range
    pruning decisions and data-quality dashboards (extends the A4/A7
    stats family; the reference profiles only min/max/null counts,
    ``schema_analyzer.py:74-82``).

    Bucketing is ``floor(x / stride)`` — exact IEEE division on
    identical inputs, integer bucket ids, no boundary ambiguity
    between engines.

    Scale: one map-side-combined aggregation; the exchange carries
    (partitions × buckets) rows. A histogram is how you profile a
    100 TB column WITHOUT sorting it.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.floor(F.col("l_quantity") / 5).cast("bigint").alias("bucket")
        )
        .agg(
            F.min("l_quantity").alias("lo"),
            F.max("l_quantity").alias("hi"),
            F.count("*").alias("n"),
            dec_sum("l_extendedprice").alias("sum_price"),
        )
        .orderBy("bucket")
    )


_Q71_SQL = """
    WITH snap_a AS (
      SELECT o_orderkey, o_totalprice FROM {orders}
    ),
    snap_b AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice
      FROM {orders}
      WHERE o_orderkey % 13 <> 0
      UNION ALL
      SELECT o_orderkey + (SELECT MAX(o_orderkey) FROM {orders}),
             o_totalprice
      FROM {orders}
      WHERE o_orderkey % 101 = 0
    )
    SELECT CASE
             WHEN a.o_orderkey IS NULL THEN 'added'
             WHEN b.o_orderkey IS NULL THEN 'removed'
             WHEN a.o_totalprice <> b.o_totalprice THEN 'changed'
             ELSE 'unchanged'
           END AS status,
           COUNT(*) AS n_rows
    FROM snap_a a FULL OUTER JOIN snap_b b USING (o_orderkey)
    GROUP BY 1
"""


@query(
    "q71_snapshot_diff",
    oracle=_Q71_SQL.format(orders="orders"),
)
def q71_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff — classify every key across two table
    versions as added / removed / changed / unchanged via ONE full
    outer join on the key, the data-level sibling of the
    schema-level diff (T14, ``postgres_manager.py:1038-1087``; the
    reference can only diff schemas, never data). Snapshot B is
    derived deterministically from A (every 13th key deleted, every
    97th repriced, every 101st re-keyed past MAX(key) as an insert)
    so ALL FOUR classes occur and are oracle-checked; IDENTICAL
    query text runs on both engines.

    Scale: one hash-partitioned full outer on the key — the same
    shuffle an incremental MERGE would pay; the CASE classification
    is free post-join, and the count rollup is map-side combined. At
    100 TB, run per partition-pruned slice (date partitions) rather
    than whole-table.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("q71_orders")
    return spark.sql(_Q71_SQL.format(orders="q71_orders"))


@query(
    "q77_modern_aggregates",
    oracle="""
    SELECT o_orderpriority,
           CAST(count_if(o_totalprice > 150000) AS BIGINT) AS n_high_value,
           bool_and(o_custkey IS NOT NULL) AS all_have_customer,
           bool_or(o_orderstatus = 'O') AS any_open,
           (MAX(struct_pack(p := o_totalprice, k := o_orderkey))).k
             AS top_order,
           (MIN(struct_pack(p := o_totalprice, k := o_orderkey))).k
             AS bottom_order
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q77_modern_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern aggregate breadth — ``count_if``, ``bool_and``/
    ``bool_or``, and tie-safe argmax/argmin. Plain ``max_by`` is
    NONDETERMINISTIC under ties (two orders with equal price → either
    key may win, and the engines disagree); the deterministic form is
    lexicographic ``max(struct(price, key))`` — the unique key rides
    along as tiebreaker, and both engines compare structs field by
    field. This is the same tiebreak discipline every LIMIT in this
    engine follows (README determinism conventions).

    Scale: all six aggregates fold in one map-side-combined pass —
    one shuffle of 5 groups × small state; struct argmax state is
    one (price, key) pair per group.
    """
    orders = load_table(spark, sf_dir, "orders")
    s = F.struct(
        F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k")
    )
    return orders.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 150000).alias("n_high_value"),
        F.bool_and(F.col("o_custkey").isNotNull()).alias("all_have_customer"),
        F.bool_or(F.col("o_orderstatus") == "O").alias("any_open"),
        F.max(s)["k"].alias("top_order"),
        F.min(s)["k"].alias("bottom_order"),
    )


_Q82_SQL = """
    SELECT n.n_name, t.c_name, t.c_acctbal
    FROM {nation} n,
    LATERAL (
      SELECT c_name, c_acctbal
      FROM {customer} c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey
      LIMIT 2
    ) t
"""


@query(
    "q82_lateral_topk",
    oracle=_Q82_SQL.format(nation="nation", customer="customer"),
)
def q82_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated ``LATERAL`` subquery — per-nation top-2 customers
    by balance, the SQL-text form of top-k-per-group (q21 does it
    with a rank window; LATERAL expresses it as a correlated
    derived table). IDENTICAL query text on both engines; the
    deterministic tiebreak (c_custkey) keeps the LIMIT total-ordered.

    Scale: Catalyst decorrelates the lateral into a ranked
    window/join over ONE customer scan — it does not re-execute the
    subquery per outer row the way a naive nested-loop would; 25
    outer rows or 25 million, same plan shape.
    """
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("q82_nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "q82_customer"
    )
    return spark.sql(_Q82_SQL.format(nation="q82_nation", customer="q82_customer"))


@query(
    "q116_join_key_skew",
    oracle="""
    WITH k AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
    s AS (SELECT COUNT(*) AS n_keys, SUM(n) AS total, MAX(n) AS mx FROM k)
    SELECT user_id, n,
           CAST(n * 10000 // total AS BIGINT) AS share_bp,
           CAST(mx * n_keys * 100 // total AS BIGINT)
             AS skew_pct_of_uniform
    FROM k, s
    ORDER BY n DESC, user_id
    LIMIT 20
    """,
)
def q116_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis — the measurement that DECIDES when to
    reach for ``operators/scale.salted_join`` or AQE skew splitting:
    per-key row counts for a prospective join/groupBy key, the top-20
    heavy hitters with their share in basis points, and the global
    skew factor (max key count as a percent of the uniform share —
    100 means perfectly uniform, 10 000 means the hottest key is
    100× uniform). The reference's planner-side analogue is
    pg_stats' most-common-values list; here it is an explicit query
    any key can be audited with.

    Scale: one map-side-combined groupBy on the key (the same
    exchange the prospective join would pay), one tiny global
    aggregate broadcast back, TakeOrdered for the top-20 — no global
    sort.
    """
    ev = load_table(spark, sf_dir, "events")
    k = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    s = k.agg(
        F.count("*").alias("n_keys"),
        F.sum("n").alias("total"),
        F.max("n").alias("mx"),
    )
    return (
        k.crossJoin(s)
        .select(
            "user_id",
            "n",
            F.expr("n * 10000 div total").alias("share_bp"),
            F.expr("mx * n_keys * 100 div total").alias(
                "skew_pct_of_uniform"
            ),
        )
        .orderBy(F.desc("n"), "user_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Bloom-filter join pruning — q159
# ---------------------------------------------------------------------------

#: bloom geometry: 65536 bits / 3 hashes over the ~3k urgent order
#: keys → ~13% fill, fp rate ≈ 0.2% — the pruning regime, replayed
#: bit-for-bit by the oracle
BLOOM_M = 65536
BLOOM_K = 3
BLOOM_DIM_PRED = "o_orderpriority = '1-URGENT'"


def _q159_oracle() -> str:
    from ..operators import sketch

    def h(key: str, r: str) -> str:
        return sketch.duck_bucket_sql(f"CAST({key} AS VARCHAR)", r, BLOOM_M)

    return f"""
    WITH dim AS (SELECT o_orderkey FROM orders WHERE {BLOOM_DIM_PRED}),
    bits AS (
      SELECT DISTINCT {h('o_orderkey', 'r')} AS pos
      FROM dim, unnest(range(0, {BLOOM_K})) t(r)),
    lk AS (SELECT DISTINCT l_orderkey FROM lineitem),
    lp AS (
      SELECT l_orderkey, {h('l_orderkey', 'r')} AS pos
      FROM lk, unnest(range(0, {BLOOM_K})) t(r)),
    lflag AS (
      SELECT l_orderkey, bool_and(b.pos IS NOT NULL) AS bloom_pass
      FROM lp LEFT JOIN bits b USING (pos) GROUP BY l_orderkey),
    j AS (
      SELECT l.l_returnflag,
             (d.o_orderkey IS NOT NULL) AS is_match,
             f.bloom_pass
      FROM lineitem l
      LEFT JOIN dim d ON l.l_orderkey = d.o_orderkey
      JOIN lflag f ON l.l_orderkey = f.l_orderkey)
    SELECT l_returnflag,
           CAST(COUNT(*) FILTER (WHERE is_match) AS BIGINT) AS n_match,
           CAST(COUNT(*) FILTER (WHERE bloom_pass) AS BIGINT)
             AS n_bloom_pass,
           CAST(COUNT(*) FILTER (WHERE bloom_pass AND NOT is_match)
                AS BIGINT) AS n_false_pass
    FROM j GROUP BY l_returnflag
    """


@query("q159_bloom_join_prune", oracle=_q159_oracle())
def q159_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning, replayed bit-for-bit: the
    filtered dimension's keys fold into a {BLOOM_M}-bit / {BLOOM_K}-
    hash bloom bitmap; every fact row probes the bitmap in O(1)
    (bit test against a broadcast word map — never a per-row scan of
    a position list) and the exact join verifies only survivors. Per
    return flag the output pins the exact match count, the bloom
    pass count, and the false-positive spill — no false NEGATIVES by
    construction, which the hash equality proves (every match row
    also bloom-passes on both engines).

    The hash family is the count-min module's portable md5 buckets
    (``operators/sketch.py``) — a bloom filter IS that grid with
    1-bit counters, so the two sketches share one replayable hash
    convention.

    Scale: the build side is a map-side-combined ``bit_or`` word
    aggregate — the exchange carries at most m/64 = {BLOOM_M // 64}
    longs per task and the finished bitmap broadcasts as ONE map row;
    the probe is pure projection arithmetic on the fact scan. This is
    exactly the shape Spark's AQE runtime row-level filtering
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``) injects
    automatically for selective joins; the explicit portable form
    exists so heterogeneous engines (and the oracle) agree on every
    bit, and so the pruning rate itself is a queryable, testable
    number rather than an optimizer internal.
    """
    from ..operators import sketch

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dim = orders.filter(F.expr(BLOOM_DIM_PRED)).select("o_orderkey")

    build_bucket = sketch._bucket_expr(
        "cast(o_orderkey as string)", "r", BLOOM_M
    )
    words = (
        dim.select(
            F.explode(
                F.expr(
                    f"transform(sequence(0, {BLOOM_K} - 1),"
                    f" r -> {build_bucket})"
                )
            ).alias("pos")
        )
        .select(
            F.expr("pos div 64").alias("widx"),
            F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("bit"),
        )
        .groupBy("widx")
        .agg(F.expr("bit_or(bit)").alias("word"))
        .agg(
            F.expr(
                "map_from_entries(collect_list(struct(widx, word)))"
            ).alias("words")
        )
    )

    def probe(r: int) -> str:
        pos = sketch._bucket_expr(
            "cast(l_orderkey as string)", str(r), BLOOM_M
        )
        return (
            f"((coalesce(element_at(words, ({pos}) div 64), 0L)"
            f" >> cast(({pos}) % 64 as int)) & 1) = 1"
        )

    bloom_pass = " AND ".join(probe(r) for r in range(BLOOM_K))
    j = (
        li.select("l_returnflag", "l_orderkey")
        .crossJoin(words)
        .join(
            dim,
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left",
        )
        .select(
            "l_returnflag",
            F.col("o_orderkey").isNotNull().alias("is_match"),
            F.expr(bloom_pass).alias("bloom_pass"),
        )
    )
    return j.groupBy("l_returnflag").agg(
        F.expr("count_if(is_match)").alias("n_match"),
        F.expr("count_if(bloom_pass)").alias("n_bloom_pass"),
        F.expr("count_if(bloom_pass and not is_match)").alias(
            "n_false_pass"
        ),
    )


# ---------------------------------------------------------------------------
# CUPED variance-reduced experiment readout — q167
# ---------------------------------------------------------------------------

#: shared solve text (both engines evaluate verbatim): θ from global
#: covariance partials, arm means adjusted algebraically from DECIMAL
#: sums — no row-level double accumulates anywhere, so the result is
#: order-independent and engine-reproducible
_CUPED_THETA = "((n * spo - sp * so) / (n * spp - sp * sp))"
_CUPED_ADJ = (
    f"((so_a - {_CUPED_THETA} * (sp_a - n_a * (sp / n))) / n_a)"
)

_CUPED_USER_DEC = """
      CAST(COALESCE(SUM(CASE WHEN e < t THEN v END), 0)
           AS DECIMAL(18, 6)) AS pre,
      CAST(COALESCE(SUM(CASE WHEN e >= t THEN v END), 0)
           AS DECIMAL(18, 6)) AS post"""

#: DuckDB needs the explicit widen before the multiply (its decimal
#: product keeps the operand width and range-errors past 1e18);
#: Spark's (18,6)x(18,6) -> (37,12) widens on its own and both
#: engines' products are exact, so the summed partials agree
_CUPED_PARTIALS = """
      CAST(COUNT(*) AS DOUBLE) AS n,
      CAST(SUM(pre) AS DOUBLE) AS sp,
      CAST(SUM(post) AS DOUBLE) AS so,
      CAST(SUM(CAST(pre AS DECIMAL(20, 6)) * pre) AS DOUBLE) AS spp,
      CAST(SUM(CAST(pre AS DECIMAL(20, 6)) * post) AS DOUBLE) AS spo"""


@query(
    "q167_cuped_readout",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, epoch(ts) AS e,
             CAST(value AS DECIMAL(18, 6)) AS v
      FROM events),
    bounds AS (
      SELECT (MIN(e) + MAX(e)) // 2 AS t FROM ev),
    users AS (
      SELECT user_id, {_CUPED_USER_DEC}
      FROM ev, bounds GROUP BY user_id),
    p AS (SELECT {_CUPED_PARTIALS} FROM users),
    arms AS (
      SELECT user_id % 2 AS arm,
             CAST(COUNT(*) AS DOUBLE) AS n_a,
             CAST(SUM(pre) AS DOUBLE) AS sp_a,
             CAST(SUM(post) AS DOUBLE) AS so_a
      FROM users GROUP BY 1)
    SELECT arm, CAST(n_a AS BIGINT) AS n_users,
           CAST(floor(so_a / n_a * 1000000) AS BIGINT) AS mean_post_u,
           CAST(floor({_CUPED_ADJ} * 1000000) AS BIGINT) AS mean_adj_u,
           CAST(floor({_CUPED_THETA} * 1000000) AS BIGINT) AS theta_u
    FROM arms, p
    """,
)
def q167_cuped_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al. 2013, the
    standard experimentation-platform estimator): users split into
    two arms (``user_id % 2``), the observation window halved at the
    midpoint epoch into pre/post periods, and each arm's post-period
    mean adjusted by ``θ·(pre − mean_pre)`` with ``θ =
    cov(pre, post)/var(pre)`` learned from ALL users — the
    pre-period covariate soaks up between-user variance so arm
    deltas need far fewer users to resolve.

    Everything reduces to DECIMAL-exact per-user sums and five
    global covariance partials (cast to double once, solved by SQL
    text both engines evaluate verbatim): no row-order-dependent
    float accumulation anywhere, so the oracle hash pins θ and both
    arms' raw AND adjusted means to the µ.

    Scale: one shuffle (user_id groupBy, map-side-combined decimal
    partials), then partials-sized aggregates; the tiny bounds and
    θ rows broadcast. The same partials shape extends to stratified
    CUPED (group partials by stratum) without replanning.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_timestamp(ts)").alias("e"),
        F.expr("cast(value as decimal(18, 6))").alias("v"),
    )
    bounds = ev.agg(
        F.expr("(min(e) + max(e)) div 2").alias("t")
    )
    users = (
        ev.crossJoin(bounds)
        .groupBy("user_id")
        .agg(
            F.expr(
                "cast(coalesce(sum(case when e < t then v end), 0)"
                " as decimal(18, 6))"
            ).alias("pre"),
            F.expr(
                "cast(coalesce(sum(case when e >= t then v end), 0)"
                " as decimal(18, 6))"
            ).alias("post"),
        )
    )
    p = users.agg(
        F.expr("cast(count(*) as double)").alias("n"),
        F.expr("cast(sum(pre) as double)").alias("sp"),
        F.expr("cast(sum(post) as double)").alias("so"),
        F.expr("cast(sum(pre * pre) as double)").alias("spp"),
        F.expr("cast(sum(pre * post) as double)").alias("spo"),
    )
    arms = users.select(
        F.expr("user_id % 2").alias("arm"), "pre", "post"
    ).groupBy("arm").agg(
        F.expr("cast(count(*) as double)").alias("n_a"),
        F.expr("cast(sum(pre) as double)").alias("sp_a"),
        F.expr("cast(sum(post) as double)").alias("so_a"),
    )
    return arms.crossJoin(p).select(
        "arm",
        F.expr("cast(n_a as bigint)").alias("n_users"),
        F.expr("cast(floor(so_a / n_a * 1000000) as bigint)").alias(
            "mean_post_u"
        ),
        F.expr(f"cast(floor({_CUPED_ADJ} * 1000000) as bigint)").alias(
            "mean_adj_u"
        ),
        F.expr(f"cast(floor({_CUPED_THETA} * 1000000) as bigint)").alias(
            "theta_u"
        ),
    )


# ---------------------------------------------------------------------------
# TPC-H Q5 shape: local supplier volume — q187
# ---------------------------------------------------------------------------


@query(
    "q187_local_supplier_volume",
    headline=True,
    oracle=f"""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           {dec_sum_sql("l.l_extendedprice * (1 - l.l_discount)")}
             AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def q187_local_supplier_volume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q5 shape — local supplier volume: revenue per nation
    from lineitems where the CUSTOMER and the SUPPLIER share the
    nation, restricted to one region and a two-year order window.
    The canonical 6-table OLAP join (region → nation → customer →
    orders → lineitem → supplier) with a cross-dimension equality
    (c_nationkey = s_nationkey) that only materializes at the fact
    join — the benchmark shape every warehouse engine is judged on.

    Scale: region/nation/supplier/customer are dimensions —
    broadcast; the fact-side work is lineitem ⋈ orders on the
    orderkey (the warehouse's co-partitioned key) with the date
    filter pushed into the orders scan BEFORE the join; the
    nation-match predicate rides the row, costing nothing. One real
    shuffle (orderkey) + a nation-cardinality aggregate.
    """
    r = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    n = load_table(spark, sf_dir, "nation").join(
        r, F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    s = load_table(spark, sf_dir, "supplier").join(
        # kept: q187 flips build side (sf0.1)
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-01-01"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.expr("l_extendedprice * (1 - l_discount)").alias("rev"),
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),  # kept: q187 +2 shuffles (sf0.1)
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_lineitems"),
            dec_sum("rev").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q8 shape: national market share — q188
# ---------------------------------------------------------------------------


@query(
    "q188_market_share",
    oracle=f"""
    WITH all_nations AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'AMERICA'
        AND p.p_type LIKE '%AND%'
        AND o.o_orderdate >= TIMESTAMP '1995-01-01'
        AND o.o_orderdate < TIMESTAMP '1997-01-01')
    SELECT o_year,
           {dec_sum_sql(
               "CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0 END"
           )} AS nation_volume,
           {dec_sum_sql("volume")} AS total_volume,
           CAST(floor(
             {dec_sum_sql(
                 "CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0 END"
             )} / {dec_sum_sql("volume")} * 1000000) AS BIGINT)
             AS share_u
    FROM all_nations
    GROUP BY o_year
    """,
)
def q188_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — national market share: the fraction of a
    region's revenue in one part segment supplied by one nation,
    per order year. Eight relations (part, lineitem, orders,
    customer, nation ×2 — one aliased per role — supplier, region),
    a LIKE segment filter, and a conditional-share aggregate: the
    deepest join tree in the registry, exercising role-playing
    dimensions (nation joined twice under different keys) that the
    reference's single-table loader can never produce.

    The share divides two decimal-rounded doubles (the dec_sum
    convention), then floors at micro precision — one deterministic
    IEEE chain, identical on both engines.

    Scale: every dimension broadcasts (part's segment filter prunes
    it first); the only shuffles are the lineitem ⋈ orders orderkey
    join and the ≤|years| aggregate. Catalyst pushes the date
    filter into the orders scan and the LIKE into the part scan —
    the fact table is touched once.
    """
    r = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "AMERICA")
        .select("r_regionkey")
    )
    n1 = load_table(spark, sf_dir, "nation").join(
        r, F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("cust_nkey"))
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("supp_nkey"),
        F.col("n_name").alias("supp_nation"),
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type").like("%AND%"))
        .select("p_partkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-01-01"))
        )
        .select(
            "o_orderkey",
            "o_custkey",
            F.expr("cast(year(o_orderdate) as bigint)").alias("o_year"),
        )
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        F.expr("l_extendedprice * (1 - l_discount)").alias("volume"),
    )
    base = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(n1, F.col("c_nationkey") == F.col("cust_nkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n2, F.col("s_nationkey") == F.col("supp_nkey"))
    )
    nat = "CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0 END"
    return base.groupBy("o_year").agg(
        dec_sum(F.expr(nat)).alias("nation_volume"),
        dec_sum("volume").alias("total_volume"),
        F.expr(
            f"cast(floor({dec_sum_sql(nat)}"
            f" / {dec_sum_sql('volume')} * 1000000) as bigint)"
        ).alias("share_u"),
    )


# ---------------------------------------------------------------------------
# Grouped weighted median — q189
# ---------------------------------------------------------------------------


@query(
    "q189_weighted_median",
    oracle="""
    WITH g AS (
      SELECT l_returnflag AS rf,
             CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_cu,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY 1, 2),
    c AS (
      SELECT rf, price_cu, w,
             SUM(w) OVER (PARTITION BY rf ORDER BY price_cu) AS cumw,
             SUM(w) OVER (PARTITION BY rf) AS total_w
      FROM g)
    SELECT rf, CAST(total_w AS BIGINT) AS total_w,
           CAST(MIN(CASE WHEN cumw * 2 >= total_w
                         THEN price_cu END) AS BIGINT) AS wmedian_cu
    FROM c GROUP BY rf, total_w
    """,
)
def q189_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped WEIGHTED median: the price point at which half
    the shipped QUANTITY (not half the rows) lies below — the
    inventory/revenue-weighted center that plain ``percentile``
    cannot express, and the exact counterpart of a weighted KLL
    sketch at scale. Defined as the smallest price whose cumulative
    weight reaches half the group total (lower weighted median —
    integer-exact, no interpolation convention to disagree on).

    Scale: the fact table first collapses to (flag × distinct
    price) partial weights — map-side combined, ~1/%duplication of
    the rows — and the cumulative window runs over that COMPACT
    table (the q99 compact-count-table policy: the only sequential
    axis is distinct prices per flag, never raw lineitems). One
    hash exchange for the group-fold, one for the flag window.
    """
    g = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_returnflag").alias("rf"),
            F.expr(
                "cast(floor(l_extendedprice * 100) as bigint)"
            ).alias("price_cu"),
        )
        .agg(F.expr("sum(cast(l_quantity as bigint))").alias("w"))
    )
    wc = W.partitionBy("rf").orderBy("price_cu")
    c = g.select(
        "rf",
        "price_cu",
        F.sum("w").over(wc).alias("cumw"),
        F.sum("w").over(W.partitionBy("rf")).alias("total_w"),
    )
    return c.groupBy("rf", "total_w").agg(
        F.expr(
            "cast(min(case when cumw * 2 >= total_w"
            " then price_cu end) as bigint)"
        ).alias("wmedian_cu")
    ).select(
        "rf", F.col("total_w").cast("bigint").alias("total_w"), "wmedian_cu"
    )


# ---------------------------------------------------------------------------
# TPC-H Q19 shape: disjunctive multi-predicate join — q190
# ---------------------------------------------------------------------------

_Q19_DISJ = """({brand} = 'Brand#1' AND {size} <= 10
                AND {qty} BETWEEN 1 AND 20)
            OR ({brand} = 'Brand#2' AND {size} <= 25
                AND {qty} BETWEEN 10 AND 30)
            OR ({brand} = 'Brand#3' AND {size} <= 50
                AND {qty} BETWEEN 20 AND 40)"""


def _q190_oracle() -> str:
    disj = _Q19_DISJ.format(
        brand="p.p_brand", size="p.p_size", qty="l.l_quantity"
    )
    return f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_matched,
           {dec_sum_sql("l.l_extendedprice * (1 - l.l_discount)")}
             AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE {disj}
    """


@query("q190_disjunctive_join", oracle=_q190_oracle())
def q190_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — discounted revenue under a DISJUNCTION of
    per-branch conjunctions spanning BOTH join sides (brand/size
    from part, quantity from lineitem). The optimizer test: Catalyst
    must factor the branch-wise single-side constraints out of the
    OR (`p_brand IN (…)`, `l_quantity BETWEEN min AND max` superset
    bounds) and push them into the respective scans, leaving only
    the cross-side residual on the join — a query that reads both
    tables in full has failed (plan-asserted).

    Scale: part prunes to the three brands before broadcast; the
    residual disjunction evaluates row-at-a-time inside codegen.
    One scalar output row via map-side-combined partials.
    """
    disj = _Q19_DISJ.format(
        brand="p_brand", size="p_size", qty="l_quantity"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_quantity",
        F.expr("l_extendedprice * (1 - l_discount)").alias("rev"),
    )
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .filter(F.expr(disj))
        .agg(
            F.count("*").alias("n_matched"),
            dec_sum("rev").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q13 shape: customer order-count distribution — q207
# ---------------------------------------------------------------------------


@query(
    "q207_customer_distribution",
    oracle="""
    WITH co AS (
      SELECT c.c_custkey,
             CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey)
    SELECT c_count,
           CAST(COUNT(*) AS BIGINT) AS custdist
    FROM co GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q207_customer_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q13 shape — the customer order-count distribution:
    how many customers placed exactly k (non-urgent) orders,
    INCLUDING the zero bucket — the left join is the whole point
    (an inner join silently drops never-ordered customers, the
    classic histogram-of-counts bug), with the anti-condition
    pushed into the JOIN predicate, not the WHERE (in the WHERE it
    would turn the left join back into an inner one).

    Scale: customer ⋈ orders on the custkey both sides already
    key by; two stacked map-side-combined aggregates collapse to
    count-of-counts cardinality. The orders-side filter prunes
    before the join.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    co = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        co.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q22 shape: global sales opportunity — q208
# ---------------------------------------------------------------------------


@query(
    "q208_sales_opportunity",
    oracle=f"""
    WITH avg_bal AS (
      SELECT {dec_avg_sql("c_acctbal")} AS ab
      FROM customer WHERE c_acctbal > 0),
    eligible AS (
      SELECT c.c_custkey, c.c_nationkey % 5 AS cc, c.c_acctbal
      FROM customer c, avg_bal
      WHERE c.c_nationkey % 5 IN (0, 2, 4)
        AND c.c_acctbal > ab
        AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderpriority = '1-URGENT'))
    SELECT cc AS cntrycode,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           {dec_sum_sql("c_acctbal")} AS totacctbal
    FROM eligible GROUP BY cc ORDER BY cc
    """,
)
def q208_sales_opportunity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q22 shape — "global sales opportunity": customers in
    selected country codes with above-average positive balances who
    have never placed an URGENT order (the anti-join; the synthetic
    data gives every customer SOME order, so the literal
    never-ordered predicate of TPC-H Q22 would select nothing —
    same shape, non-degenerate population), rolled up per code. Three
    classic pieces in one query: a scalar subquery (the global
    average balance, broadcast as one row), an IN-list on a derived
    code, and NOT EXISTS as a left-anti join — the promising-
    untapped-customers report.

    Scale: the average collapses to one broadcast row; the
    anti-join probes orders' custkey projection (at 100 TB the
    bloom-prune of q159 slots in front of it); output is
    code-cardinality. The balance aggregates ride dec_sum/dec_avg
    so the hash pins.
    """
    from ..functions.scalar import dec_avg, dec_sum

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.expr("c_nationkey % 5").alias("cc"),
        "c_acctbal",
    )
    ab = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(dec_avg("c_acctbal").alias("ab"))
    )
    orders_k = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    eligible = (
        cust.filter(F.col("cc").isin(0, 2, 4))
        .crossJoin(ab)
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(
            orders_k,
            cust["c_custkey"] == orders_k["o_custkey"],
            "left_anti",
        )
    )
    return (
        eligible.groupBy(F.col("cc").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            dec_sum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


@query(
    "q239_hot_salted_join",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           {dec_sum_sql("l_extendedprice")} AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY l_returnflag
    """,
)
def q239_hot_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q56's skew treatment, sharpened: ``scale.hot_salted_join``
    salts ONLY the keys an exact map-side probe finds hot, joins the
    cold slice untouched, and unions — so the dimension is
    replicated ``salt``x for a HANDFUL of hot rows instead of
    wholesale (what AQE's skew split does at stage boundaries, done
    deterministically in the logical plan; inner joins only — an
    outer split-union would double-emit unmatched rows). The oracle
    is again the PLAIN join: the split-salt-union is a pure physical
    rewrite.

    The threshold is test-scaled (an order has <= 7 lines, so >= 5
    marks the fat orders "hot") so BOTH splits are non-vacuously
    populated at every sf; at 100 TB the threshold is the task-size
    budget.
    """
    from ..operators.scale import hot_salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    joined = hot_salted_join(
        li, orders, on=["l_orderkey"], salt=4, hot_threshold=5
    )
    return joined.groupBy("l_returnflag").agg(
        F.count("*").alias("n_items"),
        dec_sum("l_extendedprice").alias("sum_price"),
    )
