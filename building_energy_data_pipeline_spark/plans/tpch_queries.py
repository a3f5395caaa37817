"""The remaining TPC-H query shapes (q212–q226), completing the full
22-query suite next to q01 (Q1), q03 (Q3), q187 (Q5), q188 (Q8),
q207 (Q13), q190 (Q19) and q208 (Q22).

The reference (a single-table pandas/psycopg2 loader,
``/root/reference/src/data_processing``) issues none of these shapes;
they are the engine-upgrade OLAP surface SURVEY §2.3/§2.4 lists as
"free in Spark if we expose them" — correlated scalar subqueries,
EXISTS / NOT EXISTS against the fact table, HAVING over a global
scalar subquery, and role-playing dimension joins.

Schema adaptations (the synthetic warehouse has no ``partsupp`` and
``lineitem`` lacks commit/receipt dates and ship modes — TESTDATA.md):

- supply-catalog shapes (Q2/Q11/Q16/Q20) read the (part, supplier)
  relationship off ``lineitem`` instead of ``partsupp``;
- lateness shapes (Q4/Q12/Q21) define "late" off ``l_shipdate``
  relative to ``o_orderdate`` instead of commit vs receipt dates;
- Q9's supply cost is proxied as ``0.6 * p_retailprice``.

Each adaptation preserves the join/subquery SHAPE the original
exercises — that shape, not the TPC-H text, is what the engine is
being graded on.

Determinism: quantities are integer-valued doubles → cast to BIGINT
and folded exactly; money follows the ``dec_sum`` convention or an
exact integer-cents fold (``ROUND(x * 100)``); shared double
expressions appear once, token-identically, in both engines (see
functions/scalar.py and the verify skill's gotchas).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .. import caching
from ..functions.scalar import dec_sum, dec_sum_sql
from ..sources.readers import load_table
from .registry import query


# ---------------------------------------------------------------------------
# TPC-H Q2 shape: minimum-cost supplier (correlated MIN subquery) — q212
# ---------------------------------------------------------------------------


@query(
    "q212_min_cost_supplier",
    oracle="""
    WITH costs AS (
      SELECT l_partkey, l_suppkey,
             MIN(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      WHERE p_type = 'STANDARD'
      GROUP BY l_partkey, l_suppkey)
    SELECT c.l_partkey AS p_partkey, s.s_name, n.n_name,
           CAST(FLOOR(c.unit_cost * 1000000) AS BIGINT) AS cost_u
    FROM costs c
    JOIN supplier s ON c.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE c.unit_cost = (SELECT MIN(c2.unit_cost) FROM costs c2
                         WHERE c2.l_partkey = c.l_partkey)
    """,
)
def q212_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — for every part in a segment, the supplier(s)
    offering it at the minimum observed unit price. The original's
    correlated scalar subquery ``ps_supplycost = (SELECT MIN(...)
    WHERE ps_partkey = p_partkey)`` becomes a per-part MIN window
    over the (part, supplier) unit-cost table; ties keep every
    minimum supplier, exactly like the correlated form.

    Unit cost is ``MIN(l_extendedprice / l_quantity)`` — one IEEE
    division per row (deterministic on identical inputs) and MIN is
    order-independent, so the equality filter and the floored micro
    output hash across engines without a decimal detour.

    Scale: the part segment filter broadcasts into a semi-join that
    prunes lineitem BEFORE any shuffle; the pair aggregate shuffles
    on (partkey, suppkey); the per-part MIN window re-partitions by
    partkey only (key-cardinality rows, unit-cost + ids — no wide
    payload); supplier/nation are broadcast dimensions.
    """
    seg = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "STANDARD")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").join(
        seg, F.col("l_partkey") == F.col("p_partkey")
    )
    costs = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
            "unit_cost"
        )
    )
    best = costs.withColumn(
        "min_cost", F.min("unit_cost").over(W.partitionBy("l_partkey"))
    ).filter(F.col("unit_cost") == F.col("min_cost"))
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        best.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "s_name",
            "n_name",
            F.expr("cast(floor(unit_cost * 1000000) as bigint)").alias(
                "cost_u"
            ),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q4 shape: order priority checking (EXISTS semi-join) — q213
# ---------------------------------------------------------------------------


@query(
    "q213_priority_late_ship",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    """,
)
def q213_priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — order-priority histogram of one quarter's
    orders having AT LEAST ONE slow lineitem (shipped >30 days after
    the order; the original's commit-vs-receipt lateness, adapted to
    the available dates). The EXISTS probe is a LEFT SEMI join: each
    order counted once no matter how many lines qualify.

    Scale: the quarter filter prunes orders at the scan; the semi
    join is an equi-join on orderkey with the date comparison as a
    residual riding the matched row — no theta-join blowup; the
    lineitem side ships only (orderkey, shipdate). Aggregate output
    is priority-cardinality (5 rows).
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1996-04-01"))
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    hit = o.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (
            F.col("l_shipdate")
            > F.expr("o_orderdate + INTERVAL 30 DAYS")
        ),
        "left_semi",
    )
    return hit.groupBy("o_orderpriority").agg(
        F.count("*").alias("order_count")
    )


# ---------------------------------------------------------------------------
# TPC-H Q6 shape: forecast revenue change (single-scan filter agg) — q214
# ---------------------------------------------------------------------------


@query(
    "q214_forecast_revenue",
    oracle=f"""
    SELECT COUNT(*) AS n_lines,
           {dec_sum_sql("l_extendedprice * l_discount")} AS revenue_delta
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND CAST(ROUND(l_discount * 100) AS INTEGER) BETWEEN 5 AND 7
      AND l_quantity < 24
    """,
)
def q214_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 — revenue that would have been earned had a discount
    band been dropped: one scan, three pushed-down predicates, one
    global aggregate. The simplest suite member, here so the full 22
    are covered; its value is pinning that ALL predicates reach the
    parquet scan (asserted in tests/test_plan_shapes.py).

    The discount band compares on ``ROUND(l_discount * 100)`` —
    integers — because a raw ``BETWEEN 0.05 AND 0.07`` sits literal
    binary-representation questions on the boundary rows (and Spark
    parses bare decimal literals as DECIMAL; verify-skill gotcha).

    Scale: map-side partial aggregate → single 2-column row; no
    shuffle of data rows at any size.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & F.expr(
                "cast(round(l_discount * 100) as int) between 5 and 7"
            )
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count("*").alias("n_lines"),
            dec_sum(F.col("l_extendedprice") * F.col("l_discount")).alias(
                "revenue_delta"
            ),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q7 shape: volume shipping between two nations — q215
# ---------------------------------------------------------------------------


@query(
    "q215_volume_shipping",
    oracle=f"""
    SELECT sr.r_name AS supp_region, cr.r_name AS cust_region,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           {dec_sum_sql("l.l_extendedprice * (1 - l.l_discount)")}
             AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN region cr ON cn.n_regionkey = cr.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    JOIN region sr ON sn.n_regionkey = sr.r_regionkey
    WHERE ((sr.r_name = 'EUROPE' AND cr.r_name = 'ASIA')
        OR (sr.r_name = 'ASIA' AND cr.r_name = 'EUROPE'))
      AND l.l_shipdate >= TIMESTAMP '1995-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY sr.r_name, cr.r_name, year(l.l_shipdate)
    """,
)
def q215_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — shipping volume BETWEEN two trade areas, per
    direction per ship year: the geography dimension role-plays
    twice (supplier side and customer side) under a disjunctive pair
    predicate that only resolves after both role joins. Regions
    stand in for the original's nations so the pair is populated at
    every test scale (sf0.001 leaves most single nations without
    suppliers); the role-playing shape is identical.

    Scale: both region filters push into the supplier/customer
    dimension joins as pruning lookups BEFORE the fact join — the
    disjunctive pair residual then runs on already-pruned rows; the
    one real shuffle is lineitem ⋈ orders on orderkey; output is
    2 directions × 2 years.
    """
    pair = ("EUROPE", "ASIA")
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name").isin(*pair)
    )
    n = load_table(spark, sf_dir, "nation").join(
        # kept: q215 flips build side (sf0.1)
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(  # kept: q215 flips build side (sf0.1)
                n.select(
                    F.col("n_nationkey").alias("cnk"),
                    F.col("r_name").alias("cust_region"),
                )
            ),
            F.col("c_nationkey") == F.col("cnk"),
        )
        .select("c_custkey", "cust_region")
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(  # kept: q215 flips build side (sf0.1)
                n.select(
                    F.col("n_nationkey").alias("snk"),
                    F.col("r_name").alias("supp_region"),
                )
            ),
            F.col("s_nationkey") == F.col("snk"),
        )
        .select("s_suppkey", "supp_region")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            F.expr("cast(year(l_shipdate) as bigint)").alias("l_year"),
            F.expr("l_extendedprice * (1 - l_discount)").alias("rev"),
        )
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        # kept, both: q215 +2 shuffles without either (sf0.1)
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(
            (
                (F.col("supp_region") == pair[0])
                & (F.col("cust_region") == pair[1])
            )
            | (
                (F.col("supp_region") == pair[1])
                & (F.col("cust_region") == pair[0])
            )
        )
        .groupBy("supp_region", "cust_region", "l_year")
        .agg(dec_sum("rev").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q9 shape: product-type profit by nation and year — q216
# ---------------------------------------------------------------------------


@query(
    "q216_product_profit",
    headline=True,
    oracle=f"""
    SELECT n.n_name, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           {dec_sum_sql(
               "l.l_extendedprice * (1 - l.l_discount)"
               " - CAST(0.6 AS DOUBLE) * p.p_retailprice * l.l_quantity",
               scale=8,
           )} AS profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
)
def q216_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — profit on one product line per supplier
    nation per order year: the suite's widest fact-side expression
    (revenue minus cost, both sides priced per line). ``partsupp``'s
    supply cost is proxied as ``0.6 * p_retailprice`` (documented
    module-level adaptation); the 0.6 appears as ``CAST(0.6 AS
    DOUBLE)`` in one shared expression text — Spark parses a bare
    0.6 as DECIMAL (verify-skill gotcha).

    Scale: the p_name LIKE filter pushes into the part scan and the
    pruned part table broadcasts, shrinking lineitem FIRST; supplier
    and nation broadcast; the one real shuffle is the orderkey join
    against orders; the aggregate is nation × year (≤ 25 × 7 rows)
    with map-side decimal partials (scale 8: the 3-decimal cost term
    times integer quantity needs the wider tie margin).
    """
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("cast(year(o_orderdate) as bigint)").alias("o_year"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("n_name", "o_year")
        .agg(
            dec_sum(
                F.expr(
                    "l_extendedprice * (1 - l_discount)"
                    " - cast(0.6 as double) * p_retailprice * l_quantity"
                ),
                scale=8,
            ).alias("profit")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q10 shape: returned-item reporting (top 20 customers) — q217
# ---------------------------------------------------------------------------


@query(
    "q217_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {dec_sum_sql("l.l_extendedprice * (1 - l.l_discount)")}
             AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q217_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — the top 20 customers by revenue LOST to
    returned items in a half-year window: fact-side flag filter,
    order-date filter, customer/nation decoration, revenue ranking.

    The ranking key is the ``dec_sum`` revenue — bit-identical on
    both engines by construction — with c_custkey as the
    deterministic tiebreak, so the LIMIT cuts the same 20 rows
    everywhere.

    Scale: returnflag filter pushes into the lineitem scan, the date
    filter into orders; customer/nation broadcast; one orderkey
    shuffle + a custkey-cardinality aggregate; the top-20 is a
    TakeOrderedAndProject (per-partition heaps), never a global sort.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(
            "l_orderkey",
            F.expr("l_extendedprice * (1 - l_discount)").alias("rev"),
        )
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1996-07-01"))
        )
        .select("o_orderkey", "o_custkey")
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dec_sum("rev").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q11 shape: important part values (HAVING > global scalar) — q218
# ---------------------------------------------------------------------------

#: exact integer "value" of a line: cents of extendedprice × quantity
_Q218_VALUE = (
    "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
    " * CAST(l_quantity AS BIGINT)"
)


@query(
    "q218_important_part_values",
    oracle=f"""
    WITH vals AS (
      SELECT l.l_partkey, CAST(SUM({_Q218_VALUE}) AS BIGINT) AS value_u
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
      GROUP BY l.l_partkey)
    SELECT l_partkey AS p_partkey, value_u
    FROM vals
    WHERE value_u * (SELECT COUNT(*) FROM vals)
          > 2 * (SELECT CAST(SUM(value_u) AS BIGINT) FROM vals)
    """,
)
def q218_important_part_values(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q11 shape — parts representing a significant share of
    the value shipped by one region's suppliers: a grouped aggregate
    FILTERED AGAINST a global scalar subquery over the same
    aggregate (HAVING SUM(v) > fraction × SUM-over-everything).
    The original's fixed global fraction is 1/SF-scaled by the spec
    for exactly the reason a fixed cut fails here (at 10× the parts,
    every share is 10× smaller); the scale-free equivalent keeps
    parts worth MORE THAN TWICE THE AVERAGE part value.

    Value is exact integer cent·quantity units (``ROUND(price*100)``
    recovers the 2-decimal cents; BIGINT folds are order-free), so
    the threshold compares ``value_u · n_parts > 2 · total`` in pure
    BIGINT — no float tie can flip a row in either engine.

    Scale: the region→nation→supplier chain collapses to a broadcast
    semi-join pruning lineitem at the scan; one partkey shuffle; the
    global total is the partkey table re-aggregated (key-cardinality
    input) and broadcast back; the partkey table is slot-persisted so
    its two consumers share one fact scan.
    """
    r = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "EUROPE")
        .select("r_regionkey")
    )
    n = load_table(spark, sf_dir, "nation").join(
        r, F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey")
    s = load_table(spark, sf_dir, "supplier").join(
        # kept: q218 flips build side (sf0.1)
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem").join(
        # kept: q218 sort-merges (sf0.1)
        F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi"
    )
    vals = caching.slot_persist(
        "q218_vals",
        li.groupBy("l_partkey").agg(
            F.expr(f"SUM({_Q218_VALUE})").alias("value_u")
        ),
    )
    total = vals.agg(
        F.sum("value_u").alias("total_u"),
        F.count("*").alias("n_parts"),
    )
    return (
        vals.crossJoin(total)
        .filter(
            F.col("value_u") * F.col("n_parts")
            > F.lit(2) * F.col("total_u")
        )
        .select(F.col("l_partkey").alias("p_partkey"), "value_u")
    )


# ---------------------------------------------------------------------------
# TPC-H Q12 shape: shipping-delay buckets vs order priority — q219
# ---------------------------------------------------------------------------


@query(
    "q219_delay_priority_buckets",
    oracle="""
    SELECT CASE WHEN dd < 30 THEN 'fast'
                WHEN dd < 60 THEN 'medium'
                ELSE 'slow' END AS delay_bucket,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM (SELECT o.o_orderpriority,
                 (CAST(FLOOR(epoch(l.l_shipdate)) AS BIGINT)
                  - CAST(FLOOR(epoch(o.o_orderdate)) AS BIGINT))
                 // 86400 AS dd
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey)
    GROUP BY 1
    """,
)
def q219_delay_priority_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q12 shape — does slow shipping hit high-priority
    orders? Lines bucketed by ship delay (the original's ship-mode
    dimension, adapted to the available dates), each bucket counting
    high- vs low-priority lines via conditional aggregation.

    Delay is exact BIGINT epoch-day arithmetic (``FLOOR(epoch())``
    before the BIGINT cast — DuckDB's bare cast ROUNDS where Spark
    truncates; verify-skill gotcha). ``//`` in the oracle matches
    Spark's ``div``.

    Scale: one orderkey shuffle (lineitem ⋈ orders), 3-bucket
    map-side conditional aggregate; both CASE branches fold in the
    same pass — the fact table is scanned once, not per priority
    class.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr("unix_timestamp(l_shipdate)").alias("ship_e"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.expr("unix_timestamp(o_orderdate)").alias("ord_e"),
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.expr("(ship_e - ord_e) div 86400").alias("dd"),
            "o_orderpriority",
        )
        .select(
            F.expr(
                "CASE WHEN dd < 30 THEN 'fast'"
                " WHEN dd < 60 THEN 'medium'"
                " ELSE 'slow' END"
            ).alias("delay_bucket"),
            F.expr(
                "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')"
                " THEN 1 ELSE 0 END"
            ).alias("hi"),
        )
        .groupBy("delay_bucket")
        .agg(
            F.sum("hi").alias("high_line_count"),
            F.sum(F.lit(1) - F.col("hi")).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q14 shape: promotion revenue share — q220
# ---------------------------------------------------------------------------


@query(
    "q220_promo_revenue_share",
    oracle=f"""
    SELECT {dec_sum_sql(
        "CASE WHEN p_type = 'PROMO'"
        " THEN l_extendedprice * (1 - l_discount) ELSE 0 END"
    )} AS promo_revenue,
           {dec_sum_sql("l_extendedprice * (1 - l_discount)")}
             AS total_revenue,
           CAST(FLOOR(
             {dec_sum_sql(
                 "CASE WHEN p_type = 'PROMO'"
                 " THEN l_extendedprice * (1 - l_discount) ELSE 0 END"
             )} / {dec_sum_sql("l_extendedprice * (1 - l_discount)")}
             * 1000000) AS BIGINT) AS promo_share_u
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
    """,
)
def q220_promo_revenue_share(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q14 — the share of one month's revenue earned by PROMO
    parts: conditional revenue over total revenue, both folded in
    the same single pass (no separate promo scan).

    The share divides two ``dec_sum`` doubles (each bit-identical
    across engines) and floors at micro precision — one
    deterministic IEEE chain, the q188 convention.

    Scale: date filter pushes into the lineitem scan; part
    broadcasts (only p_partkey/p_type after pruning); map-side
    partials → one output row. No shuffle of fact rows.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-03-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = dec_sum(
        F.expr(
            "CASE WHEN p_type = 'PROMO'"
            " THEN l_extendedprice * (1 - l_discount) ELSE 0 END"
        )
    )
    total = dec_sum(F.expr("l_extendedprice * (1 - l_discount)"))
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            promo.alias("promo_revenue"),
            total.alias("total_revenue"),
        )
        .select(
            "promo_revenue",
            "total_revenue",
            F.expr(
                "cast(floor(promo_revenue / total_revenue * 1000000)"
                " as bigint)"
            ).alias("promo_share_u"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q15 shape: top supplier vs MAX scalar subquery — q221
# ---------------------------------------------------------------------------

#: exact basis-point revenue of a line (4-decimal product of
#: 2-decimal price × 2-decimal (1-discount) recovered by ROUND)
_Q221_REV = (
    "CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)"
)


@query(
    "q221_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey, CAST(SUM({_Q221_REV}) AS BIGINT) AS total_rev_u
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_rev_u
    FROM revenue r
    JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE r.total_rev_u = (SELECT MAX(total_rev_u) FROM revenue)
    """,
)
def q221_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — the supplier(s) whose quarterly revenue
    equals the maximum over all suppliers: the original's
    revenue-view + MAX scalar subquery, with the view inlined and
    the scalar broadcast. Ties (if any) surface every maximal
    supplier, as in the original.

    Revenue folds in exact integer basis-point units
    (``ROUND(price*(1-disc)*10000)`` recovers the 4-decimal product
    exactly), so the equality against MAX is BIGINT — no float
    equality anywhere.

    Scale: date filter at the scan; one suppkey shuffle to the
    supplier-cardinality revenue table (slot-persisted — its two
    consumers share one fact scan); MAX re-aggregates that tiny
    table and broadcasts back; supplier names broadcast.
    """
    rev = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(F.expr(f"SUM({_Q221_REV})").alias("total_rev_u"))
    )
    rev = caching.slot_persist("q221_rev", rev)
    mx = rev.agg(F.max("total_rev_u").alias("max_rev_u"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(mx)
        .filter(F.col("total_rev_u") == F.col("max_rev_u"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev_u")
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 shape: supplier counts per part attribute — q222
# ---------------------------------------------------------------------------


@query(
    "q222_supplier_part_counts",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT ps.l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part p ON ps.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (5, 10, 15, 20, 25, 30, 35, 40)
      AND ps.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q222_supplier_part_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q16 shape — how many suppliers can furnish parts of
    each (brand, type, size) outside an excluded brand, skipping
    suppliers with complaints (adapted: negative account balance).
    The part-supplier relationship is read off distinct lineitem
    pairs (no ``partsupp`` table); the complaint exclusion is the
    original's NOT IN subquery → a broadcast anti-join.

    Scale: the distinct (partkey, suppkey) projection shuffles slim
    2-column rows once; the excluded-supplier list is tiny →
    broadcast anti-join; the part attribute filter broadcasts; the
    COUNT DISTINCT re-shuffles only attribute-group × supplier
    combinations.
    """
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & F.col("p_size").isin(5, 10, 15, 20, 25, 30, 35, 40)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        ps.join(
            bad,
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q17 shape: small-quantity-order revenue (correlated AVG) — q223
# ---------------------------------------------------------------------------


@query(
    "q223_small_qty_revenue",
    oracle=f"""
    WITH brand AS (
      SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_brand = 'Brand#1'),
    stats AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
             COUNT(*) AS cnt
      FROM brand GROUP BY l_partkey)
    SELECT COUNT(*) AS n_lines,
           CAST({dec_sum_sql("b.l_extendedprice")}
                / CAST(7 AS DOUBLE) AS DOUBLE) AS avg_yearly
    FROM brand b
    JOIN stats t ON b.l_partkey = t.l_partkey
    WHERE CAST(b.l_quantity AS BIGINT) * 5 * t.cnt < t.sq
    """,
)
def q223_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — revenue lost yearly if orders below 20 % of
    a part's average quantity were dropped: the suite's correlated
    AVG subquery (``l_quantity < 0.2 * (SELECT AVG(...) WHERE same
    part)``), decorrelated into per-part (sum, count) partials
    joined back to the lines.

    The 20 %-of-average comparison is cross-multiplied to pure
    BIGINT: ``5 · qty · cnt < Σqty`` ⟺ ``qty < 0.2 · avg`` — no
    float threshold can flip a boundary row. Only the final yearly
    division runs in (shared-text) double.

    Scale: the brand filter broadcasts and prunes lineitem at the
    scan; the pruned lines are slot-persisted (consumed by the stats
    pass AND the join back); per-part stats shuffle on partkey and
    join back on the same key; one scalar output row.
    """
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    brand = caching.slot_persist(
        "q223_brand",
        load_table(spark, sf_dir, "lineitem")
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_quantity", "l_extendedprice"),
    )
    stats = brand.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.expr("CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)").alias(
            "sq"
        ),
        F.count("*").alias("cnt"),
    )
    return (
        brand.join(stats, F.col("l_partkey") == F.col("t_partkey"))
        .filter(
            F.expr("CAST(l_quantity AS BIGINT) * 5 * cnt < sq")
        )
        .agg(
            F.count("*").alias("n_lines"),
            (
                dec_sum("l_extendedprice") / F.expr("CAST(7 AS DOUBLE)")
            ).cast("double").alias("avg_yearly"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q18 shape: large-volume customers (HAVING-IN subquery) — q224
# ---------------------------------------------------------------------------


@query(
    "q224_large_volume_customers",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, q.total_qty
    FROM (SELECT l_orderkey,
                 CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
                   AS total_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(CAST(l_quantity AS BIGINT)) > 300) q
    JOIN orders o ON o.o_orderkey = q.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def q224_large_volume_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q18 shape — customers who placed any order totalling
    more than 300 units: the original's IN-(grouped-HAVING-subquery)
    filter, realized as the aggregated order list joined back to
    orders (semantically identical — orderkeys are unique).

    Quantities fold as BIGINT (exact); the ranking key o_totalprice
    is an untouched stored double (bit-identical across engines)
    with o_orderkey as tiebreak.

    Scale: one orderkey shuffle for the quantity rollup; the
    surviving key list is tiny (heavy-hitter orders) so the join
    back to orders broadcasts it; customer broadcasts; top-100 is a
    TakeOrdered heap.
    """
    q = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.expr(
                "CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)"
            ).alias("total_qty")
        )
        .filter(F.col("total_qty") > 300)
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        # kept: q224 +1 shuffle (1 MiB)
        o.join(F.broadcast(q), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# TPC-H Q20 shape: dominant-share shippers (nested semi-join) — q225
# ---------------------------------------------------------------------------


@query(
    "q225_dominant_shippers",
    oracle="""
    WITH shipped AS (
      SELECT l_suppkey, l_partkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY l_suppkey, l_partkey),
    totals AS (
      SELECT l_partkey, SUM(sq) AS tq FROM shipped GROUP BY l_partkey)
    SELECT s.s_suppkey, s.s_name, n.n_name,
           COUNT(*) AS n_parts_dominated
    FROM shipped sh
    JOIN totals t ON sh.l_partkey = t.l_partkey
    JOIN supplier s ON sh.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE' AND sh.sq * 2 > t.tq
    GROUP BY s.s_suppkey, s.s_name, n.n_name
    """,
)
def q225_dominant_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape — suppliers in one region who shipped MORE
    THAN HALF of some part's yearly volume (the original's "availqty
    > 50 % of shipped quantity" correlated half-sum, with lineitem
    standing in for partsupp): a nested aggregate chain — per
    (supplier, part) quantities, per-part totals, the correlated
    comparison, then a supplier-grain rollup of dominated parts.

    All quantity math is BIGINT; ``2·sq > total`` is the exact
    cross-multiplied half threshold.

    Scale: date filter at the scan; the (suppkey, partkey) aggregate
    shuffles once and is slot-persisted (consumed by the totals
    pass AND the dominance filter); per-part totals re-aggregate the
    pair table (key-cardinality) and join back partkey-to-partkey;
    region/nation/supplier broadcast; output is supplier-grain.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        .select("l_suppkey", "l_partkey", "l_quantity")
    )
    shipped = caching.slot_persist(
        "q225_shipped",
        li.groupBy("l_suppkey", "l_partkey").agg(
            F.expr(
                "CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)"
            ).alias("sq")
        ),
    )
    totals = shipped.groupBy(
        F.col("l_partkey").alias("t_partkey")
    ).agg(F.sum("sq").alias("tq"))
    r = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "EUROPE")
        .select("r_regionkey")
    )
    n = load_table(spark, sf_dir, "nation").join(
        r, F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    s = load_table(spark, sf_dir, "supplier").join(
        # kept: q225 flips build side (sf0.1)
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name", "n_name")
    return (
        shipped.join(totals, F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("sq") * F.lit(2) > F.col("tq"))
        # kept: q225 +1 shuffle (1 MiB)
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name", "n_name")
        .agg(F.count("*").alias("n_parts_dominated"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q21 shape: suppliers who kept orders waiting — q226
# ---------------------------------------------------------------------------


@query(
    "q226_waiting_orders",
    headline=True,
    oracle="""
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s, lineitem l1, orders o
    WHERE s.s_suppkey = l1.l_suppkey
      AND o.o_orderkey = l1.l_orderkey
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate >
                            o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def q226_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — suppliers who were the SOLE late shipper on
    multi-supplier orders (lateness adapted to ship >60 days after
    the order date). The original phrases this as an EXISTS (another
    supplier participated) plus a NOT EXISTS (no OTHER supplier was
    late) — two correlated self-joins against the fact table. The
    engine decorrelates both into ONE per-order window pass: a line
    survives exactly when its order has ≥2 distinct suppliers and
    exactly 1 distinct late supplier (its own supplier then being
    that one late supplier) — tested as min/max (in)equalities over
    the per-order window, which cost four streaming buffers instead
    of per-row distinct-set builds. Same truth table, one fact scan
    instead of three.

    Scale: the orderkey join to orders (for the order date) is the
    one fact shuffle; the per-order supplier counts reuse that
    partitioning (window over orderkey — no second exchange); the
    late-line survivors collapse to supplier grain; names broadcast;
    top-20 is a TakeOrdered heap.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lines = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        F.expr(
            "CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAYS"
            " THEN 1 ELSE 0 END"
        ).alias("late"),
    )
    # survivor predicate via MIN/MAX windows, not collect_set sizes
    # (r14, guide §1.2 per-task work): a line survives when its order
    # has ≥2 distinct suppliers and EXACTLY 1 distinct late supplier.
    # Over the same per-order window, "≥2 distinct suppliers" ⟺
    # min(suppkey) ≠ max(suppkey), and — given the row itself is late,
    # so at least one late supplier exists — "exactly 1 distinct late
    # supplier" ⟺ min(late suppkey) = max(late suppkey) (the when()
    # yields NULL on punctual rows; min/max ignore NULLs). Same truth
    # table, but four cheap streaming min/max buffers replace two
    # per-row hash-set builds over the whole fact table (the windows
    # still share ONE exchange + sort on l_orderkey).
    w = W.partitionBy("l_orderkey")
    late_supp = F.when(F.col("late") == 1, F.col("l_suppkey"))
    flagged = lines.select(
        "l_orderkey",
        "l_suppkey",
        "late",
        F.min("l_suppkey").over(w).alias("min_supp"),
        F.max("l_suppkey").over(w).alias("max_supp"),
        F.min(late_supp).over(w).alias("min_late"),
        F.max(late_supp).over(w).alias("max_late"),
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        flagged.filter(
            (F.col("late") == 1)
            & (F.col("min_supp") != F.col("max_supp"))
            & (F.col("min_late") == F.col("max_late"))
        )
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )
