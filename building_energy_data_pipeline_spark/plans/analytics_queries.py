"""Warehouse / experimentation / robust-stats analytics — q169 onward.

Round-7 second batch: the slowly-changing-dimension, experiment-
readout, robust-outlier, smoothing, and graph-metric surface a
production lakehouse layers on top of the reference's relational ETL
(the reference keeps only latest-state tables,
``src/data_loading/data_loader.py``; it has no history tracking,
experiment tooling, or graph analytics). Every query ships a DuckDB
oracle over the same parquet inputs; where the two engines must agree
bit-for-bit on derived numbers, the arithmetic is integer/DECIMAL
until a final deterministic double op (see q167's pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.hashing import duck_u32, py_u32
from ..sources.readers import load_table
from .registry import query

# ---------------------------------------------------------------------------
# SCD Type-2 history build — q169
# ---------------------------------------------------------------------------


@query(
    "q169_scd2_history",
    headline=True,
    oracle="""
    WITH log AS (
      SELECT o_custkey AS custkey, o_orderpriority AS status,
             CAST(epoch(o_orderdate) AS BIGINT) AS d, o_orderkey AS k
      FROM orders),
    chg AS (
      SELECT custkey, status, d, k,
             lag(status) OVER w AS prev
      FROM log WINDOW w AS (PARTITION BY custkey ORDER BY d, k)),
    runs AS (
      SELECT custkey, status, d, k FROM chg
      WHERE prev IS NULL OR prev <> status)
    SELECT custkey, status,
           d AS eff_from,
           lead(d) OVER w AS eff_to,
           CAST(row_number() OVER w AS BIGINT) AS version,
           (lead(d) OVER w IS NULL) AS is_current
    FROM runs WINDOW w AS (PARTITION BY custkey ORDER BY d, k)
    """,
)
def q169_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type-2 build: collapse each
    customer's order-priority change log into effective-dated
    history rows (``eff_from``/``eff_to``/``version``/``is_current``)
    — the warehouse op that turns an append-only change feed into a
    point-in-time-joinable dimension. Consecutive repeats of the
    same value are collapsed into one validity interval (run-length
    collapse via ``lag``); the open row has ``eff_to IS NULL``.

    The reference keeps only latest-state tables (its loader
    upserts in place); this is the history-preserving alternative
    its users ask for first.

    Scale: one shuffle on ``custkey`` serves every window (lag,
    lead, row_number share the same partition ordering — Spark
    plans a single sort/exchange); partitions are customer-grained,
    so no data-scaled single-partition window exists. Ordering ties
    are broken by ``o_orderkey``, so the history is deterministic
    under any row arrival order.
    """
    w = W.partitionBy("custkey").orderBy("d", "k")
    log = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("status"),
        F.expr("unix_timestamp(o_orderdate)").alias("d"),
        F.col("o_orderkey").alias("k"),
    )
    runs = (
        log.withColumn("prev", F.lag("status").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("status")))
        .drop("prev")
    )
    return runs.select(
        "custkey",
        "status",
        F.col("d").alias("eff_from"),
        F.lead("d").over(w).alias("eff_to"),
        F.row_number().over(w).cast("bigint").alias("version"),
        F.lead("d").over(w).isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Sample-ratio-mismatch guard — q170
# ---------------------------------------------------------------------------

#: shared chi-square text: per-arm contribution (obs-exp)^2/exp from
#: integer counts and the planned weight — both engines evaluate the
#: same double expression on the same exact inputs
_SRM_EXP = "(wt * n_total)"
_SRM_CONTRIB = f"((n_obs - {_SRM_EXP}) * (n_obs - {_SRM_EXP}) / {_SRM_EXP})"


@query(
    "q170_srm_check",
    oracle=f"""
    WITH users AS (
      SELECT DISTINCT user_id FROM events),
    assign AS (
      SELECT CASE WHEN user_id % 4 <= 1 THEN 'control'
                  WHEN user_id % 4 = 2 THEN 'treat_a'
                  ELSE 'treat_b' END AS arm,
             CASE WHEN user_id % 4 <= 1 THEN 0.5 ELSE 0.25 END AS wt
      FROM users),
    obs AS (
      SELECT arm, MIN(wt) AS wt,
             CAST(COUNT(*) AS DOUBLE) AS n_obs
      FROM assign GROUP BY arm),
    tot AS (SELECT CAST(SUM(n_obs) AS DOUBLE) AS n_total FROM obs),
    contrib AS (
      SELECT arm, n_obs, wt, n_total,
             {_SRM_CONTRIB} AS c
      FROM obs, tot),
    chi AS (SELECT list_reduce(list_prepend(0.0, list(c ORDER BY arm)), (a, b) -> a + b) AS chi2 FROM contrib)
    SELECT arm,
           CAST(n_obs AS BIGINT) AS n_users,
           CAST(floor({_SRM_EXP} * 1000000) AS BIGINT) AS expected_u,
           CAST(floor(c * 1000000) AS BIGINT) AS contrib_u,
           CAST(floor(chi2 * 1000000) AS BIGINT) AS chi2_u,
           (chi2 > 13.816) AS srm_alert
    FROM contrib, chi
    """,
)
def q170_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guard for experiment assignment: users
    hash into arms with a planned 2:1:1 allocation; the chi-square
    statistic of observed vs planned counts (df=2) flags broken
    randomization (``chi2 > 13.816`` ≈ p<0.001, the standard SRM
    alert threshold). SRM is the first validity check every
    experimentation platform runs before reading a metric — a
    mismatched ratio invalidates q167's CUPED readout upstream.

    All inputs to the double chi-square text are exact (integer
    counts, the planned weight); both engines evaluate the same
    expression string, so ``chi2_u`` hash-pins the statistic.

    Scale: one distinct on ``user_id`` (map-side combined), then
    arm-cardinality aggregates; the totals row broadcasts. At 100 TB
    the distinct is the only real shuffle and is exactly the
    dedup-by-key shape AQE handles.
    """
    users = load_table(spark, sf_dir, "events").select("user_id").distinct()
    assign = users.select(
        F.expr(
            "CASE WHEN user_id % 4 <= 1 THEN 'control'"
            " WHEN user_id % 4 = 2 THEN 'treat_a'"
            " ELSE 'treat_b' END"
        ).alias("arm"),
        F.expr(
            "CASE WHEN user_id % 4 <= 1 THEN 0.5 ELSE 0.25 END"
        ).alias("wt"),
    )
    from .. import caching

    # the contrib→chi→final scalar-combine tree reads this 3-row
    # table three times — persist it so the user_id distinct (the
    # only corpus-sized work) runs ONCE
    obs = caching.slot_persist(
        "q170_arms",
        assign.groupBy("arm").agg(
            F.min("wt").alias("wt"),
            F.count("*").cast("double").alias("n_obs"),
        ),
    )
    tot = obs.agg(F.expr("cast(sum(n_obs) as double)").alias("n_total"))
    contrib = obs.crossJoin(tot).withColumn(
        "c", F.expr(_SRM_CONTRIB)
    )
    # chi2 folds THREE doubles — an unordered SUM's result depends
    # on partial-aggregation order and can flip the last bit under
    # floor(); fold in explicit arm order on both engines instead
    chi = contrib.agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(arm, c))),"
            " cast(0.0 as double), (acc, s) -> acc + s.c)"
        ).alias("chi2")
    )
    return contrib.crossJoin(chi).select(
        "arm",
        F.expr("cast(n_obs as bigint)").alias("n_users"),
        F.expr(f"cast(floor({_SRM_EXP} * 1000000) as bigint)").alias(
            "expected_u"
        ),
        F.expr("cast(floor(c * 1000000) as bigint)").alias("contrib_u"),
        F.expr("cast(floor(chi2 * 1000000) as bigint)").alias("chi2_u"),
        F.expr("chi2 > 13.816").alias("srm_alert"),
    )


# ---------------------------------------------------------------------------
# Robust MAD outliers — q171
# ---------------------------------------------------------------------------

#: 1 / Φ⁻¹(3/4): the consistency constant that makes MAD estimate σ
#: under normality; written once, evaluated identically by both engines
_MAD_K = "(mad / 0.6744897501960817)"


@query(
    "q171_mad_outliers",
    oracle=f"""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type),
    mad AS (
      SELECT e.event_type,
             quantile_cont(abs(e.value - m.med), 0.5) AS mad
      FROM events e JOIN med m USING (event_type)
      GROUP BY e.event_type)
    SELECT m.event_type, m.n,
           CAST(floor(m.med * 1000000) AS BIGINT) AS med_u,
           CAST(floor(d.mad * 1000000) AS BIGINT) AS mad_u,
           CAST(SUM(CASE WHEN abs(e.value - m.med) >
                         3.0 * {_MAD_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM events e
    JOIN med m USING (event_type) JOIN mad d ON m.event_type = d.event_type
    GROUP BY m.event_type, m.n, m.med, d.mad
    """,
)
def q171_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: median / MAD
    (median absolute deviation) with the 0.6745 normal-consistency
    constant — the estimator that, unlike mean/stddev z-scores,
    does not let the outliers it is hunting inflate its own scale.
    A reading is flagged when ``|v - med| > 3·MAD/0.6745`` (the
    "robust 3σ" rule).

    Both engines compute the exact interpolating median
    (Spark ``percentile``, DuckDB ``quantile_cont`` — identical
    (a+b)/2 interpolation on identical doubles), so ``med_u`` /
    ``mad_u`` / outlier counts hash-match.

    Scale: three scans, each reducing to event-type cardinality with
    map-side partials; the 5-row median/MAD tables broadcast back.
    Exact grouped ``percentile`` buffers per-group values — the
    documented 100 TB swap is ``approx_percentile`` (KLL sketch,
    mergeable, bounded memory; q158 pins the error-bound contract),
    which changes only the agg function, not the plan shape.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med"),
        F.count("*").alias("n"),
    )
    mad = (
        ev.join(med, "event_type")
        .groupBy("event_type")
        .agg(F.expr("percentile(abs(value - med), 0.5)").alias("mad"))
    )
    return (
        ev.join(F.broadcast(med), "event_type")  # kept: q171 runs 4% slower (sf0.1)
        .join(mad, "event_type")
        .groupBy("event_type", "n", "med", "mad")
        .agg(
            F.expr(
                f"cast(sum(case when abs(value - med) > 3.0 * {_MAD_K}"
                " then 1 else 0 end) as bigint)"
            ).alias("n_outliers")
        )
        .select(
            "event_type",
            "n",
            F.expr("cast(floor(med * 1000000) as bigint)").alias("med_u"),
            F.expr("cast(floor(mad * 1000000) as bigint)").alias("mad_u"),
            "n_outliers",
        )
    )


# ---------------------------------------------------------------------------
# Integer-exact EWMA smoothing — q172
# ---------------------------------------------------------------------------

#: EWMA α=1/4 over a 16-row frame with INTEGER weights: lag-k weight
#: is 3^k·4^(15-k) (newest k=0 → 4^15). All weights and products are
#: exact BIGINTs (≤ ~1.7e17 total, inside int64), so the only float
#: op is one final num/den divide on identical int64s — deterministic
#: in both engines. pow() doubles are exact for these small powers.
_EWMA_W = "cast(pow(3, {k}) * pow(4, 15 - ({k})) as bigint)"


@query(
    "q172_ewma_smoothing",
    oracle=f"""
    WITH r AS (
      SELECT user_id, event_id,
             CAST(floor(value * 10000) AS BIGINT) AS v,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events)
    SELECT r1.user_id, r1.event_id,
           CAST(COUNT(*) AS BIGINT) AS n_frame,
           CAST(floor(
             CAST(SUM(r2.v * {_EWMA_W.format(k='r1.rn - r2.rn')}) AS DOUBLE)
             / CAST(SUM({_EWMA_W.format(k='r1.rn - r2.rn')}) AS DOUBLE)
             * 100) AS BIGINT) AS ewma_u
    FROM r r1 JOIN r r2
      ON r1.user_id = r2.user_id AND r2.rn BETWEEN r1.rn - 15 AND r1.rn
    GROUP BY r1.user_id, r1.event_id
    """,
)
def q172_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α=1/4, 16-row frame)
    of each user's event values — the smoothing primitive behind
    rate limiting, anomaly baselines, and metric dashboards. EWMA's
    recursive definition does not distribute; the bounded-frame form
    (weights decay 3/4 per lag, truncated at 16 rows ≈ weight 1%)
    does, and with INTEGER weights ``3^k·4^(15-k)`` the whole sum
    stays exact int64 until one final division — so the oracle
    hash-pins every smoothed value, something float-accumulated
    EWMAs cannot do across engines.

    Spark side: one window (``collect_list`` over a ROWS frame) and
    a JVM-side ``zip_with``/``aggregate`` fold — no Python, no
    explode, no self-join. The oracle re-derives the same numbers
    relationally (bounded self-join on row numbers).

    Scale: one shuffle on ``user_id`` + per-user sort; frames are
    O(16) regardless of series length, and partitioning is
    user-grained — the 100 TB plan is identical.
    """
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(-15, 0)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.expr("cast(floor(value * 10000) as bigint)").alias("v"),
    )
    wk = _EWMA_W.format(k="k")
    return (
        ev.withColumn("xs", F.collect_list("v").over(frame))
        .select(
            "user_id",
            "event_id",
            F.expr("cast(size(xs) as bigint)").alias("n_frame"),
            F.expr(
                "cast(floor("
                " cast(aggregate(zip_with(xs, sequence(size(xs) - 1, 0, -1),"
                f"   (x, k) -> x * {wk}), 0L, (acc, t) -> acc + t) as double)"
                " / cast(aggregate(sequence(size(xs) - 1, 0, -1), 0L,"
                f"   (acc, k) -> acc + {wk}) as double)"
                " * 100) as bigint)"
            ).alias("ewma_u"),
        )
    )


# ---------------------------------------------------------------------------
# Triangle counting / global clustering — q173
# ---------------------------------------------------------------------------


@query(
    "q173_triangle_count",
    headline=True,
    oracle="""
    WITH co AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-10-01'),
    e AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM co a JOIN co b ON a.o = b.o AND a.p < b.p),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
      GROUP BY node),
    tri AS (
      SELECT COUNT(*) AS n_tri
      FROM e e1 JOIN e e2 ON e1.v = e2.u JOIN e e3
        ON e3.u = e1.u AND e3.v = e2.v),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges
      FROM deg),
    ecnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
    SELECT n_nodes, n_edges, n_wedges,
           CAST(n_tri AS BIGINT) AS n_triangles,
           CAST(floor(3.0 * n_tri / n_wedges * 1000000) AS BIGINT)
             AS gcc_u
    FROM agg, ecnt, tri
    """,
)
def q173_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the
    part-co-purchase graph (parts are adjacent when they appear in
    the same order; the first ~quarter of ship dates keeps the
    graph at demo density). Triangle density is the standard structure probe
    on similarity/co-occurrence graphs — it separates genuinely
    clustered corpora from hub artifacts before anything expensive
    (community detection, GNN sampling) runs on them.

    Spark side counts each triangle once via **degree-ordered
    orientation**: every edge points from its (degree, id)-smaller
    endpoint, which caps out-degree at O(√m) on any graph and makes
    the wedge join's fan-out bounded — the Cohen / GraphX strategy.
    The oracle counts the same triangles with the simpler numeric
    orientation (u<v<w), so the counts agree while the plans differ
    where scale demands it.

    Scale: edge build shuffles on order key (per-order fan-out ≤
    C(lines,2)); wedge join and closure join are equi-joins on node
    ids; nothing is quadratic in |V| — pair space is Σ out-deg²,
    the orientation-bounded optimum.
    """
    from .. import caching

    co = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") < F.lit("1996-10-01"))
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    # the edge list feeds FOUR consumers (deg, orientation, wedge
    # closure, edge count) — stage it once or every branch re-runs
    # the co-purchase self-join
    e = caching.slot_persist(
        "q173_edges",
        co.alias("a")
        .join(co.alias("b"), "o")
        .filter(F.expr("a.p < b.p"))
        .select(F.expr("a.p").alias("u"), F.expr("b.p").alias("v"))
        .distinct(),
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    # orient every edge toward the (degree, id)-larger endpoint;
    # staged too — the oriented table drives both wedge sides AND
    # the closure probe (three consumers)
    ed = (
        e.join(deg.withColumnRenamed("node", "u"), "u")
        .withColumnRenamed("d", "du")
        .join(
            deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"),
            "v",
        )
        .select(
            F.expr(
                "case when (du, u) < (dv, v) then u else v end"
            ).alias("s"),
            F.expr(
                "case when (du, u) < (dv, v) then v else u end"
            ).alias("t"),
            F.expr(
                "case when (du, u) < (dv, v) then dv else du end"
            ).alias("dt"),
        )
        .withColumn("tkey", F.struct("dt", "t"))
        .drop("dt")
    )
    ed = caching.slot_persist("q173_oriented", ed)
    wedges = (
        ed.alias("x")
        .join(ed.alias("y"), F.expr("x.s = y.s and x.tkey < y.tkey"))
        .select(F.expr("x.t").alias("a"), F.expr("y.t").alias("b"))
    )
    closed = wedges.join(
        ed.select(
            F.least("s", "t").alias("a2"), F.greatest("s", "t").alias("b2")
        ),
        F.expr(
            "least(a, b) = a2 and greatest(a, b) = b2"
        ),
    )
    tri = closed.agg(F.count("*").alias("n_tri"))
    agg = deg.agg(
        F.count("*").alias("n_nodes"),
        F.expr("cast(sum(d * (d - 1) div 2) as bigint)").alias("n_wedges"),
    )
    ecnt = e.agg(F.count("*").alias("n_edges"))
    return (
        agg.crossJoin(ecnt)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            F.expr("cast(n_tri as bigint)").alias("n_triangles"),
            F.expr(
                "cast(floor(3.0 * n_tri / n_wedges * 1000000) as bigint)"
            ).alias("gcc_u"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-source quantile normalization — q174
# ---------------------------------------------------------------------------


@query(
    "q174_quantile_normalize",
    oracle="""
    WITH r AS (
      SELECT doc_id, source, n_chars,
             CAST(row_number() OVER (PARTITION BY source
                                     ORDER BY n_chars, doc_id)
                  AS BIGINT) AS rank
      FROM documents),
    grid AS (
      SELECT rank,
             SUM(n_chars) * 1000000 // COUNT(*) AS qnorm_u
      FROM r GROUP BY rank)
    SELECT r.doc_id, r.source, r.n_chars, r.rank,
           CAST(grid.qnorm_u AS BIGINT) AS qnorm_u
    FROM r JOIN grid USING (rank)
    """,
)
def q174_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of document lengths across sources
    (the batch-effect correction used to make per-source score
    distributions comparable before mixing weights are fit): each
    document is re-assigned the ACROSS-SOURCE mean of the length at
    its within-source rank, so every source ends up with the same
    marginal distribution while preserving within-source order.

    ``qnorm_u`` is exact integer arithmetic (``sum·10⁶ div count``)
    — no float averaging, so the oracle hash pins every remapped
    value.

    Scale: one window partitioned by ``source`` (source-grained
    partitions; a skewed mega-source is the known caveat and would
    be range-salted like q114), one rank-cardinality aggregate, and
    a broadcast-back join on rank. Corpus bytes are read once.
    """
    w = W.partitionBy("source").orderBy("n_chars", "doc_id")
    r = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(w).cast("bigint").alias("rank"),
    )
    grid = r.groupBy("rank").agg(
        F.expr("sum(n_chars) * 1000000 div count(*)").alias("qnorm_u")
    )
    return r.join(grid, "rank").select(
        "doc_id", "source", "n_chars", "rank",
        F.col("qnorm_u").cast("bigint").alias("qnorm_u"),
    )


# ---------------------------------------------------------------------------
# Sorted-neighborhood blocking + edit-distance verify — q175
# ---------------------------------------------------------------------------


@query(
    "q175_sorted_neighborhood",
    oracle="""
    WITH s AS (
      SELECT doc_id, lower(text[1:16]) AS k,
             lower(text[1:40]) AS probe
      FROM documents),
    r AS (
      SELECT doc_id, probe,
             CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT)
               AS rn
      FROM s)
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(b.rn - a.rn AS BIGINT) AS gap,
           CAST(levenshtein(a.probe, b.probe) AS BIGINT) AS lev
    FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 3
    WHERE levenshtein(a.probe, b.probe) <= 20
    """,
)
def q175_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity-resolution blocking (Hernández &
    Stolfo's merge/purge): documents sort by a normalized key (first
    16 chars lowercased), and only rows within a 3-row window of
    each other are compared — O(n·w) candidate pairs instead of
    O(n²) — then verified by Levenshtein distance over a 40-char
    probe. The classic complement to hash blocking (q68) and LSH
    (q28): it catches near-misses that land in DIFFERENT hash
    buckets but adjacent sort positions.

    Spark side has no O(n) global window: the global sort rank comes
    from ``scale.global_row_index`` (range partition + offset), and
    the neighbor pairing is an EQUI-join on ``rn + δ`` (δ exploded
    from [1,2,3]) — no banded non-equi join, no BNLJ. The oracle
    re-derives the same pairs with a plain window + range join.

    Scale: one range exchange for the sort, a ×3 map-side fan-out,
    one equi-join on the dense rank — every piece is the shape
    distributed ORDER BY already uses; window width w is the only
    tuning knob.
    """
    from ..operators import scale

    s = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("lower(substring(text, 1, 16))").alias("k"),
        F.expr("lower(substring(text, 1, 40))").alias("probe"),
    )
    r = scale.global_row_index(s, ["k", "doc_id"], index_name="rn").select(
        "doc_id", "probe", "rn"
    )
    left = r.select(
        F.col("doc_id").alias("a_id"),
        F.col("probe").alias("a_probe"),
        F.explode(F.expr("array(1L, 2L, 3L)")).alias("gap"),
        (F.col("rn")).alias("a_rn"),
    ).withColumn("rn", F.expr("a_rn + gap"))
    return (
        left.join(r, "rn")
        .select(
            "a_id",
            F.col("doc_id").alias("b_id"),
            "gap",
            F.expr("cast(levenshtein(a_probe, probe) as bigint)").alias(
                "lev"
            ),
        )
        .filter(F.col("lev") <= 20)
    )


# ---------------------------------------------------------------------------
# Signed-random-projection LSH over embeddings — q176
# ---------------------------------------------------------------------------

#: ±1 projection entry for (bit j, dim d): parity of the engine hash
#: of "j" salted by d (md5("j:d")) — derived ONCE here (``py_u32`` ≡
#: both engines' ``spark_u32``/``duck_u32``) and inlined as literal
#: constants in BOTH engines' texts, because evaluating the md5
#: INSIDE the projection lambda re-hashed all bits×dims pairs per
#: vector (~10M md5 calls at sf0.1 — measured as the whole suite's
#: slowest entry, 5.6 s). With the
#: constants inlined the projection unrolls to flat arithmetic that
#: whole-stage codegen compiles — no interpreted lambda at all.
_SRP_BITS = 8
_SRP_DIM = 64  # embeddings are fixed 64-d (TESTDATA.md)


def _srp_sign(j: int, d: int) -> float:
    return 1.0 if py_u32(str(j), salt=d) % 2 == 0 else -1.0


_SRP_MATRIX = [
    [_srp_sign(j, d) for d in range(_SRP_DIM)] for j in range(_SRP_BITS)
]


def _srp_bucket_spark() -> str:
    """Unrolled bucket expression: 8 sign-dot tests, 64 flat
    multiply-adds each, all inside codegen (element_at is 1-based)."""
    bits = []
    for j in range(_SRP_BITS):
        dot = " + ".join(
            f"cast(element_at(embedding, {d + 1}) as double)"
            f" * {s:.1f}D"
            for d, s in enumerate(_SRP_MATRIX[j])
        )
        bits.append(
            f"if(({dot}) > 0.0D, cast({1 << j} as bigint), 0L)"
        )
    return "(" + " + ".join(bits) + ")"


def _srp_bucket_duck() -> str:
    bits = []
    for j in range(_SRP_BITS):
        dot = " + ".join(
            f"CAST(embedding[{d + 1}] AS DOUBLE) * ({s:.1f})"
            for d, s in enumerate(_SRP_MATRIX[j])
        )
        bits.append(
            f"CASE WHEN ({dot}) > 0.0 THEN CAST({1 << j} AS BIGINT)"
            f" ELSE 0 END"
        )
    return "(" + " + ".join(bits) + ")"


from ..operators import similarity as _sim  # noqa: E402  (oracle text below)


def _q176_oracle() -> str:
    return f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {_srp_bucket_duck()} AS bucket,
             {_sim.duck_norm_sql('embedding')} AS nrm
      FROM embeddings),
    pairs AS (
      SELECT x.vec_id AS a, y.vec_id AS b, x.bucket,
             CAST(floor(
               {_sim.duck_dot_sql('x.embedding', 'y.embedding')}
               / (x.nrm * y.nrm) * 1000000)
               AS BIGINT) AS cos_u
      FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
    SELECT a, b, CAST(bucket AS BIGINT) AS bucket, cos_u
    FROM pairs ORDER BY cos_u DESC, a, b LIMIT 25
    """


@query("q176_srp_lsh", headline=True, oracle=_q176_oracle())
def q176_srp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection (SimHash-for-vectors) LSH: each
    embedding maps to an 8-bit bucket — bit j is the sign of its
    dot product with a pseudo-random ±1 hyperplane derived from a
    shared md5 parity (Charikar 2002) — and only same-bucket pairs
    are cosine-verified, top-25 reported. The cosine counterpart of
    the text-side MinHash (q28) / SimHash (q29) family: collision
    probability is 1 − θ/π per bit, so buckets concentrate
    small-angle pairs while the pair space drops from O(n²) to
    Σ|bucket|².

    The projection is a MAP-ONLY flat expression — the ±1 matrix is
    inlined as constants (derivation formula kept in ``_srp_sign``),
    so the 8×64 multiply-adds run inside whole-stage codegen with no
    interpreted lambda and no per-row hashing; each vector's L2 norm
    is computed ONCE in the same projection and carried into the
    pair join (the inline form re-derived both norms per PAIR).
    Both engines read the identical constants, so bucket ids and
    ``cos_u`` hash-match.

    Scale: bucket assignment is embarrassingly parallel; the
    self-join is an equi-join on bucket (AQE-handled skew if a hub
    bucket forms); raising bits thins buckets geometrically —
    the standard recall/cost dial.
    """
    from ..operators import similarity

    b = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        F.expr(_srp_bucket_spark()).alias("bucket"),
        F.expr(similarity.norm_expr("embedding")).alias("nrm"),
    )
    x = b.select(
        F.col("vec_id").alias("a"),
        F.col("embedding").alias("xv"),
        F.col("nrm").alias("xn"),
        "bucket",
    )
    y = b.select(
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("yv"),
        F.col("nrm").alias("yn"),
        "bucket",
    )
    return (
        x.join(y, "bucket")
        .filter(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.col("bucket").cast("bigint").alias("bucket"),
            # the pair dot is ALSO unrolled flat (64 multiply-adds
            # in codegen) — the HOF fold form pays the interpreted-
            # lambda tax once per candidate pair
            F.expr(
                "cast(floor(("
                + " + ".join(
                    f"cast(element_at(xv, {d + 1}) as double)"
                    f" * cast(element_at(yv, {d + 1}) as double)"
                    for d in range(_SRP_DIM)
                )
                + ") / (xn * yn) * 1000000) as bigint)"
            ).alias("cos_u"),
        )
        .orderBy(F.desc("cos_u"), "a", "b")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Point-in-time SCD2 lookup — q177
# ---------------------------------------------------------------------------

#: shared SQL prefix: the q169 change-log collapse, deduped to ONE
#: status per (custkey, day) — latest order key that day wins — so
#: the as-of key (custkey, d) is unique on both engines
_Q177_HIST = """
    log AS (
      SELECT o_custkey AS custkey, o_orderpriority AS status,
             CAST(epoch(o_orderdate) AS BIGINT) AS d, o_orderkey AS k
      FROM orders),
    chg AS (
      SELECT custkey, status, d, k, lag(status) OVER w AS prev
      FROM log WINDOW w AS (PARTITION BY custkey ORDER BY d, k)),
    runs AS (
      SELECT custkey, status, d, k FROM chg
      WHERE prev IS NULL OR prev <> status),
    hist AS (
      SELECT custkey, d, status
      FROM runs QUALIFY row_number() OVER (
        PARTITION BY custkey, d ORDER BY k DESC) = 1)
"""


def _q177_oracle() -> str:
    from ..functions.scalar import dec_sum_sql

    return f"""
    WITH {_Q177_HIST},
    f AS (
      SELECT o.o_custkey AS custkey,
             CAST(epoch(l.l_shipdate) AS BIGINT) AS t,
             l.l_extendedprice * (1 - l.l_discount) AS rev
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
    SELECT h.status AS status_at,
           CAST(COUNT(*) AS BIGINT) AS n_facts,
           {dec_sum_sql("rev")} AS revenue
    FROM f ASOF JOIN hist h
      ON f.custkey = h.custkey AND f.t >= h.d
    GROUP BY h.status
    """


@query("q177_point_in_time_join", headline=True, oracle=_q177_oracle())
def q177_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of) fact enrichment against the SCD2
    dimension q169 builds: every lineitem is decorated with the
    customer's order-priority status THAT WAS VALID ON ITS SHIP
    DATE — the feature-store / audit-correct join that prevents
    label leakage from future dimension states (joining the latest
    state, the reference loader's only option, back-dates today's
    status onto yesterday's facts). Rolled up to revenue per
    effective status.

    The change history is deduped to one status per (custkey, day)
    — latest order that day wins — so the as-of key is unique and
    both engines' as-of semantics coincide; the oracle uses DuckDB's
    native ASOF JOIN (the q36 pattern) while the engine routes
    through ``operators/asof.asof_join`` (union – sort – carry-
    forward, ``right_unique=True``).

    Scale: two custkey shuffles total — one building the history
    windows, one sorting the as-of union (the union of two inputs
    cannot inherit either's partitioning); facts join orders on the
    orderkey they're already co-partitioned by in a keyed warehouse. No interval explosion,
    no range join — the carry-forward trick turns point-in-time
    lookup into a linear merge per key.
    """
    from ..functions.scalar import dec_sum
    from ..operators.asof import asof_join

    w = W.partitionBy("custkey").orderBy("d", "k")
    log = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("status"),
        F.expr("unix_timestamp(o_orderdate)").alias("d"),
        F.col("o_orderkey").alias("k"),
    )
    hist = (
        log.withColumn("prev", F.lag("status").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("status")))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("custkey", "d").orderBy(F.desc("k"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("custkey", "d", "status")
    )
    facts = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            F.expr("unix_timestamp(l_shipdate)").alias("t"),
            F.expr("l_extendedprice * (1 - l_discount)").alias("rev"),
        )
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", F.col("o_custkey").alias("custkey")
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("custkey", "t", "rev")
    )
    joined = asof_join(
        facts,
        hist,
        on=["custkey"],
        left_ts="t",
        right_ts="d",
        right_unique=True,
    )
    return joined.groupBy(
        F.col("right_status").alias("status_at")
    ).agg(
        F.count("*").alias("n_facts"),
        dec_sum("rev").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank-fusion hybrid retrieval — q178
# ---------------------------------------------------------------------------

#: RRF constant (Cormack et al. 2009); 60 is the published default
_RRF_K = 60
_RRF_TOP = 20
#: candidate depth per retriever
_RRF_DEPTH = 40


def _q178_oracle() -> str:
    from ..operators import similarity as sim
    from .llm_queries import DTOK, _bm25_exprs, BM25_TERMS

    tf_cols = ",\n             ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    df_cols = ",\n             ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df{i}"
        for i in range(len(BM25_TERMS))
    )
    score, matched = _bm25_exprs("//")
    return f"""
    WITH per AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
             {tf_cols}
      FROM (SELECT doc_id, {DTOK} AS toks FROM documents)),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS total_len,
             {df_cols}
      FROM per),
    lex AS (
      SELECT doc_id,
             CAST(row_number() OVER (
               ORDER BY {score} DESC, doc_id) AS BIGINT) AS lex_rank
      FROM per, g WHERE {matched} > 0
      ORDER BY lex_rank LIMIT {_RRF_DEPTH}),
    qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
    den AS (
      SELECT vec_id,
             CAST(floor({sim.duck_dot_sql('embedding', 'q')}
               / ({sim.duck_norm_sql('embedding')}
                  * {sim.duck_norm_sql('q')}) * 1000000) AS BIGINT)
               AS cos_u
      FROM embeddings, qv WHERE vec_id <> 0),
    dense AS (
      SELECT vec_id AS doc_id,
             CAST(row_number() OVER (
               ORDER BY cos_u DESC, vec_id) AS BIGINT) AS dense_rank
      FROM den ORDER BY dense_rank LIMIT {_RRF_DEPTH}),
    fused AS (
      SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
             l.lex_rank, d.dense_rank,
             (CASE WHEN l.lex_rank IS NULL THEN 0
                   ELSE 1000000 // ({_RRF_K} + l.lex_rank) END
              + CASE WHEN d.dense_rank IS NULL THEN 0
                     ELSE 1000000 // ({_RRF_K} + d.dense_rank) END)
               AS rrf_u
      FROM lex l FULL OUTER JOIN dense d USING (doc_id))
    SELECT doc_id, lex_rank, dense_rank, CAST(rrf_u AS BIGINT) AS rrf_u
    FROM fused ORDER BY rrf_u DESC, doc_id LIMIT {_RRF_TOP}
    """


@query("q178_rrf_hybrid", headline=True, oracle=_q178_oracle())
def q178_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal rank fusion (Cormack et al.
    2009): the BM25 lexical ranking (q148's scorer, same persist
    slot) and a dense cosine ranking against a fixed query vector
    (vec_id 0, the q34 brute-force path) each contribute
    ``1e6 div (60 + rank)``; the fused top-{_RRF_TOP} is the
    production first-stage retrieval stack in one declarative plan.
    Rank fusion needs NO score calibration between retrievers —
    exactly why RRF is the default hybrid combiner — and integer
    division keeps the fused score engine-exact.

    Scale: both candidate lists are TakeOrdered {_RRF_DEPTH}-row
    sets — driver-sized regardless of corpus size; the fusion join
    touches ≤2·{_RRF_DEPTH} rows. The corpus-sized work is the two
    scorers, each already plan-audited (q148: slot-staged tf
    projection + broadcast stats; dense: map-only fold against a
    broadcast query row).
    """
    from ..caching import slot_persist
    from ..operators import scale, similarity
    from .llm_queries import BM25_TERMS, TOK, _bm25_exprs

    docs = load_table(spark, sf_dir, "documents")
    per = slot_persist(
        "text.bm25_tf",
        scale.spread_scan(docs, cols=["doc_id", "text"], by=["doc_id"])
        .select("doc_id", F.expr(TOK).alias("toks"))
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("dl"),
            *[
                F.expr(f"size(filter(toks, x -> x = '{t}'))")
                .cast("long")
                .alias(f"tf{i}")
                for i, t in enumerate(BM25_TERMS)
            ],
        ),
    )
    g = per.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("total_len"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
            .cast("long")
            .alias(f"df{i}")
            for i in range(len(BM25_TERMS))
        ],
    )
    score, matched = _bm25_exprs("div")
    lex = (
        per.crossJoin(g)
        .filter(F.expr(matched) > 0)
        .select("doc_id", F.expr(score).cast("long").alias("s"))
        .orderBy(F.desc("s"), "doc_id")
        .limit(_RRF_DEPTH)
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.desc("s"), "doc_id"))
            .cast("long")
            .alias("lex_rank"),
        )
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q")
    )
    cos = (
        f"{similarity.dot_expr('embedding', 'q')}"
        f" / ({similarity.norm_expr('embedding')}"
        f" * {similarity.norm_expr('q')})"
    )
    dense = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(qv)
        .select(
            "vec_id",
            F.expr(f"cast(floor({cos} * 1000000) as bigint)").alias(
                "cos_u"
            ),
        )
        .orderBy(F.desc("cos_u"), "vec_id")
        .limit(_RRF_DEPTH)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.row_number()
            .over(W.orderBy(F.desc("cos_u"), "vec_id"))
            .cast("long")
            .alias("dense_rank"),
        )
    )
    fused = lex.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "dense_rank",
        (
            F.when(
                F.col("lex_rank").isNull(), F.lit(0)
            ).otherwise(F.expr(f"1000000 div ({_RRF_K} + lex_rank)"))
            + F.when(
                F.col("dense_rank").isNull(), F.lit(0)
            ).otherwise(F.expr(f"1000000 div ({_RRF_K} + dense_rank)"))
        )
        .cast("long")
        .alias("rrf_u"),
    )
    return fused.orderBy(F.desc("rrf_u"), "doc_id").limit(_RRF_TOP)


# ---------------------------------------------------------------------------
# k-core decomposition (2 peeling rounds) — q179
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 2

#: shared edge-build text (q173's co-purchase graph)
_Q179_EDGES = """
    co AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-10-01'),
    e0 AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM co a JOIN co b ON a.o = b.o AND a.p < b.p)
"""


def _q179_oracle() -> str:
    k = _KCORE_K
    parts = [_Q179_EDGES]
    stats = [
        """sel0 AS (
      SELECT CAST(0 AS BIGINT) AS round,
             CAST((SELECT COUNT(DISTINCT node) FROM
                   (SELECT u AS node FROM e0
                    UNION ALL SELECT v FROM e0)) AS BIGINT) AS n_nodes,
             CAST((SELECT COUNT(*) FROM e0) AS BIGINT) AS n_edges)"""
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        prev = f"e{r - 1}"
        parts.append(
            f"""d{r} AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev})
      GROUP BY node),
    keep{r} AS (SELECT node FROM d{r} WHERE d >= {k}),
    e{r} AS (
      SELECT u, v FROM {prev}
      WHERE u IN (SELECT node FROM keep{r})
        AND v IN (SELECT node FROM keep{r}))"""
        )
        stats.append(
            f"""sel{r} AS (
      SELECT CAST({r} AS BIGINT) AS round,
             CAST((SELECT COUNT(*) FROM keep{r}) AS BIGINT) AS n_nodes,
             CAST((SELECT COUNT(*) FROM e{r}) AS BIGINT) AS n_edges)"""
        )
    union = "\n    UNION ALL ".join(
        f"SELECT * FROM sel{r}" for r in range(_KCORE_ROUNDS + 1)
    )
    return (
        "\n    WITH "
        + ",\n    ".join(parts + stats)
        + f"\n    {union}"
    )


@query("q179_kcore_peeling", oracle=_q179_oracle())
def q179_kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition ({_KCORE_ROUNDS} peeling rounds, k =
    {_KCORE_K}) of the q173 co-purchase graph: repeatedly delete
    nodes with degree < k and the edges they carry — the standard
    graph-density filter that strips hair/tendrils before community
    detection or GNN neighborhood sampling, and the connectivity
    analogue of q44's connected components. Per-round (n_nodes,
    n_edges) survivor counts are the output; the fixpoint loop is a
    driver ``for`` at a fixed round budget (the q107/q109/q117
    policy: one oracle-checked step, CTE-unrolled twin).

    Scale: each round is a degree aggregate (map-side combined) +
    two semi-joins on node ids — all hash-partitioned by node;
    the edge table is slot-staged per round so the next round and
    the stats read the SAME materialization, and nothing driver-
    sized exists except the {_KCORE_ROUNDS + 1}-row report.
    """
    from .. import caching
    from ..operators import scale

    co = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") < F.lit("1996-10-01"))
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    e = caching.slot_persist(
        "q179_e0",
        co.alias("a")
        .join(co.alias("b"), "o")
        .filter(F.expr("a.p < b.p"))
        .select(F.expr("a.p").alias("u"), F.expr("b.p").alias("v"))
        .distinct(),
    )
    # round-0 stats: distinct node + edge counts of the staged table
    nodes0 = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .distinct()
        .count()
    )
    edges0 = e.count()
    spark_rows = [(0, nodes0, edges0)]
    cur = e
    for r in range(1, _KCORE_ROUNDS + 1):
        deg = (
            cur.select(F.col("u").alias("node"))
            .unionAll(cur.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )
        keep = deg.filter(F.col("d") >= _KCORE_K).select("node")
        cur = caching.slot_persist(
            f"q179_e{r}",
            cur.join(
                keep.withColumnRenamed("node", "u"), "u", "left_semi"
            ).join(
                keep.withColumnRenamed("node", "v"), "v", "left_semi"
            ).select("u", "v"),
        )
        spark_rows.append((r, keep.count(), cur.count()))
    return scale.local_frame(
        spark, spark_rows, "round bigint, n_nodes bigint, n_edges bigint"
    )


# ---------------------------------------------------------------------------
# CUSUM drift detection — q180
# ---------------------------------------------------------------------------

#: CUSUM slack (reference shift /2) and decision threshold, in the
#: 1e4-scaled integer units of ``floor(value * 10000)``
_CUSUM_SLACK = 50_000
_CUSUM_H = 3_000_000


@query(
    "q180_cusum_drift",
    oracle=f"""
    WITH e AS (
      SELECT event_type, ts, event_id,
             CAST(floor(value * 10000) AS BIGINT) AS x
      FROM events),
    m AS (
      SELECT event_type, SUM(x) // COUNT(*) AS mu
      FROM e GROUP BY event_type),
    c AS (
      SELECT e.event_type, ts, event_id,
             SUM(x - mu - {_CUSUM_SLACK}) OVER w AS cs
      FROM e JOIN m USING (event_type)
      WINDOW w AS (PARTITION BY e.event_type ORDER BY ts, event_id)),
    r AS (
      SELECT event_type, cs,
             MIN(cs) OVER (PARTITION BY event_type
                           ORDER BY ts, event_id) AS rmin
      FROM c),
    s AS (
      SELECT event_type, CAST(cs - LEAST(0, rmin) AS BIGINT) AS S
      FROM r)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(S) AS BIGINT) AS max_s,
           CAST(SUM(CASE WHEN S > {_CUSUM_H} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_alerts
    FROM s GROUP BY event_type
    """,
)
def q180_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detection (Page 1954) per event type:
    the sequential change-point statistic Sᵢ = max(0, Sᵢ₋₁ + xᵢ − μ
    − slack) that fires when a metric drifts upward persistently —
    the monitoring primitive behind data-quality and model-drift
    alarms. The recursive max() does NOT distribute; the engine uses
    the prefix closed form **Sᵢ = csᵢ − min(0, min_{{j≤i}} csⱼ)**
    (cs = running sum of deviations), which is two stacked windows
    over ONE partition ordering — fully parallel per key. All
    arithmetic is int64 on 1e-4-scaled values, so max_s/n_alerts
    hash-match exactly.

    Scale: one event_type shuffle serves both windows (same
    partition + order spec); the per-type mean is a broadcast-back
    aggregate. Per-type series length is the only sequential axis —
    the same constraint any order-dependent statistic has — and keys
    are independent, so 1000 executors run 1000 types.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        F.expr("cast(floor(value * 10000) as bigint)").alias("x"),
    )
    mu = ev.groupBy("event_type").agg(
        F.expr("sum(x) div count(*)").alias("mu")
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    s = (
        ev.join(mu, "event_type")
        .withColumn(
            "cs", F.sum(F.expr(f"x - mu - {_CUSUM_SLACK}")).over(w)
        )
        .withColumn("rmin", F.min("cs").over(w))
        .select(
            "event_type",
            F.expr("cast(cs - least(0L, rmin) as bigint)").alias("S"),
        )
    )
    return s.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.max("S").alias("max_s"),
        F.expr(
            f"cast(sum(case when S > {_CUSUM_H} then 1 else 0 end)"
            " as bigint)"
        ).alias("n_alerts"),
    )


# ---------------------------------------------------------------------------
# Autocorrelation function (lags 1..3) — q181
# ---------------------------------------------------------------------------

_ACF_LAGS = 3


@query(
    "q181_hourly_acf",
    oracle=f"""
    WITH e AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr,
             CAST(floor(value * 100) AS BIGINT) AS x
      FROM events),
    h AS (
      SELECT event_type, hr,
             SUM(x) * 100 // COUNT(*) AS v
      FROM e GROUP BY event_type, hr),
    n AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(v) // COUNT(*) AS BIGINT) AS mu
      FROM h GROUP BY event_type),
    y AS (
      SELECT h.event_type, hr, cnt, (v - mu) AS y
      FROM h JOIN n USING (event_type)),
    lagged AS (
      SELECT event_type, cnt, y,
             {", ".join(f"lag(y, {k}) OVER (PARTITION BY event_type ORDER BY hr) AS y{k}" for k in range(1, _ACF_LAGS + 1))}
      FROM y),
    den AS (
      SELECT event_type, CAST(SUM(y * y) AS BIGINT) AS den
      FROM y GROUP BY event_type),
    acf AS (
      {" UNION ALL ".join(
        f'''SELECT event_type, CAST({k} AS BIGINT) AS lag,
             CAST(COUNT(y{k}) AS BIGINT) AS n_pairs,
             CAST(SUM(CASE WHEN y{k} IS NULL THEN 0
                           ELSE y * y{k} END) AS BIGINT) AS num
      FROM lagged GROUP BY event_type'''
        for k in range(1, _ACF_LAGS + 1)
      )})
    SELECT a.event_type, a.lag, a.n_pairs, a.num, d.den,
           CAST(floor(a.num * 1000000.0 / d.den) AS BIGINT) AS acf_u
    FROM acf a JOIN den d USING (event_type)
    """,
)
def q181_hourly_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of each event type's hourly mean series at
    lags 1..{_ACF_LAGS} — the seasonality/persistence probe that
    decides whether a metric needs differencing before forecasting
    or anomaly scoring (q172's EWMA assumes short memory; this
    measures it). The mean is removed in EXACT integer form: the
    series (hour-means vᵢ, 1e4 units) is centered at the FLOORED
    integer mean yᵢ = vᵢ − (Σv div n) — the ≤1-unit centering bias
    is identical on both engines and keeps y² bounded (the exact
    n-scaled form n·vᵢ−Σv overflows int64 once the series passes
    ~10³ hours) — and r_k = Σ yᵢ·yᵢ₊ₖ / Σ yᵢ² needs one final
    division, evaluated from the same BIGINTs by the same double
    expression text on both engines.

    Scale: the corpus collapses to (type × hour) rows in one
    map-side-combined aggregate; everything after runs on the
    series table (thousands of rows per type-year). The lag windows
    share one (event_type, hr) ordering — a single exchange —
    and the lag-k variants come from the SAME window pass.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("cast(unix_timestamp(ts) as bigint) div 3600").alias("hr"),
        F.expr("cast(floor(value * 100) as bigint)").alias("x"),
    )
    h = ev.groupBy("event_type", "hr").agg(
        F.expr("sum(x) * 100 div count(*)").alias("v")
    )
    n = h.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.expr("sum(v) div count(*)").alias("mu"),
    )
    w = W.partitionBy("event_type").orderBy("hr")
    y = h.join(n, "event_type").select(
        "event_type", "hr", F.expr("v - mu").alias("y")
    )
    lagged = y.select(
        "event_type",
        "y",
        *[
            F.lag("y", k).over(w).alias(f"y{k}")
            for k in range(1, _ACF_LAGS + 1)
        ],
    )
    # ONE aggregate computes every lag's numerator, its pair count,
    # and the shared denominator — the series is scanned once, not
    # once per lag (the 3-way union form measured 3 extra series
    # exchanges); the per-lag rows come from stack() on the compact
    # per-type result
    agg = lagged.groupBy("event_type").agg(
        F.expr("cast(sum(y * y) as bigint)").alias("den"),
        *[
            c
            for k in range(1, _ACF_LAGS + 1)
            for c in (
                F.count(f"y{k}").alias(f"np{k}"),
                F.expr(
                    f"cast(sum(case when y{k} is null then 0"
                    f" else y * y{k} end) as bigint)"
                ).alias(f"num{k}"),
            )
        ],
    )
    stacked = ", ".join(
        f"{k}L, np{k}, num{k}" for k in range(1, _ACF_LAGS + 1)
    )
    return agg.select(
        "event_type",
        F.expr(
            f"stack({_ACF_LAGS}, {stacked}) as (lag, n_pairs, num)"
        ),
        "den",
    ).select(
        "event_type",
        "lag",
        "n_pairs",
        "num",
        "den",
        F.expr("cast(floor(num * 1000000.0 / den) as bigint)").alias(
            "acf_u"
        ),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit — q182
# ---------------------------------------------------------------------------

#: floor(log10(1 + 1/d) * 1e6) for d = 1..9 — precomputed so neither
#: engine evaluates a transcendental (q137's exp(PMI) argument)
_BENFORD_U = (301029, 176091, 124938, 96910, 79181, 66946, 57991,
              51152, 45757)
_BENFORD_CASE = "CASE d " + " ".join(
    f"WHEN {i + 1} THEN {u}" for i, u in enumerate(_BENFORD_U)
) + " END"


@query(
    "q182_benford_audit",
    oracle=f"""
    WITH v AS (
      SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                 AS VARCHAR), 1, 1) AS BIGINT) AS d
      FROM orders WHERE o_totalprice >= 1),
    obs AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM v GROUP BY d),
    digits AS (
      SELECT CAST(g AS BIGINT) AS d,
             CAST({_BENFORD_CASE.replace("CASE d", "CASE g")} AS BIGINT)
               AS expected_u
      FROM generate_series(1, 9) AS s(g)),
    j AS (
      SELECT digits.d, digits.expected_u,
             COALESCE(obs.n_obs, 0) AS n_obs
      FROM digits LEFT JOIN obs ON digits.d = obs.d),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM j),
    c AS (
      SELECT d, n_obs, expected_u, n,
             (expected_u * n / 1000000.0) AS exp_n
      FROM j, tot),
    chi AS (
      SELECT list_reduce(list_prepend(0.0,
               list((n_obs - exp_n) * (n_obs - exp_n) / exp_n
                    ORDER BY d)),
             (a, b) -> a + b) AS chi2
      FROM c)
    SELECT d, n_obs,
           CAST(n_obs * 1000000 // n AS BIGINT) AS share_u,
           expected_u,
           CAST(floor(chi2 * 1000) AS BIGINT) AS chi2_m,
           (chi2 > 20.09) AS benford_alert
    FROM c, chi
    """,
)
def q182_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals: observed leading-
    digit shares vs Benford's log10(1+1/d) expectation with a
    chi-square fit statistic (df=8, alert ≈ p<0.01) — the classic
    fabricated-/synthetic-data detector used in financial and data-
    quality audits. The expected frequencies are PRECOMPUTED integer
    micro-units (no engine evaluates a log), the digit extraction is
    exact bigint→string, and the chi-square is one shared double
    expression over exact integers — so every column hash-matches.
    (The synthetic uniform-ish totals genuinely fail Benford; the
    alert firing TRUE is the expected, pinned outcome.)

    Scale: one scan folding to ≤9 groups map-side; everything after
    is a 9-row table with a broadcast total. Nothing else.
    """
    v = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") >= 1)
        .select(
            F.expr(
                "cast(substring(cast(cast(floor(o_totalprice) as bigint)"
                " as string), 1, 1) as bigint)"
            ).alias("d")
        )
    )
    obs = v.groupBy("d").agg(F.count("*").alias("n_obs"))
    digits = spark.range(1, 10).select(
        F.col("id").alias("d"),
        F.expr(f"cast({_BENFORD_CASE} as bigint)").alias("expected_u"),
    )
    from .. import caching

    # the scalar-combine tree below reads this table four times —
    # persist the 9 rows so the orders scan behind it runs ONCE
    j = caching.slot_persist(
        "q182_digits",
        digits.join(obs, "d", "left").select(
            "d", "expected_u", F.expr("coalesce(n_obs, 0L)").alias("n_obs")
        ),
    )
    tot = j.agg(F.sum("n_obs").alias("n"))
    c = j.crossJoin(tot).withColumn(
        "exp_n", F.expr("expected_u * n / 1000000.0")
    )
    # nine-double fold in explicit digit order (the q170 argument:
    # unordered double SUM is partial-agg-order dependent)
    chi = c.agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(d,"
            " (n_obs - exp_n) * (n_obs - exp_n) / exp_n as c0))),"
            " cast(0.0 as double), (acc, s) -> acc + s.c0)"
        ).alias("chi2")
    )
    return c.crossJoin(chi).select(
        "d",
        "n_obs",
        F.expr("cast(n_obs * 1000000 div n as bigint)").alias("share_u"),
        "expected_u",
        F.expr("cast(floor(chi2 * 1000) as bigint)").alias("chi2_m"),
        F.expr("chi2 > 20.09").alias("benford_alert"),
    )


# ---------------------------------------------------------------------------
# Last-touch marketing attribution — q183
# ---------------------------------------------------------------------------

#: attribution lookback window, seconds
_ATTR_WINDOW = 7 * 86_400


def _q183_oracle() -> str:
    from ..functions.scalar import dec_sum_sql

    return f"""
    WITH p AS (
      SELECT event_id, user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS t, value
      FROM events WHERE event_type = 'purchase'),
    t AS (
      SELECT event_id, user_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS t
      FROM events WHERE event_type <> 'purchase'),
    attributed AS (
      SELECT p.event_id, p.value, t.event_type AS touch_type,
             p.t - t.t AS gap
      FROM p JOIN t ON p.user_id = t.user_id AND t.t <= p.t
      QUALIFY row_number() OVER (
        PARTITION BY p.event_id ORDER BY t.t DESC, t.event_id DESC) = 1)
    SELECT touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_attributed,
           {dec_sum_sql("value")} AS attributed_value,
           CAST(MAX(gap) AS BIGINT) AS max_gap_s
    FROM attributed WHERE gap <= {_ATTR_WINDOW}
    GROUP BY touch_type
    """


@query("q183_last_touch_attribution", oracle=_q183_oracle())
def q183_last_touch_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Last-touch attribution: every purchase credits its value to
    the user's MOST RECENT non-purchase event within a 7-day
    lookback — the warehouse op behind every marketing-spend report,
    and the event-stream twin of q177's point-in-time dimension
    lookup. Ties at identical timestamps break on the larger
    event_id, so attribution is deterministic on both engines.

    The engine routes through ``operators/asof.asof_join`` (union –
    sort – carry-forward: O(n log n) per user, no pairwise
    purchase×touch join) with the lookback applied as a post-filter;
    the oracle re-derives the same winner relationally (per-purchase
    row_number over the time-bounded join) — two formulations, one
    contract.

    Scale: one user_id shuffle for the as-of union; the touch
    stream is never joined pairwise (the relational form the oracle
    uses is quadratic per user — exactly what the carry-forward
    avoids); the rollup is touch-type cardinality.
    """
    from ..functions.scalar import dec_sum
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("cast(unix_timestamp(ts) as bigint)").alias("t"),
        "value",
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "t", "value"
    )
    touches = ev.filter(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("t"),
        F.col("event_type").alias("touch_type"),
        F.col("event_id").alias("touch_id"),
    )
    j = asof_join(
        purchases,
        touches,
        on=["user_id"],
        left_ts="t",
        right_ts="t",
        right_order=["touch_id"],
    )
    return (
        j.withColumn("gap", F.expr("t - right_ts"))
        .filter(F.col("gap") <= _ATTR_WINDOW)
        .groupBy(F.col("right_touch_type").alias("touch_type"))
        .agg(
            F.count("*").alias("n_attributed"),
            dec_sum("value").alias("attributed_value"),
            F.max("gap").cast("bigint").alias("max_gap_s"),
        )
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest — q184
# ---------------------------------------------------------------------------

_SEASON_HOURS = 24


@query(
    "q184_seasonal_naive_backtest",
    oracle=f"""
    WITH e AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr,
             CAST(floor(value * 100) AS BIGINT) AS x
      FROM events),
    h AS (
      SELECT event_type, hr, SUM(x) * 100 // COUNT(*) AS v
      FROM e GROUP BY event_type, hr),
    f AS (
      SELECT cur.event_type, cur.hr, cur.v,
             prev.v AS v_hat,
             abs(cur.v - prev.v) AS abs_err,
             cur.v - prev.v AS err
      FROM h cur JOIN h prev
        ON cur.event_type = prev.event_type
       AND cur.hr = prev.hr + {_SEASON_HOURS})
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_forecasts,
           CAST(SUM(abs_err) * 100 // COUNT(*) AS BIGINT) AS mae_cu,
           CAST(SUM(err) AS BIGINT) AS bias_sum,
           CAST(MAX(abs_err) AS BIGINT) AS worst_abs
    FROM f GROUP BY event_type
    """,
)
def q184_seasonal_naive_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each hour's mean
    metric as the value {_SEASON_HOURS} hours earlier and score
    MAE / bias / worst-case against actuals — the baseline every
    forecasting deployment must beat before anything fancier ships
    (q172 smooths, q181 measures memory; this closes the loop with
    an evaluated predictor). The season lag is an EQUI-join on
    ``hr − {_SEASON_HOURS}``, not a row-offset window — hours with
    a missing season ancestor produce no forecast instead of
    silently borrowing a nearer row when the series has gaps.

    All errors are exact integers on the 1e-4-scaled hourly means
    (q181's series), so every metric hash-matches.

    Scale: the corpus folds to (type × hour) in one map-side
    aggregate; the self-join runs on the compact series table keyed
    by (event_type, hr) — thousands of rows, broadcastable, and the
    join key is the partitioning the fold already produced.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("cast(unix_timestamp(ts) as bigint) div 3600").alias("hr"),
        F.expr("cast(floor(value * 100) as bigint)").alias("x"),
    )
    h = ev.groupBy("event_type", "hr").agg(
        F.expr("sum(x) * 100 div count(*)").alias("v")
    )
    prev = h.select(
        "event_type",
        (F.col("hr") + _SEASON_HOURS).alias("hr"),
        F.col("v").alias("v_hat"),
    )
    f = h.join(prev, ["event_type", "hr"]).select(
        "event_type",
        F.expr("abs(v - v_hat)").alias("abs_err"),
        F.expr("v - v_hat").alias("err"),
    )
    return f.groupBy("event_type").agg(
        F.count("*").alias("n_forecasts"),
        F.expr("cast(sum(abs_err) * 100 div count(*) as bigint)").alias(
            "mae_cu"
        ),
        F.expr("cast(sum(err) as bigint)").alias("bias_sum"),
        F.expr("cast(max(abs_err) as bigint)").alias("worst_abs"),
    )


# ---------------------------------------------------------------------------
# HLL set algebra (union / intersection estimation) — q185
# ---------------------------------------------------------------------------

_HLL_SET_A = "click"
_HLL_SET_B = "purchase"


def _q185_oracle() -> str:
    from ..operators import sketch

    stream = f"""
      SELECT unnest(CASE WHEN event_type = '{_HLL_SET_A}'
                         THEN ['a', 'u']
                         ELSE ['b', 'u'] END) AS s,
             CAST(user_id AS VARCHAR) AS tok
      FROM events
      WHERE event_type IN ('{_HLL_SET_A}', '{_HLL_SET_B}')
    """
    base = sketch.duck_hll_sql(stream, "s")
    return f"""
    WITH base AS ({base}),
    pivoted AS (
      SELECT
        MAX(CASE WHEN s = 'a' THEN hll_est END) AS est_a,
        MAX(CASE WHEN s = 'b' THEN hll_est END) AS est_b,
        MAX(CASE WHEN s = 'u' THEN hll_est END) AS est_union,
        MAX(CASE WHEN s = 'a' THEN exact_distinct END) AS exact_a,
        MAX(CASE WHEN s = 'b' THEN exact_distinct END) AS exact_b,
        MAX(CASE WHEN s = 'u' THEN exact_distinct END) AS exact_union
      FROM base)
    SELECT CAST(est_a AS BIGINT) AS est_a,
           CAST(est_b AS BIGINT) AS est_b,
           CAST(est_union AS BIGINT) AS est_union,
           CAST(est_a + est_b - est_union AS BIGINT) AS est_intersect,
           CAST(exact_a AS BIGINT) AS exact_a,
           CAST(exact_b AS BIGINT) AS exact_b,
           CAST(exact_union AS BIGINT) AS exact_union,
           CAST(exact_a + exact_b - exact_union AS BIGINT)
             AS exact_intersect
    FROM pivoted
    """


@query("q185_hll_set_algebra", oracle=_q185_oracle())
def q185_hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog set algebra: distinct-user estimates for the
    '{_HLL_SET_A}' audience, the '{_HLL_SET_B}' audience, their
    UNION (registers of the combined stream — by idempotent-max
    mergeability, identical to cellwise max of the two sketches),
    and the inclusion–exclusion INTERSECTION estimate — the audience
    -overlap arithmetic ad/analytics platforms run entirely on
    sketches because exact distinct-set intersection at 100 TB
    requires a full shuffle of both sets. Exact counts ride along
    (q51's sketch-audit pattern) so the oracle hash pins estimates
    AND truth together.

    Scale: ONE events scan (each row explodes to its ≤2 set labels);
    register folds partial-max map-side to ≤ 3·2^p rows; everything
    downstream is register-sized. Exact counts are the audit side —
    production keeps only the mergeable sketches.
    """
    from ..operators import sketch

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(_HLL_SET_A, _HLL_SET_B))
        .select(
            F.explode(
                F.expr(
                    f"CASE WHEN event_type = '{_HLL_SET_A}'"
                    " THEN array('a', 'u') ELSE array('b', 'u') END"
                )
            ).alias("s"),
            F.expr("cast(user_id as string)").alias("tok"),
        )
    )
    regs = sketch.hll_registers(ev, "tok", ["s"])
    est = sketch.hll_estimate(regs, ["s"])
    exact = ev.groupBy("s").agg(
        F.countDistinct("tok").alias("exact_distinct")
    )
    one = (
        est.join(exact, "s")
        .groupBy()
        .agg(
            *[
                F.max(
                    F.when(F.col("s") == lbl, F.col(col))
                ).alias(f"{name}")
                for lbl, col, name in [
                    ("a", "hll_est", "est_a"),
                    ("b", "hll_est", "est_b"),
                    ("u", "hll_est", "est_union"),
                    ("a", "exact_distinct", "exact_a"),
                    ("b", "exact_distinct", "exact_b"),
                    ("u", "exact_distinct", "exact_union"),
                ]
            ]
        )
    )
    return one.select(
        F.expr("cast(est_a as bigint)").alias("est_a"),
        F.expr("cast(est_b as bigint)").alias("est_b"),
        F.expr("cast(est_union as bigint)").alias("est_union"),
        F.expr("cast(est_a + est_b - est_union as bigint)").alias(
            "est_intersect"
        ),
        F.expr("cast(exact_a as bigint)").alias("exact_a"),
        F.expr("cast(exact_b as bigint)").alias("exact_b"),
        F.expr("cast(exact_union as bigint)").alias("exact_union"),
        F.expr(
            "cast(exact_a + exact_b - exact_union as bigint)"
        ).alias("exact_intersect"),
    )


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP) — q191
# ---------------------------------------------------------------------------


@query(
    "q191_time_weighted_average",
    oracle="""
    WITH e AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS t,
             event_id,
             CAST(floor(value * 10000) AS BIGINT) AS x
      FROM events),
    seg AS (
      SELECT user_id, x,
             lead(t) OVER w - t AS dur
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(dur) AS BIGINT) AS span_s,
           CAST(SUM(x * dur) // SUM(dur) AS BIGINT) AS twap_u
    FROM seg WHERE dur IS NOT NULL AND dur > 0
    GROUP BY user_id
    HAVING COUNT(*) >= 5
    """,
)
def q191_time_weighted_average(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-weighted average (TWAP): each reading holds until the
    next one, so its weight is the DURATION it was in force — the
    correct mean for irregularly-sampled state (a reading that held
    for an hour counts 3600× one that held a second; the row-mean
    the reference's summaries compute overweights bursts). The
    hypertable/metering staple, zero-duration repeats excluded,
    users with <5 segments suppressed.

    Integer-exact: durations are epoch-second BIGINTs, values
    1e-4-scaled, and the final TWAP is one integer division of two
    exact sums.

    Scale: one user_id shuffle serves the lead() window and the
    rollup re-uses the same partitioning; weights are O(1) per row.
    """
    w = W.partitionBy("user_id").orderBy("t", "event_id")
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("cast(unix_timestamp(ts) as bigint)").alias("t"),
        "event_id",
        F.expr("cast(floor(value * 10000) as bigint)").alias("x"),
    )
    seg = e.select(
        "user_id", "x", (F.lead("t").over(w) - F.col("t")).alias("dur")
    ).filter(F.col("dur").isNotNull() & (F.col("dur") > 0))
    return (
        seg.groupBy("user_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum("dur").cast("bigint").alias("span_s"),
            F.expr("cast(sum(x * dur) div sum(dur) as bigint)").alias(
                "twap_u"
            ),
        )
        .filter(F.col("n_segments") >= 5)
    )


# ---------------------------------------------------------------------------
# OHLC candlestick bars — q192
# ---------------------------------------------------------------------------


@query(
    "q192_ohlc_bars",
    oracle="""
    WITH e AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             CAST(floor(epoch(ts)) AS BIGINT) AS t,
             event_id,
             CAST(floor(value * 10000) AS BIGINT) AS x
      FROM events)
    SELECT event_type, day,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           CAST(arg_min(x, t * 4194304 + event_id) AS BIGINT) AS open_u,
           CAST(MAX(x) AS BIGINT) AS high_u,
           CAST(MIN(x) AS BIGINT) AS low_u,
           CAST(arg_max(x, t * 4194304 + event_id) AS BIGINT) AS close_u
    FROM e GROUP BY event_type, day
    ORDER BY event_type, day
    """,
)
def q192_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC (open/high/low/close) candlestick bars per type per day
    — the downsampling every metrics store and market-data system
    runs. Open/close are ORDER-DEPENDENT aggregates (first/last by
    time) expressed ALGEBRAICALLY: ``min_by``/``max_by`` on the
    packed (t, event_id) key — an associative, map-side-combinable
    aggregate (partial argmin/argmax merge correctly), NOT a sorted
    window — so the bar build is one exchange of ≤ groups×partials
    rows with no per-group ordering pass. The deterministic
    event_id tie-break makes open/close unique under concurrent
    ticks.

    Scale: pure two-level aggregate; (type × day) cardinality
    output. The map-side combine is what makes this viable on a
    100 TB tick stream — sorted-window formulations shuffle every
    tick to its group's task instead.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "cast(unix_timestamp(ts) as bigint) div 86400"
        ).alias("day"),
        F.expr("cast(unix_timestamp(ts) as bigint)").alias("t"),
        "event_id",
        F.expr("cast(floor(value * 10000) as bigint)").alias("x"),
    )
    return (
        e.groupBy("event_type", "day")
        .agg(
            F.count("*").alias("n_ticks"),
            # tie-break key packed into ONE bigint (t·2²² + id;
            # ids stay < 4.2M through sf10 — re-widen the shift for
            # larger id spaces) because DuckDB's arg_min/arg_max
            # reject struct ordering keys
            F.expr(
                "cast(min_by(x, t * 4194304 + event_id) as bigint)"
            ).alias("open_u"),
            F.max("x").cast("bigint").alias("high_u"),
            F.min("x").cast("bigint").alias("low_u"),
            F.expr(
                "cast(max_by(x, t * 4194304 + event_id) as bigint)"
            ).alias("close_u"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# Per-key linear trend (exact least squares) — q193
# ---------------------------------------------------------------------------


@query(
    "q193_trend_regression",
    oracle="""
    WITH e AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr,
             CAST(floor(value * 100) AS BIGINT) AS x
      FROM events),
    h AS (
      SELECT event_type, hr, SUM(x) * 100 // COUNT(*) AS v
      FROM e GROUP BY event_type, hr),
    z AS (
      SELECT event_type,
             hr - MIN(hr) OVER (PARTITION BY event_type) AS t,
             v
      FROM h),
    m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(t) AS BIGINT) AS st,
             CAST(SUM(v) AS BIGINT) AS sv,
             CAST(SUM(t * v) AS BIGINT) AS stv,
             CAST(SUM(t * t) AS BIGINT) AS stt
      FROM z GROUP BY event_type)
    SELECT event_type, n,
           CAST(n * stv - st * sv AS BIGINT) AS slope_num,
           CAST(n * stt - st * st AS BIGINT) AS slope_den,
           CAST(floor((n * stv - st * sv) * 1000000.0
                      / (n * stt - st * st)) AS BIGINT)
             AS slope_u,
           CAST(floor((sv * stt - st * stv) * 1.0
                      / (n * stt - st * st)) AS BIGINT)
             AS intercept_u
    FROM m
    """,
)
def q193_trend_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key linear trend: exact least-squares slope/intercept of
    each event type's hourly series — the drift DIRECTION measure
    completing the monitoring kit (q180 detects persistent shift,
    q181 measures memory, this quantifies trend). The normal
    equations reduce to FIVE integer moments (n, Σt, Σv, Σtv, Σt²)
    per key; slope = (nΣtv − ΣtΣv)/(nΣt² − (Σt)²) with the exact
    BIGINT numerator/denominator emitted alongside the floored
    quotient (one shared double text). Hours are re-based per key
    (t − min t), bounding every moment far below int64.

    Scale: corpus → (type × hour) map-side fold, then a per-type
    5-moment aggregate — the same shape OLS-over-billions uses
    (moments are what `LinearRegression.fit` ultimately reduces
    to); the min-hr window runs over the compact series table.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("cast(unix_timestamp(ts) as bigint) div 3600").alias("hr"),
        F.expr("cast(floor(value * 100) as bigint)").alias("x"),
    )
    h = ev.groupBy("event_type", "hr").agg(
        F.expr("sum(x) * 100 div count(*)").alias("v")
    )
    z = h.select(
        "event_type",
        (
            F.col("hr")
            - F.min("hr").over(W.partitionBy("event_type"))
        ).alias("t"),
        "v",
    )
    m = z.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum("v").cast("bigint").alias("sv"),
        F.expr("cast(sum(t * v) as bigint)").alias("stv"),
        F.expr("cast(sum(t * t) as bigint)").alias("stt"),
    )
    return m.select(
        "event_type",
        "n",
        F.expr("cast(n * stv - st * sv as bigint)").alias("slope_num"),
        F.expr("cast(n * stt - st * st as bigint)").alias("slope_den"),
        F.expr(
            "cast(floor((n * stv - st * sv) * 1000000.0"
            " / (n * stt - st * st)) as bigint)"
        ).alias("slope_u"),
        F.expr(
            "cast(floor((sv * stt - st * stv) * 1.0"
            " / (n * stt - st * st)) as bigint)"
        ).alias("intercept_u"),
    )


# ---------------------------------------------------------------------------
# Gini concentration of customer revenue — q194
# ---------------------------------------------------------------------------


@query(
    "q194_revenue_gini",
    oracle="""
    WITH cust AS (
      SELECT o.o_custkey AS ck, c.c_nationkey AS nk,
             CAST(SUM(CAST(floor(l.l_extendedprice
                                 * (1 - l.l_discount) * 100) AS BIGINT))
                  AS BIGINT) AS rev
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2),
    ranked AS (
      SELECT nk, rev,
             CAST(row_number() OVER (PARTITION BY nk
                                     ORDER BY rev, ck) AS BIGINT) AS i
      FROM cust),
    m AS (
      SELECT nk,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rev) AS BIGINT) AS s,
             CAST(SUM(i * rev) AS BIGINT) AS si
      FROM ranked GROUP BY nk)
    SELECT nk AS nationkey, n, s AS total_rev_c,
           CAST(floor((2.0 * si / (n * 1.0 * s) - (n + 1.0) / n)
                      * 1000000) AS BIGINT) AS gini_u
    FROM m WHERE s > 0
    """,
)
def q194_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer-revenue concentration per
    nation: 0 = every customer spends equally, →1 = one whale —
    the inequality audit that decides whether a per-nation metric
    can be read as typical behavior or is a few accounts in a
    trench coat (the revenue twin of q85's token-dominance gate).
    Computed from the rank identity G = 2Σi·xᵢ/(nΣx) − (n+1)/n on
    cent-exact revenues; the three moments are BIGINT, the final
    expression one shared double text.

    Scale: facts fold to customer grain first (map-side partials on
    the orderkey join); the rank window runs per nation over the
    CUSTOMER-cardinality table (compact-table policy), and the
    moment fold reuses its partitioning.
    """
    cust = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            F.expr(
                "cast(floor(l_extendedprice * (1 - l_discount) * 100)"
                " as bigint)"
            ).alias("rev_c"),
        )
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_custkey"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("o_custkey").alias("ck"),
            F.col("c_nationkey").alias("nk"),
        )
        .agg(F.sum("rev_c").cast("bigint").alias("rev"))
    )
    ranked = cust.select(
        "nk",
        "rev",
        F.row_number()
        .over(W.partitionBy("nk").orderBy("rev", "ck"))
        .cast("bigint")
        .alias("i"),
    )
    m = ranked.groupBy("nk").agg(
        F.count("*").alias("n"),
        F.sum("rev").cast("bigint").alias("s"),
        F.expr("cast(sum(i * rev) as bigint)").alias("si"),
    )
    return m.filter(F.col("s") > 0).select(
        F.col("nk").alias("nationkey"),
        "n",
        F.col("s").alias("total_rev_c"),
        F.expr(
            "cast(floor((2.0 * si / (n * 1.0 * s) - (n + 1.0) / n)"
            " * 1000000) as bigint)"
        ).alias("gini_u"),
    )


# ---------------------------------------------------------------------------
# Herfindahl–Hirschman concentration index — q195
# ---------------------------------------------------------------------------


@query(
    "q195_hhi_concentration",
    oracle="""
    WITH src AS (
      SELECT lang, source,
             CAST(SUM(n_chars) AS BIGINT) AS vol
      FROM documents GROUP BY lang, source),
    m AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_sources,
             CAST(SUM(vol) AS BIGINT) AS total,
             CAST(SUM(vol * vol) AS BIGINT) AS sq
      FROM src GROUP BY lang)
    SELECT lang, n_sources, total,
           CAST(floor(sq * 10000.0 / (total * 1.0 * total))
                AS BIGINT) AS hhi_bp
    FROM m
    """,
)
def q195_hhi_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Herfindahl–Hirschman index of source concentration per
    language: Σ shareᵢ² in basis points (10000 = single-source
    monopoly, →0 = fragmented) — the one-number diversity summary
    regulators use for markets and corpus curators use for
    source-mix risk (q88/q110/q140 SET the mixture; this AUDITS
    how concentrated it ended up). HHI = Σvᵢ²/ (Σv)² needs only
    two exact BIGINT moments per group; the quotient is one shared
    double text.

    Scale: two stacked map-side-combined aggregates — corpus →
    (lang × source) volumes → per-lang moments; nothing larger
    than the source catalog ever shuffles.
    """
    src = load_table(spark, sf_dir, "documents").groupBy(
        "lang", "source"
    ).agg(F.sum("n_chars").cast("bigint").alias("vol"))
    m = src.groupBy("lang").agg(
        F.count("*").alias("n_sources"),
        F.sum("vol").cast("bigint").alias("total"),
        F.expr("cast(sum(vol * vol) as bigint)").alias("sq"),
    )
    return m.select(
        "lang",
        "n_sources",
        "total",
        F.expr(
            "cast(floor(sq * 10000.0 / (total * 1.0 * total))"
            " as bigint)"
        ).alias("hhi_bp"),
    )


# ---------------------------------------------------------------------------
# Welch's t-test readout — q196
# ---------------------------------------------------------------------------


@query(
    "q196_welch_ttest",
    oracle="""
    WITH assign AS (
      SELECT user_id % 2 AS arm,
             CAST(floor(value * 10000) AS BIGINT) AS x
      FROM events WHERE event_type = 'purchase'),
    m AS (
      SELECT arm,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s,
             CAST(SUM(x * x) AS BIGINT) AS ss
      FROM assign GROUP BY arm),
    wide AS (
      SELECT
        MAX(CASE WHEN arm = 0 THEN n END) AS n0,
        MAX(CASE WHEN arm = 0 THEN s END) AS s0,
        MAX(CASE WHEN arm = 0 THEN ss END) AS ss0,
        MAX(CASE WHEN arm = 1 THEN n END) AS n1,
        MAX(CASE WHEN arm = 1 THEN s END) AS s1,
        MAX(CASE WHEN arm = 1 THEN ss END) AS ss1
      FROM m),
    stats AS (
      SELECT n0, n1,
             s0 * 1.0 / n0 AS m0,
             s1 * 1.0 / n1 AS m1,
             (ss0 - s0 * 1.0 / n0 * s0) / (n0 - 1.0) AS v0,
             (ss1 - s1 * 1.0 / n1 * s1) / (n1 - 1.0) AS v1
      FROM wide)
    SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           CAST(floor(m0 * 100) AS BIGINT) AS mean0_cu,
           CAST(floor(m1 * 100) AS BIGINT) AS mean1_cu,
           CAST(floor((m1 - m0) * 100) AS BIGINT) AS lift_cu,
           CAST(floor((m1 - m0) / sqrt(v0 / n0 + v1 / n1)
                      * 1000000) AS BIGINT) AS t_u,
           (abs((m1 - m0) / sqrt(v0 / n0 + v1 / n1)) > 1.96)
             AS significant
    FROM stats
    """,
)
def q196_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on purchase values between
    the two ``user_id % 2`` arms — the significance readout that
    completes the experimentation kit (q170 validates the split,
    q167 reduces the variance, this decides). Means and variances
    come from exact integer moments (n, Σx, Σx²) per arm; the t
    statistic is one shared double text over those BIGINTs, so the
    readout hash-pins including the >1.96 decision (the expected
    outcome on hash-split synthetic data is NOT significant — an
    A/A test, which is itself the standard platform health check).

    Scale: one scan folding to two (n, Σx, Σx²) rows map-side;
    everything after is constant-size. This is the moment-sketch
    shape every sequential/covariate-adjusted estimator reduces to.
    """
    assign = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.expr("user_id % 2").alias("arm"),
            F.expr("cast(floor(value * 10000) as bigint)").alias("x"),
        )
    )
    m = assign.groupBy("arm").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.expr("cast(sum(x * x) as bigint)").alias("ss"),
    )
    wide = m.groupBy().agg(
        *[
            F.max(F.when(F.col("arm") == a, F.col(c))).alias(f"{c}{a}")
            for a in (0, 1)
            for c in ("n", "s", "ss")
        ]
    )
    stats = wide.selectExpr(
        "n0",
        "n1",
        "s0 * 1.0 / n0 as m0",
        "s1 * 1.0 / n1 as m1",
        "(ss0 - s0 * 1.0 / n0 * s0) / (n0 - 1.0) as v0",
        "(ss1 - s1 * 1.0 / n1 * s1) / (n1 - 1.0) as v1",
    )
    return stats.selectExpr(
        "cast(n0 as bigint) as n0",
        "cast(n1 as bigint) as n1",
        "cast(floor(m0 * 100) as bigint) as mean0_cu",
        "cast(floor(m1 * 100) as bigint) as mean1_cu",
        "cast(floor((m1 - m0) * 100) as bigint) as lift_cu",
        "cast(floor((m1 - m0) / sqrt(v0 / n0 + v1 / n1)"
        " * 1000000) as bigint) as t_u",
        "(abs((m1 - m0) / sqrt(v0 / n0 + v1 / n1)) > 1.96)"
        " as significant",
    )


# ---------------------------------------------------------------------------
# Cross-correlation between metric series — q197
# ---------------------------------------------------------------------------


@query(
    "q197_cross_correlation",
    oracle="""
    WITH e AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr,
             CAST(floor(value * 100) AS BIGINT) AS x
      FROM events WHERE event_type IN ('click', 'purchase')),
    h AS (
      SELECT event_type, hr, SUM(x) * 100 // COUNT(*) AS v
      FROM e GROUP BY event_type, hr),
    wide AS (
      SELECT hr,
             MAX(CASE WHEN event_type = 'click' THEN v END) AS va,
             MAX(CASE WHEN event_type = 'purchase' THEN v END) AS vb
      FROM h GROUP BY hr
      HAVING MAX(CASE WHEN event_type = 'click' THEN v END)
               IS NOT NULL
         AND MAX(CASE WHEN event_type = 'purchase' THEN v END)
               IS NOT NULL),
    mu AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(va) // COUNT(*) AS BIGINT) AS ma,
             CAST(SUM(vb) // COUNT(*) AS BIGINT) AS mb
      FROM wide),
    c AS (
      SELECT n,
             CAST(SUM((va - ma) * (vb - mb)) AS BIGINT) AS sab,
             CAST(SUM((va - ma) * (va - ma)) AS BIGINT) AS saa,
             CAST(SUM((vb - mb) * (vb - mb)) AS BIGINT) AS sbb
      FROM wide, mu GROUP BY n)
    SELECT n, sab, saa, sbb,
           CAST(floor(sab * 1000000.0 / sqrt(saa * 1.0 * sbb))
                AS BIGINT) AS corr_u
    FROM c
    """,
)
def q197_cross_correlation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pearson cross-correlation between two metric series (click
    vs purchase hourly means on their common hours) — the
    metric-coupling probe behind dashboards' "these move together"
    panels and the input to any lead/lag causality check (q181's
    OWN-series twin). Deviations are taken from FLOORED integer
    means (q181's overflow-safe convention); the three centered
    moments are exact BIGINTs and the correlation one shared double
    text, so ``corr_u`` hash-pins.

    Scale: corpus → (type × hour) fold, hour-keyed pivot to an
    aligned pair table (compact), one scalar moment aggregate. At
    M metrics the pivot generalizes to the q143 covariance form —
    this is its two-series, hash-pinned special case.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_type",
            F.expr(
                "cast(unix_timestamp(ts) as bigint) div 3600"
            ).alias("hr"),
            F.expr("cast(floor(value * 100) as bigint)").alias("x"),
        )
    )
    h = ev.groupBy("event_type", "hr").agg(
        F.expr("sum(x) * 100 div count(*)").alias("v")
    )
    wide = (
        h.groupBy("hr")
        .agg(
            F.max(
                F.when(F.col("event_type") == "click", F.col("v"))
            ).alias("va"),
            F.max(
                F.when(F.col("event_type") == "purchase", F.col("v"))
            ).alias("vb"),
        )
        .filter(F.col("va").isNotNull() & F.col("vb").isNotNull())
    )
    mu = wide.groupBy().agg(
        F.count("*").alias("n"),
        F.expr("cast(sum(va) div count(*) as bigint)").alias("ma"),
        F.expr("cast(sum(vb) div count(*) as bigint)").alias("mb"),
    )
    c = wide.crossJoin(mu).groupBy("n").agg(
        F.expr("cast(sum((va - ma) * (vb - mb)) as bigint)").alias(
            "sab"
        ),
        F.expr("cast(sum((va - ma) * (va - ma)) as bigint)").alias(
            "saa"
        ),
        F.expr("cast(sum((vb - mb) * (vb - mb)) as bigint)").alias(
            "sbb"
        ),
    )
    return c.select(
        "n",
        "sab",
        "saa",
        "sbb",
        F.expr(
            "cast(floor(sab * 1000000.0 / sqrt(saa * 1.0 * sbb))"
            " as bigint)"
        ).alias("corr_u"),
    )


# ---------------------------------------------------------------------------
# Mix-shift (rate/mix) revenue decomposition — q198
# ---------------------------------------------------------------------------

#: period split: orders before/after the midpoint year
_MIX_SPLIT = "1998-01-01"


@query(
    "q198_mix_shift_decomposition",
    oracle=f"""
    WITH f AS (
      SELECT o.o_orderpriority AS seg,
             (o.o_orderdate >= TIMESTAMP '{_MIX_SPLIT}') AS p2,
             CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                  AS BIGINT) AS rev_c
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    seg AS (
      SELECT seg,
             CAST(SUM(CASE WHEN NOT p2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(SUM(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n2,
             CAST(SUM(CASE WHEN NOT p2 THEN rev_c ELSE 0 END)
                  AS BIGINT) AS r1,
             CAST(SUM(CASE WHEN p2 THEN rev_c ELSE 0 END) AS BIGINT)
               AS r2
      FROM f GROUP BY seg),
    tot AS (
      SELECT CAST(SUM(n1) AS BIGINT) AS tn1,
             CAST(SUM(n2) AS BIGINT) AS tn2 FROM seg)
    SELECT seg.seg, n1, n2, r1, r2,
           CAST(floor((n2 * 1.0 / tn2 - n1 * 1.0 / tn1)
                      * (r1 * 1.0 / n1) * tn2) AS BIGINT)
             AS mix_effect_c,
           CAST(floor((r2 * 1.0 / n2 - r1 * 1.0 / n1)
                      * (n2 * 1.0 / tn2) * tn2) AS BIGINT)
             AS rate_effect_c
    FROM seg, tot WHERE n1 > 0 AND n2 > 0
    """,
)
def q198_mix_shift_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mix-shift decomposition of period-over-period revenue: for
    each order-priority segment, how much of the change came from
    the segment's SHARE of volume moving (mix effect) vs its
    per-line revenue RATE moving (rate effect) — the standard FP&A
    / growth-accounting bridge (Laspeyres-style: mix priced at
    period-1 rates, rate weighted at period-2 mix). Every input
    moment is an exact BIGINT; the two effects are shared double
    texts floored to cents.

    Scale: one fact scan folding to segment × period partials
    map-side (the CASE-conditional aggregate shape, no second
    scan); the totals row broadcasts. Output is segment-sized.
    """
    f = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            F.expr(
                "cast(floor(l_extendedprice * (1 - l_discount) * 100)"
                " as bigint)"
            ).alias("rev_c"),
        )
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey",
                F.col("o_orderpriority").alias("seg"),
                (F.col("o_orderdate") >= F.lit(_MIX_SPLIT)).alias("p2"),
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    )
    seg = f.groupBy("seg").agg(
        F.expr("cast(sum(case when not p2 then 1 else 0 end) as bigint)")
        .alias("n1"),
        F.expr("cast(sum(case when p2 then 1 else 0 end) as bigint)")
        .alias("n2"),
        F.expr(
            "cast(sum(case when not p2 then rev_c else 0 end) as bigint)"
        ).alias("r1"),
        F.expr(
            "cast(sum(case when p2 then rev_c else 0 end) as bigint)"
        ).alias("r2"),
    )
    tot = seg.agg(
        F.sum("n1").cast("bigint").alias("tn1"),
        F.sum("n2").cast("bigint").alias("tn2"),
    )
    return (
        seg.crossJoin(tot)
        .filter((F.col("n1") > 0) & (F.col("n2") > 0))
        .select(
            "seg",
            "n1",
            "n2",
            "r1",
            "r2",
            F.expr(
                "cast(floor((n2 * 1.0 / tn2 - n1 * 1.0 / tn1)"
                " * (r1 * 1.0 / n1) * tn2) as bigint)"
            ).alias("mix_effect_c"),
            F.expr(
                "cast(floor((r2 * 1.0 / n2 - r1 * 1.0 / n1)"
                " * (n2 * 1.0 / tn2) * tn2) as bigint)"
            ).alias("rate_effect_c"),
        )
    )


# ---------------------------------------------------------------------------
# DAU / WAU stickiness — q199
# ---------------------------------------------------------------------------


@query(
    "q199_dau_wau_stickiness",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
      FROM events),
    days AS (SELECT DISTINCT day FROM ud),
    dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day),
    wau AS (
      SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
      FROM days d JOIN ud u
        ON u.day BETWEEN d.day - 6 AND d.day
      GROUP BY d.day)
    SELECT dau.day, dau.dau, wau.wau,
           CAST(dau.dau * 1000000 // wau.wau AS BIGINT)
             AS stickiness_u
    FROM dau JOIN wau ON dau.day = wau.day
    ORDER BY dau.day
    """,
)
def q199_dau_wau_stickiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DAU/WAU stickiness: daily active users over trailing-7-day
    active users per day — THE product-engagement ratio. Distinct-
    users-over-a-sliding-window does NOT decompose like a sum (a
    user active twice in the window counts once), so the engine
    collapses the stream to the (user × day) activity grid first
    and re-counts per window via a 7-day band join on the day spine
    — the grid is the only corpus-sized artifact and it shrinks by
    the per-day event multiplicity.

    Scale: one map-side distinct to the grid; the band join fans
    each grid row out ×7 to day keys (bounded, not data-dependent);
    the distinct count per day is exact. At 100 TB the exact WAU
    swaps for q162's mergeable HLL registers per day, unioned over
    the window — same plan shape, constant state.
    """
    ud = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr(
                "cast(unix_timestamp(ts) as bigint) div 86400"
            ).alias("day"),
        )
        .distinct()
    )
    dau = ud.groupBy("day").agg(F.count("*").alias("dau"))
    # fan each activity row out to the ≤7 window-anchor days it
    # serves (equi-join on the anchor key, no banded theta join)
    fan = ud.select(
        "user_id",
        F.explode(
            F.expr("sequence(day, day + 6)")
        ).alias("anchor"),
    )
    days = ud.select(F.col("day").alias("anchor")).distinct()
    wau = (
        fan.join(days, "anchor", "left_semi")
        .groupBy("anchor")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, dau["day"] == wau["anchor"])
        .select(
            "day",
            "dau",
            "wau",
            F.expr("cast(dau * 1000000 div wau as bigint)").alias(
                "stickiness_u"
            ),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Item-item collaborative filtering — q200
# ---------------------------------------------------------------------------

_CF_TOP = 5


@query(
    "q200_item_cf",
    oracle=f"""
    WITH b AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS i
      FROM lineitem),
    cnt AS (
      SELECT i, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY i),
    co AS (
      SELECT x.i AS i, y.i AS j, CAST(COUNT(*) AS BIGINT) AS cij
      FROM b x JOIN b y ON x.o = y.o AND x.i <> y.i
      GROUP BY x.i, y.i),
    scored AS (
      SELECT co.i, co.j, co.cij,
             CAST(floor(co.cij * 1000000.0
                        / sqrt(ci.c * 1.0 * cj.c)) AS BIGINT)
               AS cosine_u
      FROM co JOIN cnt ci ON co.i = ci.i JOIN cnt cj ON co.j = cj.i)
    SELECT i, j, cij, cosine_u
    FROM scored
    QUALIFY row_number() OVER (
      PARTITION BY i ORDER BY cosine_u DESC, j) <= {_CF_TOP}
    ORDER BY i, cosine_u DESC, j
    """,
)
def q200_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering (Sarwar et al. 2001, the
    Amazon-style recommender): co-occurrence cosine
    cᵢⱼ/√(cᵢ·cⱼ) over order baskets, top-{_CF_TOP} neighbors per
    item — the complement of q137's pointwise-lift mining (lift
    finds surprising pairs; cosine ranks RECOMMENDABLE neighbors)
    and the classical-CF counterpart of the embedding k-NN stack
    (q34/q35). Counts are exact BIGINTs; the cosine is one shared
    double text, so the neighbor lists hash-pin.

    Scale: baskets dedup map-side; the co-occurrence self-join is
    keyed on the basket id with fan-out ≤ C(basket,2) per order —
    the bounded-basket assumption every CF system makes; item
    counts broadcast back; per-item top-k is a WindowGroupLimit
    (rank pushed into the shuffle). Hub items (every-basket
    staples) are the known skew — the production guard is a
    max-basket / max-item-frequency cap like q149's boilerplate
    cap, documented not applied at demo scale.
    """
    b = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("i")
        )
        .distinct()
    )
    cnt = b.groupBy("i").agg(F.count("*").alias("c"))
    co = (
        b.alias("x")
        .join(b.alias("y"), "o")
        .filter(F.expr("x.i <> y.i"))
        .groupBy(F.expr("x.i").alias("i"), F.expr("y.i").alias("j"))
        .agg(F.count("*").alias("cij"))
    )
    scored = (
        co.join(
            # kept: q200 shuffle-hash-joins (1 MiB)
            F.broadcast(cnt.withColumnRenamed("c", "ci")), "i"
        )
        .join(
            F.broadcast(  # kept: q200 +1 shuffle (1 MiB)
                cnt.select(
                    F.col("i").alias("j"), F.col("c").alias("cj")
                )
            ),
            "j",
        )
        .select(
            "i",
            "j",
            "cij",
            F.expr(
                "cast(floor(cij * 1000000.0 / sqrt(ci * 1.0 * cj))"
                " as bigint)"
            ).alias("cosine_u"),
        )
    )
    wn = W.partitionBy("i").orderBy(F.desc("cosine_u"), "j")
    return (
        scored.withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") <= _CF_TOP)
        .drop("rn")
        .orderBy("i", F.desc("cosine_u"), "j")
    )


# ---------------------------------------------------------------------------
# Kaplan–Meier time-to-event curve — q201
# ---------------------------------------------------------------------------

#: the studied event: the user's first "big purchase"
_KM_VALUE_CUT = 150


@query(
    "q201_kaplan_meier",
    oracle=f"""
    WITH f AS (
      SELECT user_id,
             CAST(floor(epoch(MIN(ts))) AS BIGINT) AS t0,
             CAST(floor(epoch(MAX(ts))) AS BIGINT) AS t1
      FROM events GROUP BY user_id),
    ev AS (
      SELECT user_id,
             CAST(floor(epoch(MIN(ts))) AS BIGINT) AS te
      FROM events
      WHERE event_type = 'purchase' AND value > {_KM_VALUE_CUT}
      GROUP BY user_id),
    obs AS (
      SELECT f.user_id,
             (COALESCE(ev.te, f.t1) - f.t0) // 604800 AS w,
             (ev.te IS NOT NULL) AS event
      FROM f LEFT JOIN ev ON f.user_id = ev.user_id),
    risk AS (
      SELECT w,
             CAST(SUM(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT)
               AS d,
             CAST(COUNT(*) AS BIGINT) AS leaving
      FROM obs GROUP BY w),
    tl AS (
      SELECT w, d, leaving,
             CAST(SUM(leaving) OVER (ORDER BY w DESC) AS BIGINT) AS n
      FROM risk),
    flist AS (
      SELECT list(struct_pack(w := w, d := d, n := n) ORDER BY w)
               AS fs
      FROM tl),
    km AS (
      SELECT t.w, t.d, t.n,
             list_reduce(list_prepend(1.0,
               list_transform(list_filter(fs, f -> f.w <= t.w),
                 f -> 1.0 - f.d * 1.0 / f.n)),
               (a, b) -> a * b) AS s
      FROM tl t, flist)
    SELECT w AS week, d AS n_events, n AS n_at_risk,
           CAST(floor(s * 1000000) AS BIGINT) AS survival_u
    FROM km WHERE d > 0 ORDER BY w
    """,
)
def q201_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier time-to-event curve: survival probability by
    week from a user's first activity to their first BIG purchase
    (value > {_KM_VALUE_CUT}), with users who never get there
    RIGHT-CENSORED at their last observed activity — the
    product-limit estimator S(w) = Π(1 − dᵢ/nᵢ) is how censored
    subjects contribute without bias (a naive "conversion by week
    w" curve treats them as failures and systematically understates
    survival). The time-to-event statistics layer q141's cohort
    counts and q203's converter-only latencies don't provide.

    The running product folds the per-week factors in EXPLICIT week
    order on both engines (the q170 ordered-fold rule — an
    unordered product of doubles is order-dependent), so
    ``survival_u`` hash-pins. At-risk counts are a reverse
    cumulative sum over the week-cardinality risk table (bounded by
    the observation span — the q108 constant-bounded-window
    precedent), and the factor list is one row of ≤|weeks| structs.

    Scale: stream → per-user (first, last, first-event) folds —
    all map-side; every survival computation runs at week
    cardinality.
    """
    f = load_table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.expr("cast(unix_timestamp(min(ts)) as bigint)").alias("t0"),
        F.expr("cast(unix_timestamp(max(ts)) as bigint)").alias("t1"),
    )
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("value") > _KM_VALUE_CUT)
        )
        .groupBy("user_id")
        .agg(F.expr("cast(unix_timestamp(min(ts)) as bigint)").alias("te"))
    )
    obs = f.join(ev, "user_id", "left").select(
        F.expr("(coalesce(te, t1) - t0) div 604800").alias("w"),
        F.col("te").isNotNull().alias("event"),
    )
    risk = obs.groupBy("w").agg(
        F.expr(
            "cast(sum(case when event then 1 else 0 end) as bigint)"
        ).alias("d"),
        F.count("*").alias("leaving"),
    )
    tl = risk.select(
        "w",
        "d",
        F.sum("leaving")
        .over(
            W.orderBy(F.desc("w")).rowsBetween(
                W.unboundedPreceding, W.currentRow
            )
        )
        .cast("bigint")
        .alias("n"),
    )
    km = tl.crossJoin(
        tl.agg(
            F.expr("array_sort(collect_list(struct(w, d, n)))").alias("fs")
        )
    ).select(
        "w",
        "d",
        "n",
        F.expr(
            "aggregate(filter(fs, f -> f.w <= w), cast(1.0 as double),"
            " (acc, f) -> acc * (1.0 - f.d * 1.0 / f.n))"
        ).alias("s"),
    )
    return (
        km.filter(F.col("d") > 0)
        .select(
            F.col("w").alias("week"),
            F.col("d").alias("n_events"),
            F.col("n").alias("n_at_risk"),
            F.expr("cast(floor(s * 1000000) as bigint)").alias(
                "survival_u"
            ),
        )
        .orderBy("week")
    )


# ---------------------------------------------------------------------------
# ABC / Pareto revenue classification — q202
# ---------------------------------------------------------------------------


@query(
    "q202_abc_classification",
    oracle="""
    WITH pr AS (
      SELECT l_partkey AS pk,
             CAST(SUM(CAST(floor(l_extendedprice
                                 * (1 - l_discount) * 100) AS BIGINT))
                  AS BIGINT) AS rev_c
      FROM lineitem GROUP BY l_partkey),
    r AS (
      SELECT pk, rev_c,
             SUM(rev_c) OVER (ORDER BY rev_c DESC, pk) AS cum,
             SUM(rev_c) OVER () AS total
      FROM pr),
    cls AS (
      SELECT pk, rev_c,
             CASE WHEN (cum - rev_c) * 100 < total * 80 THEN 'A'
                  WHEN (cum - rev_c) * 100 < total * 95 THEN 'B'
                  ELSE 'C' END AS cls
      FROM r)
    SELECT cls,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(rev_c) AS BIGINT) AS rev_c,
           CAST(SUM(rev_c) * 1000000 //
                (SELECT SUM(rev_c) FROM pr) AS BIGINT) AS share_u
    FROM cls GROUP BY cls ORDER BY cls
    """,
)
def q202_abc_classification(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ABC / Pareto classification of parts by revenue: class A =
    the head items up to 80 % of cumulative revenue, B to 95 %, C
    the tail — the inventory-management standard (and the 80/20
    check q194's Gini summarizes into one number). An item's class
    is decided by the cumulative revenue STRICTLY ABOVE it, so the
    item straddling a boundary lands in the higher class — the
    convention that makes classes partition-stable. Cent-exact
    integers throughout; boundaries compared as cross-multiplied
    BIGINTs, no percentage division anywhere.

    Scale: facts fold to part grain map-side; the descending
    cumulative sum runs through ``scale.global_running_sum`` (range
    partition → per-partition prefix sums → broadcast offsets — the
    distributed prefix-sum lever this query motivated) — the
    single-partition window the SQL text implies is exactly what the
    engine avoids (the oracle may single-thread; the engine must
    not). Class rollup is 3 rows.
    """
    from ..operators import scale

    pr = load_table(spark, sf_dir, "lineitem").groupBy(
        F.col("l_partkey").alias("pk")
    ).agg(
        F.expr(
            "cast(sum(cast(floor(l_extendedprice * (1 - l_discount)"
            " * 100) as bigint)) as bigint)"
        ).alias("rev_c")
    )
    # descending cumulative revenue WITHOUT a single-partition
    # window: scale.global_running_sum range-partitions on
    # (-rev_c, pk), prefix-sums per partition, and broadcasts the
    # per-partition offsets back — the distributed-scan shape, so
    # the Pareto sweep holds at ANY part cardinality
    cum = scale.global_running_sum(
        pr.withColumn("neg", F.expr("-rev_c")),
        ["neg", "pk"],
        "rev_c",
        sum_name="cum",
    ).drop("neg")
    tot = pr.agg(F.sum("rev_c").cast("bigint").alias("total"))
    cls = cum.crossJoin(tot).select(
        "rev_c",
        F.expr(
            "case when (cum - rev_c) * 100 < total * 80 then 'A'"
            " when (cum - rev_c) * 100 < total * 95 then 'B'"
            " else 'C' end"
        ).alias("cls"),
    )
    tot = pr.agg(F.sum("rev_c").cast("bigint").alias("t"))
    return (
        cls.groupBy("cls")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("rev_c").cast("bigint").alias("rev_c"),
        )
        .crossJoin(tot)
        .select(
            "cls",
            "n_parts",
            "rev_c",
            F.expr("cast(rev_c * 1000000 div t as bigint)").alias(
                "share_u"
            ),
        )
        .orderBy("cls")
    )


# ---------------------------------------------------------------------------
# Time-to-convert funnel latency — q203
# ---------------------------------------------------------------------------


@query(
    "q203_time_to_convert",
    oracle="""
    WITH s AS (
      SELECT user_id,
             CAST(floor(epoch(MIN(ts))) AS BIGINT) AS t_signup
      FROM events WHERE event_type = 'signup' GROUP BY user_id),
    p AS (
      SELECT e.user_id,
             CAST(floor(epoch(MIN(e.ts))) AS BIGINT) AS t_conv
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase'
        AND CAST(floor(epoch(e.ts)) AS BIGINT) >= s.t_signup
      GROUP BY e.user_id),
    j AS (
      SELECT s.user_id,
             s.t_signup // 604800 AS cohort_w,
             p.t_conv - s.t_signup AS lat
      FROM s LEFT JOIN p ON s.user_id = p.user_id)
    SELECT cohort_w,
           CAST(COUNT(*) AS BIGINT) AS n_signups,
           CAST(COUNT(lat) AS BIGINT) AS n_converted,
           CAST(COUNT(lat) * 1000 // COUNT(*) AS BIGINT)
             AS conv_permille,
           CAST(floor(quantile_cont(lat, 0.5) / 3600) AS BIGINT)
             AS p50_hours,
           CAST(floor(quantile_cont(lat, 0.9) / 3600) AS BIGINT)
             AS p90_hours
    FROM j GROUP BY cohort_w ORDER BY cohort_w
    """,
)
def q203_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert funnel latency by signup cohort: per weekly
    cohort, the conversion rate and the p50/p90 hours from first
    signup to first subsequent purchase — the funnel-VELOCITY
    readout q72's step-count funnel doesn't give (two cohorts can
    convert equally often at 10× different speeds). Non-converters
    stay in the denominator via the left join (dropping them is the
    classic survivorship bug); the exact interpolating percentile
    on integer-second latencies is engine-identical (the q171
    convention).

    Scale: two user-grained map-side folds (first signup, first
    qualifying purchase) joined on the user key, then
    cohort-cardinality aggregates. Exact percentile buffers per
    cohort; the documented 100 TB swap is ``approx_percentile``
    (q158's bounded-state contract).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("cast(unix_timestamp(ts) as bigint)").alias("t"),
    )
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("t").alias("t_signup"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("t") >= F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t_conv"))
    )
    j = s.join(p, "user_id", "left").select(
        F.expr("t_signup div 604800").alias("cohort_w"),
        (F.col("t_conv") - F.col("t_signup")).alias("lat"),
    )
    return (
        j.groupBy("cohort_w")
        .agg(
            F.count("*").alias("n_signups"),
            F.count("lat").alias("n_converted"),
            F.expr(
                "cast(count(lat) * 1000 div count(*) as bigint)"
            ).alias("conv_permille"),
            F.expr(
                "cast(floor(percentile(lat, 0.5) / 3600) as bigint)"
            ).alias("p50_hours"),
            F.expr(
                "cast(floor(percentile(lat, 0.9) / 3600) as bigint)"
            ).alias("p90_hours"),
        )
        .orderBy("cohort_w")
    )


# ---------------------------------------------------------------------------
# Mann–Whitney U (rank-sum) test — q205
# ---------------------------------------------------------------------------


@query(
    "q205_mann_whitney",
    oracle="""
    WITH s AS (
      SELECT user_id % 2 AS arm,
             CAST(floor(value * 10000) AS BIGINT) AS x
      FROM events WHERE event_type = 'view'),
    r AS (
      SELECT arm, x,
             CAST(2 * rank() OVER (ORDER BY x)
                  + COUNT(*) OVER (PARTITION BY x) - 1 AS BIGINT)
               AS dr
      FROM s),
    m AS (
      SELECT
        CAST(SUM(CASE WHEN arm = 1 THEN dr ELSE 0 END) AS BIGINT)
          AS dr1,
        CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n1,
        CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n0
      FROM r)
    SELECT n0, n1,
           CAST((dr1 - n1 * (n1 + 1)) // 2 AS BIGINT) AS u1,
           CAST(n0 * n1 AS BIGINT) AS u_max,
           CAST((dr1 - n1 * (n1 + 1)) * 1000000
                // (2 * n0 * n1) AS BIGINT) AS auc_u
    FROM m
    """,
)
def q205_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) between the two hash
    arms on 'view' values — the NONPARAMETRIC A/B readout that
    q196's t-test cannot replace when the metric is heavy-tailed
    (exactly this exponential-ish distribution). U/(n₀·n₁) is also
    the AUC of "arm 1 stochastically larger" — the common-language
    effect size. Tied values get midranks, kept integer by working
    with DOUBLED ranks: dr = 2·rank + ties_at(x) − 1 (midrank×2),
    so U₁ = (Σdr₁ − n₁(n₁+1))/2 is exact BIGINT arithmetic and
    ``auc_u`` an integer division — no float anywhere.

    Scale: the global value rank is the one ordered pass (the
    engine routes it through ``scale.global_row_index``'s range
    machinery via rank-on-sorted-key; tie counts are a value-keyed
    aggregate joined back); the rest is a 1-row moment fold. The
    doubled-rank trick is what keeps midranks off the float path.
    """
    from ..operators import scale

    s = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "view")
        .select(
            F.expr("user_id % 2").alias("arm"),
            F.expr("cast(floor(value * 10000) as bigint)").alias("x"),
            "event_id",
        )
    )
    # rank() over x == count of rows strictly below + 1: derive it
    # from the distributed prefix machinery — per distinct value,
    # rows_below = running count excluding the value's own rows
    vc = s.groupBy("x").agg(F.count("*").alias("ties"))
    cum = scale.global_running_sum(
        vc, ["x"], "ties", sum_name="cum_incl"
    )
    # doubled midrank per value: 2*(rows_below + 1) + ties - 1
    dr = cum.select(
        "x",
        "ties",
        F.expr("2 * (cum_incl - ties + 1) + ties - 1").alias("dr"),
    )
    m = (
        s.join(F.broadcast(dr), "x")  # kept: q205 flips build side (sf0.1)
        .groupBy()
        .agg(
            F.expr(
                "cast(sum(case when arm = 1 then dr else 0 end)"
                " as bigint)"
            ).alias("dr1"),
            F.expr(
                "cast(sum(case when arm = 1 then 1 else 0 end)"
                " as bigint)"
            ).alias("n1"),
            F.expr(
                "cast(sum(case when arm = 0 then 1 else 0 end)"
                " as bigint)"
            ).alias("n0"),
        )
    )
    return m.select(
        "n0",
        "n1",
        F.expr("cast((dr1 - n1 * (n1 + 1)) div 2 as bigint)").alias(
            "u1"
        ),
        F.expr("cast(n0 * n1 as bigint)").alias("u_max"),
        F.expr(
            "cast((dr1 - n1 * (n1 + 1)) * 1000000"
            " div (2 * n0 * n1) as bigint)"
        ).alias("auc_u"),
    )


# ---------------------------------------------------------------------------
# Kolmogorov–Smirnov two-sample test — q206
# ---------------------------------------------------------------------------


@query(
    "q206_ks_test",
    oracle="""
    WITH s AS (
      SELECT user_id % 2 AS arm,
             CAST(floor(value * 10000) AS BIGINT) AS x
      FROM events WHERE event_type = 'click'),
    n AS (
      SELECT
        CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n0,
        CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n1
      FROM s),
    vc AS (
      SELECT x,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS c0,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS c1
      FROM s GROUP BY x),
    cum AS (
      SELECT x,
             SUM(c0) OVER (ORDER BY x) AS f0,
             SUM(c1) OVER (ORDER BY x) AS f1
      FROM vc),
    d AS (
      SELECT MAX(abs(f0 * n1 - f1 * n0)) AS dnum
      FROM cum, n)
    SELECT n0, n1,
           CAST(dnum AS BIGINT) AS d_num,
           CAST(n0 * n1 AS BIGINT) AS d_den,
           CAST(dnum * 1000000 // (n0 * n1) AS BIGINT) AS ks_u
    FROM d, n
    """,
)
def q206_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the hash
    arms on 'click' values: D = sup|F₀(x) − F₁(x)| — the
    whole-DISTRIBUTION drift test completing the trio (q196 means,
    q205 stochastic order, q206 any shape difference at all; it is
    also the q145 snapshot-drift alarm for continuous metrics).
    Cross-multiplied as |f₀·n₁ − f₁·n₀| over the shared support,
    the supremum is exact BIGINT and ``ks_u`` one integer division
    — the ECDF never materializes as a float.

    Scale: values fold to per-distinct-value arm counts map-side;
    both ECDFs ride ONE distributed prefix pass over the value-
    cardinality table (``scale.global_running_sum`` twice on the
    same ordering — same range partitioning, reused); the sup is a
    plain max aggregate.
    """
    from ..operators import scale

    s = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select(
            F.expr("user_id % 2").alias("arm"),
            F.expr("cast(floor(value * 10000) as bigint)").alias("x"),
        )
    )
    n = s.groupBy().agg(
        F.expr(
            "cast(sum(case when arm = 0 then 1 else 0 end) as bigint)"
        ).alias("n0"),
        F.expr(
            "cast(sum(case when arm = 1 then 1 else 0 end) as bigint)"
        ).alias("n1"),
    )
    vc = s.groupBy("x").agg(
        F.expr(
            "cast(sum(case when arm = 0 then 1 else 0 end) as bigint)"
        ).alias("c0"),
        F.expr(
            "cast(sum(case when arm = 1 then 1 else 0 end) as bigint)"
        ).alias("c1"),
    )
    cum = scale.global_running_sum(
        scale.global_running_sum(vc, ["x"], "c0", sum_name="f0"),
        ["x"],
        "c1",
        sum_name="f1",
    )
    d = cum.crossJoin(n).agg(
        F.expr("max(abs(f0 * n1 - f1 * n0))").alias("dnum")
    )
    return d.crossJoin(F.broadcast(n)).select(  # kept: q206 flips build side (sf0.1)
        "n0",
        "n1",
        F.expr("cast(dnum as bigint)").alias("d_num"),
        F.expr("cast(n0 * n1 as bigint)").alias("d_den"),
        F.expr("cast(dnum * 1000000 div (n0 * n1) as bigint)").alias(
            "ks_u"
        ),
    )


# ---------------------------------------------------------------------------
# Markov removal-effect attribution — q209
# ---------------------------------------------------------------------------

#: touch channels (transient states beyond 'start'); 'purchase'
#: absorbs as conversion, journey end absorbs as null
_MK_TOUCH = ("click", "error", "signup", "view")


def _mk_det(rows, cols, entry) -> str:
    """Leibniz determinant of the matrix ``[entry(r, c)]`` as SQL
    text — identical token-for-token on both engines, so the IEEE
    evaluation order (left-assoc sums, literal products) matches."""
    import itertools

    n = len(rows)
    terms = []
    for perm in itertools.permutations(range(n)):
        inv = sum(
            1
            for a in range(n)
            for b in range(a + 1, n)
            if perm[a] > perm[b]
        )
        sign = "-" if inv % 2 else "+"
        prod = " * ".join(entry(rows[i], cols[perm[i]]) for i in range(n))
        terms.append(f"{sign} ({prod})")
    return "(" + " ".join(terms) + ")"


def _mk_conv_expr(removed: str | None) -> str:
    """Closed-form P(conversion from start) for the chain with
    ``removed`` treated as an immediate dead end (the removal-effect
    counterfactual), via Cramer on the touch-state block:
    x = (I−Q)⁻¹ r, conv = p(start,conv) + Σ p(start,t)·x_t.
    References the pivoted probability columns ``p_{from}_{to}``."""
    touch = [t for t in _MK_TOUCH if t != removed]

    def p(f, t):
        # removal: edges INTO the removed channel die (ride to null),
        # so the removed column simply never appears; rows of the
        # removed channel are unreachable and excluded
        return f"p_{f}_{t}"

    def a(i, j):
        base = f"(0.0 - {p(i, j)})"
        return f"(1.0 - {p(i, j)})" if i == j else base

    det_a = _mk_det(touch, touch, a)
    conv = p("start", "conv")
    parts = [conv]
    for t in touch:
        cols = [c if c != t else "__r" for c in touch]

        def entry(i, j, t=t):
            return f"({p(i, 'conv')})" if j == "__r" else a(i, j)

        det_t = _mk_det(touch, cols, entry)
        parts.append(f"{p('start', t)} * {det_t} / {det_a}")
    return "(" + " + ".join(parts) + ")"


def _mk_prob_cols() -> list[str]:
    """``p_{from}_{to}`` column expressions over the pivoted counts
    ``n_{from}_{to}`` (0 when absent): row-normalized by the from
    state's TOTAL outflow (conv + null included)."""
    cols = []
    froms = ("start",) + _MK_TOUCH
    tos = _MK_TOUCH + ("conv", "null")
    for f in froms:
        tot = " + ".join(f"n_{f}_{t}" for t in tos)
        for t in tos:
            # cast BOTH sides to double explicitly: a bare 1.0
            # literal is DECIMAL in Spark SQL, and decimal division
            # rounds at decimal precision before ever becoming a
            # double — off by an ulp vs DuckDB's double division
            cols.append(
                f"(cast(n_{f}_{t} as double)"
                f" / nullif(cast(({tot}) as double), 0.0))"
                f" as p_{f}_{t}"
            )
    return cols


def _mk_pivot_cols() -> list[str]:
    froms = ("start",) + _MK_TOUCH
    tos = _MK_TOUCH + ("conv", "null")
    return [
        f"cast(coalesce(sum(case when f = '{f}' and t = '{t}'"
        f" then n end), 0) as bigint) as n_{f}_{t}"
        for f in froms
        for t in tos
    ]


def _mk_effect_cols() -> list[str]:
    """One row of generated closed-form columns over ``p``:
    ``base_u`` + a floored removal effect per channel + their
    positive-part total (a VALUES/unpivot shim per engine turns the
    row into channel rows — column references are not legal inside
    VALUES, so the math must live here)."""
    base = _mk_conv_expr(None)
    cols = [
        f"cast(floor(({base}) * 1000000) as bigint) as base_u"
    ]
    for c in _MK_TOUCH:
        e = _mk_conv_expr(c)
        cols.append(
            f"cast(floor((1.0 - ({e}) / ({base})) * 1000000)"
            f" as bigint) as e_{c}"
        )
    total = " + ".join(
        f"greatest(cast(0 as bigint), e_{c})" for c in _MK_TOUCH
    )
    cols.append(f"cast({total} as bigint) as e_total")
    return cols


def _mk_spark_final() -> str:
    stack = ", ".join(f"'{c}', e_{c}" for c in _MK_TOUCH)
    return f"""
    select channel,
           base_u as base_conv_u,
           effect_u as removal_effect_u,
           cast(greatest(0L, effect_u) * 1000000
                div nullif(e_total, 0L) as bigint) as share_u
    from (
      select base_u, e_total,
             stack({len(_MK_TOUCH)}, {stack}) as (channel, effect_u)
      from q209_effects)
    order by channel
    """


def _mk_duck_final() -> str:
    rows = "\n      UNION ALL ".join(
        f"SELECT '{c}' AS channel, base_u, e_{c} AS effect_u, e_total"
        f" FROM effects"
        for c in _MK_TOUCH
    )
    return f"""
    unp AS ({rows})
    SELECT channel,
           base_u AS base_conv_u,
           effect_u AS removal_effect_u,
           CAST(greatest(CAST(0 AS BIGINT), effect_u) * 1000000
                // nullif(e_total, 0) AS BIGINT) AS share_u
    FROM unp ORDER BY channel
    """


def _q209_oracle() -> str:
    pivot = ",\n             ".join(_mk_pivot_cols())
    probs = ",\n             ".join(_mk_prob_cols())
    effcols = ",\n             ".join(_mk_effect_cols())
    return f"""
    WITH ev AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) * 4194304 + event_id
               AS k,
             CASE WHEN event_type = 'purchase' THEN 'conv'
                  ELSE event_type END AS st
      FROM events),
    firstp AS (
      SELECT user_id, MIN(k) AS kp FROM ev WHERE st = 'conv'
      GROUP BY user_id),
    j AS (
      SELECT ev.user_id, ev.k, ev.st
      FROM ev LEFT JOIN firstp USING (user_id)
      WHERE firstp.kp IS NULL OR ev.k <= firstp.kp),
    seq AS (
      SELECT user_id, st,
             lead(st) OVER (PARTITION BY user_id ORDER BY k) AS nxt,
             row_number() OVER (PARTITION BY user_id ORDER BY k)
               AS rn
      FROM j),
    trans AS (
      SELECT st AS f, COALESCE(nxt, 'null') AS t,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE st <> 'conv' GROUP BY 1, 2
      UNION ALL
      SELECT 'start' AS f, st AS t, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE rn = 1 GROUP BY 1, 2),
    piv AS (
      SELECT {pivot}
      FROM trans),
    p AS (
      SELECT {probs}
      FROM piv),
    effects AS (
      SELECT {effcols}
      FROM p),
    {_mk_duck_final()}
    """


@query("q209_markov_attribution", oracle=_q209_oracle())
def q209_markov_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. 2014 — the
    standard DATA-DRIVEN attribution model): user journeys become a
    first-order Markov chain over touch states absorbing in
    conversion or abandonment, each channel's credit is how much
    total conversion probability DISAPPEARS when that channel is
    made a dead end (1 − p₋c/p), and credits normalize to shares —
    the principled alternative to q183's last-touch heuristic,
    which structurally over-credits bottom-of-funnel touches.

    The absorption probability is computed in CLOSED FORM: Cramer's
    rule on the 4-state touch block (x = (I−Q)⁻¹r expanded as
    Leibniz determinants — 24-term polynomials generated once and
    embedded token-identically in BOTH engines' texts), so there is
    no iteration-count knob and the IEEE evaluation order matches
    exactly; ``base_conv_u``/``removal_effect_u``/``share_u`` all
    hash-pin.

    Scale: journeys truncate at first conversion; the transition
    fold is one user-keyed window + a (from × to)-cardinality
    aggregate (≤ 35 cells). ALL chain algebra runs on that one
    pivoted row — the 100 TB cost is exactly one pass over the
    event stream.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr(
            "cast(unix_timestamp(ts) as bigint) * 4194304 + event_id"
        ).alias("k"),
        F.expr(
            "case when event_type = 'purchase' then 'conv'"
            " else event_type end"
        ).alias("st"),
    )
    # first-conversion cutoff as a WINDOW over the same user
    # partitioning the sequence windows need — ONE events scan, one
    # user shuffle (the aggregate-join form scanned events twice)
    wu = W.partitionBy("user_id")
    w = W.partitionBy("user_id").orderBy("k")
    j = (
        ev.withColumn(
            "kp",
            F.min(
                F.when(F.col("st") == "conv", F.col("k"))
            ).over(wu),
        )
        .filter(F.col("kp").isNull() | (F.col("k") <= F.col("kp")))
        .select("user_id", "k", "st")
    )
    from .. import caching

    # the transition fold reads seq TWICE (pair rows + start rows);
    # stage it so the events scan and the user-window run once
    seq = caching.slot_persist(
        "q209_seq",
        j.select(
            "st",
            F.lead("st").over(w).alias("nxt"),
            F.row_number().over(w).alias("rn"),
        ),
    )
    trans = (
        seq.filter(F.col("st") != "conv")
        .groupBy(
            F.col("st").alias("f"),
            F.expr("coalesce(nxt, 'null')").alias("t"),
        )
        .agg(F.count("*").alias("n"))
        .unionAll(
            seq.filter(F.col("rn") == 1)
            .groupBy(
                F.lit("start").alias("f"), F.col("st").alias("t")
            )
            .agg(F.count("*").alias("n"))
        )
    )
    # aggregate-only select = one global fold to the 35-cell row
    piv = trans.selectExpr(*_mk_pivot_cols())
    piv.createOrReplaceTempView("q209_piv")
    p = spark.sql(
        "select "
        + ", ".join(_mk_prob_cols())
        + " from q209_piv"
    )
    eff = p.selectExpr(*_mk_effect_cols())
    eff.createOrReplaceTempView("q209_effects")
    return spark.sql(_mk_spark_final())


# ---------------------------------------------------------------------------
# Top journey paths — q210
# ---------------------------------------------------------------------------

_PATH_LEN = 3
_PATH_TOP = 15


@query(
    "q210_journey_paths",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type AS s,
             lead(event_type, 1) OVER w AS s1,
             lead(event_type, 2) OVER w AS s2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY
                   CAST(floor(epoch(ts)) AS BIGINT), event_id)),
    paths AS (
      SELECT s || '>' || s1 || '>' || s2 AS path
      FROM seq WHERE s2 IS NOT NULL)
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n
    FROM paths GROUP BY path
    ORDER BY n DESC, path LIMIT {_PATH_TOP}
    """,
)
def q210_journey_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top {_PATH_TOP} three-step journey paths — the "what do
    users actually do" path-frequency report behind every funnel
    redesign (q72 checks ONE prescribed funnel; this mines which
    sequences dominate, the exploratory step before prescribing
    one). Sliding {_PATH_LEN}-grams over each user's ordered event
    stream via lead() — the event-sequence twin of the token n-gram
    machinery (q99/q137).

    Scale: one user_id shuffle for the window, map-side-combined
    path counts (path cardinality ≤ \\|types\\|³ = tiny),
    TakeOrdered top-{_PATH_TOP}.
    """
    w = W.partitionBy("user_id").orderBy("t", "event_id")
    seq = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("cast(unix_timestamp(ts) as bigint)").alias("t"),
        F.col("event_type").alias("s"),
    ).select(
        "s",
        F.lead("s", 1).over(w).alias("s1"),
        F.lead("s", 2).over(w).alias("s2"),
    )
    return (
        seq.filter(F.col("s2").isNotNull())
        .select(
            F.expr("concat(s, '>', s1, '>', s2)").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(_PATH_TOP)
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation — q211
# ---------------------------------------------------------------------------


def _ntile_from_rank(rank_col: str, n_col: str, buckets: int) -> "F.Column":
    """SQL-standard ``ntile(buckets)`` computed from a 1-based global
    rank and the total row count — integer-exact, no window: with
    ``n = qk + m`` (``q = buckets``), the first ``m`` buckets hold
    ``k+1`` rows and the rest ``k`` (Spark's and DuckDB's shared
    convention), so the bucket of rank ``r`` is ``ceil(r/(k+1))``
    inside the big-bucket prefix and ``m + ceil((r - m(k+1))/k)``
    past it. ``ceil(a/b)`` is ``(a + b - 1) div b``; when ``k = 0``
    every row sits in the prefix, so the ``div k`` branch is never
    evaluated on a zero divisor."""
    q = buckets
    k = f"({n_col} div {q})"
    m = f"({n_col} % {q})"
    big = f"({m} * ({k} + 1))"
    return F.expr(
        f"cast(CASE WHEN {rank_col} <= {big}"
        f" THEN ({rank_col} + {k}) div ({k} + 1)"
        f" ELSE {m} + ({rank_col} - {big} + {k} - 1) div {k}"
        f" END as int)"
    )


@query(
    "q211_rfm_segmentation",
    oracle="""
    WITH f AS (
      SELECT l.l_orderkey, o.o_custkey,
             CAST(floor(epoch(o.o_orderdate)) AS BIGINT) AS t,
             CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                  AS BIGINT) AS rev_c
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    cust AS (
      SELECT o_custkey AS ck,
             CAST(MAX(t) AS BIGINT) AS last_t,
             CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS freq,
             CAST(SUM(rev_c) AS BIGINT) AS monetary_c
      FROM f GROUP BY o_custkey),
    scored AS (
      SELECT ck,
             ntile(4) OVER (ORDER BY last_t, ck) AS r_q,
             ntile(4) OVER (ORDER BY freq, ck) AS f_q,
             ntile(4) OVER (ORDER BY monetary_c, ck) AS m_q
      FROM cust)
    SELECT r_q, f_q, m_q,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM scored GROUP BY r_q, f_q, m_q
    ORDER BY r_q, f_q, m_q
    """,
)
def q211_rfm_segmentation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RFM segmentation — the CRM classic: customers scored into
    recency / frequency / monetary quartiles (equal-frequency with a
    deterministic ck tie-break so quartile edges are stable), then
    counted per (R,F,M) cell; "champions" are (4,4,4), "at risk"
    high-FM/low-R, and the cell counts are what campaign planning
    actually consumes. Composes q75's equal-frequency machinery
    into the three-dimensional production report.

    Scale: facts fold to customer grain once (orderkey join + one
    custkey aggregate). The customer-grain table is DATA-SCALED, so
    the quartiles do NOT use a global ntile window (the r7 verdict's
    weakest plan-lint exemption, now retired): each dimension gets a
    1-based global rank from ``scale.global_row_index`` (range
    partition + in-plan offsets — no single-partition stage at any
    cardinality) and the ntile bucket is recovered integer-exactly
    from (rank, n) by :func:`_ntile_from_rank`; ``n`` joins in as a
    broadcast scalar. Three range exchanges + two ck-joins replace
    the three serialized windows. The approx-percentile PRODUCTION
    variant (value thresholds, no rank machinery at all) ships as
    q245 with its error-bound audit.
    """
    from .. import caching
    from ..operators.scale import global_row_index

    # shared with q245 (same slot): the fold computes once per
    # session, and the three eager global_row_index materializations
    # below read the cached customer grain instead of re-running the
    # fact join per rank pass
    cust = caching.slot_persist(
        "rfm_cust", _rfm_customer_grain(spark, sf_dir)
    )
    n_df = cust.agg(F.count("*").alias("n_tot"))
    ranked = (
        global_row_index(cust, ["last_t", "ck"], "r_rn")
        .select("ck", "r_rn")
        .join(
            global_row_index(cust, ["freq", "ck"], "f_rn").select(
                "ck", "f_rn"
            ),
            "ck",
        )
        .join(
            global_row_index(cust, ["monetary_c", "ck"], "m_rn").select(
                "ck", "m_rn"
            ),
            "ck",
        )
        .crossJoin(n_df)
    )
    scored = ranked.select(
        _ntile_from_rank("r_rn", "n_tot", 4).alias("r_q"),
        _ntile_from_rank("f_rn", "n_tot", 4).alias("f_q"),
        _ntile_from_rank("m_rn", "n_tot", 4).alias("m_q"),
    )
    return (
        scored.groupBy("r_q", "f_q", "m_q")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("r_q", "f_q", "m_q")
    )


# ---------------------------------------------------------------------------
# Classical seasonal decomposition (trend / daily-seasonal split) — q227
# ---------------------------------------------------------------------------


@query(
    "q227_seasonal_decomposition",
    oracle="""
    WITH e AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr,
             CAST(floor(value * 100) AS BIGINT) AS x
      FROM events),
    h AS (
      SELECT event_type, hr, CAST(SUM(x) AS BIGINT) AS s
      FROM e GROUP BY event_type, hr),
    span AS (
      SELECT event_type, MIN(hr) AS mn, MAX(hr) AS mx
      FROM h GROUP BY event_type),
    grid AS (
      SELECT event_type, UNNEST(range(mn, mx + 1)) AS hr FROM span),
    dense AS (
      SELECT g.event_type, g.hr, COALESCE(h.s, 0) AS s
      FROM grid g LEFT JOIN h
        ON g.event_type = h.event_type AND g.hr = h.hr),
    w AS (
      SELECT event_type, hr, s,
             SUM(s)   OVER w25 AS s25,
             COUNT(*) OVER w25 AS c25,
             lag(s, 12)  OVER ws AS sp,
             lead(s, 12) OVER ws AS sn
      FROM dense WINDOW
        ws  AS (PARTITION BY event_type ORDER BY hr),
        w25 AS (PARTITION BY event_type ORDER BY hr
                ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
    d AS (
      SELECT event_type, hr % 24 AS how,
             48 * s - (2 * s25 - sp - sn) AS dn
      FROM w WHERE c25 = 25)
    SELECT event_type, how,
           CAST(COUNT(*) AS BIGINT) AS s_cnt,
           CAST(SUM(dn) AS BIGINT) AS s_num,
           CAST(floor(CAST(SUM(dn) AS DOUBLE)
                      / CAST(48 * COUNT(*) AS DOUBLE)
                      * CAST(100 AS DOUBLE)) AS BIGINT) AS seasonal_u
    FROM d GROUP BY event_type, how
    """,
)
def q227_seasonal_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Classical additive decomposition of each event type's hourly
    VOLUME series into trend + daily-seasonal components (the
    textbook 2x24 centered moving average; Hyndman & Athanasopoulos
    ch. 3): the hour-of-day load profile every capacity planner and
    anomaly baseline starts from, which q181's ACF can only hint at
    and q184's seasonal-naive forecast assumes rather than measures.

    The series is the hourly cent-total (never a mean — totals stay
    BIGINT, no division enters the pipeline), and the hour grid is
    DENSIFIED before windowing: an absent hour in an event stream is
    a true zero, not a gap to impute, and without densification the
    row-offset trend frame would silently borrow non-adjacent hours
    (the q184 gap lesson; at sf0.001 no raw 25-hour window is even
    complete). The grid is ``sequence(min_hr, max_hr)`` per type —
    calendar-bounded (~1e5 rows/decade/type) at ANY data scale.

    Trend at hour t is the even-period centered MA with half-weight
    ends, kept exact as the 48-scaled BIGINT ``2*S25 - x[t-12] -
    x[t+12]``; the detrended value ``dn = 48*x - trend_num`` is
    therefore integer-exact, and the per-(type, hour-of-day)
    seasonal index folds BIGINTs order-independently. ONE double
    division (shared expression text) renders the index at the end;
    interior-only hours (c25 = 25) enter, so every engine sees the
    identical support set. 48*x fits int64 below ~2e17 hourly cents.

    Scale: the fact table collapses map-side to (type, hour) partials
    — the only data-sized exchange; the dense grid joins back on the
    series' own (type, hr) hash partitioning; the three window
    frames (sum/count/lag/lead) share ONE (type, hr) ordering
    (plan-asserted), and the final rollup is 24x|types| rows.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("cast(unix_timestamp(ts) as bigint) div 3600").alias(
            "hr"
        ),
        F.expr("cast(floor(value * 100) as bigint)").alias("x"),
    )
    from .. import caching

    # the series is consumed twice (span probe + grid join-back);
    # the slot keeps it to ONE fact-table scan
    h = caching.slot_persist(
        "q227_hourly_series",
        ev.groupBy("event_type", "hr").agg(
            F.expr("cast(sum(x) as bigint)").alias("s")
        ),
    )
    span = h.groupBy("event_type").agg(
        F.min("hr").alias("mn"), F.max("hr").alias("mx")
    )
    grid = span.select(
        "event_type", F.explode(F.expr("sequence(mn, mx)")).alias("hr")
    )
    dense = grid.join(h, ["event_type", "hr"], "left").select(
        "event_type",
        "hr",
        F.coalesce("s", F.lit(0).cast("bigint")).alias("s"),
    )
    ws = W.partitionBy("event_type").orderBy("hr")
    w25 = ws.rowsBetween(-12, 12)
    d = (
        dense.select(
            "event_type",
            "hr",
            "s",
            F.sum("s").over(w25).alias("s25"),
            F.count("s").over(w25).alias("c25"),
            F.lag("s", 12).over(ws).alias("sp"),
            F.lead("s", 12).over(ws).alias("sn"),
        )
        .where("c25 = 25")
        .select(
            "event_type",
            F.expr("hr % 24").alias("how"),
            F.expr("48 * s - (2 * s25 - sp - sn)").alias("dn"),
        )
    )
    return (
        d.groupBy("event_type", "how")
        .agg(
            F.count("*").alias("s_cnt"),
            F.expr("cast(sum(dn) as bigint)").alias("s_num"),
        )
        .select(
            "event_type",
            "how",
            "s_cnt",
            "s_num",
            F.expr(
                "cast(floor(cast(s_num as double)"
                " / cast(48 * s_cnt as double)"
                " * cast(100 as double)) as bigint)"
            ).alias("seasonal_u"),
        )
        .orderBy("event_type", "how")
    )


# ---------------------------------------------------------------------------
# Pareto skyline (non-dominated set) — q228
# ---------------------------------------------------------------------------

#: price-bucket width in cents for the skyline's distributed prefix
#: pass; the bucket table is bounded by the PRICE DOMAIN (~10 buckets
#: for the synthetic 900..1000 range), not by row count
_SKY_BUCKET_C = 1000


@query(
    "q228_pareto_skyline",
    oracle="""
    WITH p AS (
      SELECT p_partkey,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)
               AS price_c,
             CAST(p_size AS BIGINT) AS sz
      FROM part)
    SELECT a.p_partkey, a.price_c, a.sz
    FROM p a
    WHERE NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.price_c <= a.price_c AND b.sz >= a.sz
        AND (b.price_c < a.price_c OR b.sz > a.sz))
    """,
)
def q228_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline of the part catalog — every part for which no
    other part is at-least-as-cheap AND at-least-as-large with one
    strict improvement (Börzsönyi et al. 2001, "The Skyline
    Operator"): the multi-objective shortlist (cheapest-per-size
    frontier) that a plain ORDER BY cannot express.

    The engine never forms the quadratic dominance join the oracle
    uses. A 2-D skyline is a PREFIX-MAX problem: ordered by price, a
    part is dominated iff a strictly cheaper part reaches its size,
    or an equal-priced part exceeds it. That prefix max is computed
    in two distributed layers (the q202 prefix-sum pattern, in max
    form): parts hash into fixed-width price BUCKETS — within a
    bucket a range window (ordered by price, frame ending at −1
    cent) gives the strictly-cheaper local max; across buckets the
    per-bucket maxes collapse to a bucket-cardinality table whose
    running max is broadcast back. The only ordered window over
    unbounded data partitions on the bucket key; the cross-bucket
    window runs on the ~price-range/width-row bucket table (compact-
    table policy — bounded by the price DOMAIN, not the data).
    Equal-price ties use a third window partitioned by exact price;
    duplicate (price, size) rows dominate each other strictly in
    neither direction and both stay, matching the NOT EXISTS oracle.

    Scale: one part scan; exchanges are bucket / price hashes of the
    slim (key, price, size) projection; no self-join, no cartesian
    anywhere — the 100 TB form of a query whose textbook SQL is
    O(n²).
    """
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.expr(
            "cast(floor(p_retailprice * 100 + cast(0.5 as double))"
            " as bigint)"
        ).alias("price_c"),
        F.col("p_size").cast("bigint").alias("sz"),
    ).withColumn("bucket", F.expr(f"price_c div {_SKY_BUCKET_C}"))
    wb = (
        W.partitionBy("bucket")
        .orderBy("price_c")
        .rangeBetween(W.unboundedPreceding, -1)
    )
    wp = W.partitionBy("price_c")
    bmax = p.groupBy("bucket").agg(F.max("sz").alias("bmax"))
    # compact table: <= price_domain / bucket_width rows
    wseq = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    prev = bmax.select(
        "bucket", F.max("bmax").over(wseq).alias("prev_max")
    )
    scored = (
        p.join(prev, "bucket", "left")
        .select(
            "p_partkey",
            "price_c",
            "sz",
            F.greatest(
                F.coalesce(F.max("sz").over(wb), F.lit(-1)),
                F.coalesce("prev_max", F.lit(-1)),
            ).alias("cheaper_max"),
            F.max("sz").over(wp).alias("same_price_max"),
        )
    )
    return (
        scored.where(
            "cheaper_max < sz AND same_price_max <= sz"
        )
        .select("p_partkey", "price_c", "sz")
        .orderBy("price_c", "p_partkey")
    )


# ---------------------------------------------------------------------------
# Deletion-neighborhood similarity join (FastSS) — q229
# ---------------------------------------------------------------------------


@query(
    "q229_typo_neighbor_join",
    oracle="""
    WITH c AS (SELECT c_name FROM customer)
    SELECT a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS d
    FROM c a JOIN c b ON a.c_name < b.c_name
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def q229_typo_neighbor_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """All customer-name pairs within edit distance 1 — the
    typo-dedup / entity-linkage primitive — via DELETION-NEIGHBORHOOD
    blocking (FastSS, Bocek et al. 2007): each name expands to
    itself plus its |s| single-character deletions; two strings
    within one edit ALWAYS share a variant (substitution pairs meet
    at the deletion of the differing position, indel pairs at the
    shorter string itself), so an equi-join on the variant finds
    every true pair, and `levenshtein` verifies the candidates
    (same-variant false positives like ab/ba are distance 2 and drop
    out). A distinct on the candidate pair runs BEFORE the verify so
    each pair pays one edit-distance evaluation.

    The oracle is the direct quadratic formulation — a deliberately
    different algorithm proving the blocked join loses nothing.

    This is the string-side sibling of the q175 sorted-neighborhood
    blocker: q175 bounds candidates by sort locality (misses pairs
    whose keys diverge early), deletion neighborhoods are EXACT for
    distance 1. Scale: pair space is sum over variant buckets of
    |bucket|^2 — variants are near-unique for real identifiers —
    versus the oracle's |n|^2; the variant fan-out is |s|+1 slim
    (name, variant) rows per name, map-side generated (HOF transform
    in codegen, no Python), and the only exchanges are the variant-
    key self-join and the pair distinct.
    """
    c = load_table(spark, sf_dir, "customer").select("c_name")
    v = c.select(
        "c_name",
        F.explode(
            F.expr(
                "array_union(array(c_name),"
                " transform(sequence(0, length(c_name) - 1),"
                " i -> concat(substring(c_name, 1, i),"
                " substring(c_name, i + 2))))"
            )
        ).alias("v"),
    )
    pairs = (
        v.alias("a")
        .join(v.alias("b"), "v")
        .where(F.expr("a.c_name < b.c_name"))
        .select(
            F.col("a.c_name").alias("name_a"),
            F.col("b.c_name").alias("name_b"),
        )
        .distinct()
        .where(F.expr("levenshtein(name_a, name_b) <= 1"))
    )
    return pairs.select(
        "name_a",
        "name_b",
        F.expr("cast(levenshtein(name_a, name_b) as bigint)").alias(
            "d"
        ),
    )


# ---------------------------------------------------------------------------
# Peak interval concurrency (sweep line) — q230
# ---------------------------------------------------------------------------


@query(
    "q230_peak_concurrency",
    oracle="""
    WITH iv0 AS (
      SELECT CAST(o.o_orderdate AS DATE) AS sd0,
             CAST(MAX(l.l_shipdate) AS DATE) AS ed0
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate),
    iv AS (
      SELECT least(sd0, ed0) AS sd, greatest(sd0, ed0) AS ed
      FROM iv0),
    ev AS (
      SELECT sd AS d, CAST(1 AS BIGINT) AS delta FROM iv
      UNION ALL
      SELECT ed + 1, CAST(-1 AS BIGINT) FROM iv),
    net AS (SELECT d, SUM(delta) AS net FROM ev GROUP BY d),
    run AS (
      SELECT d, SUM(net) OVER (ORDER BY d) AS active FROM net)
    SELECT CAST(year(d) * 100 + month(d) AS BIGINT) AS ym,
           CAST(MAX(active) AS BIGINT) AS peak_active,
           CAST(MIN(active) AS BIGINT) AS min_active
    FROM run GROUP BY ym
    """,
)
def q230_peak_concurrency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Peak number of simultaneously open orders per month — the
    sweep-line concurrency/occupancy readout (how many orders are
    in flight between order date and last shipment) behind capacity,
    WIP, and staffing dashboards; no join or window over raw fact
    rows can answer it directly because activity at date d depends
    on EVERY interval covering d.

    Sweep line, fully distributed until the calendar: each order
    interval [orderdate, last_shipdate] emits +1 at its start and −1
    the day AFTER its end (so the running total AT d counts
    intervals with sd <= d <= ed, with no same-day tie-ordering to
    define — deltas are summed per day before the scan). The
    running sum then runs over the per-DAY net table, which is
    calendar-bounded (~2.5k rows for the 1992–2001 synthetic span,
    ~365 rows/year forever) — the q108/q189 compact-table policy;
    the unbounded-ordered window never sees data-scaled input. The
    monthly rollup reuses nothing fancier than max/min of the
    running level.

    The synthetic ship dates are generated independently of order
    dates, so some intervals arrive inverted (last ship before the
    order date); each interval is normalized to [least, greatest]
    before the sweep — otherwise the running level dips spuriously.

    Scale: one lineitem pass collapses to per-order intervals on the
    orderkey exchange the orders join shares; interval rows are
    order-cardinality; everything past the per-day net is calendar-
    sized.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.expr("cast(max(l_shipdate) as date)").alias("ed"))
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.expr("cast(o_orderdate as date)").alias("sd")
    )
    iv = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.expr("least(sd, ed)").alias("lo"),
        F.expr("greatest(sd, ed)").alias("hi"),
    )
    ev = iv.select(
        F.expr(
            "stack(2, lo, cast(1 as bigint),"
            " date_add(hi, 1), cast(-1 as bigint)) as (d, delta)"
        )
    )
    net = ev.groupBy("d").agg(F.sum("delta").alias("net"))
    # compact table: per-day rows, calendar-bounded at any data scale
    run = net.select(
        "d", F.sum("net").over(W.orderBy("d")).alias("active")
    )
    return (
        run.groupBy(
            F.expr("cast(year(d) * 100 + month(d) as bigint)").alias(
                "ym"
            )
        )
        .agg(
            F.expr("cast(max(active) as bigint)").alias("peak_active"),
            F.expr("cast(min(active) as bigint)").alias("min_active"),
        )
        .orderBy("ym")
    )


# ---------------------------------------------------------------------------
# Largest-remainder integer allocation — q231
# ---------------------------------------------------------------------------


@query(
    "q231_largest_remainder_allocation",
    oracle="""
    WITH f AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 50
               AS fee_c
      FROM orders),
    l AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem),
    j AS (
      SELECT l.l_orderkey, l.l_linenumber, l.w, f.fee_c
      FROM l JOIN f ON l.l_orderkey = f.o_orderkey),
    t AS (
      SELECT *, SUM(w) OVER (PARTITION BY l_orderkey) AS tw FROM j),
    b AS (
      SELECT *, fee_c * w // tw AS base,
             fee_c * w - (fee_c * w // tw) * tw AS frac
      FROM t),
    r AS (
      SELECT *,
             fee_c - SUM(base) OVER (PARTITION BY l_orderkey) AS rem,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                ORDER BY frac DESC, l_linenumber)
               AS rn
      FROM b),
    a AS (
      SELECT l_orderkey, fee_c, l_linenumber,
             base + CASE WHEN rn <= rem THEN 1 ELSE 0 END AS alloc
      FROM r)
    SELECT l_orderkey, MAX(fee_c) AS fee_c,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(alloc) AS BIGINT) AS alloc_sum,
           CAST(SUM(alloc * l_linenumber) AS BIGINT) AS alloc_check
    FROM a GROUP BY l_orderkey
    """,
)
def q231_largest_remainder_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Allocate each order's 2 % handling fee (integer cents) across
    its lineitems proportionally to quantity so the parts sum to the
    fee EXACTLY — the largest-remainder (Hamilton) apportionment
    every billing, tax-proration, and cost-allocation pipeline
    needs: floor the proportional shares, then hand the leftover
    cents to the largest fractional remainders (frac DESC,
    l_linenumber as the deterministic tie-break). Floating-point
    proration cannot make the parts reconcile; this is integer-exact
    end to end (fee_c·w fits int64 at ~9 decimal orders of
    headroom), and `alloc_sum == fee_c` BY CONSTRUCTION — the
    oracle-compared output carries the reconciliation column so the
    driver hash re-proves the invariant on every row.

    The remainder count per order is fee_c − Σ floor(fee_c·w/tw) =
    ceil-distributed mass < n_lines, so `rn <= rem` promotes exactly
    the right lines. DuckDB's `//` floors like Spark's `div`
    truncates because every operand is non-negative (the q205/q206
    sign rule).

    Scale: ONE orderkey exchange serves the orders equi-join, the
    per-order total/base-sum windows, the remainder ranking, and the
    final per-order rollup (all partition on the same key); no
    window ever lacks a partition spec.
    """
    f = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(
            "cast(floor(o_totalprice * 100 + cast(0.5 as double))"
            " as bigint) div 50"
        ).alias("fee_c"),
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.expr("cast(l_quantity as bigint)").alias("w"),
    )
    j = l.join(f, l.l_orderkey == f.o_orderkey).drop("o_orderkey")
    wk = W.partitionBy("l_orderkey")
    wr = wk.orderBy(F.desc("frac"), "l_linenumber")
    b = j.select(
        "l_orderkey",
        "l_linenumber",
        "fee_c",
        F.expr("fee_c * w").alias("fw"),
        F.sum("w").over(wk).alias("tw"),
    ).select(
        "l_orderkey",
        "l_linenumber",
        "fee_c",
        F.expr("fw div tw").alias("base"),
        F.expr("fw - (fw div tw) * tw").alias("frac"),
    )
    a = b.select(
        "l_orderkey",
        "l_linenumber",
        "fee_c",
        "base",
        (F.col("fee_c") - F.sum("base").over(wk)).alias("rem"),
        F.row_number().over(wr).alias("rn"),
    ).select(
        "l_orderkey",
        "l_linenumber",
        "fee_c",
        F.expr(
            "base + CASE WHEN rn <= rem THEN 1 ELSE 0 END"
        ).alias("alloc"),
    )
    return a.groupBy("l_orderkey").agg(
        F.max("fee_c").alias("fee_c"),
        F.count("*").alias("n_lines"),
        F.expr("cast(sum(alloc) as bigint)").alias("alloc_sum"),
        F.expr("cast(sum(alloc * l_linenumber) as bigint)").alias(
            "alloc_check"
        ),
    )


# ---------------------------------------------------------------------------
# Per-customer interval union (merged busy periods) — q232
# ---------------------------------------------------------------------------


@query(
    "q232_interval_union",
    oracle="""
    WITH iv0 AS (
      SELECT o.o_custkey AS ck,
             CAST(o.o_orderdate AS DATE) AS sd0,
             CAST(MAX(l.l_shipdate) AS DATE) AS ed0
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_custkey, o.o_orderkey, o.o_orderdate),
    iv AS (
      SELECT ck, least(sd0, ed0) AS sd, greatest(sd0, ed0) AS ed
      FROM iv0),
    ev AS (
      SELECT ck, sd AS d, CAST(1 AS BIGINT) AS delta FROM iv
      UNION ALL
      SELECT ck, ed + 1, CAST(-1 AS BIGINT) FROM iv),
    net AS (
      SELECT ck, d, SUM(delta) AS net,
             SUM(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS starts
      FROM ev GROUP BY ck, d),
    run AS (
      SELECT ck, d, net, starts,
             SUM(net) OVER (PARTITION BY ck ORDER BY d) AS active,
             lead(d) OVER (PARTITION BY ck ORDER BY d) AS nxt
      FROM net)
    SELECT ck AS custkey,
           CAST(SUM(CASE WHEN active > 0
                         THEN date_diff('day', d, nxt)
                         ELSE 0 END) AS BIGINT) AS covered_days,
           CAST(SUM(CASE WHEN active > 0 AND active - net = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_periods,
           CAST(SUM(starts) AS BIGINT) AS n_orders
    FROM run
    GROUP BY ck
    """,
)
def q232_interval_union(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Union of each customer's order intervals — total DISTINCT
    days with at least one open order (overlaps counted once) and
    the number of disjoint busy periods after merging. The classic
    "merge overlapping intervals" problem, which per-interval
    arithmetic cannot answer (overlaps double-count) and which at
    scale must NOT be solved by the textbook sort-and-scan over a
    collected list.

    Same sweep-line algebra as q230 but keyed: boundary deltas net
    per (customer, day), a customer-partitioned running sum gives
    the active count AT each boundary day, and because every
    interval closes, the final boundary always has active = 0 — so
    a boundary with active > 0 covers exactly the days up to the
    NEXT boundary (lead), and a boundary where the running count
    rises from zero (active > 0 and active − net = 0) opens a new
    merged period. Start events at a boundary (positive net) also
    yield the order count in the same pass.

    Intervals are normalized to [least, greatest] first — the
    synthetic ship dates are independent of order dates, so some
    arrive inverted (q230's note).

    Scale: fully distributed — every window partitions on custkey
    (no compact-table exception needed, unlike q230's global
    calendar); one orderkey exchange builds intervals, one custkey
    exchange serves the net aggregate, both windows, and the final
    rollup.
    """
    iv = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            F.expr("cast(o_orderdate as date)").alias("sd"),
        )
        .join(
            load_table(spark, sf_dir, "lineitem")
            .groupBy("l_orderkey")
            .agg(F.expr("cast(max(l_shipdate) as date)").alias("ed")),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("ck"),
            F.expr("least(sd, ed)").alias("lo"),
            F.expr("greatest(sd, ed)").alias("hi"),
        )
    )
    return interval_union(iv, "ck").withColumnRenamed(
        "key", "custkey"
    )


def interval_union(iv: DataFrame, key: str) -> DataFrame:
    """The keyed sweep q232 drives (factored out so crafted edge
    cases — adjacent, identical, contained, single-day intervals —
    are unit-testable on tiny frames; ``tests/test_analytics.py``).

    ``iv``: one row per interval with ``key``, ``lo``, ``hi``
    (dates, lo <= hi, both ends inclusive). Returns per ``key``:
    ``covered_days`` (distinct days under >= 1 interval),
    ``n_periods`` (disjoint merged intervals; ADJACENT intervals —
    next starts the day after previous ends — merge, matching the
    day-granularity semantics), ``n_orders`` (interval count).
    """
    ev = iv.select(
        F.col(key).alias("key"),
        F.expr(
            "stack(2, lo, cast(1 as bigint),"
            " date_add(hi, 1), cast(-1 as bigint)) as (d, delta)"
        ),
    )
    net = ev.groupBy("key", "d").agg(
        F.sum("delta").alias("net"),
        F.expr(
            "sum(CASE WHEN delta > 0 THEN 1 ELSE 0 END)"
        ).alias("starts"),
    )
    wc = W.partitionBy("key").orderBy("d")
    run = net.select(
        "key",
        "d",
        "net",
        "starts",
        F.sum("net").over(wc).alias("active"),
        F.lead("d").over(wc).alias("nxt"),
    )
    return run.groupBy("key").agg(
        F.expr(
            "cast(sum(CASE WHEN active > 0"
            " THEN datediff(nxt, d) ELSE 0 END) as bigint)"
        ).alias("covered_days"),
        F.expr(
            "cast(sum(CASE WHEN active > 0 AND active - net = 0"
            " THEN 1 ELSE 0 END) as bigint)"
        ).alias("n_periods"),
        F.expr("cast(sum(starts) as bigint)").alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Incremental rollup maintenance (IVM) — q233
# ---------------------------------------------------------------------------

_IVM_CUTOFF = "timestamp'1998-01-01'"


def _ivm_maintained_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q233 construction, shared with q247: per-(returnflag,
    ship-month) rollup built from pre-1998 facts, then maintained
    through one CDC batch (1998+ inserts + every seventh pre-1998
    order's lines as deletes) via :func:`ivm.maintain_rollup`.
    Returns the refreshed state (cnt / sum_qty / sum_price_c /
    min_price_c / max_price_c per key), unordered."""
    from .. import caching
    from ..operators import ivm

    l = caching.slot_persist(
        "q233_detail",
        load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag",
            F.expr(
                "cast(year(l_shipdate) * 100 + month(l_shipdate)"
                " as bigint)"
            ).alias("ym"),
            F.expr("cast(l_quantity as bigint)").alias("qty"),
            F.expr(
                "cast(floor(l_extendedprice * 100"
                " + cast(0.5 as double)) as bigint)"
            ).alias("price_c"),
            "l_orderkey",
            "l_shipdate",
        ),
    )
    keys = ["l_returnflag", "ym"]
    sums, mms = ["qty", "price_c"], ["price_c"]
    base = l.where(f"l_shipdate < {_IVM_CUTOFF}")
    cdc = (
        l.where(f"l_shipdate >= {_IVM_CUTOFF}")
        .withColumn(ivm.OP_COL, F.lit("I"))
        .unionByName(
            base.where("l_orderkey % 7 = 0").withColumn(
                ivm.OP_COL, F.lit("D")
            )
        )
    )
    after = l.where(
        f"NOT (l_shipdate < {_IVM_CUTOFF} AND l_orderkey % 7 = 0)"
    )
    state0 = ivm.rollup_state(base, keys, sums, mms)
    return ivm.maintain_rollup(state0, cdc, after, keys, sums, mms)


@query(
    "q233_incremental_rollup",
    headline=True,
    oracle="""
    WITH l AS (
      SELECT l_returnflag,
             CAST(year(l_shipdate) * 100 + month(l_shipdate)
               AS BIGINT) AS ym,
             CAST(l_quantity AS BIGINT) AS qty,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
               AS price_c
      FROM lineitem
      WHERE NOT (l_shipdate < TIMESTAMP '1998-01-01'
                 AND l_orderkey % 7 = 0))
    SELECT l_returnflag, ym,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(qty) AS BIGINT) AS sum_qty,
           CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
           MIN(price_c) AS min_price_c,
           MAX(price_c) AS max_price_c
    FROM l GROUP BY l_returnflag, ym
    """,
)
def q233_incremental_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Materialized-rollup refresh WITHOUT a full recompute
    (`operators/ivm.py`): the per-(returnflag, ship-month) rollup is
    built from the pre-1998 facts, then a CDC batch — every 1998+
    row as an insert, every seventh pre-1998 order's lines as
    deletes — is applied through :func:`ivm.maintain_rollup`.
    Count/sum patch algebraically from the batch alone; min/max
    patch algebraically EXCEPT where a delete ties the stored
    extreme (the last-witness problem), and only those dirty groups
    re-aggregate their slice of the post-change detail.

    The DuckDB oracle is the full recompute over the post-change
    detail — hash equality IS the IVM-correctness proof, and the
    keying (~100 base groups, inserts landing in brand-new months)
    makes every path non-vacuously populated at sf0.001:
    untouched groups pass through the full-outer join, delete-heavy
    groups split between algebraic and dirty, 1998+ months enter as
    insert-only new groups (`tests/test_ivm.py` pins the path
    census, plus a crafted truth table incl. group-emptying
    deletes).

    Scale: the CDC fold is map-side over the BATCH; the state patch
    joins state-cardinality rows; the dirty recompute scans only the
    dirty groups' detail slices via a broadcast semi-join
    (partition-prunable on the group key at a real warehouse
    layout). A nightly full recompute is the 100 TB anti-pattern
    this replaces. Construction shared with q247 (grouping sets
    answered FROM the maintained state) via
    :func:`_ivm_maintained_state`.
    """
    # no trailing orderBy (r14): determinism-only — row order is
    # canonicalized by the driver/oracle comparison (r13 codec
    # precedent); it cost a range exchange + sort
    return _ivm_maintained_state(spark, sf_dir)


# ---------------------------------------------------------------------------
# Greedy max-coverage document selection — q234
# ---------------------------------------------------------------------------

_GREEDY_ROUNDS = 3


def _greedy_oracle() -> str:
    from ..operators.dedup import duck_shingles_sql
    from ..operators.text import duck_tokens_sql

    sh = duck_shingles_sql(duck_tokens_sql("text"), 3)
    parts = [
        "WITH toks AS (\n"
        f"  SELECT doc_id, unnest({sh}) AS tok\n"
        "  FROM documents)"
    ]
    prev_cov = None
    for r in range(1, _GREEDY_ROUNDS + 1):
        flt = (
            f"WHERE tok NOT IN (SELECT tok FROM c{r - 1})"
            if prev_cov
            else ""
        )
        parts.append(
            f"g{r} AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT)"
            f" AS gain FROM toks {flt} GROUP BY doc_id)"
        )
        parts.append(
            f"w{r} AS (SELECT doc_id, gain FROM g{r}"
            f" ORDER BY gain DESC, doc_id LIMIT 1)"
        )
        cov = (
            f"c{r} AS (SELECT tok FROM toks WHERE doc_id IN"
            f" (SELECT doc_id FROM w{r})"
            + (f" UNION SELECT tok FROM c{r - 1}" if prev_cov else "")
            + ")"
        )
        parts.append(cov)
        prev_cov = f"c{r}"
    sel = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS rnd, doc_id, gain FROM w{r}"
        for r in range(1, _GREEDY_ROUNDS + 1)
    )
    return ",\n".join(parts) + "\n" + sel


@query(
    "q234_greedy_coverage", headline=True, oracle=_greedy_oracle()
)
def q234_greedy_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Greedy maximum-coverage selection of {_GREEDY_ROUNDS}
    documents — each round picks the document adding the most
    NOT-YET-COVERED 3-token shingles (q28's shingle machinery; the
    whitespace-token vocabulary is a 31-word synthetic pool, too
    small to rank coverage; ties to the smallest doc_id): the
    submodular coreset-selection pattern behind vocabulary-coverage
    / facility-location data curation (greedy is (1−1/e)-optimal,
    Nemhauser et al. 1978), complementing q144's importance weights
    and q88's source mixtures with an explicitly diversity-seeking
    selector.

    Fully declarative: unlike the q117/q179 driver-``for`` trainers
    there is NO per-round collect — the round-r winner is a one-row
    aggregate (``max_by`` over a packed (gain, −doc_id) key), the
    covered set is a broadcast-semi-join of the token table against
    that one-row frame, and round r+1's candidate gains anti-join
    the growing covered set; three rounds chain into ONE DAG whose
    oracle is the CTE-unrolled DuckDB twin (generated by the same
    Python for both engines' round count). Assumes each round still
    has a positive-gain document (true whenever distinct vocabulary
    exceeds what {_GREEDY_ROUNDS} documents span — always, here).

    Scale: the corpus collapses ONCE to the distinct (doc, token)
    table (slot-persisted, the only data-sized shuffle); each round
    adds a token-keyed anti-join against a covered set bounded by
    {_GREEDY_ROUNDS} documents' vocabularies and a map-side gain
    fold. k rounds = k passes over the token table — the known cost
    of exact greedy; the lazy/stochastic-greedy variants are the
    documented at-scale swap.
    """
    from .. import caching
    from ..operators import dedup, text

    toks = caching.slot_persist(
        "q234_toks",
        load_table(spark, sf_dir, "documents").select(
            "doc_id",
            F.explode(
                F.expr(
                    dedup.shingles_expr(
                        text.SPARK_TOKENS.format(col="text"), 3
                    )
                )
            ).alias("tok"),
        ),
    )
    covered = None
    winners = []
    for rnd in range(1, _GREEDY_ROUNDS + 1):
        cand = (
            toks
            if covered is None
            else toks.join(covered, "tok", "left_anti")
        )
        w = (
            cand.groupBy("doc_id")
            .agg(F.count("*").alias("gain"))
            .agg(
                F.expr(
                    "max_by(struct(doc_id, gain),"
                    " struct(gain, -doc_id)) as w"
                )
            )
            .select(
                F.lit(rnd).cast("bigint").alias("rnd"),
                F.col("w.doc_id").alias("doc_id"),
                F.col("w.gain").alias("gain"),
            )
        )
        winners.append(w)
        newly = toks.join(w.select("doc_id"), "doc_id", "left_semi").select("tok")
        covered = (
            newly
            if covered is None
            else covered.unionByName(newly)
        )
    out = winners[0]
    for w in winners[1:]:
        out = out.unionByName(w)
    return out


# ---------------------------------------------------------------------------
# Data-contract audit — q236
# ---------------------------------------------------------------------------


@query(
    "q236_data_contract_audit",
    oracle="""
    SELECT 'orders' AS tbl, 'unique_orderkey' AS chk,
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
             AS n_violations
    FROM orders
    UNION ALL
    SELECT 'orders', 'custkey_not_null',
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
             AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders', 'status_accepted',
           CAST(SUM(CASE WHEN o_orderstatus IS NULL
                          OR o_orderstatus NOT IN ('P', 'O', 'F')
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders', 'priority_top3_only',
           CAST(SUM(CASE WHEN o_orderpriority IS NULL
                          OR o_orderpriority NOT IN
                            ('1-URGENT', '2-HIGH', '3-MEDIUM')
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders', 'has_lineitems',
           CAST(COUNT(*) AS BIGINT)
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey)
    UNION ALL
    SELECT 'lineitem', 'fk_orderkey',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem', 'discount_contract_band',
           CAST(SUM(CASE WHEN l_discount IS NULL
                          OR NOT (l_discount BETWEEN 0.0 AND 0.05)
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem', 'quantity_positive',
           CAST(SUM(CASE WHEN l_quantity IS NULL
                          OR NOT (l_quantity BETWEEN 1 AND 50)
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    """,
)
def q236_data_contract_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Data-contract audit of the warehouse (`ops/expect.py`):
    uniqueness, nullability, accepted-value, range, and referential
    checks compiled to aggregate passes — dbt-test semantics as a
    single registered query, with the violation COUNTS themselves
    oracle-hashed. The contract is deliberately tighter than the
    data in two places (a 0–5 % discount band where 10 % discounts
    exist; a top-3 priority whitelist against five real values) and
    the reverse-FK check surfaces the orders with no lineitems —
    non-zero violation rows prove the audit measures, zero rows
    prove it doesn't cry wolf.

    Scale: all four row-predicate checks on orders fold into ONE
    scan (`violation_counts` stacks conditional sums; adding a
    check never adds a scan), both lineitem predicates into
    another; uniqueness is the count−distinct identity; the two
    referential checks are anti-join counts against the
    broadcastable key sets.
    """
    from ..ops import expect

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    parts = [
        expect.unique_violations(
            o, ["o_orderkey"], "unique_orderkey"
        ).select(F.lit("orders").alias("tbl"), "chk", "n_violations"),
        expect.violation_counts(
            o,
            {
                "custkey_not_null": expect.not_null("o_custkey"),
                "status_accepted": expect.accepted(
                    "o_orderstatus", ["P", "O", "F"]
                ),
                "priority_top3_only": expect.accepted(
                    "o_orderpriority",
                    ["1-URGENT", "2-HIGH", "3-MEDIUM"],
                ),
            },
        ).select(F.lit("orders").alias("tbl"), "chk", "n_violations"),
        expect.fk_violations(
            o, "o_orderkey", li.selectExpr(
                "l_orderkey as o_orderkey"
            ), "o_orderkey", "has_lineitems"
        ).select(F.lit("orders").alias("tbl"), "chk", "n_violations"),
        expect.fk_violations(
            li, "l_orderkey", o.selectExpr(
                "o_orderkey as l_orderkey"
            ), "l_orderkey", "fk_orderkey"
        ).select(
            F.lit("lineitem").alias("tbl"), "chk", "n_violations"
        ),
        expect.violation_counts(
            li,
            {
                "discount_contract_band": expect.in_range(
                    "l_discount", 0.0, 0.05
                ),
                "quantity_positive": expect.in_range(
                    "l_quantity", 1, 50
                ),
            },
        ).select(
            F.lit("lineitem").alias("tbl"), "chk", "n_violations"
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("tbl", "chk")


# ---------------------------------------------------------------------------
# Classifier calibration curve — q237
# ---------------------------------------------------------------------------


def _q237_oracle() -> str:
    from .registry import REGISTRY as _REG

    q165 = _REG["q165_quality_classifier"].oracle
    return f"""
    WITH scored AS ({q165})
    SELECT is_train,
           least(greatest(score_u, 0) // 100000, 9) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_pos,
           CAST(SUM(score_u) AS BIGINT) AS sum_score_u,
           CAST(SUM(score_u) // COUNT(*) AS BIGINT)
             AS mean_score_u,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                * 10000 // COUNT(*) AS BIGINT) AS pos_rate_bp,
           CAST(SUM((score_u - CASE WHEN lang = 'en'
                                    THEN 1000000 ELSE 0 END)
                    * (score_u - CASE WHEN lang = 'en'
                                      THEN 1000000 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS brier_u
    FROM scored
    GROUP BY is_train, bin
    """


@query("q237_calibration_curve", oracle=_q237_oracle())
def q237_calibration_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reliability diagram + per-bin Brier score for q165's ridge
    quality classifier — the deployment gate between "the model
    ranks well" and "the score IS a probability": per clamped score
    decile, the mean predicted score against the empirical positive
    rate, split by train/holdout so calibration-on-train vs
    calibration-on-holdout is read off the same table (the
    overconfidence diagnostic; DeGroot & Fienberg 1983 / the
    Platt-scaling literature).

    INTEGER-exact end to end, unusual for a calibration readout:
    q165's scores are already floored 1e6-scaled integers, so bin
    assignment (clamped integer div), mean score, positive rate
    (basis points), and the per-bin Brier numerator
    Σ(score_u − y·1e6)² are all BIGINT folds — no float enters
    either engine, and the oracle nests q165's full training CTE so
    ONE hash pins train → score → calibrate. Composition is literal
    reuse: the Spark side calls the registered q165 callable, the
    oracle embeds its SQL text.

    Scale: q165 scoring is map-only under a broadcast weight row;
    the calibration rollup adds one ≤20-group aggregate — nothing
    data-sized shuffles beyond q165's own training partials.
    """
    from .registry import REGISTRY as _reg

    scored = _reg["q165_quality_classifier"].spark(spark, sf_dir)
    return (
        scored.select(
            "is_train",
            F.expr(
                "least(greatest(score_u, 0L) div 100000, 9L)"
            ).alias("bin"),
            F.expr(
                "CASE WHEN lang = 'en' THEN 1L ELSE 0L END"
            ).alias("y"),
            "score_u",
        )
        .groupBy("is_train", "bin")
        .agg(
            F.count("*").alias("n"),
            F.expr("cast(sum(y) as bigint)").alias("n_pos"),
            F.expr("cast(sum(score_u) as bigint)").alias(
                "sum_score_u"
            ),
            F.expr(
                "cast(sum(score_u) div count(*) as bigint)"
            ).alias("mean_score_u"),
            F.expr(
                "cast(sum(y) * 10000 div count(*) as bigint)"
            ).alias("pos_rate_bp"),
            F.expr(
                "cast(sum((score_u - y * 1000000)"
                " * (score_u - y * 1000000)) div count(*)"
                " as bigint)"
            ).alias("brier_u"),
        )
        .orderBy("is_train", "bin")
    )


# ---------------------------------------------------------------------------
# Golden-record survivorship — q238
# ---------------------------------------------------------------------------


def _q238_oracle() -> str:
    from .window_queries import _cluster_oracle

    return f"""
    WITH comp AS ({_cluster_oracle()}),
    m AS (
      SELECT c.component, d.doc_id, d.lang, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY d.n_chars DESC, d.doc_id)
               AS rk
      FROM comp c JOIN documents d ON d.doc_id = c.node)
    SELECT component,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MAX(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT)
             AS survivor_doc_id,
           CAST(MAX(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT)
             AS survivor_chars,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           array_to_string(list_sort(list_distinct(list(lang))), ',')
             AS langs
    FROM m GROUP BY component
    """


@query("q238_golden_record", oracle=_q238_oracle())
def q238_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship — the MDM step AFTER entity
    resolution that q44 stops short of: within each near-dup
    cluster (q28 LSH pairs → connected components), elect the
    surviving record by a deterministic rule (most content, ties to
    the smallest doc_id) and merge the cluster's attributes into
    one master row (member count, total chars, the sorted distinct
    language set). Completes the resolution pipeline: block (q28)
    → link (q44) → audit (q147) → SURVIVE (here); docs in no
    cluster are already golden and stay out of scope, like the
    dedup family's convention.

    Survivorship is a per-component window (partitioned — component
    cardinality scales with duplicates, not the corpus) over rows
    already keyed by the component join; the language set folds
    deterministically via sorted collect_set (the A6/q06 string-agg
    discipline). The oracle re-derives the clusters with its own
    recursive-CTE closure, then applies the same election in SQL —
    the whole chain (pairs → components → election → merge) under
    one hash.
    """
    from ..operators import dedup
    from ..operators.graph import connected_components
    from .training_queries import TOK

    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, "doc_id", TOK, k=3)
    pairs = dedup.minhash_lsh_pairs(sigs, "doc_id", min_jaccard=0.5)
    comp = connected_components(pairs)
    m = comp.join(
        docs.select("doc_id", "lang", "n_chars"),
        comp.node == F.col("doc_id"),
    ).select("component", "doc_id", "lang", "n_chars")
    rk = F.row_number().over(
        W.partitionBy("component").orderBy(
            F.desc("n_chars"), "doc_id"
        )
    )
    return (
        m.withColumn("rk", rk)
        .groupBy("component")
        .agg(
            F.count("*").alias("n_members"),
            F.expr(
                "cast(max(CASE WHEN rk = 1 THEN doc_id END)"
                " as bigint)"
            ).alias("survivor_doc_id"),
            F.expr(
                "cast(max(CASE WHEN rk = 1 THEN n_chars END)"
                " as bigint)"
            ).alias("survivor_chars"),
            F.expr("cast(sum(n_chars) as bigint)").alias(
                "total_chars"
            ),
            F.expr(
                "concat_ws(',', array_sort(collect_set(lang)))"
            ).alias("langs"),
        )
        .orderBy("component")
    )


# ---------------------------------------------------------------------------
# Growth accounting (new / retained / resurrected / churned) — q240
# ---------------------------------------------------------------------------


@query(
    "q240_growth_accounting",
    oracle="""
    WITH grid AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS wk
      FROM events WHERE event_type = 'purchase'),
    tagged AS (
      SELECT user_id, wk,
             lag(wk) OVER (PARTITION BY user_id ORDER BY wk)
               AS prev_wk,
             MIN(wk) OVER (PARTITION BY user_id) AS first_wk
      FROM grid),
    wkly AS (
      SELECT wk,
             CAST(COUNT(*) AS BIGINT) AS actives,
             CAST(SUM(CASE WHEN wk = first_wk THEN 1 ELSE 0 END)
               AS BIGINT) AS n_new,
             CAST(SUM(CASE WHEN prev_wk = wk - 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_retained,
             CAST(SUM(CASE WHEN prev_wk IS NOT NULL
                            AND prev_wk < wk - 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_resurrected
      FROM tagged GROUP BY wk)
    SELECT w.wk, w.actives, w.n_new, w.n_retained, w.n_resurrected,
           CAST(coalesce(p.actives, 0) - w.n_retained AS BIGINT)
             AS n_churned,
           CAST(CASE WHEN coalesce(p.actives, 0) - w.n_retained > 0
                     THEN (w.n_new + w.n_resurrected) * 10000
                          // (coalesce(p.actives, 0) - w.n_retained)
                     ELSE -1 END AS BIGINT) AS quick_ratio_bp
    FROM wkly w LEFT JOIN wkly p ON p.wk = w.wk - 1
    """,
)
def q240_growth_accounting(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weekly growth accounting — every active user classified as
    NEW (first-ever week), RETAINED (also active last week), or
    RESURRECTED (returning after a gap), with CHURNED derived as
    last week's actives minus this week's retained, and the quick
    ratio (new + resurrected per churned, basis points, −1 when
    nothing churned) — the standard MAU-decomposition framework
    that explains WHY the q199 DAU/WAU line moved, which the q141
    signup-cohort matrix cannot (it never distinguishes a
    comeback from steady retention).

    The identity actives(w) = new + retained + resurrected holds by
    construction (the three cases partition the per-user week rows)
    and is pinned in `tests/test_analytics.py` along with a pandas
    re-derivation.

    Scale: the stream collapses to the distinct (user × week) grid
    (one map-side-combined exchange); both classification windows
    share the user partitioning; the weekly rollup and the
    self-join on week−1 run at calendar cardinality.
    """
    grid = (
        load_table(spark, sf_dir, "events")
        .where("event_type = 'purchase'")
        .select(
            "user_id",
            F.expr(
                "cast(unix_timestamp(ts) as bigint) div 604800"
            ).alias("wk"),
        )
        .distinct()
    )
    wu = W.partitionBy("user_id")
    tagged = grid.select(
        "wk",
        F.lag("wk").over(wu.orderBy("wk")).alias("prev_wk"),
        F.min("wk").over(wu).alias("first_wk"),
    )
    wkly = tagged.groupBy("wk").agg(
        F.count("*").alias("actives"),
        F.expr(
            "cast(sum(CASE WHEN wk = first_wk THEN 1 ELSE 0 END)"
            " as bigint)"
        ).alias("n_new"),
        F.expr(
            "cast(sum(CASE WHEN prev_wk = wk - 1 THEN 1 ELSE 0 END)"
            " as bigint)"
        ).alias("n_retained"),
        F.expr(
            "cast(sum(CASE WHEN prev_wk IS NOT NULL"
            " AND prev_wk < wk - 1 THEN 1 ELSE 0 END) as bigint)"
        ).alias("n_resurrected"),
    )
    prev = wkly.select(
        (F.col("wk") + 1).alias("wk"),
        F.col("actives").alias("prev_actives"),
    )
    return (
        wkly.join(prev, "wk", "left")
        .select(
            "wk",
            "actives",
            "n_new",
            "n_retained",
            "n_resurrected",
            F.expr(
                "cast(coalesce(prev_actives, 0L) - n_retained"
                " as bigint)"
            ).alias("n_churned"),
            F.expr(
                "cast(CASE WHEN coalesce(prev_actives, 0L)"
                " - n_retained > 0 THEN (n_new + n_resurrected)"
                " * 10000 div (coalesce(prev_actives, 0L)"
                " - n_retained) ELSE -1 END as bigint)"
            ).alias("quick_ratio_bp"),
        )
        .orderBy("wk")
    )


# ---------------------------------------------------------------------------
# Trimmed / winsorized means — q242
# ---------------------------------------------------------------------------


@query(
    "q242_trimmed_winsorized_mean",
    oracle="""
    WITH e AS (
      SELECT event_type,
             CAST(floor(value * 10000) AS BIGINT) AS x,
             event_id
      FROM events),
    r AS (
      SELECT event_type, x,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY x, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM e),
    g AS (
      SELECT event_type, MAX(n) AS n, MAX(n) // 10 AS k,
             CAST(SUM(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                           THEN x ELSE 0 END) AS BIGINT) AS kept_sum,
             CAST(MAX(CASE WHEN rn = n // 10 + 1 THEN x END)
               AS BIGINT) AS lo_b,
             CAST(MAX(CASE WHEN rn = n - n // 10 THEN x END)
               AS BIGINT) AS hi_b
      FROM r GROUP BY event_type)
    SELECT event_type, n, k, lo_b, hi_b,
           CAST(kept_sum // (n - 2 * k) AS BIGINT) AS trimmed_mean_u,
           CAST((kept_sum + k * lo_b + k * hi_b) // n AS BIGINT)
             AS winsor_mean_u
    FROM g
    """,
)
def q242_trimmed_winsorized_mean(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """10 % two-sided trimmed and winsorized means per event type —
    the robust location estimates between the mean (outlier-hostage)
    and the median (throws information away), completing the robust
    kit next to q171's MAD. Trimming is BY RANK, not by value
    threshold: drop the lowest and highest ⌊n/10⌋ ROWS under the
    total order (value, event_id) — rank-based trimming is
    deterministic under ties where interpolated-percentile
    thresholds are boundary-fragile cross-engine (the q171 dyadic
    caveat), and winsorizing clamps to the exact boundary ROWS'
    values, so everything stays BIGINT: kept-sum, boundary values,
    and two integer divisions at the end.

    Scale: one rank window + one count window share a single
    event_type exchange; the grouped fold reuses the same
    partitioning — one data-sized shuffle total (plan-pinned ≤2).
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("cast(floor(value * 10000) as bigint)").alias("x"),
        "event_id",
    )
    wt = W.partitionBy("event_type")
    r = e.select(
        "event_type",
        "x",
        F.row_number().over(wt.orderBy("x", "event_id")).alias("rn"),
        F.count("*").over(wt).alias("n"),
    )
    g = r.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.expr("max(n) div 10").alias("k"),
        F.expr(
            "cast(sum(CASE WHEN rn > n div 10"
            " AND rn <= n - n div 10 THEN x ELSE 0 END) as bigint)"
        ).alias("kept_sum"),
        F.expr(
            "cast(max(CASE WHEN rn = n div 10 + 1 THEN x END)"
            " as bigint)"
        ).alias("lo_b"),
        F.expr(
            "cast(max(CASE WHEN rn = n - n div 10 THEN x END)"
            " as bigint)"
        ).alias("hi_b"),
    )
    return g.select(
        "event_type",
        "n",
        "k",
        "lo_b",
        "hi_b",
        F.expr(
            "cast(kept_sum div (n - 2 * k) as bigint)"
        ).alias("trimmed_mean_u"),
        F.expr(
            "cast((kept_sum + k * lo_b + k * hi_b) div n as bigint)"
        ).alias("winsor_mean_u"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Diversity-constrained top-k — q243
# ---------------------------------------------------------------------------

_DIV_K = 20
_DIV_PER_SOURCE = 3


@query(
    "q243_diversified_topk",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS sz,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id)
               AS rk_in_source
      FROM documents)
    SELECT doc_id, source, sz, rk_in_source
    FROM r WHERE rk_in_source <= {_DIV_PER_SOURCE}
    ORDER BY sz DESC, doc_id LIMIT {_DIV_K}
    """,
)
def q243_diversified_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Global top-{_DIV_K} documents by size with AT MOST
    {_DIV_PER_SOURCE} per source — the diversity-constrained
    ranking every feed, search-results page, and curation shortlist
    needs (an unconstrained top-k lets one prolific source flood
    the list; q82's per-group top-k has no global budget; this has
    both constraints at once).

    Two-stage selection with a per-item proof the constraint holds:
    rank WITHIN source (Spark plans the rank+filter as
    WindowGroupLimit — per-partition group-limit pushdown, only
    {_DIV_PER_SOURCE} rows per source survive the exchange), then a
    global TakeOrderedAndProject over the ≤{_DIV_PER_SOURCE}·
    |sources| survivors. ``rk_in_source`` rides into the output so
    the oracle hash certifies each selected row's within-source
    standing, not just membership. Ties deterministic on (size
    desc, doc_id) at both stages.

    Scale: one source-keyed exchange of slim (doc, source, size)
    rows; the global stage sees survivors only — source-cardinality
    bounded — and is a heap, not a sort (plan-pinned).
    """
    r = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("bigint").alias("sz"),
        )
        .withColumn(
            "rk_in_source",
            F.row_number().over(
                W.partitionBy("source").orderBy(
                    F.desc("sz"), "doc_id"
                )
            ),
        )
        .where(F.col("rk_in_source") <= _DIV_PER_SOURCE)
    )
    return r.orderBy(F.desc("sz"), "doc_id").limit(_DIV_K)


# ---------------------------------------------------------------------------
# Shapley-value attribution — q244
# ---------------------------------------------------------------------------

#: channel → bit, alphabetical; purchase is the conversion event,
#: never a channel
_SHAP_BITS = {"click": 1, "error": 2, "signup": 4, "view": 8}
#: 24·weight for a coalition of size s out of 4 channels:
#: s!(4−s−1)! for s = 0..3
_SHAP_W24 = {0: 6, 1: 2, 2: 2, 3: 6}


def _shap_terms() -> list[tuple[str, int, int, int]]:
    """(channel, S, S∪{i}, 24·weight) for every channel i and every
    coalition S not containing i — 32 rows, generated ONCE and
    embedded in both engines."""
    rows = []
    for ch, bit in sorted(_SHAP_BITS.items()):
        others = [b for b in _SHAP_BITS.values() if b != bit]
        for s_id in range(8):
            s_mask = sum(b for j, b in enumerate(others) if s_id >> j & 1)
            size = bin(s_mask).count("1")
            rows.append((ch, s_mask, s_mask | bit, _SHAP_W24[size]))
    return rows


def _q244_oracle() -> str:
    case = " ".join(
        f"WHEN '{c}' THEN {b}" for c, b in sorted(_SHAP_BITS.items())
    )
    values = ", ".join(
        f"('{c}', {s}, {su}, {w})" for c, s, su, w in _shap_terms()
    )
    return f"""
    WITH u AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS wk,
             CAST(coalesce(SUM(DISTINCT CASE event_type {case}
                                        ELSE 0 END), 0) AS BIGINT)
               AS mask,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
      FROM events GROUP BY user_id, wk),
    m AS (
      SELECT mask, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(conv) AS BIGINT) AS n_conv
      FROM u GROUP BY mask),
    t AS (
      SELECT ch, s, su, w24,
             coalesce(CAST(ms.n_conv AS DOUBLE)
                      / CAST(ms.n AS DOUBLE), CAST(0 AS DOUBLE))
               AS v_s,
             coalesce(CAST(mu.n_conv AS DOUBLE)
                      / CAST(mu.n AS DOUBLE), CAST(0 AS DOUBLE))
               AS v_su
      FROM (VALUES {values}) AS terms(ch, s, su, w24)
      LEFT JOIN m ms ON ms.mask = terms.s
      LEFT JOIN m mu ON mu.mask = terms.su),
    p AS (
      SELECT ch, s,
             CAST(w24 AS DOUBLE) * (v_su - v_s)
               / CAST(24 AS DOUBLE) AS term
      FROM t)
    SELECT ch AS channel,
           CAST(floor(list_reduce(list_prepend(0.0,
                 list(term ORDER BY s)), (a, b) -> a + b)
                 * 1000000) AS BIGINT) AS shapley_u
    FROM p GROUP BY ch
    """


@query("q244_shapley_attribution", oracle=_q244_oracle())
def q244_shapley_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shapley-value channel attribution — the game-theoretic member
    completing the attribution trio (q183 last-touch heuristic →
    q209 Markov removal effects → here the axiomatic standard,
    Shapley 1953 / Dalessandro et al. 2012): each channel's credit
    is its average marginal lift in conversion rate over every
    coalition of the other channels, with the characteristic
    function v(S) read off the DATA (conversion rate of journeys
    whose touched-channel set is S; unobserved sets contribute 0 —
    the telescoping efficiency identity Σᵢ φᵢ = v(C) − v(∅) still
    holds exactly, pinned in tests). A journey is a USER-WEEK
    (channels touched that week, converted = purchased that week):
    per-user-lifetime masks are degenerate on the synthetic stream
    (every user eventually touches everything — only one coalition
    would ever be observed, the q240 lesson), while weekly journeys
    populate many coalitions.

    Determinism: the 32 (channel, coalition) terms and their 24×
    integer weights are generated ONCE by the same Python and
    embedded as literals in both engines; each term is one shared
    double expression; the ≤8 per-channel terms fold in EXPLICIT
    coalition order (the q170/q182 rule — an unordered double SUM
    is partial-agg-order dependent).

    Scale: the stream collapses per-user map-side (SUM DISTINCT of
    bits + conversion max on one user exchange), users collapse to
    ≤16 mask rows, and everything after — the coalition joins, the
    32 terms, the folds — is constant-sized.
    """
    from ..operators import scale

    case = " ".join(
        f"WHEN '{c}' THEN {b}" for c, b in sorted(_SHAP_BITS.items())
    )
    u = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "user_id",
            F.expr(
                "cast(unix_timestamp(ts) as bigint) div 604800"
            ).alias("wk"),
        )
        .agg(
            F.expr(
                f"cast(coalesce(sum(DISTINCT CASE event_type {case}"
                " ELSE 0 END), 0) as bigint)"
            ).alias("mask"),
            F.expr(
                "max(CASE WHEN event_type = 'purchase'"
                " THEN 1 ELSE 0 END)"
            ).alias("conv"),
        )
    )
    m = u.groupBy("mask").agg(
        F.count("*").alias("n"),
        F.expr("cast(sum(conv) as bigint)").alias("n_conv"),
    )
    terms = scale.local_frame(
        spark, _shap_terms(), "ch string, s long, su long, w24 long"
    )
    ms = m.selectExpr("mask as s", "n as n_s", "n_conv as c_s")
    mu = m.selectExpr("mask as su", "n as n_su", "n_conv as c_su")
    t = (
        terms.join(ms, "s", "left")
        .join(mu, "su", "left")
        .select(
            "ch",
            "s",
            F.expr(
                "cast(w24 as double) * ("
                "coalesce(cast(c_su as double) / cast(n_su as double),"
                " cast(0 as double))"
                " - coalesce(cast(c_s as double) / cast(n_s as double),"
                " cast(0 as double))) / cast(24 as double)"
            ).alias("term"),
        )
    )
    return (
        t.groupBy(F.col("ch").alias("channel"))
        .agg(
            F.expr(
                "cast(floor(aggregate(array_sort(collect_list("
                "struct(s, term))), cast(0.0 as double),"
                " (acc, x) -> acc + x.term) * 1000000) as bigint)"
            ).alias("shapley_u")
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# RFM approx-percentile thresholds with error-bound audit — q245
# ---------------------------------------------------------------------------


def _rfm_customer_grain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q211/q245's shared customer-grain fold: per custkey, last
    order epoch (recency), distinct-order count (frequency), and
    summed cent revenue (monetary) — one orderkey join + one custkey
    aggregate over the facts."""
    f = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            F.expr(
                "cast(floor(l_extendedprice * (1 - l_discount) * 100)"
                " as bigint)"
            ).alias("rev_c"),
        )
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey",
                "o_custkey",
                F.expr(
                    "cast(unix_timestamp(o_orderdate) as bigint)"
                ).alias("t"),
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    )
    return f.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.max("t").alias("last_t"),
        F.count_distinct("l_orderkey").alias("freq"),
        F.sum("rev_c").cast("bigint").alias("monetary_c"),
    )


#: 5× the GK sketch's relative rank error (1/accuracy = 0.001), the
#: q51/q158 margin convention.
_RFM_ACC = 1000
_RFM_MARGIN = 0.005


def _disc(p: float) -> str:
    return (
        f"cast(percentile_disc({p}) within group (order by v)"
        " as bigint)"
    )


@query(
    "q245_rfm_approx_thresholds",
    headline=True,
    oracle="""
    WITH f AS (
      SELECT l.l_orderkey, o.o_custkey,
             CAST(floor(epoch(o.o_orderdate)) AS BIGINT) AS t,
             CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                  AS BIGINT) AS rev_c
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    cust AS (
      SELECT o_custkey AS ck,
             CAST(MAX(t) AS BIGINT) AS last_t,
             CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS freq,
             CAST(SUM(rev_c) AS BIGINT) AS monetary_c
      FROM f GROUP BY o_custkey),
    long AS (
      SELECT 'recency' AS dim, last_t AS v FROM cust
      UNION ALL SELECT 'frequency', freq FROM cust
      UNION ALL SELECT 'monetary', monetary_c FROM cust)
    SELECT dim,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(quantile_disc(v, 0.25) AS BIGINT) AS t25,
           CAST(quantile_disc(v, 0.50) AS BIGINT) AS t50,
           CAST(quantile_disc(v, 0.75) AS BIGINT) AS t75,
           TRUE AS within_bound
    FROM long GROUP BY dim ORDER BY dim
    """,
)
def q245_rfm_approx_thresholds(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q211's documented at-scale swap, shipped as its own oracle-
    checked query (the q51/q158 sketch-audit pattern): the RFM
    quartile boundaries as ONE-PASS mergeable `approx_percentile`
    sketches (accuracy 1000 → rank error ε ≤ 0.1%) instead of any
    rank machinery at all. Production then assigns buckets by
    broadcast value comparison against the 9 threshold values — no
    sort, no window, no global index; this query ships the
    thresholds and their audit.

    The audit side: exact discrete quartiles (`percentile_disc`,
    rank = ceil(p·n) — verified to match DuckDB's `quantile_disc`
    convention exactly, so they hash-compare as BIGINTs), plus
    ``within_bound`` asserting each approx threshold lies between
    the exact (p − 5ε) and (p + 5ε) discrete quantiles. The margin
    is rank-robust under heavy ties (frequency clusters at 1–3
    orders): a tie-run spanning the margin window forces the sketch
    to the run's value, so the containment cannot flap.

    Scale: exact percentiles are the AUDIT side (q158's precedent —
    their state is group-sized); production keeps only the sketch,
    whose state is fixed-size and mergeable, and the customer fold
    itself is one shuffle.
    """
    from .. import caching

    cust = caching.slot_persist(
        "rfm_cust", _rfm_customer_grain(spark, sf_dir)
    )
    long = cust.select(
        F.expr(
            "stack(3, 'recency', last_t, 'frequency', freq,"
            " 'monetary', monetary_c) as (dim, v)"
        )
    )
    lo, hi = [
        {
            p: _disc(round(p + sign * _RFM_MARGIN, 3))
            for p in (0.25, 0.50, 0.75)
        }
        for sign in (-1, 1)
    ]
    th = long.groupBy("dim").agg(
        F.count("*").alias("n_cust"),
        F.expr(_disc(0.25)).alias("t25"),
        F.expr(_disc(0.50)).alias("t50"),
        F.expr(_disc(0.75)).alias("t75"),
        F.expr(
            f"approx_percentile(v, array(0.25D, 0.5D, 0.75D), {_RFM_ACC})"
        ).alias("ap"),
        *[
            F.expr(lo[p]).alias(f"lo{int(p * 100)}")
            for p in (0.25, 0.50, 0.75)
        ],
        *[
            F.expr(hi[p]).alias(f"hi{int(p * 100)}")
            for p in (0.25, 0.50, 0.75)
        ],
    )
    return (
        th.select(
            "dim",
            "n_cust",
            "t25",
            "t50",
            "t75",
            F.expr(
                "ap[0] between lo25 and hi25"
                " AND ap[1] between lo50 and hi50"
                " AND ap[2] between lo75 and hi75"
            ).alias("within_bound"),
        )
        # no trailing orderBy (r14): determinism-only — row order is
        # canonicalized by the driver/oracle comparison (r13 codec
        # precedent); it cost a range exchange + sort
    )


# ---------------------------------------------------------------------------
# DAU/WAU via per-day HLL register windows — q246 (q199's at-scale swap)
# ---------------------------------------------------------------------------

#: |err| bound for the m=64 demo registers: ~2.3σ (σ = 1.04/√64 ≈
#: 13%); measured worst case across sf0.001/0.01/0.1 is 16%.
_WAU_HLL_BOUND_BP = 3000


def _q246_oracle() -> str:
    from ..operators import sketch

    # every estimator constant derives from the sketch module so the
    # two texts cannot drift if HLL_P/alpha ever change
    m, bits = sketch.HLL_M, sketch._HLL_RHO_BITS
    pw, alpha = 1 << bits, sketch.HLL_ALPHA
    v32 = duck_u32("tok", half=1)
    raw = (
        f"{alpha} * {m}.0 * {m}.0 * {pw}.0"
        f" / CAST(s_present + ({m} - npresent)"
        f" * CAST({pw} AS BIGINT) AS DOUBLE)"
    )
    return f"""
    WITH ud AS (
      SELECT DISTINCT CAST(user_id AS VARCHAR) AS tok,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
      FROM events),
    slices AS (
      SELECT day,
             {duck_u32("tok")} % {m} AS bucket,
             CASE WHEN {v32} = 0 THEN {bits}
                  ELSE {bits} - length(bin({v32})) END AS rho
      FROM ud),
    regs AS (
      SELECT day, bucket, MAX(rho) AS register
      FROM slices GROUP BY 1, 2),
    days AS (SELECT DISTINCT day FROM ud),
    fan AS (
      SELECT d.day AS anchor, r.bucket, r.register
      FROM days d JOIN regs r ON r.day BETWEEN d.day - 6 AND d.day),
    merged AS (
      SELECT anchor, bucket, MAX(register) AS register
      FROM fan GROUP BY 1, 2),
    folded AS (
      SELECT anchor, COUNT(*) AS npresent,
             CAST(SUM((CAST(1 AS BIGINT) << ({bits} - register)))
                  AS BIGINT) AS s_present,
             CAST(SUM(bucket * register) AS BIGINT) AS reg_checksum
      FROM merged GROUP BY anchor),
    est AS (
      SELECT anchor, reg_checksum,
        CAST(floor(
          CASE WHEN {raw} <= {2.5 * m} AND ({m} - npresent) > 0
          THEN {m}.0 * ln({m}.0 / ({m} - npresent))
          ELSE {raw} END + 0.5) AS BIGINT) AS wau_hll
      FROM folded),
    wau AS (
      SELECT d.day AS anchor, COUNT(DISTINCT u.tok) AS wau_exact
      FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
      GROUP BY 1)
    SELECT w.anchor AS day,
           CAST(w.wau_exact AS BIGINT) AS wau_exact,
           e.wau_hll,
           CAST(floor((e.wau_hll - w.wau_exact) * 10000.0
                      / w.wau_exact) AS BIGINT) AS err_bp,
           e.reg_checksum,
           TRUE AS within_bound
    FROM wau w JOIN est e USING (anchor)
    ORDER BY day
    """


@query("q246_wau_hll_window", headline=True, oracle=_q246_oracle())
def q246_wau_hll_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q199's documented at-scale swap, shipped oracle-checked: the
    trailing-7-day distinct-user count (WAU) from PER-DAY HyperLogLog
    registers max-merged over the window, instead of fanning the
    (user × day) grid ×7 and re-counting exactly. The register table
    is ≤64 rows/day — the window union touches 7·64 METADATA-sized
    rows per anchor day regardless of user cardinality, which is the
    whole point at 100 TB (q162's register machinery; Flajolet et
    al. 2007 mergeability).

    The estimate replays bit-for-bit in DuckDB (md5-derived buckets,
    BIGINT register fold, one final double division — q162's
    convention), so the hash pins ``wau_hll``, its floor'd basis-
    point error vs the exact WAU (the audit side, q199's own plan),
    the full merged register state, AND ``within_bound`` asserting
    floor(|err|) ≤ 3000 bp — symmetric in sign, since flooring the
    SIGNED error first would clip the negative side 1 bp tighter
    (ADVICE r8 #1) — ~2.3σ for m = 64; measured worst case 16%
    across sf0.001–0.1.

    Scale: registers fold map-side per day (the user string never
    shuffles past the per-day distinct); the ×7 fan-out moves 64-row
    sketches, not users; exact WAU rides only to audit — production
    drops the `wau` branch and keeps the register path.
    """
    from ..operators import sketch

    ud = (
        load_table(spark, sf_dir, "events")
        .select(
            F.expr("cast(user_id as string)").alias("tok"),
            F.expr(
                "cast(unix_timestamp(ts) as bigint) div 86400"
            ).alias("day"),
        )
        .distinct()
    )
    from .. import caching

    ud = caching.slot_persist("q246_ud", ud)
    days = ud.select(F.col("day").alias("anchor")).distinct()
    regs = sketch.hll_registers(ud, "tok", ["day"])
    fan = regs.select(
        F.explode(F.expr("sequence(day, day + 6)")).alias("anchor"),
        "bucket",
        "register",
    )
    merged = (
        fan.join(days, "anchor", "left_semi")
        .groupBy("anchor", "bucket")
        .agg(F.max("register").alias("register"))
    )
    est = sketch.hll_estimate(merged, ["anchor"]).withColumnRenamed(
        "hll_est", "wau_hll"
    )
    exact = (
        ud.select(
            "tok",
            F.explode(F.expr("sequence(day, day + 6)")).alias("anchor"),
        )
        .join(days, "anchor", "left_semi")
        .groupBy("anchor")
        .agg(F.count_distinct("tok").alias("wau_exact"))
    )
    return (
        exact.join(F.broadcast(est), "anchor")  # kept: q246 flips build side (sf0.1)
        .select(
            F.col("anchor").alias("day"),
            "wau_exact",
            "wau_hll",
            F.expr(
                "cast(floor((wau_hll - wau_exact) * 10000.0"
                " / wau_exact) as bigint)"
            ).alias("err_bp"),
            "reg_checksum",
            # floor(|err|), not |floor(err)|: floor rounds negative
            # errors away from zero, which would make the negative
            # side of the ±bound 1 bp tighter (ADVICE r8 #1)
            F.expr(
                "cast(floor(abs((wau_hll - wau_exact) * 10000.0"
                f" / wau_exact)) as bigint) <= {_WAU_HLL_BOUND_BP}"
            ).alias("within_bound"),
        )
        # no trailing orderBy (r14): determinism-only — row order is
        # canonicalized by the driver/oracle comparison (r13 codec
        # precedent); it cost a range exchange + sort
    )


# ---------------------------------------------------------------------------
# Grouping sets answered FROM the IVM-maintained rollup — q247
# ---------------------------------------------------------------------------


@query(
    "q247_ivm_rollup_cube",
    headline=True,
    oracle="""
    WITH l AS (
      SELECT l_returnflag,
             CAST(year(l_shipdate) * 100 + month(l_shipdate)
               AS BIGINT) AS ym,
             CAST(l_quantity AS BIGINT) AS qty,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
               AS price_c
      FROM lineitem
      WHERE NOT (l_shipdate < TIMESTAMP '1998-01-01'
                 AND l_orderkey % 7 = 0))
    SELECT l_returnflag, ym,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(qty) AS BIGINT) AS sum_qty,
           CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
           MIN(price_c) AS min_price_c,
           MAX(price_c) AS max_price_c
    FROM l GROUP BY ROLLUP (l_returnflag, ym)
    """,
)
def q247_ivm_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q233 + q45 composition the r7 verdict asked for: the ROLLUP
    hierarchy (leaf cells, per-returnflag subtotals, grand total)
    answered ENTIRELY from the IVM-maintained state — the fact table
    is never rescanned. Proof obligation: the DuckDB oracle computes
    the same grouping sets from the post-change DETAIL, so hash
    equality shows maintained state answers the same cube the fact
    table does — count/sum roll up by addition, min/max by re-
    extremization, all integer-exact.

    This is the lakehouse serving pattern IVM exists for: the nightly
    cube over 100 TB of facts becomes a grouping-sets pass over the
    (returnflag × ship-month)-cardinality state — catalog-sized, not
    data-sized — refreshed per CDC batch by `ivm.maintain_rollup`
    (q233) at batch-proportional cost.

    Scale: one pass over state rows (hundreds at any SF — group
    count is calendar × flag bounded); the expensive part is q233's
    maintenance, shared via `slot_persist` when both run in one
    session.
    """
    state = _ivm_maintained_state(spark, sf_dir)
    return (
        state.rollup("l_returnflag", "ym")
        .agg(
            F.expr("cast(sum(cnt) as bigint)").alias("cnt"),
            F.expr("cast(sum(sum_qty) as bigint)").alias("sum_qty"),
            F.expr(
                "cast(sum(sum_price_c) as bigint)"
            ).alias("sum_price_c"),
            F.min("min_price_c").alias("min_price_c"),
            F.max("max_price_c").alias("max_price_c"),
        )
        # no trailing orderBy (r14): determinism-only — row order is
        # canonicalized by the driver/oracle comparison (r13 codec
        # precedent); it cost a range exchange + sort
    )


# ---------------------------------------------------------------------------
# Conversion-latency quantiles via approx-percentile threshold join — q248
# ---------------------------------------------------------------------------

#: GK rank-error slack for the q248 audit, in ranks: 5× the sketch's
#: guaranteed εn (accuracy 1000 → ε = 0.001) plus 2 for the two
#: engines'/conventions' ±1 target-rank ambiguity — integer-exact, so
#: the bound cannot flap at small cohort sizes the way a value-space
#: margin would (an interpolated percentile window narrower than one
#: rank contains NO data value).
_Q248_SLACK = "(n_conv div 200 + 2)"


@query(
    "q248_latency_approx_quantiles",
    headline=True,
    oracle="""
    WITH s AS (
      SELECT user_id,
             CAST(floor(epoch(MIN(ts))) AS BIGINT) AS t_signup
      FROM events WHERE event_type = 'signup' GROUP BY user_id),
    p AS (
      SELECT e.user_id,
             CAST(floor(epoch(MIN(e.ts))) AS BIGINT) AS t_conv
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase'
        AND CAST(floor(epoch(e.ts)) AS BIGINT) >= s.t_signup
      GROUP BY e.user_id),
    conv AS (
      SELECT s.t_signup // 604800 AS cohort_w,
             p.t_conv - s.t_signup AS lat
      FROM s JOIN p ON s.user_id = p.user_id)
    SELECT cohort_w,
           CAST(COUNT(*) AS BIGINT) AS n_converted,
           CAST(floor(quantile_cont(lat, 0.5) / 3600) AS BIGINT)
             AS p50_hours,
           CAST(floor(quantile_cont(lat, 0.9) / 3600) AS BIGINT)
             AS p90_hours,
           TRUE AS within_bound
    FROM conv GROUP BY cohort_w ORDER BY cohort_w
    """,
)
def q248_latency_approx_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q203's documented at-scale swap, shipped as the literal
    "approx-percentile threshold join" its docstring promises — the
    third and LAST documented swap turned into an oracle-checked
    query (q245 covered q211's, q246 covered q199's): per signup
    cohort, the p50/p90 conversion-latency thresholds come from a
    one-pass mergeable ``approx_percentile`` sketch, broadcast back
    onto the latencies, and AUDITED in rank space — count how many
    latencies fall at/below each threshold and require that rank
    window to sit within 5εn + 2 ranks of the target rank
    (integer-exact; a value-space margin is undefined at small
    cohorts where one rank spans a wide value gap, the reason this
    audit counts ranks instead of comparing values, unlike
    q245/q158 whose margins span many ranks).

    The hash pins the exact interpolated p50/p90 hours (q203's own
    audit side, engine-identical by the q171 convention) AND
    ``within_bound``; cohort assignment against the broadcast
    thresholds is exactly how production buckets converts
    above/below median at 100 TB — no per-cohort sort, fixed-size
    sketch state, one extra broadcast join.

    Scale: two user-grained folds (as q203) → cohort-cardinality
    sketch → broadcast threshold join back over the converts → one
    counting aggregate. The exact percentile rides only to audit.
    """
    from .. import caching

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("cast(unix_timestamp(ts) as bigint)").alias("t"),
    )
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("t").alias("t_signup"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("t") >= F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t_conv"))
    )
    conv = caching.slot_persist(
        "q248_conv",
        s.join(p, "user_id").select(
            F.expr("t_signup div 604800").alias("cohort_w"),
            (F.col("t_conv") - F.col("t_signup")).alias("lat"),
        ),
    )
    th = conv.groupBy("cohort_w").agg(
        F.expr(
            "approx_percentile(lat, array(0.5D, 0.9D), 1000)"
        ).alias("ap"),
    )
    joined = conv.join(th, "cohort_w")
    audit = joined.groupBy("cohort_w").agg(
        F.count("*").alias("n_conv"),
        F.expr(
            "cast(floor(percentile(lat, 0.5) / 3600) as bigint)"
        ).alias("p50_hours"),
        F.expr(
            "cast(floor(percentile(lat, 0.9) / 3600) as bigint)"
        ).alias("p90_hours"),
        F.expr("sum(CASE WHEN lat <= ap[0] THEN 1 ELSE 0 END)").alias(
            "le50"
        ),
        F.expr("sum(CASE WHEN lat < ap[0] THEN 1 ELSE 0 END)").alias(
            "lt50"
        ),
        F.expr("sum(CASE WHEN lat <= ap[1] THEN 1 ELSE 0 END)").alias(
            "le90"
        ),
        F.expr("sum(CASE WHEN lat < ap[1] THEN 1 ELSE 0 END)").alias(
            "lt90"
        ),
    )
    # the threshold's occupied rank interval [lt+1, le] must come
    # within `slack` ranks of the target rank ceil(p * n)
    within = (
        f"le50 >= (n_conv + 1) div 2 - {_Q248_SLACK}"
        f" AND lt50 < (n_conv + 1) div 2 + {_Q248_SLACK}"
        f" AND le90 >= (9 * n_conv + 9) div 10 - {_Q248_SLACK}"
        f" AND lt90 < (9 * n_conv + 9) div 10 + {_Q248_SLACK}"
    )
    return (
        audit.select(
            "cohort_w",
            F.col("n_conv").alias("n_converted"),
            "p50_hours",
            "p90_hours",
            F.expr(within).alias("within_bound"),
        )
        # no trailing orderBy (r14): determinism-only — row order is
        # canonicalized by the driver/oracle comparison (r13 codec
        # precedent); it cost a range exchange + sort
    )
