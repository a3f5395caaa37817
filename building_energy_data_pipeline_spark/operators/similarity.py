"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k as the exactness baseline, plus an
IVF-bucketed variant as the 100 TB scale path. The reference repo has
no vector subsystem (its ``src/analytics/`` is an empty stub); these
are the BASELINE.md training-data extensions.

Determinism & oracle comparability
----------------------------------
Dot products are computed as an explicit **left-to-right double fold**
(``aggregate`` in Spark, ``list_reduce`` in DuckDB) over per-element
products of double-cast floats. IEEE ops on identical inputs in an
identical order are bit-identical across engines, so ranks computed on
the raw cosine agree exactly; displayed values are rounded to 6.

Design for scale
----------------
- The query set is tiny relative to the corpus, so the planner
  broadcasts it (its size estimate is under the bar); the brute-force
  pass is then a map-only scan of the corpus (no shuffle) followed by
  a per-query top-k (shuffle of |corpus|·|Q| *candidate rows already
  filtered by the window* — bounded by AQE).
- Corpus norms are precomputed once in the same projection, so each
  pair costs one fused zip_with/aggregate, inside codegen.
- IVF: k centroid rows broadcast twice (assignment + probe); the
  bucket join is an equi-join on ``centroid_id`` — co-partitioned,
  pruning the pair space from O(|corpus|·|Q|) to O(|corpus|·|Q|/k)
  with the usual IVF recall trade-off (nprobe=1 here; raise by
  unioning more probe buckets).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Cosine primitives (Spark SQL + DuckDB twins)
# ---------------------------------------------------------------------------


def dot_expr(a: str, b: str) -> str:
    """Spark SQL: left-to-right double fold of the element products."""
    return (
        f"aggregate(zip_with({a}, {b},"
        f" (x, y) -> cast(x as double) * cast(y as double)),"
        f" 0D, (acc, v) -> acc + v)"
    )


def duck_dot_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`dot_expr` (1-based list indexing)."""
    prods = (
        f"list_transform(range(1, len({a}) + 1),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))"
    )
    # list_reduce folds left-to-right with the first element as init;
    # prepending 0.0 reproduces Spark's `0D` seed (0.0 + x == x exactly).
    return f"list_reduce(list_prepend(0.0, {prods}), (acc, v) -> acc + v)"


def cosine_expr(a: str, b: str, norm_a: str, norm_b: str) -> str:
    """Spark SQL: cosine from a precomputed dot and L2 norms."""
    return f"({dot_expr(a, b)} / ({norm_a} * {norm_b}))"


def norm_expr(a: str) -> str:
    """Spark SQL: L2 norm of a float array (double fold, then sqrt)."""
    return f"sqrt({dot_expr(a, a)})"


def duck_norm_sql(a: str) -> str:
    return f"sqrt({duck_dot_sql(a, a)})"


# ---------------------------------------------------------------------------
# Brute-force top-k (exactness baseline)
# ---------------------------------------------------------------------------


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Exact cosine top-k neighbors of each query vector.

    Output: ``query_id, neighbor_id, rank, cos`` (cos rounded to 6;
    rank on the raw double, ties broken by neighbor id).

    r13: the corpus side goes through the conditional
    :func:`operators.scale.spread_scan` (guide §2.5 input skew) —
    the per-pair cosine is an interpreted higher-order fold, and on
    a single-split scan the whole |corpus|×|Q| scoring ran as ONE
    task (measured −38% on the q154 exact branch at sf0.1); at
    warehouse scale the scan is multi-split and the fan-out is a
    no-op.
    """
    from .scale import spread_scan

    corpus = spread_scan(corpus, cols=[id_col, vec_col], by=[id_col])
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.expr(norm_expr(vec_col)).alias("cnorm"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.expr(norm_expr(vec_col)).alias("qnorm"),
    )
    pairs = c.crossJoin(q).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = pairs.withColumn(
        "cos_raw", F.expr(cosine_expr("cvec", "qvec", "cnorm", "qnorm"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("cos_raw", 6).alias("cos"),
        )
    )


def duck_topk_sql(
    corpus: str = "embeddings",
    query_pred: str = "vec_id % 50 = 0",
    k: int = 3,
) -> str:
    """DuckDB twin of :func:`brute_force_topk` with the query set
    defined by ``query_pred`` over the same corpus table."""
    cos = (
        f"{duck_dot_sql('c.embedding', 'q.embedding')}"
        f" / ({duck_norm_sql('c.embedding')} * {duck_norm_sql('q.embedding')})"
    )
    return f"""
    SELECT query_id, neighbor_id, rank, round(cos_raw, 6) AS cos
    FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {cos} AS cos_raw,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY {cos} DESC, c.vec_id) AS rank
      FROM {corpus} c, (SELECT * FROM {corpus} WHERE {query_pred}) q
      WHERE c.vec_id != q.vec_id
    ) WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# Arrow-vectorized scoring (throughput path)
# ---------------------------------------------------------------------------


def brute_force_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Throughput twin of :func:`brute_force_topk`: the per-pair
    cosine runs as a vectorized pandas UDF — the whole Arrow batch is
    stacked into ONE (n, d) float64 matrix per side and scored with a
    single batched numpy dot (``einsum``) + two vectorized norms; no
    per-row Python arithmetic. Ragged batches (mixed dimensions)
    zero-pad to the batch max first — zero components change neither
    dots nor norms.

    Trade-off: numpy's SIMD/pairwise summation reorders the float
    adds, so cosines can differ from the expression path in the last
    ulp — ranks agree except at exact ties. Use THIS for production
    throughput and the expression path when bit-exact cross-engine
    reproducibility matters (the DuckDB oracle). Plan shape is
    identical: broadcast queries, map-only scoring, per-query top-k.
    """
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("double")
    def _pair_cos(a: pd.Series, b: pd.Series) -> pd.Series:
        n = len(a)
        if n == 0:
            return pd.Series(np.empty(0))

        def stack(s: pd.Series) -> np.ndarray:
            lens = s.map(len)
            if lens.min() == lens.max():  # uniform dim: zero-copy-ish
                return np.stack(
                    [np.asarray(v, dtype=np.float64) for v in s]
                )
            m = np.zeros((n, int(lens.max())))
            for i, v in enumerate(s):
                m[i, : len(v)] = v
            return m

        A, B = stack(a), stack(b)
        if A.shape[1] != B.shape[1]:  # pad the narrower side
            d = max(A.shape[1], B.shape[1])
            A = np.pad(A, ((0, 0), (0, d - A.shape[1])))
            B = np.pad(B, ((0, 0), (0, d - B.shape[1])))
        dots = np.einsum("ij,ij->i", A, B)
        denom = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(denom > 0, dots / denom, np.nan)
        return pd.Series(out)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_raw", _pair_cos("cvec", "qvec"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_raw").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_raw", 6).alias("cos"))
    )


# ---------------------------------------------------------------------------
# IVF-bucketed ANN (scale path)
# ---------------------------------------------------------------------------


def assign_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Assign every corpus vector to its ``nprobe`` nearest centroids
    (max cosine, ties by centroid id). Centroids are broadcast; one
    map-only pass. ``nprobe=1`` is the partitioning assignment (each
    vector lives in exactly one cell); ``nprobe>1`` is the QUERY-side
    multi-probe expansion (each query searches its top-``nprobe``
    cells — the standard IVF recall lever).

    Output: corpus columns + ``centroid_id`` (one row per probed
    cell, so ``nprobe`` rows per input row).

    ``nprobe=1`` (the corpus-partitioning hot path — every Lloyd
    round, every IVF build) is MAP-ONLY: the k centroids collapse to
    ONE broadcast row (cid-sorted struct array) and the argmax is a
    strictly-greater fold inside the projection — no n×k row
    expansion and NO exchange of corpus rows (the old row_number
    window shuffled n×k rows, each carrying two embedded vectors —
    the scale-killer for an assignment that is per-row arithmetic).
    Tie/ordering semantics match the window form exactly (max
    cosine, earliest centroid id), except degenerate NaN cosines
    (zero-norm inputs): the window's NaN-sorts-last-desc quirk made
    those rows pick by NaN placement; the fold assigns them to the
    lowest centroid id. ``nprobe>1`` keeps the per-query window
    (query side is the small side of every IVF probe).
    """
    cent = centroids.select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("cent_vec"),
        F.expr(norm_expr(vec_col)).alias("cent_norm"),
    )
    if nprobe == 1:
        packed = cent.agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("centroid_id").alias("cid"),
                        F.col("cent_vec").alias("cvec"),
                        F.col("cent_norm").alias("cnorm"),
                    )
                )
            ).alias("__cents")
        )
        ccos = cosine_expr(vec_col, "c.cvec", "vnorm", "c.cnorm")
        # score each centroid ONCE (transform), then a strictly-greater
        # max fold keeps the earliest cid on exact ties (array is
        # cid-sorted); the accumulator's null cid is cast to the
        # centroid frame's ACTUAL id dtype so non-bigint keys keep
        # their type, matching the nprobe>1 window path (ADVICE r5 #3)
        cid_type = centroids.schema[id_col].dataType.simpleString()
        best = f"""
        aggregate(
          transform(__cents,
                    c -> named_struct('cid', c.cid, 'cos', {ccos})),
          named_struct('cid', cast(null as {cid_type}),
                       'cos', cast('-Infinity' as double)),
          (acc, s) -> CASE WHEN s.cos > acc.cos THEN s ELSE acc END,
          acc -> acc.cid)
        """
        return (
            corpus.withColumn("vnorm", F.expr(norm_expr(vec_col)))
            .crossJoin(packed)
            .withColumn("centroid_id", F.expr(best))
            .drop("__cents")
        )
    scored = (
        corpus.withColumn("vnorm", F.expr(norm_expr(vec_col)))
        .crossJoin(F.broadcast(cent))  # kept: q121/q154 flip build side (sf0.1)
        .withColumn(
            "ccos",
            F.expr(cosine_expr(vec_col, "cent_vec", "vnorm", "cent_norm")),
        )
    )
    w = W.partitionBy(id_col).orderBy(F.col("ccos").desc(), F.col("centroid_id"))
    return (
        scored.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= nprobe)
        .drop("cent_vec", "cent_norm", "ccos", "crank")
    )


def ivf_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    nprobe: int = 1,
) -> DataFrame:
    """IVF ANN: probe the query's ``nprobe`` nearest centroid buckets
    (corpus side always lives in exactly one cell, so a (query,
    neighbor) pair appears at most once — no dedup needed).

    Output: ``query_id, neighbor_id, rank, cos`` — approximate
    (recall < 1 when true neighbors live in unprobed buckets; raise
    ``nprobe`` to trade scan cost for recall — the q121 curve).
    """
    from .scale import spread_scan

    # conditional fan-out of the corpus before the interpreted
    # assignment/cosine folds (brute_force_topk's r13 note)
    corpus = spread_scan(corpus, cols=[id_col, vec_col], by=[id_col])
    c = assign_centroids(corpus, centroids, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.col("vnorm").alias("cnorm"),
        "centroid_id",
    )
    q = assign_centroids(
        queries, centroids, id_col, vec_col, nprobe=nprobe
    ).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col("vnorm").alias("qnorm"),
        "centroid_id",
    )
    pairs = c.join(q, "centroid_id").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = pairs.withColumn(
        "cos_raw", F.expr(cosine_expr("cvec", "qvec", "cnorm", "qnorm"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("cos_raw", 6).alias("cos"),
        )
    )


def kmeans_step(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd iteration of spherical k-means, distributed: assign
    every vector to its nearest centroid (:func:`assign_centroids` —
    broadcast centroids, map-only cosine scan), then recompute each
    centroid as the per-dimension mean of its members.

    This is the building block the IVF index (q35) trains with: run
    it until assignments stabilize, feeding each round's output back
    as the next round's centroid table. One step is oracle-checked by
    q107; the fixpoint loop (:func:`kmeans_train`) is itself
    oracle-checked end-to-end at a fixed 2-iteration budget by q117,
    and its trained centroids drive the q119 recall harness.

    Output: ``centroid_id, pos (1-based), n_members, sum_comp,
    centroid`` — the mean is computed like q66's label centroids:
    ``posexplode`` to (centroid, dim, x) rows, DECIMAL(28,12) sums
    (order-independent → engine-reproducible), one IEEE divide.

    Scale: the only shuffle carries (k × dims) partial aggregates
    after map-side combine — independent of corpus row count; no
    driver state, no vector ever collected whole.
    """
    assigned = assign_centroids(corpus, centroids, id_col, vec_col)
    comps = assigned.select(
        "centroid_id", F.posexplode(vec_col).alias("pos0", "x")
    ).select(
        "centroid_id", (F.col("pos0") + 1).alias("pos"), "x"
    )
    dec_sum_x = F.round(
        F.sum(F.col("x").cast("double").cast("decimal(28,12)")), 6
    ).cast("double")
    return comps.groupBy("centroid_id", "pos").agg(
        F.count("*").alias("n_members"),
        dec_sum_x.alias("sum_comp"),
        (dec_sum_x / F.count("*")).alias("centroid"),
    )


def duck_assign_sql(
    corpus: str,
    centroid_pred: str | None = None,
    centroid_sql: str | None = None,
    nprobe: int = 1,
) -> str:
    """DuckDB twin of :func:`assign_centroids`: the nearest-centroid
    assignment subquery (max cosine, ties by centroid id). Single
    source for every oracle built on the assignment — IVF retrieval
    (:func:`duck_ivf_topk_sql`), the k-means step
    (:func:`duck_kmeans_step_sql`), and the unrolled training loop
    (:func:`duck_kmeans_train_sql`) — so the tie-break and fold-order
    conventions cannot drift between them.

    The centroid table is either a predicate over the corpus
    (``centroid_pred`` — the seed convention) or an arbitrary
    ``(vec_id, embedding)`` subquery/CTE name (``centroid_sql`` — the
    trained-centroid path). ``nprobe`` keeps the top-n cells per
    vector (the query-side multi-probe expansion)."""
    if centroid_sql is None:
        centroid_sql = f"SELECT * FROM {corpus} WHERE {centroid_pred}"
    assign_cos = (
        f"{duck_dot_sql('v.embedding', 'ct.embedding')}"
        f" / ({duck_norm_sql('v.embedding')} * {duck_norm_sql('ct.embedding')})"
    )
    return f"""
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT v.vec_id, v.embedding, ct.vec_id AS centroid_id,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {assign_cos} DESC, ct.vec_id) AS crank
        FROM {corpus} v, ({centroid_sql}) ct
      ) WHERE crank <= {nprobe}
    """


def duck_kmeans_step_sql(
    corpus: str = "embeddings",
    centroid_pred: str | None = "vec_id < 8",
    centroid_sql: str | None = None,
) -> str:
    """DuckDB twin of :func:`kmeans_step` (assignment CTE shared with
    :func:`duck_ivf_topk_sql` via :func:`duck_assign_sql`, decimal-sum
    convention shared with q66)."""
    return f"""
    WITH assigned AS ({duck_assign_sql(corpus, centroid_pred, centroid_sql)}),
    comps AS (
      SELECT centroid_id,
             generate_subscripts(embedding, 1) AS pos,
             unnest(embedding) AS x
      FROM assigned
    )
    SELECT centroid_id, pos,
           COUNT(*) AS n_members,
           CAST(ROUND(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,12))), 6)
                AS DOUBLE) AS sum_comp,
           CAST(ROUND(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,12))), 6)
                AS DOUBLE) / COUNT(*) AS centroid
    FROM comps
    GROUP BY centroid_id, pos
    """


def duck_kmeans_train_sql(
    corpus: str = "embeddings",
    k: int = 8,
    iters: int = 2,
) -> str:
    """CTE-unrolled DuckDB twin of :func:`kmeans_train` with
    ``max_iter=iters, tol=0.0`` (fixed iteration count, no early
    stop): seeds are the ``k`` lowest-id vectors, each unrolled round
    is one :func:`duck_assign_sql` assignment + the
    :func:`duck_kmeans_step_sql` decimal-mean recompute, and emptied
    clusters carry their previous centroid forward (LEFT JOIN +
    COALESCE — the same empty-cluster rule as the Spark loop).

    Returns SQL producing the trained ``(vec_id, embedding)`` centroid
    table; embeddings are FLOAT lists (the per-dimension double mean
    cast to float32, matching the Spark loop's ``cast(... as float)``
    re-vectorization — IEEE round-to-nearest on both engines).
    """
    assert iters >= 1
    seeds = f"SELECT vec_id, embedding FROM {corpus} ORDER BY vec_id LIMIT {k}"
    ctes = [f"cent0 AS ({seeds})"]
    for i in range(1, iters + 1):
        step = duck_kmeans_step_sql(corpus, centroid_sql=f"SELECT * FROM cent{i-1}")
        ctes.append(f"step{i} AS ({step})")
        ctes.append(
            f"""cent{i} AS (
          SELECT s.vec_id,
                 COALESCE(r.vec, s.embedding) AS embedding
          FROM cent{i-1} s LEFT JOIN (
            SELECT centroid_id AS vec_id,
                   list(CAST(centroid AS FLOAT) ORDER BY pos) AS vec
            FROM step{i} GROUP BY centroid_id) r USING (vec_id)
        )"""
        )
    return (
        "WITH " + ",\n    ".join(ctes) + f"\n    SELECT vec_id, embedding FROM cent{iters}"
    )


def duck_ivf_topk_sql(
    corpus: str = "embeddings",
    centroid_pred: str | None = "vec_id < 8",
    query_pred: str = "vec_id % 50 = 0",
    k: int = 3,
    centroid_sql: str | None = None,
    nprobe: int = 1,
) -> str:
    """DuckDB twin of :func:`ivf_topk` (assignment CTE shared with
    :func:`duck_kmeans_step_sql` via :func:`duck_assign_sql`);
    ``centroid_sql`` swaps the seed predicate for an arbitrary
    centroid table (the trained-IVF path, q119); ``nprobe`` expands
    the query side to its top-n cells (q120/q121). nprobe=1 keeps the
    single shared assignment CTE so existing oracle texts (q35/q101/
    q119) are byte-stable."""
    pair_cos = (
        f"{duck_dot_sql('c.embedding', 'q.embedding')}"
        f" / ({duck_norm_sql('c.embedding')} * {duck_norm_sql('q.embedding')})"
    )
    if nprobe == 1:
        q_src = f"SELECT * FROM assigned WHERE {query_pred}"
    else:
        # resolve the centroid source against the FULL corpus before
        # re-scoping the scan to the query subset — otherwise a
        # centroid_pred would select centroids from the query subset
        q_src = duck_assign_sql(
            f"(SELECT * FROM {corpus} WHERE {query_pred})",
            centroid_sql=(
                centroid_sql
                or f"SELECT * FROM {corpus} WHERE {centroid_pred}"
            ),
            nprobe=nprobe,
        )
    return f"""
    WITH assigned AS ({duck_assign_sql(corpus, centroid_pred, centroid_sql)})
    SELECT query_id, neighbor_id, rank, round(cos_raw, 6) AS cos
    FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {pair_cos} AS cos_raw,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY {pair_cos} DESC, c.vec_id) AS rank
      FROM assigned c
      JOIN ({q_src}) q USING (centroid_id)
      WHERE c.vec_id != q.vec_id
    ) WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# Scalar quantization + quantized retrieval (the production memory path)
# ---------------------------------------------------------------------------

#: symmetric int8 range
QUANT_LEVELS = 127


def quantize_vec_expr(vec_col: str) -> str:
    """Spark SQL: symmetric int8 quantization of a float array —
    ``floor(x/scale + 0.5)`` with ``scale = max|x| / 127``. The
    floor-based chain is IEEE-identical on DuckDB (no round-half-mode
    drift); all-zero vectors map to all-zero codes."""
    scale = (
        f"(cast(array_max(transform({vec_col}, x -> abs(x))) as double)"
        f" / {QUANT_LEVELS})"
    )
    return (
        f"CASE WHEN {scale} = 0 THEN transform({vec_col}, x -> 0)"
        f" ELSE transform({vec_col}, x ->"
        f" cast(floor(cast(x as double) / {scale} + 0.5) as int)) END"
    )


def quantize(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "qvec",
    scale_col: str = "__qscale",
) -> DataFrame:
    """Staged form of :func:`quantize_vec_expr`: the scale
    (``max|x| / 127``) is computed ONCE per row in its own projection
    and the per-element lambda references the staged column.

    Load-bearing at any real dimension: interpreted higher-order
    functions get no common-subexpression elimination, so inlining
    the scale into the lambda (what ``quantize_vec_expr`` expands to)
    re-runs the O(d) ``array_max`` for EVERY element — O(d²) per
    vector. The staged column keeps it O(d); CollapseProject leaves
    the two projections split because the staged alias is non-cheap
    and referenced more than once (same plan hygiene as the token
    staging in ``operators/text.lang_id``).

    Callers drop ``scale_col`` when they don't need it.
    """
    staged = df.withColumn(
        scale_col,
        F.expr(
            f"cast(array_max(transform({vec_col}, x -> abs(x))) as double)"
            f" / {QUANT_LEVELS}"
        ),
    )
    return staged.withColumn(
        out_col,
        F.expr(
            f"CASE WHEN {scale_col} = 0 THEN transform({vec_col}, x -> 0)"
            f" ELSE transform({vec_col}, x ->"
            f" cast(floor(cast(x as double) / {scale_col} + 0.5) as int))"
            f" END"
        ),
    )


def duck_quantize_vec_sql(vec_col: str) -> str:
    """DuckDB twin of :func:`quantize_vec_expr`."""
    scale = (
        f"(CAST(list_max(list_transform({vec_col}, x -> abs(x)))"
        f" AS DOUBLE) / {QUANT_LEVELS})"
    )
    return (
        f"CASE WHEN {scale} = 0 THEN list_transform({vec_col}, x -> 0)"
        f" ELSE list_transform({vec_col}, x ->"
        f" CAST(floor(CAST(x AS DOUBLE) / {scale} + 0.5) AS INTEGER)) END"
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Top-k retrieval over int8-quantized vectors ranked by the
    INTEGER dot product — the memory-bound production ANN path (4×
    smaller vectors, SIMD-friendly kernels) next to the float
    baseline (:func:`brute_force_topk`).

    Integer scoring makes the ranking bit-exact across engines with
    no float-fold ordering concerns at all. Ties break on neighbor
    id. Output: ``query_id, neighbor_id, rank, qdot``.

    Scale: same shape as the float path — queries broadcast, map-only
    corpus scan, per-query top-k window; quantized codes shrink scan
    bytes 4×, which is the point at 100 TB.
    """
    from .scale import spread_scan

    # conditional fan-out before the interpreted quantize/dot folds
    # (brute_force_topk's r13 note)
    corpus = spread_scan(corpus, cols=[id_col, vec_col], by=[id_col])
    c = quantize(corpus, vec_col, "cq").select(
        F.col(id_col).alias("neighbor_id"), "cq"
    )
    q = quantize(queries, vec_col, "qq").select(
        F.col(id_col).alias("query_id"), "qq"
    )
    pairs = c.crossJoin(q).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = pairs.withColumn(
        "qdot",
        F.expr(
            "aggregate(zip_with(cq, qq, (x, y) -> cast(x as bigint) * y),"
            " 0L, (acc, v) -> acc + v)"
        ),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "qdot")
    )


def duck_quantized_topk_sql(
    corpus: str = "embeddings",
    query_pred: str = "vec_id % 50 = 0",
    k: int = 3,
) -> str:
    """DuckDB twin of :func:`quantized_topk`."""
    qv = duck_quantize_vec_sql("embedding")
    dots = (
        "CAST(list_sum(list_transform(range(1, len(c.qv) + 1),"
        " i -> CAST(c.qv[i] AS BIGINT) * q.qv[i])) AS BIGINT)"
    )
    return f"""
    WITH qvecs AS (SELECT vec_id, {qv} AS qv FROM {corpus}),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {dots} AS qdot
      FROM qvecs c
      JOIN (SELECT * FROM qvecs WHERE {query_pred}) q
        ON c.vec_id != q.vec_id),
    ranked AS (
      SELECT query_id, neighbor_id, qdot,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY qdot DESC, neighbor_id) AS rank
      FROM pairs)
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, qdot
    FROM ranked WHERE rank <= {k}
    """


def kmeans_train(
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 10,
    tol: float = 1e-6,
    slot: str | None = None,
) -> DataFrame:
    """Spherical k-means to (near-)fixpoint — the driver-side loop
    around the oracle-checked Lloyd step (:func:`kmeans_step`, q107).
    Deterministic init: the ``k`` lowest-id vectors seed the
    centroids (reproducible across runs; swap in k-means++ via a
    hash-sampled seed set when cluster quality matters more than
    reproducibility).

    Returns the trained centroid table ``(centroid_id, embedding)``
    ready to feed :func:`assign_centroids` / :func:`ivf_topk` as the
    IVF coarse quantizer.

    Scale notes: each round is one broadcast-assign scan + one
    (k × dims) aggregate (:func:`kmeans_step`); the new centroid
    table is k rows — ``localCheckpoint`` per round truncates the
    growing plan (the iterative-Spark trap, same discipline as
    ``graph.connected_components``); convergence is a driver-side
    max-delta over k × dims values.

    ``tol <= 0`` pins the iteration count to exactly ``max_iter``
    (no early stop) AND skips the per-round convergence aggregate —
    the deterministic fixed-budget mode the oracle-checked q117/q119
    run in (their DuckDB twin, :func:`duck_kmeans_train_sql`, unrolls
    the same fixed number of rounds as CTEs).

    ``slot``: train-once-reuse. The trained quantizer is a pure
    function of (corpus, hyper-parameters), and a session that
    trains, indexes, retrieves, and evaluates (q117 → q119 → q121 →
    q129 all train the SAME quantizer) should run the loop ONCE —
    the production shape, where the coarse quantizer is fitted once
    and served to every downstream consumer. The output plan rides
    fresh ``localCheckpoint`` RDDs each run, so the default
    plan-hash slot fingerprint can never warm-hit; instead the slot
    is keyed by an EXPLICIT signature over the true inputs
    (:func:`caching.plan_sig`: corpus plan hash + file listing +
    every hyper-parameter), which preserves the staleness contract —
    a regenerated corpus directory or a changed ``k`` misses and
    retrains. Training is deterministic, so a warm hit is
    result-identical to retraining.
    """
    from ..caching import plan_sig, slot_lookup, slot_persist
    from .scale import spread_scan

    if slot is not None:
        sig = plan_sig(corpus, k, id_col, vec_col, max_iter, tol)
        hit = slot_lookup(slot, sig, corpus.sparkSession)
        if hit is not None:
            return hit

    centroids = (
        corpus.orderBy(id_col)
        .limit(k)
        .select(id_col, vec_col)
        .localCheckpoint()
    )
    # every Lloyd round re-runs the broadcast-assign scan, whose
    # per-vector interpreted cosine folds are CPU-bound: on a
    # single-row-group corpus every round would otherwise run its
    # folds on ONE task (conditional — no-op on multi-split inputs;
    # −19% on the q129 bench entry, where the loop dominates)
    # (measured: materializing the spread corpus via localCheckpoint
    # is a wash at sf0.1 — the per-round cost is the assign folds,
    # not the re-scan — and at warehouse scale pinning the whole
    # corpus in block-manager memory is the wrong trade; parquet
    # re-scan per round is the production shape)
    corpus = spread_scan(corpus, by=[id_col])
    for _ in range(max_iter):
        step = kmeans_step(corpus, centroids, id_col, vec_col)
        recomputed = (
            step.groupBy("centroid_id")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list("
                    "struct(pos, centroid))), s -> cast(s.centroid as float))"
                ).alias("__new_vec")
            )
            .select(F.col("centroid_id").alias(id_col), "__new_vec")
        )
        # an EMPTIED cluster (ties all break to a lower centroid id,
        # common after dedup leaves duplicate seed vectors) drops out
        # of the step output; carry its previous centroid forward so
        # the trained quantizer keeps k cells instead of silently
        # shrinking
        new_centroids = (
            centroids.join(recomputed, id_col, "left")
            .select(
                id_col,
                F.coalesce("__new_vec", vec_col).alias(vec_col),
            )
            .localCheckpoint()
        )
        if tol <= 0:  # fixed-budget mode: no convergence aggregate
            centroids = new_centroids
            continue
        # max per-dimension movement between rounds (empty-cluster
        # centroids drop out of `step`; they count as converged)
        old = centroids.select(
            F.col(id_col).alias("cid"),
            F.posexplode(vec_col).alias("pos", "old_x"),
        )
        new = new_centroids.select(
            F.col(id_col).alias("cid"),
            F.posexplode(vec_col).alias("pos", "new_x"),
        )
        delta = (
            old.join(new, ["cid", "pos"])
            .agg(F.max(F.abs(F.col("new_x") - F.col("old_x"))))
            .first()[0]
        )
        centroids = new_centroids
        if delta is not None and delta < tol:
            break
    if slot is not None:
        # k rows, already localCheckpointed — the persist is
        # negligible; the slot's value is skipping the LOOP next time
        return slot_persist(slot, centroids, sig=sig)
    return centroids


# ---------------------------------------------------------------------------
# Product quantization (PQ): train / encode / ADC top-k
# ---------------------------------------------------------------------------
#
# Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
# Search" (TPAMI 2011): split each d-dim vector into m subvectors,
# k-means each subspace independently (k codes), store each vector as
# m small code ids (m·log2(k) bits vs 4·d bytes — 32× at m=8, k=256,
# d=64 float32), and score queries against codes through a per-query
# m×k distance lookup table (asymmetric distance computation, ADC).
# The compression is what makes billion-vector ANN fit in cluster
# memory; IVF(q35) + PQ is the standard 100 TB retrieval stack.
#
# Oracle registration (CTE-unrolled training twin, q117's pattern) is
# slated for the next driver-window rotation; until then the contract
# is pinned by tests/test_pq.py's numpy replay of the same spec.


def l2sq_expr(a: str, b: str) -> str:
    """Spark SQL: squared L2 distance, left-to-right double fold."""
    return (
        f"aggregate(zip_with({a}, {b},"
        f" (x, y) -> (cast(x as double) - cast(y as double))"
        f" * (cast(x as double) - cast(y as double))),"
        f" 0D, (acc, v) -> acc + v)"
    )


def _sub_slices_expr(vec_col: str, m: int) -> str:
    """Spark SQL: array of the m contiguous subvectors of ``vec_col``.

    The vector dimension must divide evenly by m — enforced IN-PLAN
    (a per-row CASE on ``size()``, O(1)) so every PQ entry point
    (train/encode/ADC/IVF-PQ) fails loudly instead of silently
    dropping the trailing ``dim % m`` components (ADVICE r5 #1)."""
    guard = (
        f"CASE WHEN size({vec_col}) % {m} = 0 THEN {vec_col}"
        f" ELSE raise_error(concat('pq: vector dim ',"
        f" cast(size({vec_col}) as string),"
        f" ' is not divisible by m={m}')) END"
    )
    return (
        f"transform(sequence(0, {m} - 1),"
        f" s -> slice({guard}, s * (size({vec_col}) div {m}) + 1,"
        f" size({vec_col}) div {m}))"
    )


def _pack_codebooks(codebooks: DataFrame) -> DataFrame:
    """Collapse the (sub_id, code_id, centroid) table to ONE
    broadcastable row: ``cbs[sub_id]`` = code-ordered centroid list
    (m·k rows — metadata-sized by construction)."""
    return (
        codebooks.groupBy("sub_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list("
                "struct(code_id, centroid))), s -> s.centroid)"
            ).alias("codes")
        )
        .agg(
            F.expr(
                "transform(array_sort(collect_list("
                "struct(sub_id, codes))), s -> s.codes)"
            ).alias("cbs")
        )
    )


def pq_train(
    corpus: DataFrame,
    m: int = 4,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
    slot: str | None = None,
) -> DataFrame:
    """Train the m per-subspace codebooks with Lloyd iterations.

    Deterministic init (kmeans_train's convention): subspace s seeds
    its k codes from the k lowest-id vectors' s-th subvectors. Each
    round assigns every subvector to its nearest code (squared L2,
    ties to the lowest code id) and recomputes code centroids as
    decimal-exact means (q66's shape).

    Returns ``(sub_id, code_id, centroid: array<float>)`` — m·k rows.

    Scale: ALL m subspaces train in one pass per round — the corpus
    explodes once to (id, sub_id, subvector) rows, assignment is
    map-only against the broadcast m·k codebook row, and the update
    aggregate exchanges only m·k·(d/m) = k·d decimal partials per
    task. ``localCheckpoint`` per round truncates the iterative plan
    (kmeans_train's discipline). The subvector explode multiplies
    rows by m but DIVIDES per-row bytes by m — corpus bytes per
    round stay constant.

    ``slot``: train-once-reuse (the ``kmeans_train`` contract — see
    that docstring): the codebooks are a pure function of (corpus,
    m, k, iters) but ride fresh ``localCheckpoint`` RDDs each run,
    so the slot is keyed by an explicit :func:`caching.plan_sig`
    over the true inputs; an encode + retrieval session (q152/q153)
    fits the codebooks ONCE.
    """
    from ..caching import plan_sig, slot_lookup, slot_persist
    from .scale import spread_scan

    if slot is not None:
        sig = plan_sig(corpus, m, k, id_col, vec_col, iters)
        hit = slot_lookup(slot, sig, corpus.sparkSession)
        if hit is not None:
            return hit

    subs = (
        spread_scan(corpus, cols=[id_col, vec_col], by=[id_col])
        .select(
            F.col(id_col),
            F.posexplode(F.expr(_sub_slices_expr(vec_col, m))).alias(
                "sub_id", "sv"
            ),
        )
    )
    codebooks = (
        corpus.orderBy(id_col)
        .limit(k)
        .select(
            F.col(id_col).alias("seed_id"),
            F.posexplode(F.expr(_sub_slices_expr(vec_col, m))).alias(
                "sub_id", "centroid"
            ),
        )
        .select(
            "sub_id",
            F.expr(
                "cast(row_number() over (partition by sub_id"
                " order by seed_id) - 1 as int)"
            ).alias("code_id"),
            "centroid",
        )
        .localCheckpoint()
    )
    dec = F.sum(F.col("x").cast("decimal(28,12)"))
    for _ in range(iters):
        assigned = _pq_assign(subs, codebooks)
        codebooks = (
            assigned.select(
                "sub_id",
                "code_id",
                F.posexplode("sv").alias("pos", "x"),
            )
            .groupBy("sub_id", "code_id", "pos")
            .agg(
                (F.round(dec, 6).cast("double") / F.count("*")).alias("c")
            )
            .groupBy("sub_id", "code_id")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, c))),"
                    " s -> cast(s.c as float))"
                ).alias("__new_c")
            )
            # an emptied code keeps its previous centroid (kmeans_train's
            # empty-cluster carry-forward)
            .join(codebooks, ["sub_id", "code_id"], "right")
            .select(
                "sub_id",
                "code_id",
                F.coalesce("__new_c", "centroid").alias("centroid"),
            )
            .localCheckpoint()
        )
    if slot is not None:
        # m·k rows, already localCheckpointed — the persist is
        # negligible; the slot's value is skipping the LOOP next time
        return slot_persist(slot, codebooks, sig=sig)
    return codebooks


def _pq_assign(subs: DataFrame, codebooks: DataFrame) -> DataFrame:
    """Nearest-code assignment for (id, sub_id, sv) rows: map-only
    against the broadcast packed codebook row; strictly-less fold
    keeps the LOWEST code id on exact ties (assign_centroids'
    convention, mirrored for distances)."""
    packed = _pack_codebooks(codebooks)
    dist = l2sq_expr("sv", "c")
    best = f"""
    aggregate(
      zip_with(element_at(cbs, sub_id + 1),
               sequence(0, size(element_at(cbs, sub_id + 1)) - 1),
               (c, i) -> named_struct('code', i, 'd', {dist})),
      named_struct('code', cast(null as int),
                   'd', cast('Infinity' as double)),
      (acc, s) -> CASE WHEN s.d < acc.d THEN s ELSE acc END,
      acc -> acc.code)
    """
    return (
        subs.crossJoin(packed)
        .withColumn("code_id", F.expr(best))
        .drop("cbs")
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int | None = None,
) -> DataFrame:
    """Encode every vector as its m nearest code ids.

    Returns ``(id_col, codes: array<int>)`` — the compressed index
    (m·log2(k) bits of payload per vector vs 4·d bytes raw).

    Scale: MAP-ONLY — the m·k codebook collapses to one broadcast
    row and all m argmins run as nested folds inside a single
    projection; the corpus is never exploded or shuffled.
    """
    # pass m explicitly to skip this (tiny, m·k-row) probe job —
    # the registered queries do; the fallback derives it once
    if m is None:
        m = codebooks.agg(F.max("sub_id")).first()[0] + 1
    packed = _pack_codebooks(codebooks)
    dist = l2sq_expr("element_at(svs, s + 1)", "c")
    codes = f"""
    transform(sequence(0, {m} - 1), s ->
      aggregate(
        zip_with(element_at(cbs, s + 1),
                 sequence(0, size(element_at(cbs, s + 1)) - 1),
                 (c, i) -> named_struct('code', i, 'd', {dist})),
        named_struct('code', cast(null as int),
                     'd', cast('Infinity' as double)),
        (acc, x) -> CASE WHEN x.d < acc.d THEN x ELSE acc END,
        acc -> acc.code))
    """
    from .scale import spread_scan

    return (
        spread_scan(corpus, cols=[id_col, vec_col], by=[id_col])
        .select(
            F.col(id_col),
            F.expr(_sub_slices_expr(vec_col, m)).alias("svs"),
        )
        .crossJoin(packed)
        .select(F.col(id_col), F.expr(codes).alias("codes"))
    )


def pq_adc_topk(
    queries: DataFrame,
    codes_df: DataFrame,
    codebooks: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k: exact query vs quantized corpus.

    Each query precomputes its m×k lookup table (squared L2 from the
    query's s-th subvector to every code centroid); a corpus row's
    approximate distance is then m table lookups summed — no float
    vector math per candidate.

    Output: ``query_id, neighbor_id, rank, adc_dist`` (dist rounded
    to 6; rank ties by neighbor id — brute_force_topk's contract).

    Scale: the LUT build touches only |Q|·m·k cells and rides the
    broadcast query row; scoring is map-only over the codes table
    (8-ish bytes/row instead of 4·d) and the top-k is a per-query
    window over candidates, partitioned by query — the same shape as
    brute_force_topk but over a 32×-smaller scan. At billion-vector
    scale, filter candidates through ivf_topk's cell probe first
    (IVF-PQ).
    """
    # pass m explicitly to skip this (tiny, m·k-row) probe job —
    # the registered queries do; the fallback derives it once
    if m is None:
        m = codebooks.agg(F.max("sub_id")).first()[0] + 1
    from .scale import spread_scan

    # conditional fan-out before the interpreted ADC lookup folds
    # (brute_force_topk's r13 note); codes_df carries only
    # (id, codes) — metadata-narrow either way
    codes_df = spread_scan(codes_df, by=[id_col])
    packed = _pack_codebooks(codebooks)
    dist = l2sq_expr("element_at(qsvs, s + 1)", "c")
    lut = f"""
    transform(sequence(0, {m} - 1), s ->
      transform(element_at(cbs, s + 1), c -> {dist}))
    """
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.expr(_sub_slices_expr(vec_col, m)).alias("qsvs"),
        )
        .crossJoin(packed)
        .select("query_id", F.expr(lut).alias("lut"))
    )
    adc = (
        "aggregate(zip_with(lut, codes,"
        " (l, c) -> element_at(l, c + 1)), 0D, (acc, v) -> acc + v)"
    )
    w = W.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        codes_df.select(F.col(id_col).alias("neighbor_id"), "codes")
        .crossJoin(F.broadcast(q))  # kept: pq_adc_topk cartesian (1 MiB, test_pq)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.expr(adc), 6).alias("adc_dist"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    coarse_centroids: DataFrame,
    codebooks: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int | None = None,
) -> DataFrame:
    """IVF-PQ: the production billion-vector retrieval stack — coarse
    IVF cells prune the candidate set (:func:`assign_centroids`),
    then PQ codes + per-query ADC lookup tables score only in-cell
    candidates. Combines q35's cell probe with :func:`pq_adc_topk`'s
    compression; recall loss decomposes into cell misses (raise
    ``nprobe``, q121's curve) and quantization error (raise m·k).

    Output: ``query_id, neighbor_id, rank, adc_dist`` —
    :func:`pq_adc_topk`'s contract (self-matches included: a corpus
    query's own row scores at the quantization floor).

    Scale: the index build is ONE corpus pass (cell assignment and
    code assignment are both map-only broadcast folds in the same
    projection chain — no join between them) and the index rows are
    ~(8 + m) bytes; query-side cell probe and LUTs are broadcast
    (queries are the small side by construction), so candidate
    scoring is a map-side hash join on ``centroid_id`` touching only
    probed cells — ~nprobe/k_coarse of the index scan, never the
    corpus. The top-k window partitions by query.
    """
    # pass m explicitly to skip this (tiny, m·k-row) probe job —
    # the registered queries do; the fallback derives it once
    if m is None:
        m = codebooks.agg(F.max("sub_id")).first()[0] + 1
    from .scale import spread_scan

    # conditional fan-out of the corpus before the interpreted cell-
    # and code-assignment folds (brute_force_topk's r13 note;
    # measured −27% on the q154 approx branch at sf0.1)
    corpus = spread_scan(corpus, cols=[id_col, vec_col], by=[id_col])
    index = assign_centroids(corpus, coarse_centroids, id_col, vec_col)
    packed = _pack_codebooks(codebooks)
    dist = l2sq_expr("element_at(svs, s + 1)", "c")
    codes = f"""
    transform(sequence(0, {m} - 1), s ->
      aggregate(
        zip_with(element_at(cbs, s + 1),
                 sequence(0, size(element_at(cbs, s + 1)) - 1),
                 (c, i) -> named_struct('code', i, 'd', {dist})),
        named_struct('code', cast(null as int),
                     'd', cast('Infinity' as double)),
        (acc, x) -> CASE WHEN x.d < acc.d THEN x ELSE acc END,
        acc -> acc.code))
    """
    index = (
        index.select(
            F.col(id_col).alias("neighbor_id"),
            "centroid_id",
            F.expr(_sub_slices_expr(vec_col, m)).alias("svs"),
        )
        .crossJoin(packed)
        .select(
            "neighbor_id", "centroid_id", F.expr(codes).alias("codes")
        )
    )
    qdist = l2sq_expr("element_at(qsvs, s + 1)", "c")
    lut = f"""
    transform(sequence(0, {m} - 1), s ->
      transform(element_at(cbs, s + 1), c -> {qdist}))
    """
    q = (
        assign_centroids(
            queries, coarse_centroids, id_col, vec_col, nprobe=nprobe
        )
        .select(
            F.col(id_col).alias("query_id"),
            "centroid_id",
            F.expr(_sub_slices_expr(vec_col, m)).alias("qsvs"),
        )
        .crossJoin(packed)
        .select("query_id", "centroid_id", F.expr(lut).alias("lut"))
    )
    adc = (
        "aggregate(zip_with(lut, codes,"
        " (l, c) -> element_at(l, c + 1)), 0D, (acc, v) -> acc + v)"
    )
    w = W.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        index.join(F.broadcast(q), "centroid_id")  # kept: q153/q154 +2 shuffles (sf0.1)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.expr(adc), 6).alias("adc_dist"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def bitext_margin_topk(
    src: DataFrame,
    tgt: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lang_col: str = "lang",
    k_nn: int = 4,
    slot: str | None = None,
) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk 2019's
    ratio margin, the CCMatrix/LASER bitext-mining criterion): for
    each source-language vector, score every target-language
    candidate by cos(x,y) normalized by the mean similarity of each
    side's ``k_nn`` nearest cross-lingual neighbors — raw cosine
    over-selects hub vectors that are near EVERYTHING; the margin
    denominator cancels hubness — and keep the best-margin candidate
    per source.

    Output: ``src_id, tgt_id, tgt_lang, cos_micro, margin_permille``
    (one row per source with a positive-similarity candidate).
    Engine-exact: cosines are rounded to 6 then fixed-pointed to
    integer micro-units (``floor(x*1e6 + 0.5)`` — no cast-rounding
    drift), neighbor ranks order by the SAME integer, denominators
    are integer sums, and the margin is an integer-permille division
    guarded to positive operands (no floor-vs-truncate sign
    disagreement).

    Scale: the pair scan is the brute-force q34 shape (broadcast
    source side) and is slot-staged ONCE; the two margin
    denominators are map-side-combined aggregates collapsing to
    |src| / |tgt| rows that broadcast back, so the pair table
    shuffles only for the per-source top-1 window. At billion-vector
    scale, replace the cross join with :func:`ivf_topk` candidates
    (cell-pruned pairs) and the same margin math applies unchanged —
    :func:`bitext_margin_ivf` is exactly that, registered as q260.
    """
    s = src.select(
        F.col(id_col).alias("src_id"),
        F.col(vec_col).alias("svec"),
        F.expr(norm_expr(vec_col)).alias("snorm"),
    )
    t = tgt.select(
        F.col(id_col).alias("tgt_id"),
        F.col(lang_col).alias("tgt_lang"),
        F.col(vec_col).alias("tvec"),
        F.expr(norm_expr(vec_col)).alias("tnorm"),
    )
    cos = cosine_expr("tvec", "svec", "tnorm", "snorm")
    pairs = t.crossJoin(F.broadcast(s)).select(  # kept: q155 cartesian (sf0.1)
        "src_id",
        "tgt_id",
        "tgt_lang",
        F.expr(
            f"cast(floor(round({cos}, 6) * 1000000 + 0.5) as bigint)"
        ).alias("micro"),
    )
    return _margin_topk_from_pairs(pairs, k_nn, slot)


def bitext_margin_ivf(
    src: DataFrame,
    tgt: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lang_col: str = "lang",
    k_nn: int = 4,
    nprobe: int = 2,
    slot: str | None = None,
) -> DataFrame:
    """The SCALE path of :func:`bitext_margin_topk` (VERDICT r10 #2):
    identical ratio-margin math, but the candidate-pair space is
    IVF-cell-restricted instead of the all-pairs cross join — the
    same coarse-quantizer trick FAISS-backed CCMatrix mining uses.

    Target vectors partition into exactly one nearest-centroid cell
    (:func:`assign_centroids`, the map-only fold); source vectors
    probe their ``nprobe`` nearest cells (the standard IVF recall
    lever, q120/q121's curve). Candidates = the cell equi-join, so a
    (src, tgt) pair appears at most once (the target lives in ONE
    cell) and the pair count drops from |src|·|tgt| to
    ``nprobe/k_cells``-ish of it — near-linear when cells stay
    balanced. The margin's k-NN denominator pools are computed over
    the SAME restricted candidate set, exactly how production miners
    take them from the ANN result lists rather than exact k-NN.

    Scale: both assignments are map-only broadcast folds; the cell
    join shuffles on uniform centroid ids (AQE broadcasts the small
    side at test scale); downstream is :func:`bitext_margin_topk`'s
    map-side-combinable denominators + algebraic top-1. No cross
    join anywhere — this is the registered production shape (q260),
    with q155 kept as its brute-force recall baseline.
    """
    t = assign_centroids(
        tgt.select(
            F.col(id_col), F.col(lang_col), F.col(vec_col)
        ),
        centroids,
        id_col,
        vec_col,
    ).select(
        F.col(id_col).alias("tgt_id"),
        F.col(lang_col).alias("tgt_lang"),
        F.col(vec_col).alias("tvec"),
        F.col("vnorm").alias("tnorm"),
        "centroid_id",
    )
    s = assign_centroids(
        src.select(F.col(id_col), F.col(vec_col)),
        centroids,
        id_col,
        vec_col,
        nprobe=nprobe,
    ).select(
        F.col(id_col).alias("src_id"),
        F.col(vec_col).alias("svec"),
        F.col("vnorm").alias("snorm"),
        "centroid_id",
    )
    cos = cosine_expr("tvec", "svec", "tnorm", "snorm")
    pairs = t.join(s, "centroid_id").select(
        "src_id",
        "tgt_id",
        "tgt_lang",
        F.expr(
            f"cast(floor(round({cos}, 6) * 1000000 + 0.5) as bigint)"
        ).alias("micro"),
    )
    return _margin_topk_from_pairs(pairs, k_nn, slot)


def _margin_topk_from_pairs(
    pairs: DataFrame, k_nn: int, slot: str | None = None
) -> DataFrame:
    """Shared margin scoring over a ``(src_id, tgt_id, tgt_lang,
    micro)`` candidate-pair table — the math half of both
    :func:`bitext_margin_topk` (cross-join candidates, q155) and
    :func:`bitext_margin_ivf` (cell-restricted candidates, q260).
    Integer-exact throughout; see :func:`bitext_margin_topk`."""
    from ..caching import slot_persist

    if slot is not None:
        # three consumers (two denominator aggs + final scoring) —
        # stage the slim (ids, lang, micro) pair table once
        pairs = slot_persist(slot, pairs)

    def _nn_sum(key: str, out: str) -> DataFrame:
        w = W.partitionBy(key).orderBy(F.desc("micro"), "tgt_id" if key == "src_id" else "src_id")
        return (
            pairs.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k_nn)
            .groupBy(key)
            .agg(F.sum("micro").alias(out))
        )

    ax = _nn_sum("src_id", "ax_sum")
    ay = _nn_sum("tgt_id", "ay_sum")
    scored = (
        pairs.join(F.broadcast(ax), "src_id")  # kept: q155/q260 sort-merge (sf0.1)
        .join(F.broadcast(ay), "tgt_id")  # kept: q155/q260 +1 shuffle (sf0.1)
        .filter((F.col("micro") > 0) & (F.col("ax_sum") + F.col("ay_sum") > 0))
        .select(
            "src_id",
            "tgt_id",
            "tgt_lang",
            "micro",
            F.expr(
                f"micro * 2 * {k_nn} * 1000 div (ax_sum + ay_sum)"
            ).alias("margin_permille"),
        )
    )
    # top-1 per source as an ALGEBRAIC max(struct) — map-side
    # combinable, no full sort of the scored pair table (the window
    # form shuffled + sorted every scored row; at 100 TB the partial
    # max collapses each task to |src| rows before the exchange).
    # Field order = the ranking (margin desc, micro desc, tgt_id asc
    # via negation); neg_tgt is unique per pair so later fields are
    # never compared.
    return (
        scored.groupBy("src_id")
        .agg(
            F.max(
                F.struct(
                    "margin_permille",
                    "micro",
                    (-F.col("tgt_id")).alias("neg_tgt"),
                    "tgt_lang",
                )
            ).alias("__best")
        )
        .select(
            "src_id",
            (-F.col("__best.neg_tgt")).alias("tgt_id"),
            F.col("__best.tgt_lang").alias("tgt_lang"),
            F.col("__best.micro").alias("cos_micro"),
            F.col("__best.margin_permille").alias("margin_permille"),
        )
    )


def duck_bitext_margin_sql(
    src_pred: str = "lang = 'en'", k_nn: int = 4
) -> str:
    """DuckDB twin of :func:`bitext_margin_topk` over the
    documents⋈embeddings join (source side = ``src_pred`` rows,
    target side = the rest): same micro fixed-pointing, same
    integer-ranked neighbor pools, same guarded permille division."""
    cos = (
        f"{duck_dot_sql('t.embedding', 's.embedding')}"
        f" / ({duck_norm_sql('t.embedding')} * {duck_norm_sql('s.embedding')})"
    )
    return f"""
    WITH je AS (
      SELECT d.lang, e.vec_id, e.embedding
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
    src AS (SELECT * FROM je WHERE {src_pred}),
    tgt AS (SELECT * FROM je WHERE NOT ({src_pred})),
    pairs AS (
      SELECT s.vec_id AS src_id, t.vec_id AS tgt_id, t.lang AS tgt_lang,
             CAST(floor(round({cos}, 6) * 1000000 + 0.5) AS BIGINT)
               AS micro
      FROM src s, tgt t){_duck_margin_tail_sql(k_nn)}
    """


def duck_bitext_margin_ivf_sql(
    src_pred: str = "lang = 'en'",
    k_nn: int = 4,
    centroid_pred: str = "vec_id < 8",
    nprobe: int = 2,
) -> str:
    """DuckDB twin of :func:`bitext_margin_ivf`: the cell
    restriction replayed closed-form (the q121 restricted-candidate
    oracle pattern) — targets assigned to their 1 nearest centroid,
    sources to their ``nprobe`` nearest (:func:`duck_assign_sql`,
    the single source of assignment tie-break conventions), pairs =
    the cell equi-join, then the identical integer margin tail."""
    cent = f"SELECT vec_id, embedding FROM embeddings WHERE {centroid_pred}"
    cos = (
        f"{duck_dot_sql('t.embedding', 's.embedding')}"
        f" / ({duck_norm_sql('t.embedding')} * {duck_norm_sql('s.embedding')})"
    )
    return f"""
    WITH je AS (
      SELECT d.lang, e.vec_id, e.embedding
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
    src AS (SELECT * FROM je WHERE {src_pred}),
    tgt AS (SELECT * FROM je WHERE NOT ({src_pred})),
    s_asn AS ({duck_assign_sql('src', centroid_sql=cent, nprobe=nprobe)}),
    t_asn AS ({duck_assign_sql('tgt', centroid_sql=cent)}),
    pairs AS (
      SELECT s.vec_id AS src_id, t.vec_id AS tgt_id, tl.lang AS tgt_lang,
             CAST(floor(round({cos}, 6) * 1000000 + 0.5) AS BIGINT)
               AS micro
      FROM s_asn s JOIN t_asn t USING (centroid_id)
      JOIN tgt tl ON tl.vec_id = t.vec_id){_duck_margin_tail_sql(k_nn)}
    """


def _duck_margin_tail_sql(k_nn: int) -> str:
    """The margin tail shared by :func:`duck_bitext_margin_sql` and
    :func:`duck_bitext_margin_ivf_sql` — appended after a ``pairs``
    CTE of ``(src_id, tgt_id, tgt_lang, micro)`` candidates: k-NN
    integer denominator pools, guarded permille division (``//`` to
    match Spark's truncating ``div``), top-1 per source."""
    return f""",
    axs AS (
      SELECT src_id, CAST(SUM(micro) AS BIGINT) AS ax_sum FROM (
        SELECT src_id, micro,
               row_number() OVER (PARTITION BY src_id
                                  ORDER BY micro DESC, tgt_id) AS rk
        FROM pairs) WHERE rk <= {k_nn} GROUP BY src_id),
    ays AS (
      SELECT tgt_id, CAST(SUM(micro) AS BIGINT) AS ay_sum FROM (
        SELECT tgt_id, micro,
               row_number() OVER (PARTITION BY tgt_id
                                  ORDER BY micro DESC, src_id) AS rk
        FROM pairs) WHERE rk <= {k_nn} GROUP BY tgt_id),
    scored AS (
      SELECT p.src_id, p.tgt_id, p.tgt_lang, p.micro,
             CAST(p.micro * 2 * {k_nn} * 1000 // (ax_sum + ay_sum)
                  AS BIGINT) AS margin_permille
      FROM pairs p JOIN axs USING (src_id) JOIN ays USING (tgt_id)
      WHERE p.micro > 0 AND ax_sum + ay_sum > 0)
    SELECT src_id, tgt_id, tgt_lang, micro AS cos_micro, margin_permille
    FROM (
      SELECT *, row_number() OVER (PARTITION BY src_id
               ORDER BY margin_permille DESC, micro DESC, tgt_id) AS rk
      FROM scored)
    WHERE rk = 1"""


def duck_l2sq_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`l2sq_expr` (same left-to-right fold and
    0.0 seed, so the doubles are bit-identical)."""
    diffs = (
        f"list_transform(range(1, len({a}) + 1),"
        f" i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))"
    )
    return f"list_reduce(list_prepend(0.0, {diffs}), (acc, v) -> acc + v)"


def _duck_pq_subs_sql(corpus_sql: str, m: int) -> str:
    """(vec_id, sub_id, sv) rows: the m contiguous subvectors."""
    return f"""
      SELECT vec_id, CAST(s.sub_id AS INT) AS sub_id,
             list_slice(embedding,
                        s.sub_id * (len(embedding) // {m}) + 1,
                        (s.sub_id + 1) * (len(embedding) // {m})) AS sv
      FROM ({corpus_sql}), unnest(range(0, {m})) s(sub_id)
    """


def duck_pq_codebook_sql(
    corpus: str = "embeddings", m: int = 4, k: int = 16, iters: int = 2
) -> str:
    """CTE-unrolled DuckDB twin of :func:`pq_train` (same seed rule,
    decimal-exact means, float32 re-vectorization, lowest-code
    tie-break, and empty-code carry-forward). Returns
    ``(sub_id, code_id, centroid)``."""
    assert iters >= 0
    seeds = f"SELECT vec_id, embedding FROM {corpus} ORDER BY vec_id LIMIT {k}"
    ctes = [
        f"subs AS ({_duck_pq_subs_sql(f'SELECT * FROM {corpus}', m)})",
        f"""cb0 AS (
          SELECT sub_id,
                 CAST(row_number() OVER (PARTITION BY sub_id
                                         ORDER BY vec_id) - 1 AS INT)
                   AS code_id,
                 sv AS centroid
          FROM ({_duck_pq_subs_sql(seeds, m)})
        )""",
    ]
    dist = duck_l2sq_sql("a.sv", "c.centroid")
    for i in range(1, iters + 1):
        ctes.append(
            f"""asg{i} AS (
          SELECT vec_id, sub_id, sv, code_id FROM (
            SELECT a.vec_id, a.sub_id, a.sv, c.code_id,
                   row_number() OVER (PARTITION BY a.vec_id, a.sub_id
                                      ORDER BY {dist}, c.code_id) AS rk
            FROM subs a JOIN cb{i-1} c USING (sub_id)
          ) WHERE rk = 1
        )"""
        )
        ctes.append(
            f"""step{i} AS (
          SELECT sub_id, code_id, pos,
                 CAST(ROUND(SUM(CAST(CAST(x AS DOUBLE)
                                     AS DECIMAL(28,12))), 6)
                      AS DOUBLE) / COUNT(*) AS c
          FROM (
            SELECT sub_id, code_id,
                   generate_subscripts(sv, 1) AS pos, unnest(sv) AS x
            FROM asg{i}
          ) GROUP BY sub_id, code_id, pos
        )"""
        )
        ctes.append(
            f"""cb{i} AS (
          SELECT p.sub_id, p.code_id,
                 COALESCE(r.vec, p.centroid) AS centroid
          FROM cb{i-1} p LEFT JOIN (
            SELECT sub_id, code_id,
                   list(CAST(c AS FLOAT) ORDER BY pos) AS vec
            FROM step{i} GROUP BY sub_id, code_id) r
          USING (sub_id, code_id)
        )"""
        )
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT sub_id, code_id, centroid FROM cb{iters}"
    )


def _duck_pq_asg_sql(corpus_sql: str, m: int) -> str:
    """(vec_id, sub_id, code_id): nearest-code assignment of every
    subvector against a ``cb`` codebook CTE in scope (the shared
    encode/ADC assignment — squared L2, lowest code id on ties,
    :func:`_pq_assign`'s convention)."""
    dist = duck_l2sq_sql("a.sv", "c.centroid")
    return f"""
      SELECT vec_id, sub_id, code_id FROM (
        SELECT a.vec_id, a.sub_id, c.code_id,
               row_number() OVER (PARTITION BY a.vec_id, a.sub_id
                                  ORDER BY {dist}, c.code_id) AS rk
        FROM ({_duck_pq_subs_sql(corpus_sql, m)}) a JOIN cb c USING (sub_id)
      ) WHERE rk = 1
    """


def _duck_adc_rank_sql(k: int) -> str:
    """Shared tail of the ADC twins: fold each (query, neighbor)'s
    per-subspace distances in sub_id order (list_reduce with a 0.0
    prepend — bit-identical to Spark's left-to-right ``aggregate``
    over the LUT zip), round to 6, rank on the ROUNDED distance with
    neighbor-id tie-break (:func:`pq_adc_topk`'s contract)."""
    return f"""
    dists AS (
      SELECT query_id, neighbor_id,
             round(list_reduce(list_prepend(0.0, list(d ORDER BY sub_id)),
                               (acc, v) -> acc + v), 6) AS adc_dist
      FROM contrib GROUP BY query_id, neighbor_id
    )
    SELECT query_id, neighbor_id, rank, adc_dist FROM (
      SELECT query_id, neighbor_id, adc_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, neighbor_id) AS rank
      FROM dists
    ) WHERE rank <= {k}
    """


def duck_pq_adc_topk_sql(
    corpus: str = "embeddings",
    query_pred: str = "vec_id % 50 = 0",
    m: int = 4,
    k_codes: int = 16,
    iters: int = 2,
    k: int = 10,
) -> str:
    """DuckDB twin of :func:`pq_train` → :func:`pq_encode` →
    :func:`pq_adc_topk`: each (query, neighbor, sub_id) contributes
    the exact L2² from the query's subvector to the neighbor's
    assigned code centroid — the relational statement of the ADC
    lookup table (self-matches included, scoring at the quantization
    floor)."""
    return f"""
    WITH cb AS ({duck_pq_codebook_sql(corpus, m, k_codes, iters)}),
    ncode AS ({_duck_pq_asg_sql(f'SELECT * FROM {corpus}', m)}),
    qsubs AS ({_duck_pq_subs_sql(
        f'SELECT * FROM {corpus} WHERE {query_pred}', m)}),
    contrib AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, q.sub_id,
             {duck_l2sq_sql('q.sv', 'c.centroid')} AS d
      FROM qsubs q
      JOIN ncode n ON n.sub_id = q.sub_id
      JOIN cb c ON c.sub_id = n.sub_id AND c.code_id = n.code_id
    ),
    {_duck_adc_rank_sql(k)}
    """


def duck_ivf_pq_topk_sql(
    corpus: str = "embeddings",
    centroid_pred: str | None = "vec_id < 8",
    query_pred: str = "vec_id % 50 = 0",
    m: int = 4,
    k_codes: int = 16,
    iters: int = 2,
    k: int = 10,
    nprobe: int = 2,
    centroid_sql: str | None = None,
) -> str:
    """DuckDB twin of :func:`ivf_pq_topk`: coarse cells via
    :func:`duck_assign_sql` (cosine, the IVF convention), candidates
    restricted to each query's ``nprobe`` probed cells, scored by the
    ADC contribution join (:func:`duck_pq_adc_topk_sql`'s shape).
    ``centroid_sql`` swaps the seed predicate for an arbitrary
    centroid table (the trained-coarse path, q154)."""
    cent = centroid_sql or f"SELECT * FROM {corpus} WHERE {centroid_pred}"
    qassign = duck_assign_sql(
        f"(SELECT * FROM {corpus} WHERE {query_pred})",
        centroid_sql="SELECT * FROM cents",
        nprobe=nprobe,
    )
    return f"""
    WITH cb AS ({duck_pq_codebook_sql(corpus, m, k_codes, iters)}),
    cents AS ({cent}),
    cassign AS ({duck_assign_sql(
        corpus, centroid_sql="SELECT * FROM cents")}),
    ncode AS ({_duck_pq_asg_sql(f'SELECT * FROM {corpus}', m)}),
    qassign AS ({qassign}),
    qsubs AS ({_duck_pq_subs_sql(
        f'SELECT * FROM {corpus} WHERE {query_pred}', m)}),
    contrib AS (
      SELECT qa.vec_id AS query_id, ca.vec_id AS neighbor_id, q.sub_id,
             {duck_l2sq_sql('q.sv', 'c.centroid')} AS d
      FROM qassign qa
      JOIN cassign ca ON ca.centroid_id = qa.centroid_id
      JOIN qsubs q ON q.vec_id = qa.vec_id
      JOIN ncode n ON n.vec_id = ca.vec_id AND n.sub_id = q.sub_id
      JOIN cb c ON c.sub_id = q.sub_id AND c.code_id = n.code_id
    ),
    {_duck_adc_rank_sql(k)}
    """


def duck_pq_encode_sql(
    corpus: str = "embeddings", m: int = 4, k: int = 16, iters: int = 2
) -> str:
    """DuckDB twin of :func:`pq_encode` over the
    :func:`duck_pq_codebook_sql`-trained codebooks. Returns
    ``(vec_id, codes)``."""
    cb = duck_pq_codebook_sql(corpus, m, k, iters)
    dist = duck_l2sq_sql("a.sv", "c.centroid")
    return f"""
    WITH cb AS ({cb}),
    subs AS ({_duck_pq_subs_sql(f'SELECT * FROM {corpus}', m)}),
    asg AS (
      SELECT vec_id, sub_id, code_id FROM (
        SELECT a.vec_id, a.sub_id, c.code_id,
               row_number() OVER (PARTITION BY a.vec_id, a.sub_id
                                  ORDER BY {dist}, c.code_id) AS rk
        FROM subs a JOIN cb c USING (sub_id)
      ) WHERE rk = 1
    )
    SELECT vec_id, list(code_id ORDER BY sub_id) AS codes
    FROM asg GROUP BY vec_id
    """
