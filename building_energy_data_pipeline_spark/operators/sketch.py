"""Count-min sketch — sublinear-memory frequency estimation.

The streaming/sketch complement to the exact two-pass heavy-hitter
miner (``plans/training_queries.py`` q131): a d×w counter grid whose
per-token estimate ``min_r grid[r][h_r(tok)]`` NEVER underestimates
and overestimates by at most ‖stream‖/w per row with probability
1−2^−d (Cormode & Muthukrishnan 2005). Where q131 needs a second
exact pass over the corpus, the sketch answers point queries from
d·w integers — the shape that merges across streams/partitions by
plain addition, so it drops into `foreachBatch` maintenance
(q126's pattern) unchanged.

Hashes are the engine's md5 convention (``functions/hashing.py``), so
the DuckDB twins replay the exact grid.

Scale: the build explodes each token to its d (row, bucket) cells,
but partial aggregation collapses every task's contribution to at
most d·w rows BEFORE the exchange — the shuffle carries sketch-sized
partials regardless of corpus size, and the grid itself broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import duck_u32, spark_u32

#: default grid: 4 rows × 256 buckets (ε ≈ e/256, δ ≈ 2⁻⁴)
CMS_D = 4
CMS_W = 256


def _bucket_expr(token_expr: str, row_expr: str, w: int) -> str:
    """Spark SQL: md5-derived bucket of ``token_expr`` under hash row
    ``row_expr`` (independent rows via the hash salt)."""
    return f"{spark_u32(token_expr, salt=row_expr)} % {w}"


def duck_bucket_sql(token_expr: str, row_expr: str, w: int) -> str:
    """DuckDB twin of :func:`_bucket_expr`."""
    return f"{duck_u32(token_expr, salt=row_expr)} % {w}"


def countmin_build(
    tokens: DataFrame,
    token_col: str = "tok",
    d: int = CMS_D,
    w: int = CMS_W,
) -> DataFrame:
    """Build the d×w counter grid over a token stream (one row per
    token occurrence). Returns ``(row_id int, bucket bigint, c
    bigint)`` — at most d·w rows, broadcastable by construction.

    The per-token explode is d small integers (never the token
    string d times); map-side combine bounds every task's exchange
    contribution at d·w partial counters.
    """
    cells = tokens.select(
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {d} - 1),"
                f" r -> {_bucket_expr(token_col, 'r', w)})"
            )
        ).alias("row_id", "bucket")
    )
    return cells.groupBy("row_id", "bucket").agg(
        F.count("*").cast("long").alias("c")
    )


def countmin_estimate(
    grid: DataFrame,
    probes: DataFrame,
    token_col: str = "tok",
    d: int = CMS_D,
    w: int = CMS_W,
) -> DataFrame:
    """Point-query the sketch for every probe token: ``cms_est`` =
    the minimum counter across the token's d cells (the CMS upper
    bound on its true frequency). Probe side explodes to d cell
    keys and joins the broadcast grid — map-only."""
    keyed = probes.select(
        "*",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {d} - 1),"
                f" r -> {_bucket_expr(token_col, 'r', w)})"
            )
        ).alias("row_id", "bucket"),
    )
    other = [c for c in probes.columns if c != token_col]
    # LEFT join + coalesce-0: a probe token the stream never touched
    # has empty cells, i.e. counters of ZERO — an inner join would
    # drop those cells and report min-over-present (overestimating a
    # never-seen token, or losing it entirely when all d cells are
    # empty) instead of the correct estimate 0
    return (
        keyed.join(grid, ["row_id", "bucket"], "left")
        .groupBy(token_col, *other)
        .agg(F.min(F.coalesce("c", F.lit(0))).alias("cms_est"))
    )


def duck_countmin_sql(
    token_stream_sql: str,
    top_n: int = 20,
    d: int = CMS_D,
    w: int = CMS_W,
) -> str:
    """DuckDB twin of build → exact-top-N probe → estimate: given a
    ``SELECT ... tok`` stream, emits ``(tok, exact_c, cms_est,
    overestimate)`` for the exact top-``top_n`` tokens (count desc,
    token text tiebreak). ``overestimate ≥ 0`` is the CMS guarantee
    the oracle hash pins."""
    bucket_build = duck_bucket_sql("tok", "r", w)
    bucket_probe = duck_bucket_sql("e.tok", "t.r", w)
    return f"""
    WITH toks AS ({token_stream_sql}),
    counters AS (
      SELECT CAST(r AS INT) AS row_id, {bucket_build} AS bucket,
             COUNT(*) AS c
      FROM toks, unnest(range(0, {d})) t(r)
      GROUP BY 1, 2),
    exact AS (
      SELECT tok, COUNT(*) AS exact_c FROM toks
      GROUP BY tok ORDER BY exact_c DESC, tok LIMIT {top_n}),
    est AS (
      SELECT e.tok, e.exact_c, MIN(c.c) AS cms_est
      FROM exact e, unnest(range(0, {d})) t(r)
      JOIN counters c
        ON c.row_id = CAST(t.r AS INT) AND c.bucket = {bucket_probe}
      GROUP BY e.tok, e.exact_c)
    SELECT tok, exact_c, cms_est, cms_est - exact_c AS overestimate
    FROM est
    """


# ---------------------------------------------------------------------------
# HyperLogLog — sublinear-memory distinct counting
# ---------------------------------------------------------------------------

#: registers per group (2^6 buckets — ~13% relative error, the demo
#: setting; production uses 2^11+ by raising HLL_P)
HLL_P = 6
HLL_M = 1 << HLL_P
#: Flajolet et al. 2007 bias constant for m = 64
HLL_ALPHA = "cast(0.709 as double)"

#: rho slice width: the SECOND 8-hex md5 slice gives 32 hash bits,
#: so rho ∈ [1, 33] and 2^(33-rho) is BIGINT-exact — the register
#: fold stays integer until the single final division
_HLL_RHO_BITS = 33
_HLL_POW = 1 << _HLL_RHO_BITS  # 2^33, the register-0 contribution


def hll_registers(
    values: DataFrame,
    value_col: str = "tok",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Fold a value stream to per-group HLL registers ``(…group,
    bucket int, register int)`` — at most ``HLL_M`` rows per group.

    The cardinality twin of :func:`countmin_build` (frequency):
    bucket = first md5 slice mod m, register = max over the group of
    ``rho`` (position of the highest set bit in the second 32-bit md5
    slice, counted from the left: ``33 - length(bin(v))``, 33 for
    v = 0). Registers merge across partitions / streams / days by
    plain MAX — the mergeable-sketch shape — and map-side combine
    bounds every task's exchange contribution at groups·m rows no
    matter the stream size.

    Hashes follow the engine's md5 convention (``functions/hashing.py``)
    so DuckDB replays the exact register state.
    """
    g = group_cols or []
    bucket = f"{spark_u32(value_col)} % {HLL_M}"
    v32 = spark_u32(value_col, half=1)
    rho = (
        f"case when {v32} = 0 then {_HLL_RHO_BITS}"
        f" else {_HLL_RHO_BITS} - length(bin({v32})) end"
    )
    return (
        values.select(
            *g,
            F.expr(bucket).alias("bucket"),
            F.expr(rho).alias("rho"),
        )
        .groupBy(*g, "bucket")
        .agg(F.max("rho").alias("register"))
    )


def hll_estimate(
    registers: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Collapse per-group registers to ``hll_est`` (+ ``reg_checksum``
    pinning the full register state). Integer-exact until the end:
    the harmonic sum is ``Σ 2^(33-M_j)`` as BIGINT (absent buckets
    contribute 2^33 each), with ONE double division for the raw
    estimate and Flajolet's linear-counting fallback below 2.5m when
    empty registers remain. ``floor(x + 0.5)`` rounding — not
    ``round()`` — because the two engines disagree on tie behavior.
    """
    g = group_cols or []
    agg = registers.groupBy(*g).agg(
        F.count("*").alias("npresent"),
        F.sum(
            F.expr(f"shiftleft(cast(1 as bigint), {_HLL_RHO_BITS} - register)")
        ).alias("s_present"),
        F.sum(F.expr("bucket * register")).alias("reg_checksum"),
    )
    s = f"(s_present + ({HLL_M} - npresent) * cast({_HLL_POW} as bigint))"
    raw = (
        f"{HLL_ALPHA} * {HLL_M}.0 * {HLL_M}.0 * {_HLL_POW}.0"
        f" / cast({s} as double)"
    )
    v = f"({HLL_M} - npresent)"
    est = (
        f"case when {raw} <= {2.5 * HLL_M} and {v} > 0"
        f" then {HLL_M}.0 * ln({HLL_M}.0 / {v}) else {raw} end"
    )
    return agg.select(
        *g,
        F.expr(f"cast(floor({est} + 0.5) as bigint)").alias("hll_est"),
        "reg_checksum",
    )


def duck_hll_sql(stream_sql: str, group_col: str) -> str:
    """DuckDB twin of registers → estimate over a ``SELECT {group},
    tok`` stream: ``({group}, exact_distinct, hll_est, err_bp,
    reg_checksum)`` — the exact distinct count rides along so the
    oracle hash pins the estimate AND its error (in floor'd basis
    points, integer-safe)."""
    m, bits, pw = HLL_M, _HLL_RHO_BITS, _HLL_POW
    alpha = HLL_ALPHA  # one source for the bias constant (m-dependent)
    v32 = duck_u32("tok", half=1)
    return f"""
    WITH stream AS ({stream_sql}),
    slices AS (
      SELECT {group_col} AS g,
             {duck_u32("tok")} % {m} AS bucket,
             CASE WHEN {v32} = 0 THEN {bits}
                  ELSE {bits} - length(bin({v32})) END AS rho
      FROM stream),
    regs AS (
      SELECT g, bucket, MAX(rho) AS register FROM slices GROUP BY 1, 2),
    folded AS (
      SELECT g, COUNT(*) AS npresent,
             CAST(SUM((CAST(1 AS BIGINT) << ({bits} - register)))
                  AS BIGINT) AS s_present,
             CAST(SUM(bucket * register) AS BIGINT) AS reg_checksum
      FROM regs GROUP BY g),
    est AS (
      SELECT g, reg_checksum,
        CAST(floor(
          CASE WHEN {alpha} * {m}.0 * {m}.0 * {pw}.0
                    / CAST(s_present + ({m} - npresent)
                           * CAST({pw} AS BIGINT) AS DOUBLE)
                 <= {2.5 * m} AND ({m} - npresent) > 0
          THEN {m}.0 * ln({m}.0 / ({m} - npresent))
          ELSE {alpha} * {m}.0 * {m}.0 * {pw}.0
               / CAST(s_present + ({m} - npresent)
                      * CAST({pw} AS BIGINT) AS DOUBLE)
          END + 0.5) AS BIGINT) AS hll_est
      FROM folded),
    exact AS (
      SELECT {group_col} AS g, COUNT(DISTINCT tok) AS exact_distinct
      FROM stream GROUP BY 1)
    SELECT e.g AS {group_col}, x.exact_distinct, e.hll_est,
           CAST(floor((e.hll_est - x.exact_distinct) * 10000.0
                      / x.exact_distinct) AS BIGINT) AS err_bp,
           e.reg_checksum
    FROM est e JOIN exact x USING (g)
    """
