"""Sampling strategies (SURVEY §2.9 T6–T9) — the reference's
random / systematic / stratified file samplers
(``src/schema_generator/sampling_strategies.py:45-313``) as
DataFrame operators.

Reference constants kept (``sampling_strategies.py:13-19``):
max 100 000 rows, ratio 0.005, seed 42.

Scale: `df.sample` is a per-partition Bernoulli filter (no shuffle);
systematic sampling needs a global row order so it windows over a
user-supplied order column — on a real cluster run it per partition
key or accept the sort. Stratified uses `sampleBy` (per-stratum
Bernoulli, no shuffle) with fractions from one small groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import duck_u32, spark_u32

MAX_ROWS = 100_000
SAMPLING_RATIO = 0.005  # == 1/200; integer form RATIO_DEN below
RATIO_DEN = 200
SEED = 42

#: modulus for the deterministic md5-bucket sampler — large enough that
#: integer threshold rounding (t/HASH_MOD granularity) is ≪ sampling
#: noise, small enough that t * total never overflows int64 for any
#: realistic table.
HASH_MOD = 1_000_000


def hash_bucket(col: str) -> F.Column:
    """Deterministic per-row bucket in ``[0, HASH_MOD)``: the engine's
    md5 hash (``functions/hashing.py``) of ``cast(col as string)``.
    Engine-portable — DuckDB replays it as :func:`duck_hash_bucket_sql`
    — so hash-sampled queries get a real value oracle instead of a
    rows-only check. Narrow expression, no shuffle, stays in codegen.
    """
    return F.expr(f"{spark_u32(f'cast({col} as string)')} % {HASH_MOD}")


def duck_hash_bucket_sql(col: str) -> str:
    """DuckDB twin of :func:`hash_bucket`."""
    return f"{duck_u32(f'CAST({col} AS VARCHAR)')} % {HASH_MOD}"


def hash_random_sample(df: DataFrame, key_col: str, n: int) -> DataFrame:
    """T6 (oracle-backed twin of :func:`random_sample`): deterministic
    ~``target``-row sample keeping the reference's first/last-row
    guarantee (``sampling_strategies.py:79-81``), selecting rows where
    ``bucket * total < (target-2) * HASH_MOD`` — pure integer math both
    Spark and DuckDB evaluate identically.

    ``target`` follows the reference cap chain
    (``sampling_strategies.py:13-19``): min(n, MAX_ROWS,
    total // 200) with a floor of 2 (the two endpoints).

    Scale: one count + one tiny min/max agg (broadcast to every
    partition), then a narrow filter — no shuffle of the fact table.
    """
    total = df.count()
    if total <= n:
        return df
    target = max(2, min(n, MAX_ROWS, total // RATIO_DEN))
    bounds = df.agg(
        F.min(key_col).alias("__mn"), F.max(key_col).alias("__mx")
    )
    keep = (hash_bucket(key_col) * F.lit(total)) < F.lit(
        (target - 2) * HASH_MOD
    )
    return (
        df.join(bounds)
        .where(
            keep
            | (F.col(key_col) == F.col("__mn"))
            | (F.col(key_col) == F.col("__mx"))
        )
        .drop("__mn", "__mx")
    )


def hash_stratified_sample(
    df: DataFrame, strata_col: str, key_col: str, n: int
) -> DataFrame:
    """T8 (oracle-backed twin of :func:`stratified_sample`): per-stratum
    quota ``max(1, n // #strata)`` selected by the deterministic bucket
    predicate ``bucket * stratum_size < quota * HASH_MOD`` — the
    integer-exact form of fraction ``quota/size``, capped at the full
    stratum automatically when ``quota >= size``.

    Scale: stratum sizes come from one map-side-combined groupBy whose
    result (#strata rows) broadcasts into a narrow filter join — the
    fact table itself never shuffles.
    """
    sizes = df.groupBy(strata_col).agg(F.count("*").alias("__sz"))
    n_strata = sizes.count()
    if n_strata == 0:
        return df
    quota = max(1, n // n_strata)
    return (
        df.join(sizes, strata_col)
        .where(hash_bucket(key_col) * F.col("__sz") < quota * HASH_MOD)
        .drop("__sz")
    )


def random_sample(
    df: DataFrame,
    n: int,
    order_col: str | None = None,
    seed: int = SEED,
) -> DataFrame:
    """T6: ~``n``-row Bernoulli sample that always keeps the first and
    last row (the reference's endpoint guarantee,
    ``sampling_strategies.py:79-81``), in ``order_col`` order when
    given (else file order via ``monotonically_increasing_id``).

    Row count is approximate (Bernoulli), exact ≤ cap semantics of
    the reference (min of n, MAX_ROWS, ratio·total) are preserved.
    """
    total = df.count()
    if total <= n:
        return df
    target = max(2, min(n, MAX_ROWS, int(total * SAMPLING_RATIO)))
    ordered = (
        df.withColumn("__ord", F.monotonically_increasing_id())
        if order_col is None
        else df.withColumn("__ord", F.col(order_col))
    )
    middle = ordered.sample(fraction=(target - 2) / total, seed=seed)
    first = ordered.orderBy(F.asc("__ord")).limit(1)
    last = ordered.orderBy(F.desc("__ord")).limit(1)
    return (
        middle.unionByName(first)
        .unionByName(last)
        .dropDuplicates(["__ord"])
        .drop("__ord")
    )


def systematic_sample(df: DataFrame, n: int, order_col: str) -> DataFrame:
    """T7: every ``total/n``-th row in ``order_col`` order
    (``sampling_strategies.py:156-210``). The global rank is computed
    with ``operators/scale.global_row_index`` (range partition +
    partitioned window + broadcast offsets), so the sample scales past
    the single-partition-window limit."""
    from ..operators.scale import global_row_index

    total = df.count()
    if total <= n:
        return df
    step = total // n
    return (
        global_row_index(df, [order_col], "__rn")
        .filter(F.pmod(F.col("__rn") - 1, F.lit(step)) == 0)
        .drop("__rn")
    )


def stratified_sample(
    df: DataFrame, strata_col: str, n: int, seed: int = SEED
) -> DataFrame:
    """T8: ~equal per-stratum quota (``n / #strata`` each, capped by
    stratum size — ``sampling_strategies.py:213-313``) via
    ``sampleBy`` fractions computed from one small groupBy."""
    sizes = {
        r[0]: r[1]
        for r in df.groupBy(strata_col).agg(F.count("*")).collect()
    }
    if not sizes:
        return df
    quota = max(1, n // len(sizes))
    fractions = {k: min(1.0, quota / size) for k, size in sizes.items()}
    return df.sampleBy(strata_col, fractions, seed)


def weighted_reservoir_sample(
    df: DataFrame, key_col: str, weight_col: str, n: int
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis & Spirtes
    2006 A-Res): each row draws a deterministic uniform ``u`` from
    its md5 bucket and ranks by priority ``u^(1/w)`` — implemented
    as the monotone-equivalent ``ln(u)/w`` so the power never
    overflows for tiny weights. The top-``n`` priorities ARE a
    weighted-without-replacement sample; one pass, mergeable: the
    union of two partitions' top-n re-topped is the stream's top-n,
    which is exactly what Spark's sort-limit physical plan
    (TakeOrderedAndProject) computes — per-partition heaps, no full
    sort, no full shuffle.

    Determinism: ``u`` is integer md5 math (:func:`hash_bucket`),
    and both engines' ``ln``/division produce bit-identical doubles
    for it (empirically verified over the full orders table at
    sf0.01/sf0.1 — same top-200 set AND same key bits), so DuckDB
    replays the exact sample. ``priority_floor`` (µ-scaled floor)
    rides along to pin the ordering in the oracle hash without
    exposing raw float text.
    """
    u = (hash_bucket(key_col) + 1) / F.lit(float(HASH_MOD))
    k = F.log(u) / F.col(weight_col).cast("double")
    return (
        df.withColumn("__k", k)
        .orderBy(F.desc("__k"), key_col)
        .limit(n)
        .select(
            *df.columns,
            F.floor(F.col("__k") * 1_000_000).cast("long").alias(
                "priority_floor"
            ),
        )
    )


def duck_weighted_reservoir_sql(
    table_sql: str, key_col: str, weight_col: str, n: int
) -> str:
    """DuckDB twin of :func:`weighted_reservoir_sample`."""
    u = f"({duck_hash_bucket_sql(key_col)} + 1) / {float(HASH_MOD)}"
    k = f"ln({u}) / CAST({weight_col} AS DOUBLE)"
    return f"""
    WITH base AS ({table_sql})
    SELECT * EXCLUDE (__k),
           CAST(floor(__k * 1000000) AS BIGINT) AS priority_floor
    FROM (SELECT *, {k} AS __k FROM base)
    ORDER BY __k DESC, {key_col} LIMIT {n}
    """
