"""Scale techniques: bucketed co-located joins and skew salting.

These are the two levers SURVEY §4 lists as the engine's answer to
the reference's manual physical tricks (staging tables, thread pools)
when the data is 1000× bigger than any single node:

- **Bucketing** pre-shuffles a table ONCE at write time; every
  subsequent equi-join/aggregation on the bucket key skips its
  exchange entirely. The write is Spark's `bucketBy` (hash of the
  key mod n buckets, hive-compatible layout).
- **Salting** splits a hot join key into `salt` sub-keys: the skewed
  side gets a random salt, the small side is exploded `salt`× so
  every sub-key still matches. Turns one straggler task into `salt`
  even tasks. (AQE's skew-join split handles *sort-merge* skew
  automatically; salting is the explicit form that also works for
  aggregations and pre-AQE plans.)

Two size-conditioned devices sit beside them: ``spread_scan`` fans a
narrow scan out across the cores only when it is narrow, and
``driver_rows`` / ``local_frame`` keep data that fits under the
session's broadcast bar on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (+ optionally sorted) table.

    Joins and groupBys on ``bucket_cols`` between tables bucketed the
    same way run exchange-free (verified by plan assertion in
    tests/test_scale.py). Sorting within buckets additionally enables
    sort-merge joins without a per-query sort. ``path`` makes the
    table EXTERNAL at that location (catalog entry still required —
    bucketing metadata lives in the catalog, not the files — but the
    warehouse dir is then never written).
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if path is not None:
        writer = writer.option("path", path)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def spread_scan(
    df: DataFrame,
    cols: list[str] | None = None,
    by: list[str] | None = None,
) -> DataFrame:
    """Fan a narrow-parallelism scan out across the session's cores —
    conditionally.

    The test/bench parquet ships as ONE file with ONE row group per
    table, so a scan is a single task and every CPU-bound expression
    chain downstream (decimal folds, md5 pipelines, interpreted HOFs)
    runs serially no matter how many cores the session has. A pinned
    ``repartition`` fixes that locally but at warehouse scale —
    thousands of input splits — it would be a pure extra shuffle of
    every row. So: repartition ONLY when the planned scan has fewer
    partitions than ``sparkContext.defaultParallelism`` (the
    single-giant-row-group regime), and project first (``cols``) so
    the exchange carries only the needed columns — column pruning
    does not reach through a round-robin exchange, and shuffling the
    full row width costs ~40% on a 7-of-16-column aggregate.

    ``by``: hash-partition on these columns instead of round-robin so
    a downstream groupBy/join on the same key reuses the exchange
    (hashpartitioning satisfies its ClusteredDistribution — one
    shuffle total, same as the unconditioned plan).

    The partition probe (``df.rdd.getNumPartitions()``) plans the
    subtree without running a job — driver-side ~50 ms on a fresh
    frame. It runs on the INPUT frame, before the ``cols``
    projection: a projection never changes the split count, and
    probing the caller's frame lets ``DataFrame.rdd``'s per-object
    memoization absorb the cost when callers hand in a shared frame
    (``load_table``'s session-memoized scans — r13; a fresh
    ``select`` object each build re-paid the planning every time).
    """
    cores = df.sparkSession.sparkContext.defaultParallelism
    spread = df.rdd.getNumPartitions() < cores
    if cols is not None:
        df = df.select(*cols)
    if not spread:
        return df
    if by:
        return df.repartition(cores, *[F.col(c) for c in by])
    return df.repartition(cores)


def driver_rows(df: DataFrame) -> int:
    """How many rows of ``df`` may be collected to the driver: 0 when
    its Catalyst size estimate (``optimizedPlan().stats().sizeInBytes``)
    is over the session's broadcast bar,
    ``spark.sql.autoBroadcastJoinThreshold`` (-1 = never), else the
    bar divided by Catalyst's own per-row size (8 bytes of row header
    plus each column type's default size).

    The sibling of :func:`spread_scan`'s partition probe: the bar the
    planner already uses to ship a join side to every executor is the
    bar for pulling a frame to the driver, so the choice adds no knob
    and moves with the session's setting. Plans only — no job. An
    estimate can be low (a filter the optimizer cannot size), so the
    caller bounds its collect with the returned cap
    (``df.limit(cap + 1)``) and falls back when the cap is hit.
    """
    jdf = df._jdf  # noqa: SLF001
    conf = jdf.sparkSession().sessionState().conf()
    bar = conf.autoBroadcastJoinThreshold()
    stats = jdf.queryExecution().optimizedPlan().stats()
    if bar < 0 or int(stats.sizeInBytes()) > bar:
        return 0
    return bar // (8 + jdf.schema().defaultSize())


def local_frame(
    spark: SparkSession, rows: list, schema: T.StructType | str
) -> DataFrame:
    """A driver-built constant table as a ``LocalRelation``.

    ``createDataFrame(<list>)`` parallelizes the rows into an RDD:
    the frame is a ``LogicalRDD`` and every action on it pays a job
    to read them back (a 31-row noop write: 0.355 s against 0.066 s,
    4 cores). Built through Arrow, the rows travel to the JVM once
    and land in a ``LocalRelation``: the optimizer folds projections
    and filters over it on the driver, sizes it exactly for a
    broadcast, and a collect reads it without a job. ``schema`` (a
    ``StructType`` or DDL string) is required — no inference pass
    over the rows, and an empty ``rows`` keeps its column types.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)  # noqa: SLF001
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: list[str],
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where ``skewed`` has hot keys: salt the skewed side
    with ``pmod(hash(monotonically_increasing_id), salt)`` (cheap,
    uniform, no RNG nondeterminism across retries) and replicate the
    small side ``salt``×.

    Output columns = the natural join's (salt column dropped).
    ``small`` should be the dimension side — its row count multiplies
    by ``salt``.

    ``inner``/``left``/``left_semi``/``left_anti`` only: the salted
    skewed side matches exactly one replica, so skewed-side rows
    (matched or not) emit once. Right/full outer would emit ``salt``
    null-extended copies of every UNMATCHED small-side row — one per
    replica — so those modes raise (ADVICE r7, mirroring
    :func:`hot_salted_join`'s guard).
    """
    # every Spark spelling of the safe modes (JoinType.apply's
    # aliases): inner, left/leftouter, semi/leftsemi, anti/leftanti
    if how.lower().replace("_", "") not in (
        "inner",
        "left",
        "leftouter",
        "semi",
        "leftsemi",
        "anti",
        "leftanti",
    ):
        raise ValueError(
            "salted_join replicates the small side %d x; %r would "
            "emit duplicate null-extended rows for unmatched small-"
            "side keys — use inner/left/left_semi/left_anti" % (salt, how)
        )
    sk = skewed.withColumn(
        "__salt",
        F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(salt)),
    )
    sm = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return sk.join(sm, on + ["__salt"], how).drop("__salt")


def hot_salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: list[str],
    salt: int = 8,
    hot_threshold: int = 100_000,
    how: str = "inner",
) -> DataFrame:
    """:func:`salted_join` that salts ONLY the hot keys.

    Blanket salting replicates the whole dimension ``salt``x — fine
    for a broadcastable build side, wasteful when the dimension is
    merely small-ish. The sharper treatment (what AQE's skew-join
    split does at stage boundaries, done deterministically in the
    logical plan): count keys on the skewed side (map-side partial
    fold — the probe exchange carries one row per DISTINCT key, not
    data), call keys above ``hot_threshold`` hot, and split the
    join: the hot slice salts against only the hot rows of the
    dimension (replicated ``salt``x — by the skew premise this is a
    HANDFUL of rows), the cold slice joins normally. The hot-key
    set broadcasts to both splits.

    Inner joins only: an outer split-union would double-emit
    unmatched rows. The probe is exact; at 100 TB swap in a sampled
    count with a scaled threshold if even the key-cardinality fold
    is too hot (documented, not implemented — exactness keeps the
    oracle story clean).

    Output columns = the natural join's, like :func:`salted_join`.
    """
    if how != "inner":
        raise ValueError("hot_salted_join supports inner joins only")
    hot_keys = (
        skewed.groupBy(*on)
        .agg(F.count("*").alias("__n"))
        .where(F.col("__n") >= hot_threshold)
        .select(*on)
    )
    hot_keys = F.broadcast(hot_keys)  # kept: q239 +3 shuffles (1 MiB)
    sk_hot = skewed.join(hot_keys, on, "left_semi")
    sk_cold = skewed.join(hot_keys, on, "left_anti")
    sm_hot = small.join(hot_keys, on, "left_semi")
    hot_part = salted_join(sk_hot, sm_hot, on, salt=salt, how="inner")
    cold_part = sk_cold.join(small, on, "inner")
    return hot_part.unionByName(cold_part)


def global_row_index(
    df: DataFrame,
    order_cols: list,
    index_name: str = "__rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """1-based global row index in ``order_cols`` order WITHOUT a
    single-partition window — the scalable form of ``row_number()
    OVER (ORDER BY ...)``.

    A bare global window serializes the whole dataset through one
    task (Spark's WindowExec warns, and at 100 TB it simply dies).
    This operator does what distributed ORDER BY itself does:

    1. ``repartitionByRange`` on the ordering key (sampled range
       boundaries — the same machinery as SortExec's exchange),
    2. ``row_number`` within each range partition (a PARTITIONED
       window — every task ranks only its slice),
    3. per-partition row counts (tiny: one row per partition,
       collected to the driver) → cumulative offsets,
    4. broadcast-join the offsets back; global index = offset +
       local rank.

    Deterministic regardless of where the sampled boundaries land,
    provided ``order_cols`` is a total order (include a unique
    tiebreaker): the index of a row equals the number of rows before
    it in that order, which no partition placement can change.

    Consistency (load-bearing — do not "simplify" to a persist):
    range boundaries are RE-SAMPLED on every execution of the
    exchange, so the offsets and every later execution of the result
    must read the SAME materialized partitioning or indices silently
    shift. ``localCheckpoint(eager=True)`` is the one primitive with
    the right failure mode: lineage is SEVERED, so re-running the
    sampled exchange is impossible — consumers either read the
    materialized partitions or fail loudly (a ``persist`` merely
    hints: evicted blocks silently recompute with fresh boundaries,
    which produced duplicate indices under cache pressure/eviction —
    round-4 review repro). Storage lifetime is owned by the JVM
    ContextCleaner through the plan's real references — nothing to
    release by hand, no cross-invocation state. (Exchange reuse
    cannot replace it: ``spark_partition_id`` is nondeterministic,
    so the offsets and ranking branches never canonicalize equal and
    each would re-execute the exchange.)

    Cost: one range exchange materialized to executor storage (the
    same footprint distributed ORDER BY pays) + the per-partition
    window + a metadata-sized count collect — all fully parallel;
    nothing ever funnels through one task.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]

    ranged = (
        df.repartitionByRange(n, *cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )

    counts = ranged.groupBy("__pid").agg(F.count("*").alias("__cnt")).collect()
    offsets, acc = {}, 0
    for row in sorted(counts, key=lambda r: r["__pid"]):
        offsets[row["__pid"]] = acc
        acc += row["__cnt"]
    off_df = local_frame(
        spark, list(offsets.items()), "__pid int, __off long"
    )

    w = Window.partitionBy("__pid").orderBy(*cols)
    return (
        ranged.withColumn("__lrn", F.row_number().over(w))
        .join(off_df, "__pid")
        .withColumn(index_name, (F.col("__off") + F.col("__lrn")).cast("long"))
        .drop("__pid", "__lrn", "__off")
    )


def global_running_sum(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    sum_name: str = "__cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Inclusive global prefix sum of ``value_col`` in ``order_cols``
    order WITHOUT a single-partition window — the scalable form of
    ``SUM(v) OVER (ORDER BY ...)`` and the sibling of
    :func:`global_row_index` (same three-phase distributed-scan
    construction, same determinism and ``localCheckpoint`` contract;
    see that docstring for why a persist is NOT equivalent):

    1. range-partition on the ordering key,
    2. per-partition inclusive running sum (partitioned window),
    3. per-partition TOTALS (one row each, collected) → cumulative
       offsets, broadcast back; global prefix = offset + local.

    ``order_cols`` must be a total order (include a tiebreaker) or
    the prefix at ties is partition-placement-dependent.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]

    ranged = (
        df.repartitionByRange(n, *cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    totals = (
        ranged.groupBy("__pid").agg(F.sum(value_col).alias("__tot")).collect()
    )
    offsets, acc = {}, 0
    for row in sorted(totals, key=lambda r: r["__pid"]):
        offsets[row["__pid"]] = acc
        acc += row["__tot"] or 0
    off_df = local_frame(
        spark, list(offsets.items()), "__pid int, __off long"
    )

    w = (
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ranged.withColumn("__lcum", F.sum(value_col).over(w))
        .join(off_df, "__pid")
        .withColumn(sum_name, (F.col("__off") + F.col("__lcum")).cast("long"))
        .drop("__pid", "__lcum", "__off")
    )
