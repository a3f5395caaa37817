"""Structured Streaming ingestion (SURVEY §2.11, §7 phase 7).

The reference is batch-only; its ±1 h overlap tolerance
(``src/data_loading/data_loader.py:389``) and UNIQUE constraint
(``:681-728``) are the batch approximations of what streaming states
directly:

- late-data tolerance  → ``withWatermark(ts, "1 hour")``
- unique (ts, building_id, meter) → ``dropDuplicatesWithinWatermark``
- idempotent file loads → file-source exactly-once tracking + the
  parquet sink's checkpointed commit log

Scale: state held per key only within the watermark horizon; the file
source lists incrementally (``maxFilesPerTrigger`` throttles a 100 TB
backlog); every transform below is also valid on a batch DataFrame —
the same logical plan serves both (tested that way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..etl.loader import TIMESTAMPS, time_bounds, time_window

#: the long fact-table schema (SURVEY §1.2 `raw`)
RAW_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("building_id", T.StringType()),
        T.StructField("meter", T.StringType()),
        T.StructField("meter_reading", T.DoubleType()),
    ]
)

UNIQUE_KEYS = ["timestamp", "building_id", "meter"]
TOLERANCE = "1 hour"


def read_meter_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of raw-shaped records. Spark tracks seen
    files in the checkpoint — the streaming form of the reference's
    skip-if-exists download gate (``zenodo_client.py:44-50``)."""
    reader = spark.readStream.schema(RAW_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.format(fmt).load(path)


def dedup_stream(df: DataFrame, tolerance: str = TOLERANCE) -> DataFrame:
    """The streaming overlap gate: watermark bounds how late a record
    may arrive (the reference's ±1 h), and duplicates on the unique
    key are dropped while their key is inside the watermark — the
    streaming equivalent of C5's UNIQUE constraint + J1's gate.

    State size = keys seen within the horizon, evicted by watermark —
    bounded regardless of stream length.
    """
    return df.withWatermark("timestamp", tolerance).dropDuplicatesWithinWatermark(
        UNIQUE_KEYS
    )


def windowed_rollup(
    df: DataFrame,
    window: str = "1 hour",
    tolerance: str = TOLERANCE,
) -> DataFrame:
    """Tumbling-window per-building/meter aggregate — the streaming
    twin of the batch hourly rollup (plans/queries.py q25).

    Output: window_start, building_id, meter, n_readings,
    sum_reading, avg_reading. Late rows beyond the watermark are
    dropped; on-time late rows update their window (append mode emits
    a window once its watermark passes).
    """
    return (
        df.withWatermark("timestamp", tolerance)
        .groupBy(
            F.window("timestamp", window).alias("w"),
            "building_id",
            "meter",
        )
        .agg(
            F.count("*").alias("n_readings"),
            F.sum("meter_reading").alias("sum_reading"),
            F.avg("meter_reading").alias("avg_reading"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "building_id",
            "meter",
            "n_readings",
            "sum_reading",
            "avg_reading",
        )
    )


def write_stream_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: list[str] | None = None,
    query_name: str | None = None,
):
    """Checkpointed parquet sink, started with the ``availableNow``
    trigger: it drains the backlog then stops — the batch-compatible
    trigger used in tests and backfills. Returns the started query;
    the caller awaits it. ``query_name`` labels the stream for
    progress events (``ops.observe.StreamingMetricsRecorder``)."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if query_name:
        writer = writer.queryName(query_name)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    return writer.trigger(availableNow=True).start()


def write_stream_idempotent(
    df: DataFrame,
    path: str,
    table_type: str,
    unique_keys: list,
    checkpoint: str,
    tolerance: str = TOLERANCE,
    partition_by: list | None = None,
):
    """``foreachBatch`` sink with ROW-level idempotence: each
    micro-batch is deduped within itself on the unique key, then
    anti-joined against the rows already in the warehouse, and only
    the genuinely new rows are appended — the streaming form of the
    reference's UNIQUE constraint (C5) + overlap gate (J1).

    The batch loader's whole-batch rejection (``write_idempotent``)
    is the right policy for FILE-grain replay (a re-delivered file is
    all-or-nothing); for a continuous stream it would deadlock
    ingestion — any batch within ±tolerance of already-loaded data
    (i.e. every batch, at any cadence ≤ tolerance) would be dropped.
    Row-level anti-join keeps liveness AND makes a replayed batch
    (retry after checkpoint loss, re-delivered source) a no-op
    instead of a duplicate — the same property the reference gets
    from its probe-read check (``data_loader.py:173-177``), enforced
    at finer grain.

    Scale: the anti-join prunes the existing side to the batch's
    time bounds first (predicate pushdown on min/max ts ± tolerance;
    one aggregate job per micro-batch, the bounds rendered by the
    loader's ``time_window`` so no time zone moves them), so each
    batch touches only the overlapping slice of the warehouse, not
    its history; ``partition_by`` layout makes that slice
    partition-pruned.
    """
    keys = list(unique_keys)

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        spark = batch_df.sparkSession
        fresh = batch_df.dropDuplicates(keys)
        # a missing sink is empty: ask its Hadoop FileSystem (os.path
        # is driver-local and blind to hdfs:// / s3a://), and read an
        # existing one with the batch's schema — no footer inference
        sink = spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
        conf = spark._jsparkSession.sessionState().newHadoopConf()  # noqa: SLF001
        if sink.getFileSystem(conf).exists(sink):
            existing = spark.read.schema(batch_df.schema).parquet(path)
            ts_col = next(
                (k for k in keys if k in ("timestamp", "ts")), None
            )
            ts_type = batch_df.schema[ts_col].dataType if ts_col else None
            if isinstance(ts_type, TIMESTAMPS):
                b = fresh.agg(*time_bounds(ts_col, ts_type)).first()
                if b["lo"] is not None:
                    existing = existing.filter(
                        time_window(ts_col, ts_type, b["lo"], b["hi"], tolerance)
                    )
            fresh = fresh.join(existing.select(*keys), keys, "left_anti")
        writer = fresh.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*list(partition_by))
        writer.parquet(path)

    return (
        df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    keys: list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join — the standard production shape
    for decorating an event stream with a dimension table (user →
    account tier, building → site metadata) without any streaming
    state: Spark plans a stream-static join statelessly, re-resolving
    the STATIC side per micro-batch, so the join needs no watermark
    and holds no store (contrast q100's stream-stream join, whose
    state must be watermark-bounded).

    The planner broadcasts the dimension when its size estimate is
    under the session's bar: at 100 TB of stream the static side is
    the small side by construction (a dim that doesn't fit a
    broadcast belongs in a stream-stream join or a foreachBatch
    MERGE instead). Slowly-changing dims: the static plan re-executes
    per micro-batch, but a ``spark.read.parquet(path)`` dim pins its
    file listing at read time — a rewritten directory then fails the
    next batch with FILE_NOT_EXIST. Back the dim with a CATALOG table
    (``spark.table(...)``) and run ``REFRESH TABLE`` after each
    rewrite: the next micro-batch reads the new version without
    restarting the query (unit-pinned in ``tests/test_streaming.py``;
    transactional formats — Delta/Iceberg — make the refresh
    implicit).

    ``how``: "left" keeps unmatched events (nulls for dim columns —
    the audit-friendly default); "inner" drops them.
    """
    return stream.join(dim, keys, how)
