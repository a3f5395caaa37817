"""Custom-connector queries (q253, q258): the Spark 4 Python
DataSource API surfaced through the driver contract — registration,
filter pushdown into Python, partition-parallel generation, a join
back to warehouse tables (``sources/pydatasource.py``) — and the
STREAMING half of the same connector executed as a real Structured
Streaming job (q258, VERDICT r9 #5).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import pydatasource as pds
from ..sources.readers import ensure_session_confs, load_table
from ..streaming.drain import sink_name
from .registry import query

#: q253's telemetry shape: one sensor per nation key so the join is
#: total, two months of days with the middle 30 pushed down
_SENSORS, _DAYS, _SLOTS = 25, 60, 24
_DAY_LO, _DAY_HI = 20, 49


def _q253_oracle() -> str:
    # constants derive from the source module so the two texts
    # cannot drift (the q246 estimator-constant convention)
    formula = (
        f"(s.sensor * {pds.READING_MULT_SENSOR}"
        f" + d.day * {pds.READING_MULT_DAY}"
        f" + t.slot * {pds.READING_MULT_SLOT}) % {pds.READING_MOD}"
    )
    return f"""
    WITH telem AS (
      SELECT s.sensor, d.day, t.slot,
             {formula} AS reading
      FROM range(0, {_SENSORS}) s(sensor),
           range({_DAY_LO}, {_DAY_HI} + 1) d(day),
           range(0, {_SLOTS}) t(slot))
    SELECT CAST(n.n_regionkey AS BIGINT) AS region_key,
           CAST(COUNT(*) AS BIGINT) AS n_readings,
           CAST(SUM(reading) AS BIGINT) AS sum_reading,
           CAST(MIN(reading) AS BIGINT) AS min_reading,
           CAST(MAX(reading) AS BIGINT) AS max_reading
    FROM telem JOIN nation n ON telem.sensor = n.n_nationkey
    GROUP BY 1
    ORDER BY 1
    """


@query("q253_python_datasource_scan", oracle=_q253_oracle())
def q253_python_datasource_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CUSTOM CONNECTOR through the driver contract: a Python
    DataSource (Spark 4 ``pyspark.sql.datasource``) registered at
    query time, scanned with FILTER PUSHDOWN INTO PYTHON (the day
    bounds are consumed by ``pushFilters`` and shrink each shard's
    generation loop — no residual day predicate survives in the
    plan), joined broadcast to the nation dimension, and rolled up
    per region with exact integer aggregates.

    The oracle regenerates the identical telemetry from the shared
    closed-form formula with DuckDB ``range()`` joins, so the hash
    checks the ENTIRE connector path — registration → pushdown →
    one-InputPartition-per-sensor parallel generation → Arrow batch
    return → join → aggregate — with zero tolerance. The streaming
    twin of the source (one day per micro-batch, replayable offsets)
    is exercised in ``tests/test_pydatasource.py``.

    Scale: a connector's scan parallelism is its ``partitions()``
    list — 25 sensor shards here, one per executor slot, exactly the
    way a file source splits by file; pushdown happens BEFORE
    scheduling, so pruned shards never become tasks. The dimension
    join broadcasts (25 rows); one exchange for the final region
    rollup. This is the template for attaching any internal service
    or simulator as a first-class table at 100 TB: no driver-side
    materialization anywhere.
    """
    ensure_session_confs(spark)
    pds.register_telemetry_source(spark)
    telem = (
        spark.read.format("synthetic_telemetry")
        .option("sensors", str(_SENSORS))
        .option("days", str(_DAYS))
        .option("slots", str(_SLOTS))
        .load()
        .filter(
            (F.col("day") >= _DAY_LO) & (F.col("day") <= _DAY_HI)
        )
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    return (
        telem.join(
            nation,
            telem.sensor == nation.n_nationkey,
        )
        .groupBy(F.col("n_regionkey").cast("long").alias("region_key"))
        .agg(
            F.count("*").alias("n_readings"),
            F.sum("reading").alias("sum_reading"),
            F.min("reading").alias("min_reading"),
            F.max("reading").alias("max_reading"),
        )
        .orderBy("region_key")
    )


#: q258's stream shape: every nation-keyed sensor, ten days replayed
#: ONE DAY PER MICRO-BATCH by the connector's stream reader
_STREAM_DAYS = 10


def _q258_oracle() -> str:
    formula = (
        f"(s.sensor * {pds.READING_MULT_SENSOR}"
        f" + d.day * {pds.READING_MULT_DAY}"
        f" + t.slot * {pds.READING_MULT_SLOT}) % {pds.READING_MOD}"
    )
    return f"""
    WITH telem AS (
      SELECT s.sensor, d.day, t.slot,
             {formula} AS reading
      FROM range(0, {_SENSORS}) s(sensor),
           range(0, {_STREAM_DAYS}) d(day),
           range(0, {_SLOTS}) t(slot))
    SELECT CAST(n.n_regionkey AS BIGINT) AS region_key,
           CAST(COUNT(DISTINCT telem.sensor) AS BIGINT) AS n_sensors,
           CAST(SUM(reading) AS BIGINT) AS sum_reading,
           CAST(MIN(reading) AS BIGINT) AS min_reading,
           CAST(MAX(reading) AS BIGINT) AS max_reading
    FROM telem JOIN nation n ON telem.sensor = n.n_nationkey
    GROUP BY 1
    ORDER BY 1
    """


@query("q258_python_datasource_stream", oracle=_q258_oracle())
def q258_python_datasource_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The connector's STREAMING half executed as a real Structured
    Streaming job (VERDICT r9 #5 — q253 proves the batch scan; this
    proves the ``SimpleDataSourceStreamReader`` twin end-to-end):
    ``readStream.format("synthetic_telemetry")`` replays ten days one
    day per micro-batch with monotone replayable offsets, a streaming
    aggregation folds per-sensor exact integer stats across batches
    (complete mode — state is one row per sensor), and once every
    sensor's count reaches the deterministic total the query stops
    and the 25-row sink is joined broadcast to nation for the region
    rollup the oracle regenerates from the shared closed-form
    formula. Zero tolerance: registration → offset advance →
    micro-batch generation → cross-batch state fold → Arrow return
    all sit under the hash.

    ``availableNow`` over a SIMPLE stream reader drains only the
    prefetched first batch (the documented engine behavior,
    ``sources/pydatasource.py``), so the finite drain polls a running
    continuous-trigger query until the deterministic row totals land
    — the same protocol as ``tests/test_pydatasource.py``.

    Scale: streaming state is ONE row per sensor (25 here; bounded by
    key cardinality, not data); the source's prefetch/replay contract
    (``readBetweenOffsets``) is exactly what a restarted 1000-executor
    job uses to re-emit an uncommitted range — exactly-once without
    any sink-side dedup.
    """
    import time

    ensure_session_confs(spark)
    pds.register_telemetry_source(spark)
    stream = (
        spark.readStream.format("synthetic_telemetry")
        .option("sensors", str(_SENSORS))
        .option("days", str(_STREAM_DAYS))
        .option("slots", str(_SLOTS))
        .load()
        .groupBy("sensor")
        .agg(
            F.count("*").alias("n_readings"),
            F.sum("reading").alias("sum_reading"),
            F.min("reading").alias("min_reading"),
            F.max("reading").alias("max_reading"),
        )
    )
    # one named memory sink per query (bench ×3 re-invokes it): the
    # slot lives in ``streaming.drain._SINK_SLOTS``
    name = sink_name(spark, "q258")
    per_sensor = _STREAM_DAYS * _SLOTS
    ckpt = tempfile.TemporaryDirectory(
        prefix="q258_ckpt_", ignore_cleanup_errors=True
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt.name)
        .start()
    )
    try:
        deadline = time.time() + 300
        while time.time() < deadline:
            done = (
                spark.table(name)
                .filter(F.col("n_readings") == per_sensor)
                .count()
            )
            if done == _SENSORS:
                break
            time.sleep(0.5)
        else:
            raise TimeoutError(
                "q258: stream did not reach the deterministic "
                f"per-sensor total {per_sensor} within 300s"
            )
    finally:
        q.stop()
        ckpt.cleanup()
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    folded = spark.table(name)
    return (
        folded.join(
            F.broadcast(nation),  # kept: q258 flips build side (sf0.1)
            folded.sensor == nation.n_nationkey,
        )
        .groupBy(F.col("n_regionkey").cast("long").alias("region_key"))
        .agg(
            F.count("*").alias("n_sensors"),
            F.sum("sum_reading").alias("sum_reading"),
            F.min("min_reading").alias("min_reading"),
            F.max("max_reading").alias("max_reading"),
        )
        .orderBy("region_key")
    )
