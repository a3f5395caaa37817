"""SparkSession factory.

Replaces the reference's config + connection-pool bootstrap
(``src/configuration_managing/config_manager.py:80-149``,
``src/postgres_managing/postgres_manager.py:29-65``): Spark manages
executors/memory itself, so the only engine-level knobs we own are the
SQL-planner ones below.

Scale posture: every default here is chosen to survive a 1000-executor
cluster — AQE re-plans shuffle partition counts at runtime, skew-join
splitting handles hot keys, and the session timezone is pinned UTC so
timestamp semantics are cluster-independent (and DuckDB-oracle
comparable).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "building_energy_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster the ``master``/memory settings come from
    spark-submit; everything set here is cluster-size agnostic.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Python workers (UDFs, data sources) import this package by name,
    # and a driver that reached it through its own sys.path does not
    # pass that on: append the package root after any PYTHONPATH set
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in paths:
        paths.append(root)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # In local mode the driver JVM IS every executor, but Spark
        # still defaults it to 1g — the round-6 bench ran 32 tasks
        # (13 concurrent parquet writers) inside one 1 GiB heap and
        # parquet's MemoryManager throttled row-group sizes to 58-95%
        # (">95% of heap" warnings in BENCH_r06's tail; ADVICE r6).
        # Size the heap to the thread count instead. Takes effect only
        # when this call launches the JVM (first session in the
        # process); on a real cluster spark-submit owns this knob.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"),
        )
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Let the planner pick shuffled-hash over sort-merge when its
        # size conditions fit (optimization guide §3.1/§9): skips both
        # sides' sorts. Measured r13: −2…−11% on every SMJ-bearing
        # headline query (−4% aggregate), no regressions beyond noise.
        # The planner's build-side size checks still gate the choice,
        # so the at-scale OOM risk profile is the documented SHJ one;
        # ``extra_conf`` or ``spark.conf.set`` restores the old default.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # AQE: runtime shuffle-partition coalescing, skew-join splitting,
        # runtime broadcast conversion — the scale levers.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas<->Spark boundary (Pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic, oracle-comparable timestamp semantics.
        .config("spark.sql.session.timeZone", "UTC")
        # ANSI off: reference semantics are coerce-to-null (pandas
        # to_numeric(errors="coerce")), matched by try_* functions.
        .config("spark.sql.ansi.enabled", "false")
        # Parquet TIMESTAMP(NANOS) (e.g. testdata events.ts) is
        # unsupported by the vectorized reader; surface as
        # nanos-since-epoch LongType and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python DataSource readers that push filters require this
        # (sources/pydatasource); affects Python sources only
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.executorEnv.PYTHONPATH", os.pathsep.join(paths))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
