"""Readers / source discovery (SURVEY §2.1 S1–S7).

The reference streams pandas chunks
(``src/data_transformation/data_transformer.py:121-123``,
``src/utility/file_utils.py:317-355``); in Spark a partitioned scan is
the native equivalent — chunking, batch iteration, and row-group
pruning are all handled by the Parquet vectorized reader, and filters /
projections push down via Catalyst.
"""

from __future__ import annotations

import os
import stat
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: the driver's synthetic star-schema tables (TESTDATA.md)
TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: runtime-settable SQL confs every query path depends on, applied in
#: ``load_table`` so results are identical whether the session came from
#: ``session.get_spark()`` or a caller-built plain ``SparkSession``
#: (e.g. the driver's correctness harness).
_REQUIRED_SQL_CONFS = {
    # some testdata vintages write events.ts as parquet TIMESTAMP(NANOS)
    # — unreadable by a plain session without this legacy flag
    # (PARQUET_TYPE_ILLEGAL otherwise). Harmless for micros files.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # timestamp semantics must match the DuckDB oracle regardless of the
    # host machine's zone.
    "spark.sql.session.timeZone": "UTC",
    # non-ANSI: overflow/bad-cast → null, matching try_cast-style
    # coercion semantics the query inventory relies on.
    "spark.sql.ansi.enabled": "false",
    # a Python DataSourceReader that implements pushFilters() fails
    # to INITIALIZE (not merely skip pushdown) while this is false —
    # required by the custom-connector surface (sources/pydatasource,
    # q253). Runtime-settable, affects only Python data sources.
    "spark.sql.python.filterPushdown.enabled": "true",
}


def ensure_session_confs(spark: SparkSession) -> None:
    """Pin the SQL confs the engine's semantics depend on.

    All three are runtime-settable; calling this makes any session —
    including one built by an external harness with defaults — behave
    like the engine's own ``session.get_spark()`` factory.
    """
    for key, value in _REQUIRED_SQL_CONFS.items():
        try:
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)
        except Exception:
            spark.conf.set(key, value)


def _parquet_ts_unit(path: str) -> str | None:
    """Time unit (``nanoseconds``/``microseconds``/``milliseconds``) of
    a parquet file's ``ts`` column, read from the footer's logical
    type. A LongType arriving through ``nanosAsLong`` looks identical
    in the Spark schema whatever the physical unit was, so the footer
    is the only place the truth lives; returns None when unreadable
    (remote FS without pyarrow access) — callers then fall back to the
    nanos assumption that matches the only vintage that surfaces longs.
    """
    try:
        import pyarrow.parquet as pq

        target = path
        if os.path.isdir(path):
            hits = [
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            ]
            if not hits:
                return None
            target = hits[0]
        schema = pq.ParquetFile(target).schema
        if "ts" not in schema.names:
            return None
        logical = str(schema.column(schema.names.index("ts")).logical_type)
        for unit in ("nanoseconds", "microseconds", "milliseconds"):
            if unit in logical:
                return unit
    except Exception:
        return None
    return None


def _normalize_ts(df: DataFrame, path: str | None = None) -> DataFrame:
    """Coerce a ``ts`` column to session-zoned microsecond TimestampType
    regardless of the parquet vintage it was written with:

    - TIMESTAMP(NANOS) → LongType nanos (under ``nanosAsLong``): integer
      truncate to micros, same semantics as DuckDB ``CAST(ns AS TIMESTAMP)``.
    - any other INT64 timestamp unit surfacing as LongType: scaled per
      the footer's logical type (``_parquet_ts_unit``) — guards against
      a future vintage flip silently applying the wrong factor (the
      round-2 failure class).
    - TIMESTAMP_NTZ (plain ``timestamp[us]`` footer): cast to ``timestamp``
      — exact under the pinned UTC session TZ (no wall-clock shift).
    - TimestampType already: passthrough.

    Narrow per-row expression; no shuffle, stays inside codegen.
    """
    for f in df.schema.fields:
        if f.name != "ts":
            continue
        if isinstance(f.dataType, T.LongType):
            unit = (_parquet_ts_unit(path) if path else None) or "nanoseconds"
            expr = {
                "nanoseconds": "ts div 1000",
                "microseconds": "ts",
                "milliseconds": "ts * 1000",
            }[unit]
            df = df.withColumn("ts", F.timestamp_micros(F.expr(expr)))
        elif isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _reraise(err: OSError) -> None:
    raise err


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table. Plain ``spark.read.parquet`` — column
    pruning and predicate pushdown reach the scan automatically.

    ``events.ts`` has shipped as both TIMESTAMP(NANOS) and TIMESTAMP_NTZ
    micros across testdata vintages; ``_normalize_ts`` adapts either to
    microsecond TimestampType so every downstream consumer sees one
    type. Confs are set here (not only in the session factory) so the
    read works under any session, including the driver's plain one.

    The built scan PLAN is memoized per session, keyed by the path's
    stat (mtime_ns, size): every ``spark.read.parquet`` re-lists the
    path, re-reads the footer schema, and ``_normalize_ts`` re-probes
    the ``ts`` logical type with pyarrow — ~100 ms of pure driver-side
    metadata work per call, per invocation (guide §6's file-listing-
    cache point; r13 measured it at up to 0.3 s of every benched
    query's per-run build). This caches only the immutable logical
    scan definition — every action still computes from the parquet
    files — and a rewritten file misses on the stat key. DataFrames
    are immutable, so handing the same object to every caller is
    safe; the dict dies with the session object.
    """
    ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
        if stat.S_ISDIR(st.st_mode):
            # a directory's own (mtime, size) misses an in-place
            # rewrite of a part file (no create/rename/delete touches
            # the dir entry), so fold every file's stats into the key,
            # nested partition directories included (hive layout
            # ``k=v/part-*``). Spark's own writers always write
            # fresh-named parts, but external overwrites must miss too.
            # A listing error re-raises into the except below: a
            # directory left out of the key could serve a stale plan.
            files = []
            for root, dirs, names in os.walk(path, onerror=_reraise):
                dirs.sort()
                for n in sorted(names):
                    f = os.path.join(root, n)
                    fst = os.stat(f)
                    files.append((f, fst.st_mtime_ns, fst.st_size))
            key += tuple(files)
    except OSError:  # non-local FS → skip memoization
        key = None
    cache: dict | None = getattr(spark, "_bedp_table_plans", None)
    if cache is None:
        cache = {}
        spark._bedp_table_plans = cache  # noqa: SLF001
    if key is not None and key in cache:
        return cache[key]
    df = _normalize_ts(spark.read.parquet(path), path)
    if key is not None:
        cache[key] = df
    return df


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events table with ``ts`` normalized to
    TimestampType — the ``readStream`` twin of ``load_table``.

    ``readStream`` requires an explicit schema, so the static file's
    footer is probed first (one driver-side footer read via
    ``spark.read``, works on any Hadoop FS) and the stream schema is
    built from it; the same nanos/NTZ/LTZ branch as ``_normalize_ts``
    then applies. The file source lists the directory incrementally, so
    at scale a backlog is throttled with ``maxFilesPerTrigger`` rather
    than loaded in one batch.
    """
    ensure_session_confs(spark)
    path = os.path.join(sf_dir, "events.parquet")
    static = spark.read.parquet(path)
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return _normalize_ts(stream, path)


def read_parquet(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    merge_schema: bool = False,
    **options: str,
) -> DataFrame:
    """S2/S3: Parquet scan. ``df.limit(n)`` on the result is the
    row-group-pruned bounded read (``file_utils.py:331-343``).

    ``merge_schema=True`` unions the schemas of every file in the
    directory (columns added over a table's lifetime surface as NULL
    in older files) — the schema-DRIFT half of evolution a long-lived
    warehouse accumulates. It costs a footer read per file at plan
    time, so leave it off for vintage-stable tables.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    infer: bool = False,
    **options: str,
) -> DataFrame:
    """S1: CSV scan (chunked-read equivalent; partitions replace chunks).

    Prefer an explicit ``schema``; ``infer`` costs an extra pass and is
    only for interactive exploration (the schema subsystem in
    ``schema/`` is the production inference path).
    """
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    **options: str,
) -> DataFrame:
    """JSONL scan (one JSON object per line — Spark's ``json`` source
    default; gzip parts are decompressed transparently). Prefer an
    explicit ``schema``: schema inference on JSON costs a full extra
    pass over the data, which at corpus scale doubles the read."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.json(path)


def read_orc(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    **options: str,
) -> DataFrame:
    """ORC scan — same pushdown/pruning contract as parquet (S2):
    predicate pushdown and column pruning reach the stripe reader."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.orc(path)


def read_any(spark: SparkSession, path: str, **options: str) -> DataFrame:
    """S6: file-type dispatch by extension
    (.parquet/.csv/.txt/.json/.jsonl/.ndjson/.orc), mirroring
    ``FileReader.get_file_type_and_reader``
    (``src/utility/file_utils.py:317-355``); ``options`` are forwarded
    to the format's reader."""
    suffix = Path(path).suffix.lower()
    if suffix == ".parquet":
        return read_parquet(spark, path)
    if suffix in (".csv", ".txt"):
        return read_csv(spark, path, infer=True, **options)
    if suffix in (".json", ".jsonl", ".ndjson"):
        return read_jsonl(spark, path, **options)
    if suffix == ".orc":
        return read_orc(spark, path, **options)
    raise ValueError(f"unsupported file type: {suffix!r} ({path})")


def find_sources(root: str, extension: str) -> dict[str, list[str]]:
    """S7: recursive source discovery — ``{folder: [files]}`` like
    ``find_folders_with_extension`` (``src/utility/file_utils.py:253-285``).

    Driver-side; for the actual scan pass the whole directory (or a
    glob) to ``spark.read`` so Spark's InMemoryFileIndex parallelizes
    listing on large trees.
    """
    ext = extension if extension.startswith(".") else f".{extension}"
    out: dict[str, list[str]] = {}
    for dirpath, _dirnames, filenames in os.walk(root):
        hits = sorted(
            os.path.join(dirpath, f) for f in filenames if f.endswith(ext)
        )
        if hits:
            out[dirpath] = hits
    return out
