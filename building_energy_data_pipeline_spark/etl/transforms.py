"""Transform layer (SURVEY §2.9 T1–T5, §2.12).

The reference processes pandas chunks through pluggable callables
(``src/data_transformation/data_transformer.py:125-211,240-290``);
here the same transforms are whole-DataFrame Spark ops — chunking,
temp files, and the concat barrier (``:292-316``) disappear into
partitioned execution.

Scale notes per transform are on the functions; the common theme:
everything is a narrow map or a 1-row broadcast join — no wide
shuffle anywhere in this module.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

if TYPE_CHECKING:  # pandas only crosses the wire inside mapInPandas
    import pandas as pd

#: the reference's pluggable per-chunk transform signature
#: (``process_function(chunk, meter_type)``,
#: ``data_transformer.py:240-269``)
ChunkTransform = Callable[["pd.DataFrame", str], "pd.DataFrame"]


# ---------------------------------------------------------------------------
# T1 — melt / unpivot (wide meter matrix → long fact table)
# ---------------------------------------------------------------------------


def melt_wide(
    df: DataFrame,
    meter_type: str,
    id_col: str = "timestamp",
    var_name: str = "building_id",
    value_name: str = "meter_reading",
) -> DataFrame:
    """T1: unpivot ``timestamp × building`` matrix into the long
    ``(timestamp, building_id, meter_reading, meter)`` fact table —
    ``melt_chunk`` (``data_transformer.py:169-211``) as a native
    unpivot.

    Scale: unpivot is a generator (rows × n_buildings) inside the
    scan stage — no shuffle; downstream writes partition by ``meter``.
    """
    value_cols = [c for c in df.columns if c != id_col]
    return df.unpivot(
        [id_col], value_cols, var_name, value_name
    ).withColumn("meter", F.lit(meter_type))


# ---------------------------------------------------------------------------
# T2 — min-max normalization (global, fixing the chunk-local bug)
# ---------------------------------------------------------------------------


def normalize_min_max(
    df: DataFrame,
    value_col: str = "meter_reading",
    out_col: str = "normalized_reading",
    partition_by: list[str] | None = None,
) -> DataFrame:
    """T2: ``(x - min) / (max - min)`` → ``out_col``.

    The reference normalizes per 50 k-row chunk
    (``data_transformer.py:139-167``) — chunk-local bounds, a
    correctness bug this engine deliberately fixes: bounds are GLOBAL
    (or per ``partition_by`` group, e.g. ``["meter"]``).

    Scale: bounds come from a map-side-combined agg collapsed to
    |groups| rows, broadcast back — no windowing over a single
    partition, no full shuffle of the fact table.
    """
    keys = partition_by or []
    bounds = df.groupBy(*keys).agg(
        F.min(value_col).alias("__min"), F.max(value_col).alias("__max")
    )
    joined = (
        # kept: the bounds' estimate grows with df; test_etl pins it (1 MiB)
        df.join(F.broadcast(bounds), keys, "left")
        if keys
        else df.crossJoin(bounds)
    )
    return joined.withColumn(
        out_col,
        (F.col(value_col) - F.col("__min")) / (F.col("__max") - F.col("__min")),
    ).drop("__min", "__max")


# ---------------------------------------------------------------------------
# T5 — pandas-style coercing integer cast
# ---------------------------------------------------------------------------


def coerce_int64(df: DataFrame, cols: list[str]) -> DataFrame:
    """T5: ``to_numeric(errors='coerce').round(0).astype('Int64')``
    (``data_loader.py:551-579``): invalid → NULL, floats rounded,
    nullable 64-bit ints. ``try_cast`` gives the coerce-to-null
    semantics Spark's ANSI cast would reject. Applies only to columns
    actually present (P2, ``data_loader.py:582-604``).

    ``bround`` (HALF_EVEN), not ``round`` (HALF_UP): pandas/numpy
    ``.round()`` is banker's rounding, so '0.5' must coerce to 0 —
    found by the hypothesis property test against ``to_numeric``.
    """
    present = [c for c in cols if c in df.columns]
    return df.withColumns(
        {
            c: F.bround(F.col(c).try_cast("double")).cast("long")
            for c in present
        }
    )


# ---------------------------------------------------------------------------
# F1 — identifier cleaning
# ---------------------------------------------------------------------------


def clean_identifier(name: str, is_table: bool = False) -> str:
    """Identifier cleaning (``schema_analyzer.py:68-72,174-187``):
    lowercase, non-alphanumerics → ``_``, digit-leading names get a
    ``col_``/``tbl_`` prefix."""
    cleaned = re.sub(r"[^a-z0-9_]", "_", name.strip().lower())
    if cleaned and cleaned[0].isdigit():
        cleaned = ("tbl_" if is_table else "col_") + cleaned
    return cleaned


# ---------------------------------------------------------------------------
# T4 / §2.12 — pluggable per-chunk transform pipeline
# ---------------------------------------------------------------------------


def apply_chunked(
    df: DataFrame,
    fn: ChunkTransform,
    meter_type: str,
    schema,  # StructType | DDL string of fn's output
) -> DataFrame:
    """§2.12: run a reference-style ``process_function(chunk,
    meter_type)`` over the DataFrame via ``mapInPandas`` — the chunk
    IS the Arrow batch, preserving the reference's pluggability
    contract for user transforms that genuinely need pandas.

    Built-in transforms (melt/normalize/coerce) should use the native
    ops above — this is the escape hatch, ~10-100× slower per byte
    than codegen expressions, but Arrow-vectorized and fully
    distributed (never a driver-side loop).
    """

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for chunk in batches:
            out = fn(chunk, meter_type)
            if out is not None and len(out):
                yield out

    return df.mapInPandas(run, schema)


#: folder-name dispatch (``data_transformer.py:376-382``): metadata /
#: weather pass through unchanged, everything else is a meter matrix
#: to melt. Keys are regexes matched against the folder name.
DEFAULT_DISPATCH: dict[str, Callable[[DataFrame, str], DataFrame]] = {
    r"metadata|weather": lambda df, _mt: df,
    r".*": melt_wide,
}


def transform_sources(
    spark: SparkSession,
    folders: dict[str, list[str]],
    output_root: str,
    dispatch: dict[str, Callable[[DataFrame, str], DataFrame]] | None = None,
    partition_by: dict[str, list[str]] | None = None,
) -> dict[str, str]:
    """T4 / §3.2: the CSV-corpus → Parquet pipeline
    (``process_and_convert_to_parquet_in_chunks``,
    ``data_transformer.py:367-389``): per source folder, read every
    CSV, apply the first dispatch transform whose pattern matches the
    folder name (meter_type = file stem, ``:259-269``), union, and
    write one Parquet dataset per folder.

    Returns ``{folder_name: output_path}``. The reference's temp
    chunk files + concat barrier (``:292-316``) are replaced by one
    lazy plan per folder with an atomic directory write.
    """
    import os

    dispatch = dispatch or DEFAULT_DISPATCH
    partition_by = partition_by or {}
    out: dict[str, str] = {}
    for folder, files in folders.items():
        name = os.path.basename(os.path.normpath(folder))
        fn = next(
            fn for pat, fn in dispatch.items() if re.search(pat, name)
        )
        parts = []
        for path in files:
            stem = os.path.splitext(os.path.basename(path))[0]
            df = spark.read.option("header", "true").option(
                "inferSchema", "true"
            ).csv(path)
            parts.append(fn(df, stem))
        unioned = parts[0]
        for p in parts[1:]:
            unioned = unioned.unionByName(p)
        dest = os.path.join(output_root, name)
        writer = unioned.write.mode("overwrite")
        if name in partition_by:
            writer = writer.partitionBy(*partition_by[name])
        writer.parquet(dest)
        out[name] = dest
    return out
