"""Column profiling (SURVEY §2.9 T11, §2.4 A4/A9) — the reference's
``analyze_schema`` (``src/schema_generator/schema_analyzer.py:24-102``)
as ONE Spark aggregation job.

The reference computes count / null_count / unique_count /
unique_ratio, uniqueness & monotonicity flags, and 5 sample values
per column from a 10 k-row pandas sample; here all of it, for ALL
columns, is a single ``agg`` over a :data:`SAMPLE_ROWS`-row ``limit``,
so its per-column value sets stay bounded whatever the input size.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .inference import ColumnProfile, infer_sql_type


@dataclass
class ColumnInfo:
    """Mirror of the reference's BaseColumnInfo
    (``src/schema_generator/base_scema_analyzer.py:7-16``)."""

    name: str
    data_type: str  # inferred SQL type
    nullable: bool
    original_type: str  # Spark dtype string
    stats: dict[str, Any] = field(default_factory=dict)
    sample_values: list[Any] = field(default_factory=list)
    metadata: dict[str, Any] = field(default_factory=dict)


def _kind(dt: T.DataType) -> str:
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return "timestamp"
    if isinstance(dt, T.NumericType):
        return "numeric"
    return "string"


#: Rows profiled per call: the reference analyzer's sample size
#: (``schema_analyzer.py:35``), and the bound on every value set below.
SAMPLE_ROWS = 10_000


def profile_columns(
    df: DataFrame, sample_values: int = 5
) -> list[ColumnInfo]:
    """T11: per-column type inference + stats + recommendations over
    ``df.limit(SAMPLE_ROWS)``, in one wide ``agg`` (A4's single-pass
    idiom). A distinct count is the size of
    ``array_distinct(collect_set(c))``: equal to ``countDistinct``
    (``array_distinct`` folds the NaNs ``collect_set`` keeps apart),
    without the ``Expand`` several ``countDistinct`` aggregates plan.
    """
    sample = df.limit(SAMPLE_ROWS)
    fields = df.schema.fields
    aggs: list = [F.count(F.lit(1)).alias("__total")]
    for i, f in enumerate(fields):
        c, k = F.col(f.name), _kind(f.dataType)
        values = F.array_distinct(F.collect_set(c))
        aggs.append(F.count(c).alias(f"c{i}_count"))
        aggs.append(F.size(values).alias(f"c{i}_distinct"))
        aggs.append(F.slice(values, 1, sample_values).alias(f"c{i}_samples"))
        if k == "numeric":
            aggs.append(F.min(c.cast("double")).alias(f"c{i}_min"))
            aggs.append(F.max(c.cast("double")).alias(f"c{i}_max"))
            # integral ⇔ every value equals its rounding
            aggs.append(
                F.min((c.cast("double") == F.round(c.cast("double"))).cast("int"))
                .alias(f"c{i}_integral")
            )
            # max decimal places from the plain string form; pandas
            # parity: trailing '.0' counts as 0 places
            frac = F.regexp_extract(c.cast("string"), r"\.(\d*[1-9])$", 1)
            aggs.append(F.max(F.length(frac)).alias(f"c{i}_dec"))
        elif k == "string":
            aggs.append(F.max(F.length(c)).alias(f"c{i}_len"))
    row = sample.agg(*aggs).first()
    total = row["__total"]

    out: list[ColumnInfo] = []
    for i, f in enumerate(fields):
        k = _kind(f.dataType)
        count = row[f"c{i}_count"]
        distinct = row[f"c{i}_distinct"]
        prof = ColumnProfile(
            name=f.name,
            kind=k if count else "empty",
            count=count,
            min_val=row[f"c{i}_min"] if k == "numeric" else None,
            max_val=row[f"c{i}_max"] if k == "numeric" else None,
            all_integral=(
                isinstance(f.dataType, T.IntegralType)
                or (k == "numeric" and row[f"c{i}_integral"] == 1)
            ),
            max_decimal_places=(row[f"c{i}_dec"] or 0) if k == "numeric" else 0,
            max_str_len=(row[f"c{i}_len"] or 0) if k == "string" else 0,
            has_tz=isinstance(f.dataType, T.TimestampType),
        )
        null_count = total - count
        is_unique = distinct == total
        unique_ratio = distinct / total if total else 0
        recs = []  # reference wording, schema_analyzer.py:95-101
        if is_unique:
            recs.append("Consider as primary key candidate")
        if unique_ratio < 0.1:
            recs.append("Low cardinality - consider using as categorical")
        out.append(
            ColumnInfo(
                name=f.name,
                data_type=infer_sql_type(prof),
                nullable=null_count > 0,
                original_type=f.dataType.simpleString(),
                stats={
                    "count": total,
                    "null_count": null_count,
                    "unique_count": distinct,
                    "unique_ratio": unique_ratio,
                },
                sample_values=row[f"c{i}_samples"],
                metadata={
                    "is_unique": is_unique,
                    "contains_nulls": null_count > 0,
                    "recommendations": recs,
                },
            )
        )
    return out


def is_monotonic(
    df: DataFrame, col: str, order_col: str | None = None
) -> bool:
    """A9: monotonicity (non-decreasing or non-increasing) in
    ``order_col`` order — the distributed upgrade of the reference's
    pandas ``is_monotonic_*`` (``schema_analyzer.py:88``), which only
    ever saw file order.

    Scale: NO global window. The rows are range-partitioned by the
    order column, each partition is lag-checked independently (a
    pid-keyed window — hash-parallel), and the partition boundaries
    are stitched by a driver-side pass over the P-row partition
    summary (first/last value per partition — metadata-sized by
    construction, the ``scale.global_row_index`` offsets precedent).
    Globally monotonic ⟺ every partition is monotonic AND each
    partition's last value relates to the next partition's first
    value the same way. NULLs in ``col`` are ignored (the reference's
    pandas semantics); duplicate order keys make the per-key order —
    and thus the verdict on ties — unspecified, exactly as the old
    global-window form did.
    """
    if order_col is None:
        ordered = df.select(
            F.col(col).alias("__c"),
            F.monotonically_increasing_id().alias("__ord"),
        )
    else:
        # rows with a NULL order key carry no position in the order
        # and are excluded (a null-__ord-only range partition would
        # otherwise yield first_o=None and crash the driver-side
        # boundary stitch — ADVICE r5 #2)
        ordered = df.select(
            F.col(col).alias("__c"), F.col(order_col).alias("__ord")
        ).filter(F.col(order_col).isNotNull())
    ordered = ordered.filter(F.col("__c").isNotNull())
    rp = ordered.repartitionByRange(F.col("__ord")).withColumn(
        "__pid", F.spark_partition_id()
    )
    w = Window.partitionBy("__pid").orderBy("__ord")
    prev = F.lag("__c").over(w)
    summary = (
        rp.select("__pid", "__c", "__ord", prev.alias("__prev"))
        .groupBy("__pid")
        .agg(
            F.min(
                F.coalesce(F.col("__c") >= F.col("__prev"), F.lit(True))
            ).alias("inc_ok"),
            F.min(
                F.coalesce(F.col("__c") <= F.col("__prev"), F.lit(True))
            ).alias("dec_ok"),
            F.min_by("__c", "__ord").alias("first_c"),
            F.max_by("__c", "__ord").alias("last_c"),
            F.min("__ord").alias("first_o"),
        )
        .collect()
    )
    parts = sorted(summary, key=lambda r: r["first_o"])
    inc = all(r["inc_ok"] for r in parts) and all(
        parts[i]["last_c"] <= parts[i + 1]["first_c"]
        for i in range(len(parts) - 1)
    )
    dec = all(r["dec_ok"] for r in parts) and all(
        parts[i]["last_c"] >= parts[i + 1]["first_c"]
        for i in range(len(parts) - 1)
    )
    return bool(inc or dec)
