"""Idempotent loading (SURVEY §2.3 J1/J2, §2.10 C4/C5, §3.1).

The reference's load path — overlap gate → UNLOGGED staging → COPY →
batched merge (``src/data_loading/data_loader.py:133-271``) —
collapses in Spark to: overlap gate → ``dropDuplicates(keys)`` →
atomic partitioned Parquet write. Staging tables, COPY, thread pools,
and offset-paginated merges are subsumed by Spark's job commit
protocol and task parallelism.

Overlap-gate semantics match ``_check_existing_data``
(``data_loader.py:334-468``) exactly:

- ``raw``: overlap ⇔ ∃ existing row with ``building_id`` ∈ incoming
  buildings AND ``meter`` ∈ incoming meters AND ``timestamp`` within
  [incoming min − 1 h, incoming max + 1 h] (BETWEEN is inclusive).
- ``weather``: same with ``site_id``, no meter conjunct.
- ``metadata``: overlap ⇔ any incoming ``building_id`` already exists
  (no time dimension, ``:470-529``).
- Any overlap rejects the WHOLE batch (``:173-177``).

Scale: the gate never collects entity lists to the driver (the
reference ships ``ANY(array)`` literals; at 100 TB those are
million-element IN-lists). Entities travel as a distinct-projected
DataFrame through a semi-join — broadcast when small, shuffled
hash-join otherwise, Catalyst's call.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class OverlapResult:
    """Mirror of the reference's overlap dict
    (``data_loader.py:447-468``)."""

    has_overlap: bool
    overlap_details: str | None = None
    overlap_range: tuple | None = None
    affected_entities: list[str] = field(default_factory=list)


_TABLE_SPECS = {
    "raw": dict(entity_col="building_id", extra_col="meter", time_col="timestamp"),
    "weather": dict(entity_col="site_id", extra_col=None, time_col="timestamp"),
    "metadata": dict(entity_col="building_id", extra_col=None, time_col=None),
}


def _overlapping_rows(
    existing: DataFrame,
    incoming: DataFrame,
    entity_col: str,
    extra_col: str | None,
    time_col: str | None,
    tolerance: str,
) -> DataFrame:
    """Existing rows that collide with the incoming batch — the
    EXISTS subquery of ``data_loader.py:377-429`` as a left-semi join
    plus a cross join with the one-row bounds, which the planner
    broadcasts."""
    out = existing.join(
        incoming.select(entity_col).distinct(), entity_col, "left_semi"
    )
    if extra_col is not None:
        out = out.join(
            incoming.select(extra_col).distinct(), extra_col, "left_semi"
        )
    if time_col is not None:
        bounds = incoming.agg(
            F.min(time_col).alias("__min_t"), F.max(time_col).alias("__max_t")
        )
        out = out.crossJoin(bounds).filter(
            F.col(time_col).between(
                F.expr(f"__min_t - INTERVAL {tolerance}"),
                F.expr(f"__max_t + INTERVAL {tolerance}"),
            )
        ).drop("__min_t", "__max_t")
    return out


def check_data_overlap(
    existing: DataFrame | None,
    incoming: DataFrame,
    table_type: str,
    tolerance: str = "1 HOUR",
) -> OverlapResult:
    """J1/J2: the idempotence gate. ``existing=None`` (first load)
    never overlaps.

    One Spark job: the overlapping-row set is aggregated to
    (min, max, collect_set(entity)) — a single scalar row back to the
    driver, like the reference's ``json_build_object`` summary
    (``data_loader.py:400-425``).
    """
    spec = _TABLE_SPECS.get(table_type)
    if spec is None:
        raise ValueError(f"Unsupported table for overlap check: {table_type}")
    for col in filter(None, (spec["entity_col"], spec["extra_col"], spec["time_col"])):
        if col not in incoming.columns:
            raise ValueError(f"Missing required column: '{col}'")
    if existing is None:
        return OverlapResult(False)

    hits = _overlapping_rows(
        existing,
        incoming,
        spec["entity_col"],
        spec["extra_col"],
        spec["time_col"],
        tolerance,
    )
    if spec["time_col"] is None:
        row = hits.agg(
            F.sort_array(F.collect_set(spec["entity_col"])).alias("ents")
        ).first()
        ents = [str(e) for e in (row["ents"] or [])]
        if not ents:
            return OverlapResult(False)
        return OverlapResult(
            True,
            f"Found existing metadata for building(s): {', '.join(ents)}",
            None,
            ents,
        )

    row = hits.agg(
        F.min(spec["time_col"]).alias("t0"),
        F.max(spec["time_col"]).alias("t1"),
        F.sort_array(F.collect_set(spec["entity_col"])).alias("ents"),
    ).first()
    ents = [str(e) for e in (row["ents"] or [])]
    if not ents:
        return OverlapResult(False)
    kind = "building(s)" if table_type == "raw" else "site(s)"
    return OverlapResult(
        True,
        f"Found overlapping data for {kind} {', '.join(ents)} "
        f"between {row['t0']} and {row['t1']}",
        (row["t0"], row["t1"]),
        ents,
    )


def validate_unique(df: DataFrame, keys: list[str]) -> DataFrame:
    """C5: post-load uniqueness validation — Spark has no constraints
    (``data_loader.py:681-728``'s ALTER TABLE ADD UNIQUE), so key
    violations are a query: groups with count > 1."""
    return (
        df.groupBy(*keys)
        .agg(F.count("*").alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def write_idempotent(
    df: DataFrame,
    path: str,
    table_type: str,
    unique_keys: list[str],
    existing: DataFrame | None = None,
    tolerance: str = "1 HOUR",
    partition_by: list[str] | None = None,
) -> OverlapResult:
    """§3.1 steps 4–6 as one call: gate → dedup on the unique key →
    atomic partitioned append. Returns the gate result; on overlap
    NOTHING is written (reference returns None and skips the load,
    ``data_loader.py:173-177``).

    Scale: ``dropDuplicates(unique_keys)`` is the C5 constraint made
    procedural — one hash-aggregate shuffle on the key, which the
    write's ``partitionBy`` layout then prunes on read. Default
    layout for ``raw`` is by ``meter`` (8 values, BDG2) — coarse
    enough to avoid small files, selective enough for per-meter
    queries.
    """
    result = check_data_overlap(existing, df, table_type, tolerance)
    if result.has_overlap:
        return result
    writer = (
        df.dropDuplicates(unique_keys).write.mode("append")
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return result
