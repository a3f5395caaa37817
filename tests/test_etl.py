"""ETL layer tests — reference test strategy (SURVEY §5: tiny
fixtures, exact-output assertions) plus the J1/J2 overlap-gate truth
table from ``src/data_loading/data_loader.py:334-529``.
"""

from __future__ import annotations

import datetime as dt
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from building_energy_data_pipeline_spark.etl import (
    apply_chunked,
    check_data_overlap,
    clean_identifier,
    coerce_int64,
    melt_wide,
    normalize_min_max,
    transform_sources,
    validate_unique,
    write_idempotent,
)
from building_energy_data_pipeline_spark.operators.scale import local_frame
from building_energy_data_pipeline_spark.sources.readers import find_sources
from conftest import jobs_run


@pytest.fixture()
def wide_df(spark):
    """The reference's melt fixture shape
    (``tests/test_data_transformer.py:26-31``): timestamp + one
    column per building."""
    return spark.createDataFrame(
        [
            ("2016-01-01 00:00:00", 1.0, 10.0),
            ("2016-01-01 01:00:00", 2.0, 20.0),
            ("2016-01-01 02:00:00", 3.0, 30.0),
        ],
        ["timestamp", "b1", "b2"],
    )


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture()
def raw_existing(spark):
    rows = [
        (ts("2016-01-01 00:00:00"), "b1", "electricity", 1.0),
        (ts("2016-01-01 01:00:00"), "b1", "electricity", 2.0),
        (ts("2016-06-01 00:00:00"), "b2", "gas", 3.0),
    ]
    return spark.createDataFrame(
        rows, ["timestamp", "building_id", "meter", "meter_reading"]
    )


def raw_batch(spark, t0: str, building: str, meter: str):
    return spark.createDataFrame(
        [(ts(t0), building, meter, 9.9)],
        ["timestamp", "building_id", "meter", "meter_reading"],
    )


# ---------------------------------------------------------------------------
# Transforms (T1/T2/T5/F1, §2.12)
# ---------------------------------------------------------------------------


class TestMelt:
    def test_columns_and_row_count(self, wide_df):
        # reference asserts exact column set and n_buildings× rows
        # (tests/test_data_transformer.py:91-97)
        out = melt_wide(wide_df, "electricity")
        assert set(out.columns) == {
            "timestamp",
            "building_id",
            "meter_reading",
            "meter",
        }
        assert out.count() == wide_df.count() * 2

    def test_values(self, wide_df):
        out = melt_wide(wide_df, "gas")
        got = {
            (r["timestamp"], r["building_id"]): (r["meter_reading"], r["meter"])
            for r in out.collect()
        }
        assert got[("2016-01-01 00:00:00", "b1")] == (1.0, "gas")
        assert got[("2016-01-01 02:00:00", "b2")] == (30.0, "gas")


class TestNormalize:
    def test_global_bounds(self, wide_df):
        # reference asserts min==0 and max==1 (test_data_transformer.py:82-89)
        long = melt_wide(wide_df, "electricity")
        out = normalize_min_max(long)
        stats = out.agg(
            F.min("normalized_reading"), F.max("normalized_reading")
        ).first()
        assert stats[0] == 0.0 and stats[1] == 1.0
        # global bounds: b1's reading 1.0 is the global min → 0.0,
        # NOT 0.0-per-building (the reference's chunk-local bug)
        v = {
            (r["building_id"], r["meter_reading"]): r["normalized_reading"]
            for r in out.collect()
        }
        assert v[("b2", 20.0)] == pytest.approx((20.0 - 1.0) / 29.0)

    def test_partitioned_bounds(self, spark):
        df = spark.createDataFrame(
            [("electricity", 0.0), ("electricity", 10.0), ("gas", 5.0), ("gas", 15.0)],
            ["meter", "meter_reading"],
        )
        out = normalize_min_max(df, partition_by=["meter"])
        v = {
            (r["meter"], r["meter_reading"]): r["normalized_reading"]
            for r in out.collect()
        }
        assert v[("gas", 15.0)] == 1.0 and v[("electricity", 10.0)] == 1.0


class TestCoerce:
    def test_coerce_semantics(self, spark):
        # pandas to_numeric(errors="coerce") parity: invalid → null,
        # floats rounded HALF-EVEN (banker's, like numpy), ints kept
        df = spark.createDataFrame(
            [("1", "x"), ("2.6", "y"), ("oops", "z"), (None, "w"),
             ("0.5", "u"), ("1.5", "v2")],
            ["v", "k"],
        )
        out = coerce_int64(df, ["v", "not_present"])
        got = [r["v"] for r in out.orderBy("k").collect()]  # k: u,v2,w,x,y,z
        assert got == [0, 2, None, 1, 3, None]
        assert dict(out.dtypes)["v"] == "bigint"


class TestCleanIdentifier:
    @pytest.mark.parametrize(
        "raw,expect",
        [
            ("My Column!", "my_column_"),
            ("2nd_reading", "col_2nd_reading"),
            ("ok_name", "ok_name"),
        ],
    )
    def test_cases(self, raw, expect):
        # schema_analyzer.py:68-72 semantics
        assert clean_identifier(raw) == expect

    def test_table_prefix(self):
        assert clean_identifier("2020data", is_table=True) == "tbl_2020data"


class TestChunkedPipeline:
    def test_reference_callable_contract(self, wide_df):
        # a reference-style process_function(chunk, meter_type) runs
        # unchanged through mapInPandas; row count conserved
        def add_flag(chunk: pd.DataFrame, meter_type: str) -> pd.DataFrame:
            chunk = chunk.copy()
            chunk["meter"] = meter_type
            return chunk

        out = apply_chunked(
            wide_df,
            add_flag,
            "steam",
            "timestamp string, b1 double, b2 double, meter string",
        )
        assert out.count() == wide_df.count()
        assert out.select("meter").distinct().collect()[0][0] == "steam"


class TestTransformSources:
    def test_csv_corpus_to_parquet(self, spark, tmp_path):
        # §3.2 end-to-end: meter folders melt (meter = file stem),
        # metadata passes through (data_transformer.py:376-382)
        raw = tmp_path / "src" / "raw"
        meta = tmp_path / "src" / "metadata"
        raw.mkdir(parents=True)
        meta.mkdir(parents=True)
        (raw / "electricity.csv").write_text(
            "timestamp,b1,b2\n2016-01-01 00:00:00,1.0,2.0\n"
            "2016-01-01 01:00:00,3.0,4.0\n"
        )
        (raw / "gas.csv").write_text(
            "timestamp,b1,b2\n2016-01-01 00:00:00,5.0,6.0\n"
        )
        (meta / "metadata.csv").write_text("building_id,sqft\nb1,100\nb2,200\n")

        folders = find_sources(str(tmp_path / "src"), "csv")
        out = transform_sources(spark, folders, str(tmp_path / "out"))
        assert set(out) == {"raw", "metadata"}

        raw_out = spark.read.parquet(out["raw"])
        assert set(raw_out.columns) == {
            "timestamp",
            "building_id",
            "meter_reading",
            "meter",
        }
        assert raw_out.count() == 2 * 2 + 1 * 2  # rows × buildings per file
        meters = {r[0] for r in raw_out.select("meter").distinct().collect()}
        assert meters == {"electricity", "gas"}

        meta_out = spark.read.parquet(out["metadata"])
        assert set(meta_out.columns) == {"building_id", "sqft"}
        assert meta_out.count() == 2


# ---------------------------------------------------------------------------
# Overlap gate truth table (J1/J2)
# ---------------------------------------------------------------------------


class TestOverlapGateRaw:
    def test_no_existing_table(self, spark):
        batch = raw_batch(spark, "2016-01-01 00:30:00", "b1", "electricity")
        assert check_data_overlap(None, batch, "raw").has_overlap is False

    def test_same_entity_meter_time(self, spark, raw_existing):
        batch = raw_batch(spark, "2016-01-01 00:30:00", "b1", "electricity")
        res = check_data_overlap(raw_existing, batch, "raw")
        assert res.has_overlap is True
        assert res.affected_entities == ["b1"]
        assert "b1" in res.overlap_details

    def test_tolerance_boundary_inclusive(self, spark, raw_existing):
        # existing 01:00; batch at 02:00 → window [01:00, 03:00]
        # BETWEEN inclusive ⇒ overlap (data_loader.py:389)
        batch = raw_batch(spark, "2016-01-01 02:00:00", "b1", "electricity")
        assert check_data_overlap(raw_existing, batch, "raw").has_overlap is True

    def test_outside_tolerance(self, spark, raw_existing):
        batch = raw_batch(spark, "2016-01-01 02:00:01", "b1", "electricity")
        assert check_data_overlap(raw_existing, batch, "raw").has_overlap is False

    def test_same_time_different_meter(self, spark, raw_existing):
        # meter conjunct: same building+time but meter not in batch → no overlap
        batch = raw_batch(spark, "2016-01-01 00:30:00", "b1", "water")
        assert check_data_overlap(raw_existing, batch, "raw").has_overlap is False

    def test_same_time_different_building(self, spark, raw_existing):
        batch = raw_batch(spark, "2016-01-01 00:30:00", "b9", "electricity")
        assert check_data_overlap(raw_existing, batch, "raw").has_overlap is False

    def test_missing_column_raises(self, spark):
        bad = spark.createDataFrame([(1.0,)], ["meter_reading"])
        with pytest.raises(ValueError, match="Missing required column"):
            check_data_overlap(None, bad, "raw")

    def test_unsupported_table_raises(self, spark):
        df = spark.createDataFrame([(1.0,)], ["x"])
        with pytest.raises(ValueError, match="Unsupported table"):
            check_data_overlap(None, df, "sessions")


class TestOverlapGateWeather:
    def test_site_no_meter_conjunct(self, spark):
        existing = spark.createDataFrame(
            [(ts("2016-01-01 00:00:00"), "s1", 20.0)],
            ["timestamp", "site_id", "airTemperature"],
        )
        batch = spark.createDataFrame(
            [(ts("2016-01-01 00:30:00"), "s1", 21.0)],
            ["timestamp", "site_id", "airTemperature"],
        )
        res = check_data_overlap(existing, batch, "weather")
        assert res.has_overlap is True and res.affected_entities == ["s1"]
        assert "site(s)" in res.overlap_details


class TestOverlapGateMetadata:
    def test_key_only_no_time(self, spark):
        existing = spark.createDataFrame([("b1", 100)], ["building_id", "sqft"])
        hit = spark.createDataFrame([("b1", 200)], ["building_id", "sqft"])
        miss = spark.createDataFrame([("b2", 200)], ["building_id", "sqft"])
        res = check_data_overlap(existing, hit, "metadata")
        assert res.has_overlap is True and res.overlap_range is None
        assert res.affected_entities == ["b1"]
        assert check_data_overlap(existing, miss, "metadata").has_overlap is False


T0 = 1451606400 * 10**6  # 2016-01-01 00:00:00 UTC in epoch micros
HOUR = 3600 * 10**6
DEFAULT_BAR = "10485760"


def _gate_rows(spark, rows, ntz=False):
    """``(epoch micros, building_id, meter)`` rows as a driver-held raw
    table: sized exactly, so the gate's literal path can take it, and
    built from micros, so no value passes through the driver's zone."""
    t = F.expr("timestamp_micros(us)")
    return local_frame(
        spark, rows, "us long, building_id string, meter string"
    ).select(
        (t.cast("timestamp_ntz") if ntz else t).alias("timestamp"),
        "building_id",
        "meter",
        F.lit(1.0).alias("meter_reading"),
    )


#: b1 has electricity at T0 and T0+1h and gas at T0+2h; b2 and a
#: null building have electricity at T0
GATE_EXISTING = [
    (T0, "b1", "electricity"),
    (T0 + HOUR, "b1", "electricity"),
    (T0 + 2 * HOUR, "b1", "gas"),
    (T0, "b2", "electricity"),
    (T0, None, "electricity"),
]


class TestOverlapGatePaths:
    """Every verdict is identical on the literal path (default bar)
    and on the semi-join path (bar -1)."""

    @pytest.fixture()
    def both_paths(self, spark, monkeypatch):
        from building_energy_data_pipeline_spark.etl import loader

        calls = []
        semi = loader._overlapping_rows
        monkeypatch.setattr(
            loader, "_overlapping_rows", lambda *a: calls.append(a) or semi(*a)
        )
        key = "spark.sql.autoBroadcastJoinThreshold"

        def run(existing, incoming, table="raw"):
            out, old = {}, spark.conf.get(key)
            for bar in (DEFAULT_BAR, "-1"):
                calls.clear()
                spark.conf.set(key, bar)
                try:
                    out[bar] = check_data_overlap(existing, incoming, table)
                finally:
                    spark.conf.set(key, old)
                assert bool(calls) == (bar == "-1"), f"bar {bar}: {calls}"
            assert out[DEFAULT_BAR] == out["-1"]
            return out["-1"]

        return run

    @pytest.fixture(params=["utc", "ny-session-kolkata-driver"])
    def zones(self, spark, monkeypatch, request):
        """The session's zone and the driver process's zone: a bound
        that passed through either one would move the window."""
        if request.param == "utc":
            yield
            return
        key = "spark.sql.session.timeZone"
        old = spark.conf.get(key)
        monkeypatch.setenv("TZ", "Asia/Kolkata")
        time.tzset()
        spark.conf.set(key, "America/New_York")
        yield
        spark.conf.set(key, old)
        monkeypatch.undo()
        time.tzset()

    @pytest.mark.parametrize("ntz", [False, True], ids=["ltz", "ntz"])
    @pytest.mark.parametrize(
        "t, building, hit",
        [
            # window [t - 1h, t + 1h] is inclusive at both ends
            (T0 + 2 * HOUR, "b1", True),  # reaches b1 electricity at T0+1h
            (T0 + 2 * HOUR + 1, "b1", False),  # 1 µs past it
            (T0 - HOUR, "b2", True),  # reaches b2 at T0
            (T0 - HOUR - 1, "b2", False),
        ],
        ids=["lo-exact", "lo-1us-past", "hi-exact", "hi-1us-past"],
    )
    def test_tolerance_edges(self, spark, both_paths, zones, ntz, t, building, hit):
        res = both_paths(
            _gate_rows(spark, GATE_EXISTING, ntz),
            _gate_rows(spark, [(t, building, "electricity")], ntz),
        )
        assert res.has_overlap is hit
        assert res.affected_entities == ([building] if hit else [])

    def test_ntz_bounds_are_wall_times_in_a_dst_gap(self, spark, both_paths):
        """2:00-3:00 on 2016-03-13 does not exist in New York: an NTZ
        bound taken through the session zone would move by an hour."""

        def rows(wall_time):
            return local_frame(
                spark, [(wall_time, "b1", "electricity")],
                "s string, building_id string, meter string",
            ).select(F.to_timestamp_ntz("s").alias("timestamp"), "building_id", "meter")

        key = "spark.sql.session.timeZone"
        old = spark.conf.get(key)
        spark.conf.set(key, "America/New_York")
        try:
            existing = rows("2016-03-13 03:40:00")
            hit = both_paths(existing, rows("2016-03-13 02:40:00"))
            miss = both_paths(existing, rows("2016-03-13 02:39:59"))
        finally:
            spark.conf.set(key, old)
        assert hit.has_overlap is True and miss.has_overlap is False

    def test_metadata_has_no_time_column(self, spark, both_paths):
        def meta(ids):
            return _gate_rows(spark, [(T0, b, "x") for b in ids]).select(
                "building_id"
            )

        res = both_paths(meta(["b1", "b2", None]), meta(["b2", "b3", None]), "metadata")
        assert res.has_overlap is True and res.affected_entities == ["b2"]
        assert res.overlap_range is None
        miss = both_paths(meta(["b1"]), meta(["b3"]), "metadata")
        assert miss.has_overlap is False

    def test_empty_batch(self, spark, both_paths):
        res = both_paths(_gate_rows(spark, GATE_EXISTING), _gate_rows(spark, []))
        assert res.has_overlap is False

    def test_null_entities_widen_the_window_but_match_nothing(self, spark, both_paths):
        # the null-building row at T0 stretches the batch's window
        # down to T0-1h; b1's rows at T0 and T0+1h then collide
        res = both_paths(
            _gate_rows(spark, GATE_EXISTING),
            _gate_rows(spark, [(T0 + 5 * HOUR, "b1", "electricity"), (T0, None, "electricity")]),
        )
        assert res.has_overlap is True and res.affected_entities == ["b1"]
        t0, t1 = res.overlap_range
        assert t1 - t0 == dt.timedelta(hours=1)

    def test_overlap_inside_one_building(self, spark, both_paths):
        res = both_paths(
            _gate_rows(spark, GATE_EXISTING),
            _gate_rows(spark, [(T0, "b1", "electricity"), (T0 + HOUR, "b1", "gas")]),
        )
        assert res.has_overlap is True and res.affected_entities == ["b1"]
        t0, t1 = res.overlap_range
        assert t1 - t0 == dt.timedelta(hours=2)
        assert "building(s) b1 between" in res.overlap_details


class TestLiteralProbe:
    @pytest.fixture(scope="class")
    def warehouse(self, spark, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("gate") / "raw")
        _gate_rows(spark, GATE_EXISTING).write.parquet(path)
        return path

    def test_predicates_reach_the_scan_and_nothing_joins(self, spark, warehouse):
        from building_energy_data_pipeline_spark.etl.loader import _literal_hits

        batch = _gate_rows(
            spark, [(T0, "b1", "electricity"), (T0, "b2", "gas")]
        )
        hits = _literal_hits(
            spark.read.parquet(warehouse), batch,
            "building_id", "meter", "timestamp", "1 HOUR",
        )
        plan = hits._jdf.queryExecution().executedPlan()
        (scan,) = [
            n for n in _plan_nodes(plan)
            if n.getClass().getSimpleName() == "FileSourceScanExec"
        ]
        pushed = scan.metadata().get("PushedFilters").get()
        for pred in (
            "In(building_id, [b1,b2])",
            "In(meter, [electricity,gas])",
            "GreaterThanOrEqual(timestamp,",
            "LessThanOrEqual(timestamp,",
        ):
            assert pred in pushed, pushed
        names = [n.getClass().getSimpleName() for n in _plan_nodes(plan)]
        assert not [c for c in names if "Join" in c or "Exchange" in c], names
        assert sorted(r["building_id"] for r in hits.collect()) == ["b1", "b1", "b2"]

    @pytest.mark.parametrize("t, hit", [(T0, True), (T0 + 9 * HOUR, False)])
    def test_a_verdict_runs_four_jobs(self, spark, warehouse, t, hit):
        existing = spark.read.parquet(warehouse)
        batch = _gate_rows(spark, [(t, "b1", "electricity")])
        res, jobs = jobs_run(
            spark, lambda: check_data_overlap(existing, batch, "raw")
        )
        assert res.has_overlap is hit
        assert 0 < jobs <= 4, f"gate verdict ran {jobs} jobs"


def _plan_nodes(node):
    """Every node of a physical plan, through AQE's wrapper."""
    if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        node = node.executedPlan()
    yield node
    it = node.children().iterator()
    while it.hasNext():
        yield from _plan_nodes(it.next())


# ---------------------------------------------------------------------------
# Idempotent writer (C4/C5)
# ---------------------------------------------------------------------------


class TestWriteIdempotent:
    KEYS = ["timestamp", "building_id", "meter"]

    def test_first_load_dedups_and_writes(self, spark, tmp_path):
        p = str(tmp_path / "raw")
        batch = raw_batch(spark, "2016-01-01 00:00:00", "b1", "electricity")
        dup = batch.unionByName(batch)  # violates the unique key
        res = write_idempotent(
            dup, p, "raw", self.KEYS, existing=None, partition_by=["meter"]
        )
        assert res.has_overlap is False
        stored = spark.read.parquet(p)
        assert stored.count() == 1  # dropDuplicates enforced C5
        assert validate_unique(stored, self.KEYS).count() == 0

    def test_overlapping_reload_writes_nothing(self, spark, tmp_path):
        p = str(tmp_path / "raw")
        batch = raw_batch(spark, "2016-01-01 00:00:00", "b1", "electricity")
        write_idempotent(batch, p, "raw", self.KEYS, existing=None)
        existing = spark.read.parquet(p)
        res = write_idempotent(batch, p, "raw", self.KEYS, existing=existing)
        assert res.has_overlap is True
        assert spark.read.parquet(p).count() == 1  # unchanged

    def test_disjoint_append(self, spark, tmp_path):
        p = str(tmp_path / "raw")
        b1 = raw_batch(spark, "2016-01-01 00:00:00", "b1", "electricity")
        write_idempotent(b1, p, "raw", self.KEYS, existing=None)
        b2 = raw_batch(spark, "2017-01-01 00:00:00", "b1", "electricity")
        res = write_idempotent(
            b2, p, "raw", self.KEYS, existing=spark.read.parquet(p)
        )
        assert res.has_overlap is False
        assert spark.read.parquet(p).count() == 2


# ---------------------------------------------------------------------------
# Plan pins: the fact side never shuffles for the gate or the bounds
# ---------------------------------------------------------------------------


def _meter_rows(spark, n: int, t0: int):
    """``n`` melted meter rows, one a minute from epoch second ``t0``,
    over 200 buildings and 4 meters."""
    meters = F.array(*[F.lit(m) for m in ("electricity", "gas", "water", "steam")])
    return spark.range(n).select(
        F.expr(f"timestamp_seconds({t0} + id * 60)").alias("timestamp"),
        F.concat(F.lit("b"), (F.col("id") % 200).cast("string")).alias(
            "building_id"
        ),
        F.element_at(meters, (F.col("id") % 4 + 1).cast("int")).alias("meter"),
        (F.col("id") % 997 * 0.5).alias("meter_reading"),
    )


def _scan_ancestors(df, path: str) -> list[list[str]]:
    """For each scan of ``path`` in ``df``'s physical plan (AQE's
    initial plan), the class names of the operators above it."""
    out = []

    def walk(node, above):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan(), above)
        if cls == "FileSourceScanExec" and path in str(
            node.relation().location().rootPaths().head()
        ):
            out.append(above)
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next(), above + [cls])

    walk(df._jdf.queryExecution().executedPlan(), [])
    return out


_FACT_SHUFFLES = (
    "ShuffleExchange",
    "CartesianProduct",
    "SortMergeJoin",
    "ShuffledHashJoin",
)


class TestFactSideNeverShuffles:
    """The fact table streams through map-only: the gate's distinct
    keys and time bounds, and the normalization bounds, reach it as
    broadcasts — at the default bar and at a 1 MiB bar, where the
    per-meter bounds' size estimate (Catalyst scales a grouped
    aggregate with its input) is over the bar."""

    @pytest.fixture(scope="class")
    def tables(self, spark, tmp_path_factory):
        d = tmp_path_factory.mktemp("fact")
        fact, batch = str(d / "warehouse"), str(d / "batch")
        _meter_rows(spark, 400_000, 1451606400).write.parquet(fact)
        _meter_rows(spark, 5_000, 1451606400 + 400_000 * 60).write.parquet(batch)
        return fact, batch

    @pytest.fixture(params=["10485760", "1048576"], ids=["default", "1MiB"])
    def bar(self, spark, request):
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", request.param)
        yield
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_overlap_gate(self, spark, tables, bar):
        from building_energy_data_pipeline_spark.etl.loader import (
            _overlapping_rows,
        )

        fact, batch = tables
        hits = _overlapping_rows(
            spark.read.parquet(fact),
            spark.read.parquet(batch),
            "building_id",
            "meter",
            "timestamp",
            "1 HOUR",
        )
        (above,) = _scan_ancestors(hits, fact)
        assert not [c for c in above if c.startswith(_FACT_SHUFFLES)], above
        res = check_data_overlap(
            spark.read.parquet(fact), spark.read.parquet(batch), "raw"
        )
        # the warehouse's last hour (60 rows, one a minute) is in the window
        assert res.has_overlap is True and len(res.affected_entities) == 60

    @pytest.mark.parametrize("keys", [None, ["meter"]], ids=["global", "meter"])
    def test_normalize_bounds(self, spark, tables, bar, keys):
        fact, _ = tables
        out = normalize_min_max(spark.read.parquet(fact), partition_by=keys)
        # the streamed scan is the one not under a broadcast
        streamed = [
            a for a in _scan_ancestors(out, fact)
            if "BroadcastExchangeExec" not in a
        ]
        assert len(streamed) == 1, streamed
        assert not [c for c in streamed[0] if c.startswith(_FACT_SHUFFLES)]
