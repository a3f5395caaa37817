"""Schema subsystem tests — golden type-inference parity with
``src/schema_generator/type_inference_engine.py``, one-pass profiler,
sampling strategies, DDL text, schema diff.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import jobs_run
from building_energy_data_pipeline_spark.schema import profiler
from building_energy_data_pipeline_spark.schema import (
    ColumnProfile,
    derive_table_name,
    generate_ddl,
    infer_sql_type,
    is_monotonic,
    profile_columns,
    random_sample,
    schema_diff,
    sql_to_spark_type,
    stratified_sample,
    systematic_sample,
)


# ---------------------------------------------------------------------------
# T10 — golden inference table (pure function, no Spark needed)
# ---------------------------------------------------------------------------


def num(name="v", **kw):
    return ColumnProfile(name=name, kind="numeric", count=10, **kw)


class TestInferenceGolden:
    @pytest.mark.parametrize(
        "name,expect",
        [
            ("latitude", "NUMERIC(10,6)"),
            ("store_lat", "NUMERIC(10,6)"),  # substring match
            ("unit_price", "NUMERIC(15,2)"),
            ("zipcode", "VARCHAR(10)"),
            ("contact_email", "VARCHAR(255)"),
            ("phone", "VARCHAR(20)"),
        ],
    )
    def test_tier1_name_patterns(self, name, expect):
        # patterns win regardless of values (type_inference_engine.py:74-77)
        p = ColumnProfile(name=name, kind="string", count=3, max_str_len=4)
        assert infer_sql_type(p) == expect

    @pytest.mark.parametrize(
        "mn,mx,expect",
        [
            (0, 100, "SMALLINT"),
            (-32768, 32767, "SMALLINT"),
            (-32769, 0, "INTEGER"),
            (0, 2147483647, "INTEGER"),
            (0, 2147483648, "BIGINT"),
        ],
    )
    def test_tier2_integer_sizing(self, mn, mx, expect):
        assert infer_sql_type(num(min_val=mn, max_val=mx, all_integral=True)) == expect

    @pytest.mark.parametrize(
        "places,name,expect",
        [
            (0, "v", "INTEGER"),  # float column, whole values
            (2, "total_spend", "NUMERIC(12,6)"),
            (2, "sale_amount_usd", "NUMERIC(15,2)"),  # price/amount name
            (6, "reading", "NUMERIC(12,6)"),
            (7, "reading", "DOUBLE PRECISION"),
        ],
    )
    def test_tier2_float_narrowing(self, places, name, expect):
        p = num(name=name, min_val=0.0, max_val=1.0, max_decimal_places=places)
        assert infer_sql_type(p) == expect

    def test_tier2_bool_and_timestamps(self):
        assert infer_sql_type(ColumnProfile("f", "boolean", 2)) == "BOOLEAN"
        assert infer_sql_type(ColumnProfile("t", "timestamp", 2)) == "TIMESTAMP"
        assert (
            infer_sql_type(ColumnProfile("t", "timestamp", 2, has_tz=True))
            == "TIMESTAMP WITH TIME ZONE"
        )

    def test_tier3_strings_and_empty(self):
        assert (
            infer_sql_type(ColumnProfile("s", "string", 5, max_str_len=255))
            == "VARCHAR(255)"
        )
        assert (
            infer_sql_type(ColumnProfile("s", "string", 5, max_str_len=256))
            == "TEXT"
        )
        assert infer_sql_type(ColumnProfile("s", "empty", 0)) == "TEXT"

    def test_spark_mapping(self):
        assert sql_to_spark_type("SMALLINT") == T.ShortType()
        assert sql_to_spark_type("VARCHAR(10)") == T.StringType()
        assert sql_to_spark_type("NUMERIC(12,6)") == T.DecimalType(12, 6)
        assert sql_to_spark_type("TIMESTAMP WITH TIME ZONE") == T.TimestampType()


# ---------------------------------------------------------------------------
# T11 — profiler
# ---------------------------------------------------------------------------


class TestProfiler:
    @pytest.fixture()
    def df(self, spark):
        return spark.createDataFrame(
            [
                (1, 1.5, "aa", None),
                (2, 2.0, "bbb", None),
                (3, None, "aa", None),
            ],
            "id long, reading double, tag string, empty string",
        )

    def test_one_pass_stats_and_types(self, df):
        infos = {c.name: c for c in profile_columns(df)}
        assert infos["id"].data_type == "SMALLINT"
        assert infos["id"].metadata["is_unique"] is True
        assert infos["id"].nullable is False
        assert (
            "Consider as primary key candidate"
            in infos["id"].metadata["recommendations"]
        )

        r = infos["reading"]
        assert r.data_type == "NUMERIC(12,6)"  # 1 decimal place ≤ 6
        assert r.stats["null_count"] == 1 and r.nullable is True

        t = infos["tag"]
        assert t.data_type == "VARCHAR(3)"
        assert t.stats["unique_count"] == 2
        assert sorted(t.sample_values) == ["aa", "bbb"]

        assert infos["empty"].data_type == "TEXT"

    def test_distinct_counts_equal_count_distinct(self, spark):
        """NaN, -0.0 and nulls over three partitions: the one-job
        distinct count is ``countDistinct``'s, not ``collect_set``'s
        (which keeps one NaN per partition)."""
        nan, inf = float("nan"), float("inf")
        vals = [0.0, -0.0, nan, nan, None, 1.5, inf, -0.0, nan]
        df = spark.createDataFrame(
            [(v, v, i % 2 or None) for i, v in enumerate(vals)],
            "d double, f float, n int",
        ).repartition(3)
        infos = {c.name: c for c in profile_columns(df)}
        want = df.agg(*[F.countDistinct(c).alias(c) for c in df.columns]).first()
        for c in df.columns:
            assert infos[c].stats["unique_count"] == want[c], c
        assert infos["d"].stats["unique_count"] == 4  # 0.0, NaN, 1.5, inf
        assert infos["d"].stats["null_count"] == 1
        samples = infos["d"].sample_values
        assert len(samples) == 4 and sum(x != x for x in samples) == 1

    def test_all_null_column_and_empty_frame(self, spark):
        df = spark.createDataFrame(
            [(1, None), (2, None)], "id long, gone double"
        )
        gone = {c.name: c for c in profile_columns(df)}["gone"]
        assert gone.data_type == "TEXT" and gone.nullable is True
        assert gone.stats == {
            "count": 2, "null_count": 2, "unique_count": 0, "unique_ratio": 0.0
        }
        assert gone.sample_values == []
        for info in profile_columns(df.limit(0)):
            assert info.stats == {
                "count": 0, "null_count": 0, "unique_count": 0, "unique_ratio": 0
            }
            assert info.sample_values == [] and info.nullable is False

    def test_profiles_a_bounded_sample(self, spark):
        df = spark.range(0, 15_000, 1, 3).select(
            "id", (F.col("id") % 7).alias("grp")
        )
        assert profiler.SAMPLE_ROWS == 10_000
        infos = {c.name: c for c in profile_columns(df)}
        assert infos["id"].stats["count"] == 10_000
        assert infos["id"].stats["unique_count"] == 10_000
        assert infos["id"].metadata["is_unique"] is True
        assert infos["grp"].stats["unique_count"] == 7
        assert len(infos["id"].sample_values) == 5
        assert len(set(infos["id"].sample_values)) == 5

    def test_profile_is_one_aggregate(self, spark, tmp_path):
        path = str(tmp_path / "raw")
        bdg2_frames(spark)["raw"].write.parquet(path)
        df = spark.read.parquet(path)
        infos, jobs = jobs_run(spark, lambda: profile_columns(df))
        assert len(infos) == 4
        assert 0 < jobs <= 2, f"profile ran {jobs} jobs"

    def test_monotonicity(self, spark):
        df = spark.createDataFrame(
            [(1, 10), (2, 20), (3, 15)], "ord int, v int"
        )
        assert is_monotonic(df, "ord", "ord") is True
        assert is_monotonic(df, "v", "ord") is False
        desc = spark.createDataFrame([(1, 30), (2, 20), (3, 10)], "ord int, v int")
        assert is_monotonic(desc, "v", "ord") is True  # non-increasing counts

    def test_monotonicity_null_order_keys(self, spark):
        """NULL order keys carry no position: they are excluded from
        the check instead of crashing the driver-side boundary stitch
        (ADVICE r5 #2 — an all-null range partition yielded
        first_o=None and a None<int TypeError)."""
        df = spark.createDataFrame(
            [(None, 99), (1, 10), (None, 0), (2, 20), (3, 30)],
            "ord int, v int",
        )
        assert is_monotonic(df, "v", "ord") is True
        all_null = spark.createDataFrame(
            [(None, 5), (None, 1)], "ord int, v int"
        )
        # no ordered rows at all → vacuously monotonic, no crash
        assert is_monotonic(all_null, "v", "ord") is True


# ---------------------------------------------------------------------------
# T6–T8 — sampling
# ---------------------------------------------------------------------------


class TestSampling:
    @pytest.fixture()
    def big(self, spark):
        return spark.range(10_000).withColumn(
            "grp", (F.col("id") % 4).cast("string")
        )

    def test_random_keeps_endpoints(self, big):
        out = random_sample(big, 50, order_col="id").collect()
        ids = {r["id"] for r in out}
        assert 0 in ids and 9_999 in ids
        assert 2 <= len(ids) < 10_000

    def test_random_small_input_passthrough(self, spark):
        df = spark.range(5)
        assert random_sample(df, 100).count() == 5

    def test_systematic_step(self, big):
        out = systematic_sample(big, 100, "id")
        ids = [r["id"] for r in out.orderBy("id").collect()]
        assert len(ids) == 100
        assert ids[:3] == [0, 100, 200]  # every total/n-th row

    def test_stratified_quota(self, big):
        out = stratified_sample(big, "grp", 400, seed=42)
        sizes = {
            r["grp"]: r["n"]
            for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()
        }
        assert set(sizes) == {"0", "1", "2", "3"}
        for n in sizes.values():  # ~100 each (Bernoulli tolerance)
            assert 50 <= n <= 200

    def test_hash_random_deterministic_with_endpoints(self, big):
        from building_energy_data_pipeline_spark.schema.sampling import (
            hash_random_sample,
        )

        a = {r["id"] for r in hash_random_sample(big, "id", 5_000).collect()}
        b = {r["id"] for r in hash_random_sample(big, "id", 5_000).collect()}
        assert a == b  # no RNG anywhere — bit-identical reruns
        assert 0 in a and 9_999 in a  # reference endpoint guarantee
        # target = min(5000, 100000, 10000 // 200) = 50; Bernoulli-ish
        # spread around it, endpoints included
        assert 20 <= len(a) <= 100

    def test_hash_random_small_input_passthrough(self, spark):
        from building_energy_data_pipeline_spark.schema.sampling import (
            hash_random_sample,
        )

        assert hash_random_sample(spark.range(5), "id", 100).count() == 5

    def test_hash_stratified_quota_and_determinism(self, big):
        from building_energy_data_pipeline_spark.schema.sampling import (
            hash_stratified_sample,
        )

        out = hash_stratified_sample(big, "grp", "id", 400)
        again = hash_stratified_sample(big, "grp", "id", 400)
        assert sorted(r["id"] for r in out.collect()) == sorted(
            r["id"] for r in again.collect()
        )
        sizes = {
            r["grp"]: r["n"]
            for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()
        }
        assert set(sizes) == {"0", "1", "2", "3"}
        for n in sizes.values():  # quota 100 per 2500-row stratum
            assert 50 <= n <= 200

    def test_hash_stratified_small_stratum_kept_whole(self, spark):
        from building_energy_data_pipeline_spark.schema.sampling import (
            hash_stratified_sample,
        )

        # quota (50) >= stratum size (10) → the whole stratum survives
        df = spark.range(20).withColumn(
            "grp", (F.col("id") % 2).cast("string")
        )
        out = hash_stratified_sample(df, "grp", "id", 100)
        assert out.count() == 20


# ---------------------------------------------------------------------------
# T12–T14 — DDL + diff
# ---------------------------------------------------------------------------


GOLDEN_DDL = os.path.join(os.path.dirname(__file__), "golden", "bdg2_ddl.sql")


def bdg2_frames(spark):
    """BDG2-shaped ``metadata``, melted ``raw`` meter and ``weather``
    tables (12 buildings, 4 sites, 4 meters, 72 hours), built from
    ``range`` ids so no value passes through the driver's zone."""

    def pick(values, idx):
        arr = F.array(*[F.lit(v) for v in values])
        return F.element_at(arr, (idx % len(values) + 1).cast("int"))

    sites = ["Panther", "Fox", "Rat", "Bear"]
    uses = ["office", "lodging", "education", "parking", "public"]

    def building(b):
        return F.concat_ws(
            "_", pick(sites, b % 4), pick(uses, b % 5), F.format_string("%04d", b)
        )

    id_ = F.col("id")
    hour = F.expr("timestamp_seconds(1451606400 + (id % 72) * 3600)")
    meta = spark.range(0, 12, 1, 2).select(
        building(id_).alias("building_id"),
        pick(sites, id_ % 4).alias("site_id"),
        pick(uses, id_ % 5).alias("primaryspaceusage"),
        (F.lit(1000.0) + id_ * 431).alias("sqm"),
        F.when(id_ % 3 == 0, None).otherwise(F.lit(1950.0) + id_ * 4).alias("yearbuilt"),
        F.when(id_ % 4 == 1, None).otherwise((id_ % 6 + 1).cast("int")).alias("numberoffloors"),
    )
    raw = spark.range(0, 4 * 12 * 72, 1, 3).select(
        hour.alias("timestamp"),
        building((id_ / 72).cast("long") % 12).alias("building_id"),
        F.when(id_ % 17 == 0, None)
        .otherwise(F.round((id_ * 37 % 1000) / 10 + 0.1, 1))
        .alias("meter_reading"),
        pick(["electricity", "chilledwater", "steam", "hotwater"], (id_ / 864).cast("long")).alias("meter"),
    )
    weather = spark.range(0, 4 * 72, 1, 2).select(
        hour.alias("timestamp"),
        pick(sites, (id_ / 72).cast("long")).alias("site_id"),
        F.round((id_ * 13 % 400) / 10 - 12.5, 1).alias("airTemperature"),
        F.when(id_ % 11 == 0, None).otherwise((id_ * 7 % 90) / 10).alias("windSpeed"),
        F.lit(0).cast("int").alias("precipDepth1HR"),
    )
    return {"metadata": meta, "raw": raw, "weather": weather}


class TestDDL:
    def test_table_name_derivation(self):
        # reference parametrized cases (test_schema_analysis_orchestrator.py)
        assert derive_table_name("/data/My-File.v2.csv") == "my_file_v2"
        assert derive_table_name("2020_data.parquet") == "tbl_2020_data"

    def test_ddl_text(self, spark):
        df = spark.createDataFrame([(1, "a")], "id long, tag string")
        ddl = generate_ddl(
            profile_columns(df),
            "readings.csv",
            now=dt.datetime(2026, 1, 1, 12, 0, 0),
        )
        assert '-- Schema generated for readings.csv' in ddl
        assert 'CREATE TABLE IF NOT EXISTS "readings" (' in ddl
        assert '"id" SMALLINT NOT NULL' in ddl
        assert '"tag" VARCHAR(1) NOT NULL' in ddl
        assert "-- Column Information:" in ddl
        assert "Consider as primary key candidate" in ddl

    def test_bdg2_ddl_golden(self, spark):
        """The emitted DDL, byte for byte, for the three BDG2 table
        shapes (``tests/golden/bdg2_ddl.sql``)."""
        now = dt.datetime(2026, 1, 1, 12, 0, 0)
        got = "\n\n".join(
            generate_ddl(profile_columns(df), f"{name}.parquet", table_name=name, now=now)
            for name, df in bdg2_frames(spark).items()
        ) + "\n"
        with open(GOLDEN_DDL) as fh:
            assert got == fh.read()

    def test_primary_key_clause(self, spark):
        df = spark.createDataFrame([(1,)], "id long")
        ddl = generate_ddl(profile_columns(df), "x.csv", primary_key="id")
        assert "    PRIMARY KEY (id)" in ddl

    def test_schema_diff(self):
        left = T.StructType(
            [
                T.StructField("a", T.LongType()),
                T.StructField("b", T.StringType()),
                T.StructField("c", T.DoubleType()),
            ]
        )
        right = T.StructType(
            [
                T.StructField("a", T.LongType()),
                T.StructField("b", T.IntegerType()),
                T.StructField("d", T.StringType()),
            ]
        )
        d = schema_diff(left, right)
        assert d["only_in_left"] == ["c"]
        assert d["only_in_right"] == ["d"]
        assert d["type_mismatch"] == [("b", "string", "int")]
