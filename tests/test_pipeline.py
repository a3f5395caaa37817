"""End-to-end pipeline facade tests: CSV corpus → transform →
load (schema files + idempotent warehouse writes) → reload skips;
plus writer/acquisition utilities.
"""

from __future__ import annotations

import os
import zipfile

import pytest

from building_energy_data_pipeline_spark.pipeline import Pipeline
from building_energy_data_pipeline_spark.sources.acquire import (
    download_from_zenodo,
    get_parquet_info,
    unzip_folders,
)
from building_energy_data_pipeline_spark.sources.writers import (
    csv_to_parquet,
    parquet_to_csv,
    write_parquet,
)


@pytest.fixture()
def corpus(tmp_path):
    raw = tmp_path / "src" / "raw"
    meta = tmp_path / "src" / "metadata"
    raw.mkdir(parents=True)
    meta.mkdir(parents=True)
    (raw / "electricity.csv").write_text(
        "timestamp,b1,b2\n2016-01-01 00:00:00,1.0,2.0\n2016-01-01 01:00:00,3.0,4.0\n"
    )
    (meta / "metadata.csv").write_text("building_id,sqft\nb1,100\nb2,200\n")
    return tmp_path


def make_pipeline(spark, tmp_path):
    return Pipeline(
        spark,
        {
            "data_sources_path": str(tmp_path / "src"),
            "parquet_output_path": str(tmp_path / "parquet"),
            "warehouse_path": str(tmp_path / "warehouse"),
            "project_data": {
                "record_id": "3887306",
                "file_name": "data.zip",
                "raw_data_file_path": str(tmp_path / "zips"),
                "unique_columns": {
                    "raw": ["timestamp", "building_id", "meter"],
                    "metadata": ["building_id"],
                },
            },
        },
    )


class TestPipelineEndToEnd:
    def test_transform_then_load_then_idempotent_reload(self, spark, corpus):
        p = make_pipeline(spark, corpus)

        out = p.transform_data()
        assert set(out) == {"raw", "metadata"}

        results = p.load_data()
        assert set(results) == {"raw", "metadata"}
        assert not results["raw"].has_overlap
        assert not results["metadata"].has_overlap

        # warehouse tables exist, raw partitioned by meter
        raw = spark.table if False else spark.read.parquet(
            str(corpus / "warehouse" / "raw")
        )
        assert raw.count() == 4
        assert "meter=electricity" in os.listdir(str(corpus / "warehouse" / "raw"))

        # DDL files frozen (§3.1 step 2)
        schemas = os.listdir(str(corpus / "warehouse" / "_schemas"))
        assert sorted(schemas) == ["metadata_schema.sql", "raw_schema.sql"]
        ddl = (corpus / "warehouse" / "_schemas" / "raw_schema.sql").read_text()
        assert 'CREATE TABLE IF NOT EXISTS "raw"' in ddl

        # reload: the overlap gate rejects every table, nothing doubles
        results2 = p.load_data()
        assert results2["raw"].has_overlap
        assert results2["metadata"].has_overlap
        assert spark.read.parquet(str(corpus / "warehouse" / "raw")).count() == 4

    def test_meter_filter_prunes_partitions(self, spark, corpus):
        # the partitionBy("meter") layout must turn a meter predicate
        # into scan-level partition pruning (PartitionFilters), not a
        # post-scan Filter over every partition — at 100 TB this is
        # the difference between reading one meter and reading all 8
        from building_energy_data_pipeline_spark.ops import explain_str

        p = make_pipeline(spark, corpus)
        p.transform_data()
        p.load_data()
        raw = spark.read.parquet(str(corpus / "warehouse" / "raw"))
        plan = explain_str(raw.filter(raw.meter == "electricity"))
        section = plan.split("PartitionFilters:")[1].splitlines()[0]
        assert "meter" in section, plan

    def test_parquet_info(self, spark, corpus):
        p = make_pipeline(spark, corpus)
        p.transform_data()
        info = p.read_parquet_info()
        assert info  # one entry per part file
        first = next(iter(info.values()))
        assert first["num_rows"] >= 0 and first["num_columns"] >= 2


class TestWriters:
    def test_csv_parquet_roundtrip(self, spark, tmp_path):
        src = tmp_path / "in.csv"
        src.write_text("a,b\n1,x\n2,y\n")
        pq_dir = str(tmp_path / "t.parquet")
        csv_to_parquet(spark, str(src), pq_dir)
        assert spark.read.parquet(pq_dir).count() == 2

        csv_dir = str(tmp_path / "out.csv")
        parquet_to_csv(spark, pq_dir, csv_dir)
        files = [f for f in os.listdir(csv_dir) if f.endswith(".csv")]
        assert len(files) == 1  # single-file export contract

    def test_jsonl_roundtrip_gzip(self, spark, tmp_path):
        from building_energy_data_pipeline_spark.sources.readers import (
            read_jsonl,
        )
        from building_energy_data_pipeline_spark.sources.writers import (
            write_jsonl,
        )

        df = spark.createDataFrame(
            [(1, 'he said "hi"\nand left', None), (2, "plain", "en")],
            "id long, text string, lang string",
        )
        out = str(tmp_path / "docs_jsonl")
        write_jsonl(df, out, compression="gzip")
        assert any(f.endswith(".json.gz") for f in os.listdir(out))
        back = read_jsonl(spark, out, schema=df.schema)
        # escaping, embedded newline, and null all survive
        assert sorted(
            (r.id, r.text, r.lang) for r in back.collect()
        ) == sorted((r.id, r.text, r.lang) for r in df.collect())

    def test_orc_roundtrip(self, spark, tmp_path):
        from building_energy_data_pipeline_spark.sources.readers import (
            read_any,
            read_orc,
        )
        from building_energy_data_pipeline_spark.sources.writers import (
            write_orc,
        )

        df = spark.createDataFrame(
            [(1, 1.5, "a"), (2, float("nan"), "b")],
            "id long, v double, k string",
        )
        out = str(tmp_path / "t.orc")
        write_orc(df, out)
        back = read_orc(spark, out, schema=df.schema)
        assert back.count() == 2
        # NaN survives the stripe encoding
        assert (
            back.filter("isnan(v)").select("id").first()[0] == 2
        )
        # extension dispatch (S6) covers .orc
        assert read_any(spark, out).count() == 2

    def test_partitioned_write(self, spark, tmp_path):
        df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, part string")
        write_parquet(df, str(tmp_path / "t"), partition_by=["part"])
        assert sorted(
            d for d in os.listdir(tmp_path / "t") if d.startswith("part=")
        ) == ["part=a", "part=b"]


def _crc(path):
    return path.parent / f".{path.name}.crc"


class TestLoadTableMemo:
    def test_in_place_rewrite_of_a_partition_file_misses(
        self, spark, tmp_path
    ):
        # a hive-partitioned table: the part files sit one level down,
        # so the top-level entries (k=1, k=2) keep their stats when a
        # part file is rewritten in place at the same size
        from building_energy_data_pipeline_spark.sources.readers import (
            load_table,
        )

        def write(rows, path):
            spark.createDataFrame(rows, "k int, v string").coalesce(
                1
            ).write.partitionBy("k").parquet(str(path))
            return next((path / "k=1").glob("*.parquet"))

        table = tmp_path / "t.parquet"
        part = write([(1, "a"), (2, "b")], table)
        first = load_table(spark, str(tmp_path), "t")
        assert load_table(spark, str(tmp_path), "t") is first
        before = part.stat()
        # same writer, same shape, one byte of data changed; the
        # checksum sidecar is rewritten in place with it
        other = write([(1, "z"), (2, "b")], tmp_path / "other")
        for src, dst in ((other, part), (_crc(other), _crc(part))):
            data = src.read_bytes()
            assert len(data) == dst.stat().st_size
            with open(dst, "r+b") as f:
                f.write(data)
        # a coarse-clock filesystem may keep the mtime: move it on
        os.utime(part, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
        again = load_table(spark, str(tmp_path), "t")
        assert again is not first, "in-place rewrite served the memo"
        assert [r.v for r in again.where("k = 1").collect()] == ["z"]

    def test_unlistable_partition_skips_the_memo(
        self, spark, tmp_path, monkeypatch
    ):
        # a partition directory that cannot be listed (EACCES, or
        # removed mid-walk) must not drop out of the key silently:
        # the memo is skipped and every call builds a fresh plan
        from building_energy_data_pipeline_spark.sources.readers import (
            load_table,
        )

        spark.createDataFrame(
            [(1, "a"), (2, "b")], "k int, v string"
        ).write.partitionBy("k").parquet(str(tmp_path / "t.parquet"))
        real = os.scandir

        def scandir(p="."):
            if os.path.basename(os.fspath(p)) == "k=2":
                raise PermissionError(13, "Permission denied", p)
            return real(p)

        monkeypatch.setattr(os, "scandir", scandir)
        first = load_table(spark, str(tmp_path), "t")
        assert load_table(spark, str(tmp_path), "t") is not first


class TestAcquire:
    def test_download_skips_existing(self, tmp_path):
        # no network: the skip-if-exists path (zenodo_client.py:44-50)
        dest = tmp_path / "zips"
        dest.mkdir()
        (dest / "data.zip").write_bytes(b"cached")
        got = download_from_zenodo("0000", "data.zip", str(dest))
        assert got == str(dest / "data.zip")

    def test_unzip_selective_folders(self, tmp_path):
        z = tmp_path / "a.zip"
        with zipfile.ZipFile(z, "w") as zf:
            zf.writestr("raw/electricity.csv", "ts,b1\n")
            zf.writestr("weather/weather.csv", "ts,site\n")
            zf.writestr("junk/skip.txt", "no")
        got = unzip_folders(str(z), str(tmp_path / "out"), ["raw", "weather"])
        assert sorted(got) == ["raw/electricity.csv", "weather/weather.csv"]
        assert (tmp_path / "out" / "raw" / "electricity.csv").exists()
        assert not (tmp_path / "out" / "junk").exists()

    def test_unzip_all_when_no_filter(self, tmp_path):
        z = tmp_path / "a.zip"
        with zipfile.ZipFile(z, "w") as zf:
            zf.writestr("raw/x.csv", "1")
            zf.writestr("other/y.csv", "2")
        got = unzip_folders(str(z), str(tmp_path / "out"))
        assert len(got) == 2

    def test_parquet_footer_info(self, spark, tmp_path):
        p = str(tmp_path / "t.parquet")
        spark.range(100).coalesce(1).write.parquet(p)
        part = next(
            os.path.join(p, f) for f in os.listdir(p) if f.endswith(".parquet")
        )
        info = get_parquet_info(part)
        assert info["num_rows"] == 100
        assert info["columns"] == {"id": "INT64"}


class TestSchemaEvolution:
    def test_merge_schema_read_unions_file_schemas(self, spark, tmp_path):
        # a table whose later files gained a column: mergeSchema=True
        # surfaces the union with NULLs for the older vintage;
        # default read keeps the fast single-footer path
        from building_energy_data_pipeline_spark.sources.readers import (
            read_parquet,
        )

        p = str(tmp_path / "evolving")
        spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(
            p + "/batch=1"
        )
        spark.createDataFrame(
            [(2, "b", 9.5)], "id long, v string, score double"
        ).write.parquet(p + "/batch=2")

        merged = read_parquet(spark, p, merge_schema=True)
        assert "score" in merged.columns
        rows = {r.id: r.score for r in merged.collect()}
        assert rows[2] == 9.5 and rows[1] is None


class TestFolderBootstrap:
    """Reference parity: ``Orchestrator.create_folder_structure`` →
    ``FileUtils.create_directories_from_yaml``
    (``src/orchestrator/orchestrator.py:47-48``,
    ``tests/test_file_utils.py:170-184`` — the same nested-dict
    fixture and assertions)."""

    def test_create_directories_from_yaml(self, tmp_path):
        from building_energy_data_pipeline_spark.sources.acquire import (
            create_directories_from_yaml,
        )

        structure = {"src": {"module1": {}, "module2": {}}}
        made = create_directories_from_yaml(structure, str(tmp_path))

        assert (tmp_path / "src" / "module1").exists()
        assert (tmp_path / "src" / "module2").exists()
        assert (tmp_path / "src" / "module1" / "__init__.py").exists()
        # `resources` contains "src" as a substring but is NOT a src
        # path segment — no package marker (documented deviation from
        # the reference's substring check)
        create_directories_from_yaml({"resources": {}}, str(tmp_path))
        assert (tmp_path / "resources").exists()
        assert not (tmp_path / "resources" / "__init__.py").exists()
        assert str(tmp_path / "src") in made
        # idempotent re-run
        again = create_directories_from_yaml(structure, str(tmp_path))
        assert made == again

    def test_pipeline_facade_reads_project_structure_config(
        self, spark, tmp_path
    ):
        pipe = Pipeline(
            spark,
            {
                "warehouse_path": str(tmp_path / "wh"),
                "project_structure": {
                    "data_sources": {"raw_data": None, "cleaned_data": None},
                    "logs": None,
                },
            },
        )
        made = pipe.create_folder_structure(str(tmp_path))
        assert (tmp_path / "data_sources" / "raw_data").is_dir()
        assert (tmp_path / "logs").is_dir()
        assert len(made) == 4
