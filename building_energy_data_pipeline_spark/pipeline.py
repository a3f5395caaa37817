"""Top-level pipeline facade (SURVEY §3) — the reference
``Orchestrator``'s entry points (``src/orchestrator/orchestrator.py:
15-161``) re-expressed over the Spark engine, so a reference user
keeps the same three calls:

- :meth:`Pipeline.retrieve_data` — Zenodo download + selective unzip
  (driver-side, §3.3);
- :meth:`Pipeline.transform_data` — CSV corpus → melted Parquet
  (§3.2) via ``etl.transform_sources``;
- :meth:`Pipeline.load_data` — the flagship path (§3.1): per parquet
  source, profile → DDL text file → idempotence gate → deduped
  partitioned write. PostgreSQL is replaced by a Parquet warehouse
  directory (tables ARE directories); staging tables, COPY, thread
  pools and batched merges are Spark's job machinery.

Config is a plain dict mirroring the reference's
``config/app_config.yaml`` keys (``project_data.record_id``,
``unique_columns``, ``zip_file_folders_to_extract``...).
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .config import ConfigManager
from .etl.loader import OverlapResult, write_idempotent
from .etl.transforms import transform_sources
from .schema.ddl import derive_table_name, generate_ddl
from .schema.profiler import profile_columns
from .sources.acquire import download_from_zenodo, get_parquet_info, unzip_folders
from .sources.readers import find_sources

#: table_type dispatch for the overlap gate, by table name
_TABLE_TYPES = {"raw": "raw", "weather": "weather", "metadata": "metadata"}


class Pipeline:
    def __init__(
        self, spark: SparkSession, config: "dict[str, Any] | ConfigManager"
    ):
        """``config`` is a plain dict or a :class:`~.config.ConfigManager`
        (the reference's YAML manager, ``config_manager.py:8-182``) —
        both expose ``[...]`` / ``.get`` identically. A ConfigManager is
        validated for the engine's own required key up front."""
        self.spark = spark
        self.config = config
        if isinstance(config, ConfigManager):
            config.validate_config(["warehouse_path"])
        self.warehouse = config["warehouse_path"]
        self.schemas_dir = config.get(
            "schemas_path", os.path.join(self.warehouse, "_schemas")
        )

    def create_folder_structure(self, base_path: str = ".") -> list[str]:
        """First-run scaffolding: materialize the directory tree the
        ``project_structure`` config section describes (the reference
        ``Orchestrator.create_folder_structure``,
        ``src/orchestrator/orchestrator.py:47-48`` →
        ``FileUtils.create_directories_from_yaml``). Returns the
        created/confirmed directories depth-first."""
        from .sources.acquire import create_directories_from_yaml

        return create_directories_from_yaml(
            self.config.get("project_structure", {}), base_path
        )

    # -- §3.3 -------------------------------------------------------------
    def retrieve_data(self) -> str | None:
        """Download the configured Zenodo record and extract the
        configured folders next to it."""
        pd_cfg = self.config["project_data"]
        path = download_from_zenodo(
            pd_cfg["record_id"],
            pd_cfg["file_name"],
            pd_cfg["raw_data_file_path"],
        )
        unzip_folders(
            path, None, pd_cfg.get("zip_file_folders_to_extract", [])
        )
        return path

    # -- §3.2 -------------------------------------------------------------
    def transform_data(self) -> dict[str, str]:
        """CSV corpus → Parquet datasets (melt for meter folders,
        passthrough for metadata/weather)."""
        src_root = self.config["data_sources_path"]
        out_root = self.config.get(
            "parquet_output_path", os.path.join(src_root, "_parquet")
        )
        return transform_sources(
            self.spark, find_sources(src_root, "csv"), out_root
        )

    # -- §3.1 -------------------------------------------------------------
    def load_data(
        self, source_root: str | None = None
    ) -> dict[str, OverlapResult]:
        """For every parquet source: profile a sample → emit
        ``{table}_schema.sql`` → overlap gate → deduped write into the
        warehouse. Returns per-table gate results (has_overlap=True ⇒
        nothing written, the reference's skip, §3.1 step 4)."""
        root = source_root or self.config.get(
            "parquet_output_path",
            os.path.join(self.config["data_sources_path"], "_parquet"),
        )
        unique_cols = self.config["project_data"]["unique_columns"]
        os.makedirs(self.schemas_dir, exist_ok=True)
        results: dict[str, OverlapResult] = {}
        for _folder, files in find_sources(root, "parquet").items():
            # a Spark dataset dir yields its part files; load the dir once
            dataset = os.path.dirname(files[0])
            table = derive_table_name(dataset)
            if table in results:
                continue
            df = self.spark.read.parquet(dataset)
            self._emit_schema(df, dataset, table)
            target = os.path.join(self.warehouse, table)
            existing = (
                self.spark.read.parquet(target)
                if os.path.isdir(target)
                else None
            )
            results[table] = write_idempotent(
                df,
                target,
                _TABLE_TYPES.get(table, "metadata" if "building_id" in df.columns else "raw"),
                unique_cols[table],
                existing=existing,
                partition_by=["meter"] if "meter" in df.columns else None,
            )
        return results

    def _emit_schema(self, df: DataFrame, source: str, table: str) -> str:
        """§3.1 step 2: sample-profile the source and freeze the DDL
        to ``{table}_schema.sql`` (``schema_analysis_orchestrator.py:
        41-106``); the profiler bounds its own sample."""
        ddl = generate_ddl(profile_columns(df), source, table_name=table)
        out = os.path.join(self.schemas_dir, f"{table}_schema.sql")
        with open(out, "w") as fh:
            fh.write(ddl)
        return out

    # -- supporting -------------------------------------------------------
    def read_parquet_info(self) -> dict[str, dict]:
        """§3 supporting: footer stats for every parquet source
        (``orchestrator.py:127-132``)."""
        root = self.config.get(
            "parquet_output_path",
            os.path.join(self.config["data_sources_path"], "_parquet"),
        )
        out = {}
        for _folder, files in find_sources(root, "parquet").items():
            for f in files:
                out[f] = get_parquet_info(f)
        return out
