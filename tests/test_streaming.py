"""Structured Streaming tests: file-source ingest with watermark
dedup, tumbling-window rollup, and the custom stateful gap operator —
all driven with ``availableNow`` triggers over tmp_path file streams
so they run exactly like batch jobs — plus the drain module
(``streaming/drain.py``) they run through.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from building_energy_data_pipeline_spark.streaming import (
    dedup_stream,
    meter_gap_stats,
    read_meter_stream,
    windowed_rollup,
    write_stream_parquet,
)
from building_energy_data_pipeline_spark.streaming.drain import (
    ParquetState,
    drain,
    replay_source,
)

T0 = dt.datetime(2016, 1, 1, 0, 0, 0)


def write_batch(spark, path, rows):
    spark.createDataFrame(
        rows, "timestamp timestamp, building_id string, meter string, meter_reading double"
    ).write.mode("append").parquet(path)


def wait_drained(query, timeout_s=120):
    """Await a query the ingest writers already started; a hung drain
    raises here instead of surfacing later as a wrong-data assertion."""
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError(f"stream did not drain within {timeout_s}s")


@pytest.fixture()
def src(tmp_path, spark):
    p = str(tmp_path / "in")
    write_batch(
        spark,
        p,
        [
            (T0, "b1", "electricity", 1.0),
            (T0, "b1", "electricity", 1.0),  # exact dup → dropped
            (T0 + dt.timedelta(minutes=30), "b1", "electricity", 2.0),
            (T0 + dt.timedelta(minutes=90), "b2", "electricity", 3.0),
        ],
    )
    return p


class TestStreamingIngest:
    def test_dedup_and_sink(self, spark, tmp_path, src):
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        stream = dedup_stream(read_meter_stream(spark, src))
        wait_drained(write_stream_parquet(stream, out, ckpt, partition_by=["meter"]))
        stored = spark.read.parquet(out)
        assert stored.count() == 3  # dup collapsed by the key
        assert set(stored.columns) >= {"timestamp", "building_id", "meter_reading"}

    def test_file_source_exactly_once(self, spark, tmp_path, src):
        # second batch of files is picked up incrementally; already
        # seen files are not reprocessed (checkpointed file log)
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        stream = dedup_stream(read_meter_stream(spark, src))
        wait_drained(write_stream_parquet(stream, out, ckpt))
        assert spark.read.parquet(out).count() == 3

        write_batch(
            spark, src, [(T0 + dt.timedelta(hours=2), "b3", "gas", 4.0)]
        )
        stream2 = dedup_stream(read_meter_stream(spark, src))
        wait_drained(write_stream_parquet(stream2, out, ckpt))
        assert spark.read.parquet(out).count() == 4  # +1, not re-ingested

    def test_windowed_rollup(self, spark, tmp_path):
        # append mode emits a window only once the watermark
        # (max event time - 1h) passes its end → include a late
        # "clock-advancing" row at T0+3h so both windows flush
        p = str(tmp_path / "roll_in")
        write_batch(
            spark,
            p,
            [
                (T0, "b1", "electricity", 1.0),
                (T0, "b1", "electricity", 1.0),
                (T0 + dt.timedelta(minutes=30), "b1", "electricity", 2.0),
                (T0 + dt.timedelta(minutes=90), "b2", "electricity", 3.0),
                (T0 + dt.timedelta(hours=3), "b9", "gas", 0.0),
            ],
        )
        out, ckpt = str(tmp_path / "roll"), str(tmp_path / "ckpt2")
        rolled = windowed_rollup(read_meter_stream(spark, p))
        wait_drained(write_stream_parquet(rolled, out, ckpt))
        got = {
            (r["window_start"], r["building_id"]): (
                r["n_readings"],
                r["sum_reading"],
            )
            for r in spark.read.parquet(out).collect()
        }
        assert got[(T0, "b1")] == (3, 4.0)  # dup NOT removed here: 1+1+2
        assert got[(T0 + dt.timedelta(hours=1), "b2")] == (1, 3.0)
        # the advancing row's own window is still open → not emitted
        assert (T0 + dt.timedelta(hours=3), "b9") not in got


class TestStatefulGap:
    def test_gap_state_accumulates(self, spark, tmp_path, src):
        # update-mode stateful output needs an update-capable sink
        # (parquet is append-only) → memory sink for the assertion
        ckpt = str(tmp_path / "ckpt3")
        gaps = meter_gap_stats(read_meter_stream(spark, src))
        drain(
            gaps.writeStream.format("memory")
            .queryName("gap_stats")
            .option("checkpointLocation", ckpt)
            .outputMode("update"),
            "gap_stats",
        )
        got = {
            (r["building_id"], r["meter"]): (
                r["n_readings"],
                r["max_gap_seconds"],
            )
            for r in spark.table("gap_stats").collect()
        }
        assert got[("b1", "electricity")] == (3, 1800.0)  # 30-min gap
        assert got[("b2", "electricity")] == (1, 0.0)


class TestStreamingIdempotentSink:
    def test_replayed_source_is_rejected_by_gate(self, spark, tmp_path, src):
        from building_energy_data_pipeline_spark.streaming import (
            write_stream_idempotent,
        )

        wh = str(tmp_path / "wh" / "raw")
        keys = ["timestamp", "building_id", "meter"]

        # first drain: gate passes (empty warehouse), dup row deduped
        stream = dedup_stream(read_meter_stream(spark, src))
        wait_drained(
            write_stream_idempotent(
                stream, wh, "raw", keys, str(tmp_path / "ckpt1")
            )
        )
        assert spark.read.parquet(wh).count() == 3

        # same data arrives again through a DIFFERENT source dir and a
        # FRESH checkpoint (so the file-source tracker can't save us)
        # → the batch overlap gate inside foreachBatch must reject it
        src2 = str(tmp_path / "in2")
        spark.read.parquet(src).write.parquet(src2)
        stream2 = dedup_stream(read_meter_stream(spark, src2))
        wait_drained(
            write_stream_idempotent(
                stream2, wh, "raw", keys, str(tmp_path / "ckpt2")
            )
        )
        assert spark.read.parquet(wh).count() == 3  # unchanged

        # LIVENESS: new rows WITHIN ±1 h of already-loaded data must
        # still land (row-level anti-join, not whole-batch rejection —
        # a batch-reject gate would drop every steady-cadence batch)
        src3 = str(tmp_path / "in3")
        write_batch(
            spark,
            src3,
            [
                (T0 + dt.timedelta(minutes=120), "b1", "electricity", 4.0),
                (T0, "b1", "electricity", 99.0),  # replayed key → dropped
            ],
        )
        stream3 = dedup_stream(read_meter_stream(spark, src3))
        wait_drained(
            write_stream_idempotent(
                stream3, wh, "raw", keys, str(tmp_path / "ckpt3")
            )
        )
        assert spark.read.parquet(wh).count() == 4  # +1 new, dup dropped
        # the replayed key kept its ORIGINAL reading
        kept = (
            spark.read.parquet(wh)
            .filter("building_id = 'b1' AND meter_reading = 99.0")
            .count()
        )
        assert kept == 0

        # disjoint new data (shifted +1 day, outside ±1 h) loads fine
        src4 = str(tmp_path / "in4")
        write_batch(
            spark,
            src4,
            [(T0 + dt.timedelta(days=1), "b9", "gas", 9.0)],
        )
        stream4 = dedup_stream(read_meter_stream(spark, src4))
        wait_drained(
            write_stream_idempotent(
                stream4, wh, "raw", keys, str(tmp_path / "ckpt4")
            )
        )
        assert spark.read.parquet(wh).count() == 5


    @pytest.mark.parametrize("driver_tz", ["UTC", "Asia/Kolkata"])
    def test_replay_is_dropped_in_any_driver_zone(
        self, spark, tmp_path, monkeypatch, driver_tz
    ):
        """The sink's time bounds cross the driver as epoch micros: a
        driver zone other than the session's must not shift the pruning
        window and let replayed rows through the anti-join."""
        import shutil
        import time

        from building_energy_data_pipeline_spark.streaming import (
            write_stream_idempotent,
        )

        monkeypatch.setenv("TZ", driver_tz)
        time.tzset()
        try:
            rows = [
                (T0 + dt.timedelta(hours=h), "b1", "electricity", float(h))
                for h in range(24)
            ]
            wh = str(tmp_path / "wh" / "raw")
            keys = ["timestamp", "building_id", "meter"]
            write_batch(spark, str(tmp_path / "in1"), rows)
            shutil.copytree(tmp_path / "in1", tmp_path / "in2")
            for i in (1, 2):  # the replay runs through a fresh checkpoint
                wait_drained(
                    write_stream_idempotent(
                        read_meter_stream(spark, str(tmp_path / f"in{i}")),
                        wh, "raw", keys, str(tmp_path / f"ckpt{i}"),
                    )
                )
            assert spark.read.parquet(wh).count() == 24
        finally:
            monkeypatch.undo()
            time.tzset()

    def test_partitioned_sink_drops_rows_replayed_across_batches(
        self, spark, tmp_path
    ):
        """The first batch finds no sink; the second reads the
        ``meter``-partitioned sink with the batch's schema and drops
        the rows the first one already wrote."""
        import shutil

        from building_energy_data_pipeline_spark.etl import validate_unique
        from building_energy_data_pipeline_spark.streaming import (
            write_stream_idempotent,
        )

        first = [
            (T0, "b1", "electricity", 1.0),
            (T0, "b1", "gas", 2.0),
            (T0 + dt.timedelta(hours=1), "b2", "electricity", 3.0),
        ]
        second = first[1:] + [
            (T0 + dt.timedelta(hours=2), "b1", "gas", 4.0),
            (T0 + dt.timedelta(hours=2), "b3", "steam", 5.0),
        ]
        src = tmp_path / "in"
        src.mkdir()
        for i, rows in enumerate((first, second)):
            out = str(tmp_path / f"f{i}")
            spark.createDataFrame(
                rows, "timestamp timestamp, building_id string, meter string, meter_reading double"
            ).coalesce(1).write.parquet(out)
            (part,) = [f for f in os.listdir(out) if f.endswith(".parquet")]
            dst = str(src / f"{i}.parquet")
            shutil.copy(os.path.join(out, part), dst)
            os.utime(dst, (1_000_000 + i, 1_000_000 + i))  # read in order

        wh = str(tmp_path / "wh" / "raw")
        keys = ["timestamp", "building_id", "meter"]
        q = write_stream_idempotent(
            read_meter_stream(spark, str(src), max_files_per_trigger=1),
            wh, "raw", keys, str(tmp_path / "ckpt"), partition_by=["meter"],
        )
        wait_drained(q)
        assert len([p for p in q.recentProgress if p["numInputRows"]]) == 2
        stored = spark.read.parquet(wh)
        assert sorted(f for f in os.listdir(wh) if f.startswith("meter=")) == [
            "meter=electricity", "meter=gas", "meter=steam"
        ]
        assert stored.count() == 5
        assert validate_unique(stored, keys).count() == 0


class TestTransformWithState:
    def test_v2_matches_batch_fold_when_available(self, spark, sf_dir):
        """transformWithStateInPandas twin of the q64 operator: runs
        only when the protobuf dependency is present (sandbox lacks
        it); the gate itself is asserted unconditionally below."""
        import pytest

        from building_energy_data_pipeline_spark.streaming.stateful import (
            transform_with_state_available,
        )

        if not transform_with_state_available():
            pytest.skip("protobuf not installed; v2 state client gated")

        from building_energy_data_pipeline_spark.plans.streaming_queries import (
            run_gap_stats_v2,
        )
        from building_energy_data_pipeline_spark.plans.queries import REGISTRY

        v2 = run_gap_stats_v2(spark, sf_dir)
        v1 = REGISTRY["q64_stateful_gap_tracker"].spark(spark, sf_dir)
        assert v2.exceptAll(v1).count() == 0
        assert v1.exceptAll(v2).count() == 0

    def test_v2_gate_raises_clearly_without_protobuf(self, spark):
        from building_energy_data_pipeline_spark.streaming.stateful import (
            event_gap_stats_v2,
            transform_with_state_available,
        )

        if transform_with_state_available():
            import pytest

            pytest.skip("protobuf installed; gate inactive")
        import pytest

        stream = (
            spark.readStream.format("rate").load()
            .selectExpr(
                "value as user_id", "'a' as event_type",
                "value * 1000000 as ts_us",
            )
        )
        with pytest.raises(ImportError, match="protobuf"):
            event_gap_stats_v2(stream)


class TestStreamingMetricsRecorder:
    def test_progress_events_recorded_for_drained_stream(
        self, spark, tmp_path, src
    ):
        """VERDICT r4 #7: the StreamingQueryListener must feed
        per-batch rows/latency/state into QueryHistory for a drained
        availableNow stream. Listener delivery is async — poll."""
        import time

        from building_energy_data_pipeline_spark.ops.observe import (
            StreamingMetricsRecorder,
        )

        rec = StreamingMetricsRecorder()
        listener = rec.listener()
        spark.streams.addListener(listener)
        try:
            out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
            stream = dedup_stream(read_meter_stream(spark, src))
            wait_drained(
                write_stream_parquet(
                    stream, out, ckpt, query_name="metrics_probe"
                )
            )
            deadline = time.time() + 30
            while time.time() < deadline and not rec.batches:
                time.sleep(0.2)
        finally:
            spark.streams.removeListener(listener)

        assert rec.batches, "no progress events delivered in 30s"
        got = [b for b in rec.batches if b["name"] == "metrics_probe"]
        assert got and sum(b["num_input_rows"] for b in got) == 4
        # the same batches landed in QueryHistory's ring buffer
        names = [r.name for r in rec.history.records]
        assert any(n.startswith("metrics_probe#") for n in names)
        assert rec.history.stats()["n_queries"] >= 1
        # dedup keeps state: the state-size metric must be present
        assert any(b["state_rows_total"] > 0 for b in got)


class TestStreamStaticEnrich:
    def test_streamed_enrichment_matches_batch_join(
        self, spark, tmp_path, src
    ):
        """Draining the stream-static join must produce exactly the
        batch join of the same inputs, including unmatched-left rows."""
        from building_energy_data_pipeline_spark.streaming import (
            enrich_stream,
            read_meter_stream,
        )

        dim = spark.createDataFrame(
            [("b1", "siteA"), ("b2", "siteB")], "building_id string, site string"
        )
        stream = enrich_stream(
            read_meter_stream(spark, src), dim, ["building_id"]
        )
        sink = str(tmp_path / "enriched")
        ckpt = str(tmp_path / "ckpt_enrich")
        drain(
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt),
            "enrich",
        )
        got = sorted(
            (r.building_id, r.meter, r.site)
            for r in spark.read.parquet(sink).collect()
        )
        batch = sorted(
            (r.building_id, r.meter, r.site)
            for r in spark.read.parquet(src)
            .join(F.broadcast(dim), ["building_id"], "left")
            .collect()
        )
        assert got == batch
        assert any(site is None for _, _, site in got) or all(
            b in ("b1", "b2") for b, _, _ in got
        )

    def test_dim_rewrite_is_picked_up_by_next_batch(
        self, spark, tmp_path
    ):
        """A CATALOG-table dimension rewritten between micro-batches
        (followed by REFRESH TABLE — the contract the docstring
        documents; a bare path read pins its file listing and fails
        with FILE_NOT_EXIST instead) must enrich the second batch
        with the new values, same stream object, no plan rebuild."""
        from building_energy_data_pipeline_spark.streaming import (
            enrich_stream,
            read_meter_stream,
        )

        src = str(tmp_path / "meters")
        dimdir = str(tmp_path / "dim")
        write_batch(
            spark, src, [(T0, "b1", "elec", 1.0)]
        )
        spark.createDataFrame(
            [("b1", "old")], "building_id string, site string"
        ).write.mode("overwrite").parquet(dimdir)
        spark.sql(
            f"CREATE TABLE scd_dim USING parquet LOCATION '{dimdir}'"
        )
        try:
            stream = enrich_stream(
                read_meter_stream(spark, src),
                spark.table("scd_dim"),
                ["building_id"],
            )
            sink = str(tmp_path / "enriched2")
            ckpt = str(tmp_path / "ckpt_enrich2")

            def run_once():
                drain(
                    stream.writeStream.format("parquet")
                    .option("path", sink)
                    .option("checkpointLocation", ckpt),
                    "scd_enrich",
                )

            run_once()
            # rewrite the dim (fresh part files), refresh, append a
            # new event; the next availableNow run re-resolves the
            # static side from the refreshed catalog entry
            spark.createDataFrame(
                [("b1", "new")], "building_id string, site string"
            ).write.mode("overwrite").parquet(dimdir)
            spark.sql("REFRESH TABLE scd_dim")
            write_batch(
                spark,
                src,
                [(T0 + dt.timedelta(hours=1), "b1", "elec", 2.0)],
            )
            run_once()
            rows = {
                (r.meter_reading, r.site)
                for r in spark.read.parquet(sink).collect()
            }
            assert rows == {(1.0, "old"), (2.0, "new")}, rows
        finally:
            spark.sql("DROP TABLE IF EXISTS scd_dim")


class TestRocksDBStateStore:
    """The production state backend (streaming/statestore): RocksDB
    provider engaged per-session at runtime, results identical to the
    default HDFS-backed provider, changelog checkpointing writing
    per-batch deltas, and the RocksDB custom metrics surfaced."""

    def _run_rollup(self, spark, src, out_dir):
        stream = read_meter_stream(spark, src)
        rolled = windowed_rollup(stream, window="1 hour")
        q = (
            rolled.writeStream.format("memory")
            .queryName(f"rocks_{out_dir.name}")
            .outputMode("complete")
            .option("checkpointLocation", str(out_dir / "ck"))
            .start()
        )
        q.processAllAvailable()
        rows = sorted(
            tuple(r)
            for r in spark.sql(
                f"select * from rocks_{out_dir.name}"
            ).collect()
        )
        return q, rows

    def test_provider_engages_and_results_match_default(
        self, spark, tmp_path, src
    ):
        from building_energy_data_pipeline_spark.streaming import (
            enable_rocksdb_state,
            restore_state_conf,
            rocksdb_metrics,
        )
        import os

        d_default = tmp_path / "dflt"
        d_default.mkdir()
        q0, baseline = self._run_rollup(spark, src, d_default)
        q0.stop()
        assert baseline  # non-empty rollup

        previous = enable_rocksdb_state(spark, bounded_memory_mb=512)
        try:
            assert (
                spark.conf.get(
                    "spark.sql.streaming.stateStore.providerClass"
                ).endswith("RocksDBStateStoreProvider")
            )
            d_rocks = tmp_path / "rocks"
            d_rocks.mkdir()
            q1, rocks_rows = self._run_rollup(spark, src, d_rocks)
            try:
                # identical results under either backend
                assert rocks_rows == baseline
                # the provider actually engaged: RocksDB custom
                # metrics in progress + changelog files in the
                # checkpoint's state directory
                metrics = rocksdb_metrics(q1)
                assert any(
                    k.startswith("rocksdb") for k in metrics
                ), metrics
                state = d_rocks / "ck" / "state" / "0" / "0"
                names = os.listdir(state)
                assert any(
                    n.endswith(".changelog") for n in names
                ), names
            finally:
                q1.stop()
        finally:
            restore_state_conf(spark, previous)
        # restore really restored (back to the session default)
        assert (
            spark.conf.get(
                "spark.sql.streaming.stateStore.providerClass", None
            )
            is None
            or "RocksDB"
            not in spark.conf.get(
                "spark.sql.streaming.stateStore.providerClass"
            )
        )

    def test_conf_dict_shape_and_validation(self):
        from building_energy_data_pipeline_spark.streaming import (
            ROCKSDB_PROVIDER,
            rocksdb_state_conf,
        )

        conf = rocksdb_state_conf()
        assert (
            conf["spark.sql.streaming.stateStore.providerClass"]
            == ROCKSDB_PROVIDER
        )
        assert (
            conf[
                "spark.sql.streaming.stateStore.rocksdb."
                "changelogCheckpointing.enabled"
            ]
            == "true"
        )
        bounded = rocksdb_state_conf(bounded_memory_mb=1024)
        assert (
            bounded[
                "spark.sql.streaming.stateStore.rocksdb."
                "maxMemoryUsageMB"
            ]
            == "1024"
        )
        import pytest as _pytest

        with _pytest.raises(ValueError, match="positive"):
            rocksdb_state_conf(bounded_memory_mb=0)


class TestStateDataSource:
    """The state reader (streaming/statestore.read_state /
    read_state_metadata): a streaming checkpoint's keyed state read
    back as a BATCH DataFrame — state audits and debugging without a
    running query — verified against what the query actually
    emitted, under the RocksDB provider to prove the reader crosses
    providers."""

    def test_checkpointed_state_matches_emitted_rollup(
        self, spark, tmp_path, src
    ):
        from building_energy_data_pipeline_spark.streaming import (
            enable_rocksdb_state,
            read_state,
            read_state_metadata,
            restore_state_conf,
        )

        previous = enable_rocksdb_state(spark)
        try:
            stream = read_meter_stream(spark, src)
            rolled = windowed_rollup(stream, window="1 hour")
            ck = str(tmp_path / "ck")
            q = (
                rolled.writeStream.format("memory")
                .queryName("state_src_t")
                .outputMode("complete")
                .option("checkpointLocation", ck)
                .start()
            )
            q.processAllAvailable()
            emitted = sorted(
                tuple(r)
                for r in spark.sql(
                    "select building_id, meter, window_start"
                    " from state_src_t"
                ).collect()
            )
            q.stop()
        finally:
            restore_state_conf(spark, previous)

        meta = read_state_metadata(spark, ck)
        ops = [
            (r["operatorId"], r["operatorName"]) for r in meta.collect()
        ]
        assert (0, "stateStoreSave") in ops, ops

        state = read_state(spark, ck)
        keys = sorted(
            (
                r["key"]["building_id"],
                r["key"]["meter"],
                r["key"]["window"]["start"],
            )
            for r in state.collect()
        )
        # every group the query emitted is a key in the store
        assert keys == emitted

    def test_join_state_reads_buffered_rows_per_side(
        self, spark, tmp_path, sf_dir
    ):
        """Stream-stream JOIN state (VERDICT r11 #5): the four
        symmetricHashJoin stores of q100's view->purchase join, read
        back per side via joinSide — every buffered row must be an
        actual input row of that side, the newest row of each side
        must still be buffered (the watermark trails it by the
        horizon), and the raw key->count store must agree with the
        stitched view's key multiset."""
        from collections import Counter

        from building_energy_data_pipeline_spark.sources.readers import (
            read_events_stream,
        )
        from building_energy_data_pipeline_spark.streaming import (
            enable_rocksdb_state,
            read_state,
            read_state_metadata,
            restore_state_conf,
        )

        views = (
            read_events_stream(spark, sf_dir)
            .filter(F.col("event_type") == "view")
            .select("user_id", F.col("ts").alias("v_ts"))
            .withWatermark("v_ts", "1 hour")
        )
        purchases = (
            read_events_stream(spark, sf_dir)
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        joined = views.join(
            purchases,
            F.expr(
                "user_id = p_user AND p_ts >= v_ts"
                " AND p_ts <= v_ts + interval 30 minutes"
            ),
        )
        ck = str(tmp_path / "ck")
        previous = enable_rocksdb_state(spark)
        try:
            drain(
                joined.writeStream.format("noop")
                .outputMode("append")
                .option("checkpointLocation", ck),
                "join_state",
            )
        finally:
            restore_state_conf(spark, previous)

        meta = read_state_metadata(spark, ck)
        stores = {
            (r["operatorName"], r["stateStoreName"])
            for r in meta.collect()
        }
        assert stores == {
            ("symmetricHashJoin", "left-keyToNumValues"),
            ("symmetricHashJoin", "left-keyWithIndexToValue"),
            ("symmetricHashJoin", "right-keyToNumValues"),
            ("symmetricHashJoin", "right-keyWithIndexToValue"),
        }

        from building_energy_data_pipeline_spark.sources.readers import (
            load_table,
        )

        events = load_table(spark, sf_dir, "events")
        for side, etype, ucol, tcol in (
            ("left", "view", "user_id", "v_ts"),
            ("right", "purchase", "p_user", "p_ts"),
        ):
            inp = {
                (r["user_id"], r["ts"])
                for r in events.filter(
                    F.col("event_type") == etype
                ).collect()
            }
            buffered = [
                (r["value"][ucol], r["value"][tcol])
                for r in read_state(
                    spark, ck, join_side=side
                ).collect()
            ]
            assert buffered, f"{side} side buffered no rows"
            assert set(buffered) <= inp  # state rows ARE input rows
            # the newest row of each side can never have been evicted
            assert max(t for _, t in inp) == max(t for _, t in buffered)
            # the raw key->count store agrees with the stitched view
            counts = Counter(u for u, _ in buffered)
            raw = read_state(
                spark, ck, store_name=f"{side}-keyToNumValues"
            ).collect()
            raw_counts = {
                r["key"][0]: r["value"][0] for r in raw if r["value"][0]
            }
            assert raw_counts == dict(counts)


class TestDrainModule:
    """``streaming/drain.py``: the availableNow drain, the versioned
    parquet fold state and the range-ordered replay source."""

    def test_drain_timeout_raises_and_stops_query(self, spark, tmp_path, src):
        import time

        def slow(batch_df, batch_id):
            time.sleep(5)

        writer = (
            read_meter_stream(spark, src)
            .writeStream.foreachBatch(slow)
            .queryName("slow_drain")
            .option("checkpointLocation", str(tmp_path / "ck"))
        )
        with pytest.raises(TimeoutError, match="slow_drain"):
            drain(writer, "slow_drain", timeout_s=1)
        assert not [q for q in spark.streams.active if q.name == "slow_drain"]

    def test_parquet_state_keeps_newest_version_only(self, spark, tmp_path):
        state = ParquetState(str(tmp_path), "s")
        assert state.read() is None
        for v in range(3):
            state.commit(spark.range(v + 1), v)
        assert os.listdir(tmp_path) == ["s_v2"]
        assert state.read().count() == 3

    def test_failed_commit_leaves_previous_state_readable(
        self, spark, tmp_path
    ):
        state = ParquetState(str(tmp_path), "s")
        state.commit(spark.range(3), 0)
        bad = spark.range(5).withColumn("x", F.expr("raise_error('boom')"))
        with pytest.raises(Exception, match="boom"):
            state.commit(bad, 1)
        assert state.read().count() == 3
        assert "s_v0" in os.listdir(tmp_path)

    def test_replay_source_replays_key_ranges_in_order(self, spark, tmp_path):
        ranges = []

        def record(batch_df, batch_id):
            row = batch_df.agg(F.min("id"), F.max("id")).first()
            if row[0] is not None:
                ranges.append(tuple(row))

        df = spark.range(400).selectExpr("id", "id % 7 AS k")
        stream = replay_source(df, str(tmp_path / "src"), "id")
        assert [(f.name, f.dataType) for f in stream.schema] == [
            (f.name, f.dataType) for f in df.schema
        ]
        drain(
            stream.writeStream.foreachBatch(record).option(
                "checkpointLocation", str(tmp_path / "ck")
            ),
            "replay",
        )
        # one range file per trigger, replayed in key order
        assert len(ranges) == 4
        assert ranges == sorted(ranges)
        assert all(a[1] < b[0] for a, b in zip(ranges, ranges[1:]))
