"""Streaming queries through the driver contract (q52, q62): the SAME
logic the batch engine runs, executed as Structured Streaming jobs
(file source → watermark → tumbling/session window → memory sink) and
hash-compared to DuckDB batch oracles.

The reference is batch-only (SURVEY §2.11); this is the §7 phase-7
upgrade surfaced as a first-class, oracle-checked capability: the
streaming execution of a static input must produce byte-identical
results to the batch SQL — Spark's unified batch/streaming semantics,
demonstrated rather than asserted.
"""

from __future__ import annotations

import glob
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.scalar import ROUND_TO, dec_sum, dec_sum_sql
from ..operators import scale
from ..sources.readers import load_table, read_events_stream
from ..streaming.drain import (
    ParquetState,
    drain,
    drain_to_memory,
    replay_source,
)
from ..streaming.statestore import (
    enable_rocksdb_state,
    read_state,
    restore_state_conf,
)
from .registry import query


def _scratch(prefix: str) -> tempfile.TemporaryDirectory:
    """Per-invocation scratch directory (staged source, checkpoint,
    fold state), removed when the query's ``with`` block exits."""
    return tempfile.TemporaryDirectory(
        prefix=prefix, ignore_cleanup_errors=True
    )


def _drain_batches(stream: DataFrame, fold, base_dir: str, tag: str):
    """Drain ``stream`` through the ``foreachBatch`` function ``fold``,
    checkpointed under ``base_dir``."""
    return drain(
        stream.writeStream.foreachBatch(fold).option(
            "checkpointLocation", os.path.join(base_dir, "ckpt")
        ),
        tag,
    )


@query(
    "q52_streaming_hourly_rollup",
    oracle=f"""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
           event_type,
           COUNT(*) AS n_events,
           {dec_sum_sql("value")} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q52_streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour rollup executed as a STREAM: ``readStream``
    file source over the static events table, 1-hour watermark (the
    reference's ±1 h tolerance, ``data_loader.py:389``), windowed
    aggregate, ``availableNow`` trigger, memory sink — then the sink
    table is returned as the (batch) result for oracle comparison.

    ``complete`` output mode so the trailing window — which the
    watermark never passes on a finite source — is still emitted;
    at true streaming scale the production sink runs ``append`` and
    flushes windows as the watermark crosses them
    (``streaming/ingest.windowed_rollup``).

    Scale: state = one row per (window, event_type) inside the
    watermark horizon; the file source lists incrementally, so a
    100 TB backlog is throttled with ``maxFilesPerTrigger``, not
    loaded in one batch.
    """
    # read_events_stream probes the static footer and adapts the
    # stream schema to the file's timestamp vintage (nanos vs NTZ)
    stream = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dec_sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return drain_to_memory(stream, "q52", "complete")


@query(
    "q62_streaming_session_window",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
    ),
    flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM ev
    ),
    sess AS (
      SELECT user_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    )
    SELECT user_id,
           CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           CAST(MAX(ts) AS TIMESTAMP) AS session_end,
           COUNT(*) AS n_events,
           {dec_sum_sql("value")} AS sum_value
    FROM sess
    GROUP BY user_id, sess_id
    """,
)
def q62_streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` (dynamic-gap session windows) run as
    a STREAM — the streaming twin of the batch gap-sessionization
    (q42), but using Spark's built-in session-window state store
    instead of window functions. The oracle derives the identical
    sessions relationally: a new session starts when the gap to the
    previous event is ≥ 30 min (session_window's window end is
    exclusive, so two events exactly one gap apart do NOT merge).

    SURVEY §2.11: the reference is batch-only; session windows are
    the §7 extension the driver contract's "Structured Streaming"
    north star calls for.

    Scale: session-window state is per (user, open session) and is
    evicted as the watermark passes session end — bounded by active
    users within the watermark horizon, not by history. The merge of
    adjacent windows happens inside the state store, shuffled once on
    user_id.
    """
    stream = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            dec_sum("value").alias("sum_value"),
        )
        .select(
            "user_id", "session_start", "session_end", "n_events", "sum_value"
        )
    )
    return drain_to_memory(stream, "q62", "complete")


@query(
    "q64_stateful_gap_tracker",
    oracle="""
    WITH gaps AS (
      SELECT user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP))
               - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER
                   (PARTITION BY user_id, event_type
                    ORDER BY CAST(ts AS TIMESTAMP)) AS gap_us
      FROM events
    )
    SELECT user_id, event_type,
           COUNT(*) AS n_events,
           CAST(COALESCE(MAX(gap_us), 0) AS BIGINT) AS max_gap_us
    FROM gaps
    GROUP BY user_id, event_type
    """,
)
def q64_stateful_gap_tracker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful streaming operator through the driver
    contract — ``applyInPandasWithState`` tracking per-key event
    count and largest inter-event gap (``streaming/stateful.py
    event_gap_stats``), the streaming generalization of the batch
    lag-gap window (q07) and of the reference's monotonicity probe
    (``schema_analyzer.py:88``).

    Unlike typical custom-state ops this one IS oracle-checked: the
    fold runs in exact int64 microseconds, so after the finite
    source drains, the per-key state equals the relational
    lag()/MAX() oracle bit-for-bit (single-event keys emit gap 0 ↔
    COALESCE(MAX, 0)).

    Scale: state = one 3-int tuple per (user, event_type); Arrow
    batches stream through the Python worker per key-partition
    (shuffled once on the grouping key), and eviction at true scale
    is a state timeout — memory tracks ACTIVE keys, not history.
    """
    from ..streaming.stateful import event_gap_stats

    stream = read_events_stream(spark, sf_dir).select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    return _drain_gap_stream(spark, event_gap_stats(stream), "q64")


def _drain_gap_stream(spark, stats_stream, tag: str) -> DataFrame:
    """Run an update-mode gap-stats stream to completion against a
    memory sink and keep each key's FINAL state: n_events grows
    strictly with every emission for a key, so max-n_events IS the
    last state, independent of sink row order or how the file source
    batches."""
    sink = drain_to_memory(stats_stream, tag, "update")
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.col("n_events").desc()
    )
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def run_gap_stats_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q64 custom stateful operator on Spark 4's
    ``transformWithStateInPandas`` API (``streaming/stateful.py
    event_gap_stats_v2``): typed ValueState instead of the GroupState
    tuple, same int64-exact fold, same output contract — the two
    stateful backends are drop-in interchangeable.

    NOT in the driver registry: the v2 Python state client requires
    the ``protobuf`` package, absent in this sandbox (the worker
    crashes at stream start without it) — gated honestly like the
    media codecs. ``tests/test_streaming.py`` runs this end-to-end
    and compares it to the batch fold whenever protobuf is present.

    Scale: v2 is the forward path for production state — RocksDB
    state store, per-state TTL, timers, initial-state seeding — while
    state stays one 3-int tuple per active key.
    """
    from ..streaming.stateful import event_gap_stats_v2

    stream = read_events_stream(spark, sf_dir).select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    return _drain_gap_stream(spark, event_gap_stats_v2(stream), "q89")


@query(
    "q96_streaming_dedup",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {dec_sum_sql("value")} AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def q96_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication — ``dropDuplicatesWithinWatermark`` as
    a driver-checked query (SURVEY §7 phase 7: the streaming analogue
    of the J1/C5 ingestion gate; the library form is
    ``streaming/ingest.dedup_stream``). The stream is the events
    source UNIONed with itself — every event arrives exactly twice —
    deduplicated on ``event_id`` within a 1-hour watermark and
    drained append-mode to a memory sink; the returned per-type
    totals must equal the batch aggregate over the ORIGINAL table,
    which is only true if the dedup removed every doubled row.

    State/scale: one entry per event id inside the watermark horizon
    — the watermark GC (the whole point of the *WithinWatermark*
    variant vs plain streaming dropDuplicates, whose state grows
    unboundedly) caps state at arrival-rate × horizon regardless of
    corpus size. Append mode: deduped rows flush immediately, nothing
    waits for the watermark to pass.
    """
    ev = read_events_stream(spark, sf_dir)
    doubled = ev.unionAll(read_events_stream(spark, sf_dir))
    deduped = (
        doubled.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type", "value")
    )
    return (
        drain_to_memory(deduped, "q96", "append")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            dec_sum("value").alias("sum_value"),
        )
    )


@query(
    "q100_stream_stream_join",
    oracle="""
    SELECT v.user_id,
           COUNT(*) AS n_pairs,
           CAST(SUM(epoch_us(CAST(p.ts AS TIMESTAMP))
                    - epoch_us(CAST(v.ts AS TIMESTAMP))) AS BIGINT)
             AS sum_latency_us
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 30 MINUTE
    GROUP BY v.user_id
    """,
)
def q100_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join — view→purchase attribution within a
    30-minute window, both sides unbounded streams (SURVEY §2.11: the
    reference has no streaming at all; this is the join the
    watermark/state machinery exists for). Each side carries a 1-hour
    watermark and the join predicate bounds event time on BOTH ends,
    which is exactly what lets Spark garbage-collect join state: a
    buffered view can be dropped once the watermark passes
    ``v_ts + 30 min``. Matches emit eagerly (inner join), append-mode
    to a memory sink; per-user pair counts + exact integer-microsecond
    latency sums are then hash-compared to the batch self-join oracle.

    Scale: state = the in-horizon slice of each side, keyed by
    user_id — arrival-rate × (watermark + window) bounded, regardless
    of history size. Without the time-range predicate Spark would
    rightly refuse the query (unbounded state); this is the shape to
    copy for production attribution joins.
    """
    # only the columns the join and the downstream aggregate consume
    # are selected — every extra column here would be buffered in BOTH
    # sides' join state for the full watermark horizon
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
    ).select(
        "user_id",
        (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("lat_us"),
    )
    return (
        drain_to_memory(joined, "q100", "append")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("lat_us").alias("sum_latency_us"),
        )
    )


@query(
    "q115_streaming_cdc_apply",
    oracle="""
    SELECT user_id, event_type, value, event_id AS version
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY event_id DESC) AS rn
          FROM events)
    WHERE rn = 1 AND event_type != 'error'
    """,
)
def q115_streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDC apply: the events table replayed as a change
    stream (event_id is the LSN; ``event_type = 'error'`` rows act as
    delete tombstones) and folded batch-by-batch into a parquet state
    table with ``operators/cdc.merge_upsert`` inside ``foreachBatch``
    — the streaming twin of the batch MERGE (q105) and the Delta-style
    continuous-upsert shape.

    The source is pre-split into multiple files and drained with
    ``maxFilesPerTrigger=1``, so the merge genuinely runs ACROSS
    micro-batches; latest-wins over unique (key, LSN) is associative,
    so the final state is independent of batch boundaries — which is
    exactly what the batch-SQL oracle checks. Tombstones are RETAINED
    in state during the run (dropping them mid-stream would let an
    out-of-order older version resurrect the key) and filtered only
    at read-out — the correct CDC-state discipline.

    Scale: each micro-batch merges against the CURRENT state with one
    key shuffle (q105's cost); at warehouse scale the state table is
    bucketed on the key (write_bucketed) so the per-batch merge is
    exchange-free, and the rewrite is a partition-targeted MERGE
    rather than this demo's full-state swap.
    """
    from ..operators.cdc import merge_upsert

    with _scratch("q115_cdc_") as base_dir:
        state = ParquetState(base_dir)
        # stage the change log as multiple files (repartition range on
        # version keeps each file a contiguous LSN slice — realistic
        # change-log shipping; correctness needs neither). load_table,
        # NOT raw spark.read: a nanos-vintage events.ts fails schema
        # conversion under a plain session before pruning can drop it
        # (the round-1 failure class test_driver_contract pins)
        static = load_table(spark, sf_dir, "events")
        stream = replay_source(
            static.select(
                "user_id", "event_type", "value",
                F.col("event_id").alias("version"),
            ),
            os.path.join(base_dir, "changes"),
            "version",
        )

        def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
            base = state.read()
            if base is None:
                base = scale.local_frame(
                    batch_df.sparkSession, [], batch_df.schema
                )
            merged = merge_upsert(
                base, batch_df, ["user_id"], "version"
            )
            state.commit(merged, batch_id)

        _drain_batches(stream, apply_batch, base_dir, "q115")

        return (
            state.read()
            .filter(F.col("event_type") != "error")
            .select("user_id", "event_type", "value", "version")
            .localCheckpoint(eager=True)  # materialize before cleanup
        )


def _q126_oracle() -> str:
    from ..operators import similarity

    return f"""
    WITH assigned AS ({similarity.duck_assign_sql("embeddings", "vec_id < 8")})
    SELECT centroid_id,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(vec_id) AS BIGINT) AS id_sum
    FROM assigned GROUP BY centroid_id
    """


@query("q126_streaming_index_update", oracle=_q126_oracle())
def q126_streaming_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING vector-index maintenance: the embedding corpus
    replayed as an ingest stream (multiple files, one per
    micro-batch) and assigned batch-by-batch to the IVF coarse
    quantizer inside ``foreachBatch`` — the continuous-ingestion twin
    of the batch index build (q35's assignment): new vectors join the
    index without touching existing postings, because
    nearest-centroid assignment is per-row pure, so the final bucket
    directory is independent of batch boundaries — exactly what the
    batch-SQL oracle pins (per-bucket counts + id checksums).

    Scale: per batch, one broadcast-centroid map-only scan of the NEW
    vectors and an append-only posting write — no state reread, no
    re-assignment of the existing corpus (the q90 incremental-dedup
    discipline applied to the index path). Centroid drift is handled
    by periodic re-training (q117) + bucket rebuild, not per batch.
    """
    from ..operators.similarity import assign_centroids

    with _scratch("q126_index_") as base_dir:
        idx_dir = os.path.join(base_dir, "postings")
        emb = load_table(spark, sf_dir, "embeddings")
        centroids = emb.filter("vec_id < 8").localCheckpoint()
        stream = replay_source(
            emb.select("vec_id", "embedding"),
            os.path.join(base_dir, "vectors"),
            "vec_id",
        )

        def index_batch(batch_df: DataFrame, batch_id: int) -> None:
            assign_centroids(batch_df, centroids).select(
                "vec_id", "centroid_id"
            ).write.mode("append").parquet(idx_dir)

        _drain_batches(stream, index_batch, base_dir, "q126")

        postings = spark.read.parquet(idx_dir)
        return (
            postings.groupBy("centroid_id")
            .agg(
                F.count("*").alias("n_vectors"),
                F.sum("vec_id").alias("id_sum"),
            )
            .localCheckpoint(eager=True)  # materialize before cleanup
        )


def _q157_oracle() -> str:
    from ..operators import sketch, text

    dtok = text.DUCK_TOKENS.format(col="text")
    return sketch.duck_countmin_sql(
        f"SELECT unnest({dtok}) AS tok FROM documents", 20
    )


@query("q157_streaming_sketch_maintenance", oracle=_q157_oracle())
def q157_streaming_sketch_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING count-min maintenance: the document corpus replayed
    as an ingest stream (one file per micro-batch), each batch's
    token stream folded into its own d×w grid and MERGED cellwise
    into the persisted sketch state inside ``foreachBatch`` — the
    property q156's unit proves (grids merge by plain addition)
    exercised as an executed stream. Because addition is associative
    and commutative, the final grid is independent of batch
    boundaries, which is exactly what the batch-SQL oracle pins: the
    streamed sketch must answer the top-20 point queries identically
    to a single-pass batch build.

    Scale: per batch, one map-only tokenize + a ≤ d·w-row partial
    grid; the state merge is a d·w × d·w full-outer join — sketch-
    sized, never corpus-sized (the q115 rename-state discipline
    bounds what foreachBatch rereads). This is how a frequency
    monitor rides a 100 TB ingest: per-batch cost tracks batch
    size, state stays constant-size forever.
    """
    from ..operators import sketch, text

    tok = text.SPARK_TOKENS.format(col="text")

    with _scratch("q157_cms_") as base_dir:
        state = ParquetState(base_dir, "grid")
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        stream = replay_source(
            docs, os.path.join(base_dir, "docs"), "doc_id"
        )

        def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
            g = sketch.countmin_build(
                batch_df.select(F.explode(F.expr(tok)).alias("tok"))
            )
            base = state.read()
            if base is not None:
                g = (
                    g.select(
                        "row_id", "bucket", F.col("c").alias("c_new")
                    )
                    .join(
                        base.select(
                            "row_id", "bucket", F.col("c").alias("c_old")
                        ),
                        ["row_id", "bucket"],
                        "full",
                    )
                    .select(
                        "row_id",
                        "bucket",
                        (
                            F.coalesce("c_new", F.lit(0))
                            + F.coalesce("c_old", F.lit(0))
                        ).alias("c"),
                    )
                )
            state.commit(g, batch_id)

        _drain_batches(stream, merge_batch, base_dir, "q157")

        grid = state.read()
        exact = (
            docs.select(F.explode(F.expr(tok)).alias("tok"))
            .groupBy("tok")
            .agg(F.count("*").alias("exact_c"))
            .orderBy(F.desc("exact_c"), "tok")
            .limit(20)
        )
        return (
            sketch.countmin_estimate(grid, exact)
            .select(
                "tok",
                "exact_c",
                "cms_est",
                (F.col("cms_est") - F.col("exact_c")).alias(
                    "overestimate"
                ),
            )
            .localCheckpoint(eager=True)  # materialize before cleanup
        )


@query(
    "q160_stream_enrich",
    oracle=f"""
    SELECT COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
           COUNT(*) AS n_events,
           {dec_sum_sql("e.value")} AS sum_value
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def q160_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join executed as a STREAM
    (``streaming/ingest.enrich_stream`` — previously unit-only,
    now driver-checked): the events stream is decorated per
    micro-batch with the broadcast customer dimension (user →
    market segment), unmatched events kept with an UNKNOWN segment
    (the audit-friendly left default), then rolled up per segment —
    the standard production shape for attaching account metadata to
    a clickstream with NO streaming state (the static side
    re-resolves per batch; no watermark, no store).

    Scale: the stream side is untouched until the map-side broadcast
    hash join; the rollup is the only exchange and carries one row
    per segment per task. Slowly-changing dims ride the catalog-
    table + REFRESH contract documented (and unit-pinned) on
    ``enrich_stream``.
    """
    from ..streaming.ingest import enrich_stream

    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = enrich_stream(
        read_events_stream(spark, sf_dir).select("user_id", "value"),
        dim,
        ["user_id"],
    )
    rollup = (
        enriched.groupBy(
            F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment")
        )
        .agg(
            F.count("*").alias("n_events"),
            dec_sum("value").alias("sum_value"),
        )
    )
    return drain_to_memory(rollup, "q160", "complete")


def _q168_oracle() -> str:
    from ..operators import sketch, text

    dtok = text.DUCK_TOKENS.format(col="text")
    return sketch.duck_hll_sql(
        f"SELECT source, unnest({dtok}) AS tok FROM documents", "source"
    )


@query("q168_streaming_hll_maintenance", oracle=_q168_oracle())
def q168_streaming_hll_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING HyperLogLog maintenance: q157's pattern with the
    CARDINALITY sketch — the corpus replayed as an ingest stream,
    each micro-batch's per-source registers merged into persisted
    state by cellwise MAX inside ``foreachBatch``. Max is
    associative, commutative, AND idempotent, so the final register
    state is independent of batch boundaries — and unlike the
    count-min merge, an at-least-once replay of a batch cannot even
    inflate it (the idempotence is the exactly-once-free property;
    q96's dedup gate is unnecessary for this state). The batch-SQL
    oracle pins the streamed registers to a single-pass build,
    estimate, checksum and all.

    Scale: per batch one map-only tokenize + a ≤ sources·64-row
    register fold; the state merge is register-sized, never
    corpus-sized. A rolling distinct-token monitor rides a 100 TB
    ingest at constant state forever.
    """
    from ..operators import sketch, text

    tok = text.SPARK_TOKENS.format(col="text")

    with _scratch("q168_hll_") as base_dir:
        state = ParquetState(base_dir, "regs")
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
        stream = replay_source(
            docs, os.path.join(base_dir, "docs"), "doc_id"
        )

        def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
            g = sketch.hll_registers(
                batch_df.select(
                    "source", F.explode(F.expr(tok)).alias("tok")
                ),
                "tok",
                ["source"],
            )
            base = state.read()
            if base is not None:
                g = (
                    g.withColumnRenamed("register", "r_new")
                    .join(
                        base.withColumnRenamed("register", "r_old"),
                        ["source", "bucket"],
                        "full",
                    )
                    .select(
                        "source",
                        "bucket",
                        F.greatest(
                            F.coalesce("r_new", F.lit(0)),
                            F.coalesce("r_old", F.lit(0)),
                        ).alias("register"),
                    )
                )
            state.commit(g, batch_id)

        _drain_batches(stream, merge_batch, base_dir, "q168")

        regs = state.read()
        est = sketch.hll_estimate(regs, ["source"])
        exact = (
            docs.select("source", F.explode(F.expr(tok)).alias("tok"))
            .groupBy("source")
            .agg(F.countDistinct("tok").alias("exact_distinct"))
        )
        return (
            exact.join(est, "source")
            .select(
                "source",
                "exact_distinct",
                "hll_est",
                F.expr(
                    "cast(floor((hll_est - exact_distinct) * 10000.0"
                    " / exact_distinct) as bigint)"
                ).alias("err_bp"),
                "reg_checksum",
            )
            .localCheckpoint(eager=True)  # materialize before cleanup
        )


# ---------------------------------------------------------------------------
# Streaming CUSUM maintenance — q186
# ---------------------------------------------------------------------------


def _q186_oracle() -> str:
    # the streamed state must land exactly on the batch closed form —
    # q180's oracle IS the contract
    from .analytics_queries import _CUSUM_H, _CUSUM_SLACK

    return f"""
    WITH e AS (
      SELECT event_type, ts, event_id,
             CAST(floor(value * 10000) AS BIGINT) AS x
      FROM events),
    m AS (
      SELECT event_type, SUM(x) // COUNT(*) AS mu
      FROM e GROUP BY event_type),
    c AS (
      SELECT e.event_type, ts, event_id,
             SUM(x - mu - {_CUSUM_SLACK}) OVER w AS cs
      FROM e JOIN m USING (event_type)
      WINDOW w AS (PARTITION BY e.event_type ORDER BY ts, event_id)),
    r AS (
      SELECT event_type, cs,
             MIN(cs) OVER (PARTITION BY event_type
                           ORDER BY ts, event_id) AS rmin
      FROM c),
    s AS (
      SELECT event_type, CAST(cs - LEAST(0, rmin) AS BIGINT) AS S
      FROM r)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(S) AS BIGINT) AS max_s,
           CAST(SUM(CASE WHEN S > {_CUSUM_H} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_alerts
    FROM s GROUP BY event_type
    """


@query("q186_streaming_cusum", oracle=_q186_oracle())
def q186_streaming_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CUSUM maintenance: q180's drift detector run as a
    continuous monitor. The event history is replayed as a time-
    sliced ingest stream (4 non-overlapping epochs, one file group
    per trigger, written in time order), and ``foreachBatch`` folds
    each slice into per-type state ``(cs_end, raw_min, max_s,
    n_alerts, n)`` — the entire carryover the closed form
    Sᵢ = csᵢ − min(0, min_{j≤i} csⱼ) needs, because a running sum
    and a running min are both decomposable: the batch's local
    cumsum/runmin windows are seeded by the carried scalars and the
    new state is (cs₀+Σdev, min(rmin₀, cs₀+batch runmin)). The
    target μ is calibrated ONCE from history (Page's test takes a
    reference value as a parameter — a streaming monitor never
    estimates its target from the stream it polices). The final
    per-type (n, max_s, n_alerts) must land EXACTLY on q180's
    single-pass batch closed form — order-sensitive streaming state
    pinned to a batch oracle.

    An in-stream monotonicity guard raises if a micro-batch arrives
    out of time order (the property the slicing construction
    provides; a production deployment gets it from watermarked
    ordered replay or log-offset ordering).

    Scale: per batch one event_type-partitioned window pass over
    THAT BATCH ONLY plus a ≤|types|-row state merge; state is five
    scalars per key, forever. This is how an order-dependent
    sequential statistic rides an unbounded stream.
    """
    from .analytics_queries import _CUSUM_H, _CUSUM_SLACK

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        F.expr("cast(floor(value * 10000) as bigint)").alias("x"),
        F.expr("cast(unix_timestamp(ts) as bigint)").alias("t"),
    )
    # calibrated target (a PARAMETER of the monitor, fixed up front)
    mu = ev.groupBy("event_type").agg(
        F.expr("sum(x) div count(*)").alias("mu")
    )

    #: per-type carried state: cs_end, raw running-min of cs,
    #: max_s, n_alerts, n, and the max epoch seen (order guard)
    state: dict[str, list] = {}
    guard = {"last_t": None}

    with _scratch("q186_cusum_") as base_dir:
        # time-sliced source files, written IN TIME ORDER (strictly
        # increasing mtimes → the file source replays them in order);
        # ts replays as timestamp_ntz, the wall-clock order key
        stream = replay_source(
            ev.withColumn("ts", F.col("ts").cast("timestamp_ntz")),
            os.path.join(base_dir, "events"),
            "t",
        )

        def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
            rows_t = batch_df.agg(
                F.min("t").alias("lo"), F.max("t").alias("hi")
            ).first()
            if rows_t["lo"] is None:
                return
            if (
                guard["last_t"] is not None
                and rows_t["lo"] < guard["last_t"]
            ):
                raise RuntimeError(
                    "q186: out-of-order micro-batch — replay broke the "
                    "time slicing contract"
                )
            guard["last_t"] = rows_t["hi"]

            seed = scale.local_frame(
                spark,
                [
                    (et, st[0], st[1])
                    for et, st in state.items()
                ]
                or [(None, 0, 0)],
                "event_type string, cs0 long, rmin0 long",
            )
            w = (
                W.partitionBy("event_type")
                .orderBy("ts", "event_id")
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            )
            b = (
                batch_df.join(mu, "event_type")
                .join(seed, "event_type", "left")
                .withColumn("cs0", F.expr("coalesce(cs0, 0L)"))
                .withColumn(
                    "rmin0",
                    F.expr(f"coalesce(rmin0, {1 << 62}L)"),
                )
                .withColumn(
                    "cs_loc",
                    F.sum(F.expr(f"x - mu - {_CUSUM_SLACK}")).over(w),
                )
                .withColumn("rmin_loc", F.min("cs_loc").over(w))
                .withColumn(
                    "S",
                    F.expr(
                        "(cs0 + cs_loc) - least(0L,"
                        " least(rmin0, cs0 + rmin_loc))"
                    ),
                )
            )
            upd = b.groupBy("event_type").agg(
                F.count("*").alias("n_b"),
                F.max("S").alias("max_b"),
                F.expr(
                    f"sum(case when S > {_CUSUM_H} then 1 else 0 end)"
                ).alias("alerts_b"),
                F.expr(f"sum(x - mu - {_CUSUM_SLACK})").alias("dev_sum"),
                F.min("cs_loc").alias("min_loc"),
            )
            for r in upd.collect():
                et = r["event_type"]
                cs0, rmin0, max_s, n_alerts, n = state.get(
                    et, [0, 1 << 62, -(1 << 62), 0, 0]
                )
                state[et] = [
                    cs0 + r["dev_sum"],
                    min(rmin0, cs0 + r["min_loc"]),
                    max(max_s, r["max_b"]),
                    n_alerts + r["alerts_b"],
                    n + r["n_b"],
                ]

        _drain_batches(stream, fold_batch, base_dir, "q186")

    return scale.local_frame(
        spark,
        [
            (et, st[4], st[2], st[3])
            for et, st in sorted(state.items())
        ],
        "event_type string, n bigint, max_s bigint, n_alerts bigint",
    )


# ---------------------------------------------------------------------------
# Streaming OHLC bar maintenance — q204
# ---------------------------------------------------------------------------


def _q204_oracle() -> str:
    # the streamed bars must equal q192's batch aggregate exactly
    return """
    WITH e AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             CAST(floor(epoch(ts)) AS BIGINT) AS t,
             event_id,
             CAST(floor(value * 10000) AS BIGINT) AS x
      FROM events)
    SELECT event_type, day,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           CAST(arg_min(x, t * 4194304 + event_id) AS BIGINT) AS open_u,
           CAST(MAX(x) AS BIGINT) AS high_u,
           CAST(MIN(x) AS BIGINT) AS low_u,
           CAST(arg_max(x, t * 4194304 + event_id) AS BIGINT) AS close_u
    FROM e GROUP BY event_type, day
    ORDER BY event_type, day
    """


@query("q204_streaming_ohlc", oracle=_q204_oracle())
def q204_streaming_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING OHLC maintenance: q192's candlestick bars kept
    current inside ``foreachBatch`` over the replayed event stream —
    completing the streaming-merge family with the ARGMIN/ARGMAX
    merge class (q157 merges by +, q168 by max, q186 carries
    order-dependent scalars; open/close merge by keeping the value
    whose packed time key is smaller/larger — associative AND
    commutative, so unlike q186 NO replay order is required and no
    monotonicity guard appears). Per batch: the q192 aggregate on
    the batch's rows, then a keyed merge into the persisted bar
    state via least/greatest on the packed keys; the final bars are
    pinned to the single-pass batch oracle.

    Scale: state is one row per (type × day) — bar-cardinality
    forever; each micro-batch costs its own aggregate plus a merge
    join against only the bars it touches.
    """
    with _scratch("q204_ohlc_") as base_dir:
        state = ParquetState(base_dir, "bars")
        ev = load_table(spark, sf_dir, "events").select(
            "event_type",
            F.expr(
                "cast(unix_timestamp(ts) as bigint) div 86400"
            ).alias("day"),
            F.expr(
                "cast(unix_timestamp(ts) as bigint) * 4194304"
                " + event_id"
            ).alias("k"),
            F.expr("cast(floor(value * 10000) as bigint)").alias("x"),
        )
        stream = replay_source(ev, os.path.join(base_dir, "events"), "k")

        def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
            bars = batch_df.groupBy("event_type", "day").agg(
                F.count("*").alias("n"),
                F.expr("min(k)").alias("ko"),
                F.expr("min_by(x, k)").alias("open"),
                F.max("x").alias("high"),
                F.min("x").alias("low"),
                F.expr("max(k)").alias("kc"),
                F.expr("max_by(x, k)").alias("close"),
            )
            base = state.read()
            if base is not None:
                bars = (
                    bars.alias("n")
                    .join(
                        base.alias("o"),
                        ["event_type", "day"],
                        "full",
                    )
                    .selectExpr(
                        "event_type",
                        "day",
                        "coalesce(n.n, 0L) + coalesce(o.n, 0L) as n",
                        # argmin merge: keep the value behind the
                        # smaller packed key
                        "case when o.ko is null or (n.ko is not null"
                        " and n.ko < o.ko) then n.ko else o.ko end"
                        " as ko",
                        "case when o.ko is null or (n.ko is not null"
                        " and n.ko < o.ko) then n.open else o.open end"
                        " as open",
                        "greatest(coalesce(n.high, -9223372036854775808),"
                        " coalesce(o.high, -9223372036854775808)) as high",
                        "least(coalesce(n.low, 9223372036854775807),"
                        " coalesce(o.low, 9223372036854775807)) as low",
                        "case when o.kc is null or (n.kc is not null"
                        " and n.kc > o.kc) then n.kc else o.kc end"
                        " as kc",
                        "case when o.kc is null or (n.kc is not null"
                        " and n.kc > o.kc) then n.close else o.close end"
                        " as close",
                    )
                )
            state.commit(bars, batch_id)

        _drain_batches(stream, merge_batch, base_dir, "q204")

        bars = state.read()
        return (
            bars.select(
                "event_type",
                "day",
                F.col("n").alias("n_ticks"),
                F.col("open").alias("open_u"),
                F.col("high").alias("high_u"),
                F.col("low").alias("low_u"),
                F.col("close").alias("close_u"),
            )
            .orderBy("event_type", "day")
            .localCheckpoint(eager=True)  # materialize before cleanup
        )


# ---------------------------------------------------------------------------
# Streaming incremental rollup maintenance — q235
# ---------------------------------------------------------------------------


def _q235_oracle() -> str:
    # the streamed maintenance must land exactly on the full
    # recompute over the post-change detail — q233's oracle
    return """
    WITH l AS (
      SELECT l_returnflag,
             CAST(year(l_shipdate) * 100 + month(l_shipdate)
               AS BIGINT) AS ym,
             CAST(l_quantity AS BIGINT) AS qty,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
               AS price_c
      FROM lineitem
      WHERE NOT (l_shipdate < TIMESTAMP '1998-01-01'
                 AND l_orderkey % 7 = 0))
    SELECT l_returnflag, ym,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(qty) AS BIGINT) AS sum_qty,
           CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
           MIN(price_c) AS min_price_c,
           MAX(price_c) AS max_price_c
    FROM l GROUP BY l_returnflag, ym
    """


@query("q235_streaming_ivm", oracle=_q235_oracle())
def q235_streaming_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING materialized-view maintenance: q233's rollup kept
    current inside ``foreachBatch`` over the replayed CDC stream —
    extending the streaming-merge family (q157 +, q168 max, q186
    ordered carry, q204 argmin/argmax) with the DIRTY-RECOMPUTE
    class: count/sum merge algebraically per batch, min/max fall
    back to re-aggregating only the groups whose stored extreme a
    batch delete removed (`operators/ivm.py`).

    Batch-boundary independence here is INDUCTIVE, not algebraic:
    each batch leaves ``state == rollup(detail-so-far)`` exactly
    (the operator's per-batch contract), so the final state equals
    the single-pass oracle no matter how the CDC rows were batched
    — deletes target base rows present from batch zero, so no
    ordering guard is needed. The detail table is maintained
    alongside (anti-join deletes, append inserts) exactly as the
    q105/q115 CDC apply would in production, and the dirty
    recompute reads only the maintained detail.

    Scale: state stays group-cardinality; per-batch cost is the
    batch fold + a state-sized patch join + the dirty slices'
    re-aggregation (partition-prunable on the group key).
    """
    from ..operators import ivm

    keys = ["l_returnflag", "ym"]
    sums, mms = ["qty", "price_c"], ["price_c"]

    with _scratch("q235_ivm_") as base_dir:
        detail = ParquetState(base_dir, "detail")
        state = ParquetState(base_dir, "state")
        l = load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag",
            F.expr(
                "cast(year(l_shipdate) * 100 + month(l_shipdate)"
                " as bigint)"
            ).alias("ym"),
            F.expr("cast(l_quantity as bigint)").alias("qty"),
            F.expr(
                "cast(floor(l_extendedprice * 100"
                " + cast(0.5 as double)) as bigint)"
            ).alias("price_c"),
            "l_orderkey",
            "l_shipdate",
        )
        base = l.where("l_shipdate < timestamp'1998-01-01'").drop(
            "l_shipdate"
        )
        cdc = (
            l.where("l_shipdate >= timestamp'1998-01-01'")
            .drop("l_shipdate")
            .withColumn(ivm.OP_COL, F.lit("I"))
            .unionByName(
                base.where("l_orderkey % 7 = 0").withColumn(
                    ivm.OP_COL, F.lit("D")
                )
            )
        )
        # seed state + detail (version 0), then replay the CDC in
        # ~4 file-batches
        detail.commit(base, 0)
        state.commit(ivm.rollup_state(detail.read(), keys, sums, mms), 0)
        stream = replay_source(
            cdc, os.path.join(base_dir, "cdc"), "l_orderkey"
        )

        def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
            prev_state = state.read()
            batch_df = batch_df.localCheckpoint(eager=True)
            dels = batch_df.where(
                f"{ivm.OP_COL} = 'D'"
            ).select("l_orderkey").distinct()
            detail_next = detail.read().join(
                dels, "l_orderkey", "left_anti"
            ).unionByName(
                batch_df.where(f"{ivm.OP_COL} = 'I'").drop(
                    ivm.OP_COL
                )
            )
            detail.commit(detail_next, batch_id + 1)
            new_state = ivm.maintain_rollup(
                prev_state,
                batch_df,
                detail.read(),
                keys,
                sums,
                mms,
            )
            state.commit(new_state, batch_id + 1)

        _drain_batches(stream, apply_batch, base_dir, "q235")

        return (
            state.read()
            .orderBy(*keys)
            .localCheckpoint(eager=True)  # materialize before cleanup
        )


# ---------------------------------------------------------------------------
# Streaming top-k maintenance — q241
# ---------------------------------------------------------------------------

_Q241_K = 20


def _q241_oracle() -> str:
    return f"""
    SELECT CAST(floor(value * 10000) AS BIGINT) AS x,
           event_id, event_type
    FROM events
    ORDER BY x DESC, event_id
    LIMIT {_Q241_K}
    """


@query("q241_streaming_topk", oracle=_q241_oracle())
def q241_streaming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING top-k maintenance: the global top-{_Q241_K} events
    by value kept current inside ``foreachBatch`` — the SIXTH
    streaming-merge class (q157 +, q168 max, q186 ordered carry,
    q204 argmin/argmax, q235 dirty-recompute): bounded ORDER
    STATISTICS, mergeable because truncation is stable —
    ``topk(A ∪ B) = topk(topk(A) ∪ topk(B))`` (dropping anything
    below a set's k-th element can never evict a global top-k
    member), so per batch only the batch's own top-{_Q241_K} meets
    the ≤{_Q241_K}-row state and the merge re-truncates. Total
    order (value desc, event_id) makes ties deterministic; state is
    k rows FOREVER and each batch costs its own TakeOrdered — the
    shape behind every streaming leaderboard. Final state pinned to
    the single-pass batch oracle.
    """
    with _scratch("q241_topk_") as base_dir:
        state = ParquetState(base_dir, "topk")
        ev = load_table(spark, sf_dir, "events").select(
            F.expr("cast(floor(value * 10000) as bigint)").alias("x"),
            "event_id",
            "event_type",
        )
        stream = replay_source(
            ev, os.path.join(base_dir, "events"), "event_id"
        )

        def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
            top = batch_df.orderBy(
                F.desc("x"), "event_id"
            ).limit(_Q241_K)
            prev = state.read()
            if prev is not None:
                top = (
                    prev.unionByName(top)
                    .orderBy(F.desc("x"), "event_id")
                    .limit(_Q241_K)
                )
            state.commit(top, batch_id)

        _drain_batches(stream, merge_batch, base_dir, "q241")

        return (
            state.read()
            .orderBy(F.desc("x"), "event_id")
            .localCheckpoint(eager=True)  # materialize before cleanup
        )


# ---------------------------------------------------------------------------
# Streaming session funnel — q250 (VERDICT r8 #5: the q62 × q72
# composition)
# ---------------------------------------------------------------------------


def _replay_events_chronological(
    spark: SparkSession, sf_dir: str, base_dir: str, sentinel_hours: int
) -> DataFrame:
    """Stage the events table as FOUR time-range parquet files with
    strictly ascending modification times plus a far-future sentinel
    file, and return the one-file-per-trigger replay stream over them,
    for multi-micro-batch streaming replays (q250/q252).

    The file source drains oldest-mtime first, so stamping mtimes in
    range order replays the corpus chronologically — which is what
    guarantees no row ever arrives behind the watermark (each batch's
    min event time ≥ the previous batch's max). The sentinel (one
    ``user_id = -1`` / ``event_type = 'sentinel'`` row
    ``sentinel_hours`` past the corpus end) exists only to advance
    the final watermark past every real window/session/join state so
    append-mode sinks flush completely on a finite replay; callers
    filter the type out (or let their event-type predicates drop it)
    AFTER their ``withWatermark`` so it still advances event time.
    """
    src_dir = os.path.join(base_dir, "events_by_time")
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    stream = replay_source(ev, src_dir, "ts")
    parts = set(glob.glob(os.path.join(src_dir, "part-*")))
    sentinel_t = max(map(os.path.getmtime, parts)) + 100
    ev.groupBy().agg(
        F.lit(-1).cast("long").alias("user_id"),
        (
            F.max("ts") + F.expr(f"interval {sentinel_hours} hours")
        ).alias("ts"),
        F.lit("sentinel").alias("event_type"),
    ).coalesce(1).write.mode("append").parquet(src_dir)
    for f in set(glob.glob(os.path.join(src_dir, "part-*"))) - parts:
        os.utime(f, (sentinel_t, sentinel_t))
    return stream


_Q250_ORACLE = """
    WITH ev AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
    ),
    flagged AS (
      SELECT user_id, ts, event_type,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 24 HOUR
                  THEN 1 ELSE 0 END AS new_sess
      FROM ev
    ),
    sess AS (
      SELECT user_id, ts, event_type,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    ),
    agg AS (
      SELECT user_id, sess_id,
             MIN(ts) FILTER (WHERE event_type = 'view') AS first_view,
             MIN(ts) FILTER (WHERE event_type = 'click') AS first_click,
             MIN(ts) FILTER (WHERE event_type = 'purchase')
               AS first_purchase
      FROM sess GROUP BY user_id, sess_id
    ),
    s1 AS (SELECT * FROM agg WHERE first_view IS NOT NULL),
    s2 AS (SELECT * FROM s1 WHERE first_click > first_view),
    s3 AS (SELECT * FROM s2 WHERE first_purchase > first_click)
    SELECT CAST(1 AS INTEGER) AS stage, 'view' AS label,
           COUNT(*) AS n_sessions,
           COUNT(DISTINCT user_id) AS n_users FROM s1
    UNION ALL
    SELECT 2, 'view>click', COUNT(*), COUNT(DISTINCT user_id) FROM s2
    UNION ALL
    SELECT 3, 'view>click>purchase', COUNT(*), COUNT(DISTINCT user_id)
    FROM s3
    ORDER BY stage
"""


@query("q250_streaming_session_funnel", oracle=_Q250_ORACLE)
def q250_streaming_session_funnel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING session funnel — the composition VERDICT r8 named as
    the one absent capability: q72's staged conversion funnel
    evaluated over q62's ``session_window`` state, executed as a
    genuine multi-micro-batch stream.

    The events table is staged as FOUR time-range files with
    ascending modification times (the file source drains oldest-first,
    so the replay is chronological like a real ingest) plus a FIFTH
    sentinel file holding one far-future event, and drained
    ``maxFilesPerTrigger=1`` in APPEND mode: sessions that straddle a
    batch boundary MERGE inside the session-window state store (the
    late-data path — an open session absorbs later-arriving events
    until the 1-hour watermark passes its end, which the
    range-vs-watermark margin guarantees never drops a row), and each
    session is EMITTED exactly when the advancing watermark finalizes
    it — real eviction semantics, not q62's complete-mode retention.
    The sentinel pushes the final watermark past every real session,
    flushing the tail (its own session stays un-finalized in state
    and therefore never reaches the sink — no filtering needed).
    Each session aggregates its FIRST view / click / purchase
    timestamps (associative conditional mins — safe under any batch
    split); the drained session table then feeds the funnel staging:
    first_view < first_click < first_purchase, monotone stages
    s3 ⊆ s2 ⊆ s1 — q72's ordering test applied per-session instead
    of per-user-history.

    Oracle: q62's relational session derivation (gap ≥ 24 h opens a
    new session — a DAY-grain session, because the synthetic events
    are sparse in time: a 30-min gap leaves the purchase stage
    vacuously empty at every sf, and a funnel with a permanently-zero
    leg checks nothing) + FILTERed mins + the same stage predicates
    — the
    streaming execution must hash-match it exactly, which it can only
    do if every session was flushed exactly once with fully-merged
    state.

    Streaming-merge class: none of the six custom foreachBatch folds
    — the merge here is Spark's OWN session-state merge (the point:
    the composition rides the built-in state store and append-mode
    watermark eviction, not custom state); the post-drain staging is
    stateless and batch-planned.

    Scale: state = open sessions inside the watermark horizon,
    evicted (and emitted) as the watermark passes session end; the
    funnel staging reads one row per session (never re-touching
    events) and reduces to 3 rows — at 100 TB the events scan
    happens exactly once, in the stream.
    """
    with _scratch("q250_funnel_") as base_dir:
        # 30 h sentinel: > the 24 h session gap + the 1 h watermark
        # delay, so the final watermark passes every real session end
        stream = _replay_events_chronological(
            spark, sf_dir, base_dir, sentinel_hours=30
        )
        sessions = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(
                F.session_window("ts", "24 hours").alias("w"), "user_id"
            )
            .agg(
                F.min(
                    F.when(F.col("event_type") == "view", F.col("ts"))
                ).alias("first_view"),
                F.min(
                    F.when(F.col("event_type") == "click", F.col("ts"))
                ).alias("first_click"),
                F.min(
                    F.when(F.col("event_type") == "purchase", F.col("ts"))
                ).alias("first_purchase"),
            )
            .select("user_id", "first_view", "first_click", "first_purchase")
        )
        sink = drain_to_memory(sessions, "q250", "append")

        s1 = sink.filter(F.col("first_view").isNotNull())
        s2 = s1.filter(F.col("first_click") > F.col("first_view"))
        s3 = s2.filter(F.col("first_purchase") > F.col("first_click"))

        def stage(df: DataFrame, n: int, label: str) -> DataFrame:
            return df.agg(
                F.count("*").alias("n_sessions"),
                F.count_distinct("user_id").alias("n_users"),
            ).select(
                F.lit(n).cast("int").alias("stage"),
                F.lit(label).alias("label"),
                "n_sessions",
                "n_users",
            )

        return (
            stage(s1, 1, "view")
            .unionAll(stage(s2, 2, "view>click"))
            .unionAll(stage(s3, 3, "view>click>purchase"))
            .orderBy("stage")
            .localCheckpoint(eager=True)  # materialize before cleanup
        )


# ---------------------------------------------------------------------------
# Streaming bloom-gated ingest dedup — q251 (VERDICT r8 stretch #8:
# the q159 × q96 composition)
# ---------------------------------------------------------------------------


def _q251_oracle() -> str:
    from ..operators import sketch
    from .olap_queries import BLOOM_K, BLOOM_M

    def h(key: str, r: str) -> str:
        return sketch.duck_bucket_sql(f"CAST({key} AS VARCHAR)", r, BLOOM_M)

    return f"""
    WITH hist AS (
      SELECT event_id FROM events WHERE event_id % 3 <> 0),
    bits AS (
      SELECT DISTINCT {h('event_id', 'r')} AS pos
      FROM hist, unnest(range(0, {BLOOM_K})) t(r)),
    fresh AS (
      SELECT event_id, event_type FROM events WHERE event_id % 3 = 0),
    fp AS (
      SELECT event_id, event_type, {h('event_id', 'r')} AS pos
      FROM fresh, unnest(range(0, {BLOOM_K})) t(r)),
    flagged AS (
      SELECT event_id, event_type,
             bool_and(b.pos IS NOT NULL) AS slow_path
      FROM fp LEFT JOIN bits b USING (pos)
      GROUP BY event_id, event_type),
    tot AS (
      SELECT event_type, CAST(2 * COUNT(*) AS BIGINT) AS n_arrivals
      FROM events GROUP BY event_type)
    SELECT t.event_type,
           t.n_arrivals,
           CAST(COUNT(f.event_id) AS BIGINT) AS n_admitted,
           CAST(t.n_arrivals - COUNT(f.event_id) AS BIGINT)
             AS n_rejected,
           CAST(COALESCE(SUM(f.event_id), 0) AS BIGINT)
             AS admitted_id_sum,
           CAST(COUNT(*) FILTER (WHERE f.slow_path) AS BIGINT)
             AS n_slow_path
    FROM tot t LEFT JOIN flagged f USING (event_type)
    GROUP BY t.event_type, t.n_arrivals
    ORDER BY t.event_type
    """


@query("q251_streaming_bloom_gate", oracle=_q251_oracle())
def q251_streaming_bloom_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Approximate-member dedup at ingest — q159's portable bloom
    filter composed with q96's streaming dedup (VERDICT r8 stretch
    #8): a continuous arrival stream is gated against a large
    HISTORICAL corpus by a broadcast bloom bitmap (fast path), with
    an exact anti-join confirm for bloom hits only (slow path),
    inside ``foreachBatch``.

    Fixture: history = events with ``event_id % 3 != 0``; arrivals =
    the full events table UNIONed with itself (every id arrives
    twice, q96's doubled-stream trick), staged as four files and
    drained ``maxFilesPerTrigger=1`` with the two copies of each id
    in DIFFERENT files — so cross-batch duplicate admission is
    genuinely exercised, not just intra-batch ``dropDuplicates``.
    Per batch: (1) raw arrival counts append to an accounting table
    (additive — q157's counter merge class); (2) batch-local exact
    dedup; (3) exact anti-join against the ADMITTED state (q115's
    exact-state class — cross-batch exactness); (4) broadcast-bloom
    probe: misses are DEFINITELY new (the 100 TB history join never
    sees them), hits run the exact confirm against history; (5)
    survivors append to the admitted state with their
    ``slow_path`` flag.

    The driver-hashed accounting is batch-boundary-INDEPENDENT by
    construction: arrivals are additive, admission is exactly-once
    (state anti-join + batch dedup), and ``slow_path`` per id is a
    pure function of the STATIC history bloom. The oracle replays the
    bloom bit-for-bit (q159's md5 convention) and pins the
    false-positive accounting: ``n_slow_path`` counts new ids whose
    k positions all collide with history bits — the measured cost of
    the probabilistic gate; ``n_admitted``/``admitted_id_sum`` prove
    exactly-once admission; no false negatives by construction (a
    bloom miss is PROOF of absence), which the hash equality
    certifies.

    Scale: the bitmap is m/64 = 1024 longs broadcast once; the
    per-batch history anti-join receives ONLY bloom-pass rows (at a
    1% FP rate, ~99% of genuinely-new traffic never touches the
    100 TB join — that join is left to Catalyst/AQE, shuffle-planned
    against a bucketed history at scale, NOT force-broadcast);
    admitted state is the ingest-horizon hot set — in production it
    is bucketed on the key and TTL-compacted, exactly like q115's
    state discipline.
    """
    from .. import caching
    from ..operators import sketch
    from .olap_queries import BLOOM_K, BLOOM_M

    with _scratch("q251_gate_") as base_dir:
        admit_dir = os.path.join(base_dir, "admitted")
        counts_dir = os.path.join(base_dir, "arrival_counts")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type"
        )
        history = ev.filter(F.expr("event_id % 3 != 0")).select(
            F.col("event_id").alias("h_id")
        )

        # build the bloom word map ONCE (q159's map-side bit_or fold)
        build = sketch._bucket_expr("cast(h_id as string)", "r", BLOOM_M)
        words = caching.slot_persist(
            "q251_words",
            history.select(
                F.explode(
                    F.expr(
                        f"transform(sequence(0, {BLOOM_K} - 1),"
                        f" r -> {build})"
                    )
                ).alias("pos")
            )
            .select(
                F.expr("pos div 64").alias("widx"),
                F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("bit"),
            )
            .groupBy("widx")
            .agg(F.expr("bit_or(bit)").alias("word"))
            .agg(
                F.expr(
                    "map_from_entries(collect_list(struct(widx, word)))"
                ).alias("words")
            ),
        )

        def probe(r: int) -> str:
            pos = sketch._bucket_expr(
                "cast(event_id as string)", str(r), BLOOM_M
            )
            return (
                f"((coalesce(element_at(words, ({pos}) div 64), 0L)"
                f" >> cast(({pos}) % 64 as int)) & 1) = 1"
            )

        bloom_pass = " AND ".join(probe(r) for r in range(BLOOM_K))

        # two copies of every id, steered to DIFFERENT files
        c1 = ev.withColumn("shard", (F.col("event_id") % 2).cast("int"))
        c2 = ev.withColumn(
            "shard", (F.col("event_id") % 2 + 2).cast("int")
        )
        stream = replay_source(
            c1.unionAll(c2), os.path.join(base_dir, "arrivals"), "shard"
        ).drop("shard")

        state = {"has_admitted": False}

        def gate_batch(batch: DataFrame, batch_id: int) -> None:
            s = batch.sparkSession
            raw = batch.persist()
            try:
                # (1) additive arrival accounting, pre-dedup
                raw.groupBy("event_type").agg(
                    F.count("*").alias("n")
                ).write.mode("append").parquet(counts_dir)
                # (2) batch-local exact dedup
                cand = raw.dropDuplicates(["event_id"])
                # (3) cross-batch exact: already-admitted ids drop out
                if state["has_admitted"]:
                    cand = cand.join(
                        s.read.parquet(admit_dir).select("event_id"),
                        "event_id",
                        "left_anti",
                    )
                # (4) broadcast-bloom probe; hits confirm exactly
                probed = (
                    cand.crossJoin(words)
                    .withColumn("slow_path", F.expr(bloom_pass))
                    .select("event_id", "event_type", "slow_path")
                )
                fresh_fast = probed.filter(~F.col("slow_path"))
                confirmed = probed.filter(F.col("slow_path")).join(
                    history,
                    F.col("event_id") == F.col("h_id"),
                    "left_anti",
                )
                # (5) exactly-once admission
                fresh_fast.unionByName(confirmed).write.mode(
                    "append"
                ).parquet(admit_dir)
                state["has_admitted"] = True
            finally:
                raw.unpersist()

        _drain_batches(stream, gate_batch, base_dir, "q251")

        admitted = spark.read.parquet(admit_dir)
        per_type = admitted.groupBy("event_type").agg(
            F.count("*").alias("n_admitted"),
            F.sum("event_id").alias("admitted_id_sum"),
            F.expr("count_if(slow_path)").alias("n_slow_path"),
        )
        arrivals = (
            spark.read.parquet(counts_dir)
            .groupBy("event_type")
            .agg(F.sum("n").alias("n_arrivals"))
        )
        return (
            arrivals.join(per_type, "event_type", "left")
            .select(
                "event_type",
                F.col("n_arrivals").cast("long").alias("n_arrivals"),
                F.coalesce("n_admitted", F.lit(0))
                .cast("long")
                .alias("n_admitted"),
                (
                    F.col("n_arrivals")
                    - F.coalesce("n_admitted", F.lit(0))
                )
                .cast("long")
                .alias("n_rejected"),
                F.coalesce("admitted_id_sum", F.lit(0))
                .cast("long")
                .alias("admitted_id_sum"),
                F.coalesce("n_slow_path", F.lit(0))
                .cast("long")
                .alias("n_slow_path"),
            )
            .orderBy("event_type")
            .localCheckpoint(eager=True)  # materialize before cleanup
        )


# ---------------------------------------------------------------------------
# Chained stateful operators: stream-stream join → windowed
# aggregation in ONE streaming query — q252
# ---------------------------------------------------------------------------


@query(
    "q252_streaming_attribution_rollup",
    oracle="""
    SELECT date_trunc('day', CAST(p.ts AS TIMESTAMP)) AS day_start,
           COUNT(*) AS n_pairs,
           CAST(SUM(epoch_us(CAST(p.ts AS TIMESTAMP))
                    - epoch_us(CAST(v.ts AS TIMESTAMP))) AS BIGINT)
             AS sum_latency_us
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 30 MINUTE
    GROUP BY 1
    ORDER BY 1
    """,
)
def q252_streaming_attribution_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHAINED stateful operators in one streaming query: the q100
    view→purchase stream-stream join feeds a tumbling 1-day windowed
    aggregation INSIDE the same stream — two state stores composed in
    append mode (the multiple-stateful-operators capability Spark
    gained for exactly this attribution-rollup shape; q100 aggregated
    its join output only after draining to a sink).

    Execution: chronologically-staged multi-file replay
    (``maxFilesPerTrigger=1``) with watermarks declared BEFORE the
    event-type filters so the far-future sentinel advances event time
    through both inputs; the join's ±30 min event-time bound lets its
    state GC, and the downstream day windows finalize (and emit —
    append mode) as the propagated watermark passes them. The
    sentinel is 50 h past the corpus end: > 1 day (window span)
    + 1 h (watermark) + 30 min (join range holdback), so every real
    window flushes on the finite replay while the sentinel itself
    matches no join pair.

    Oracle: the batch self-join + day rollup; exact integer
    microsecond latency sums make the hash bit-stable. Equality
    holds only if the chained pipeline neither dropped a late pair
    nor double-emitted a finalized window.

    Scale: join state = the in-horizon slice of each side (q100's
    bound); window state = one row per open day window. The rollup
    output is days × 16 bytes — the 100 TB shape where the raw pair
    stream never lands anywhere, only its aggregate does.
    """
    with _scratch("q252_attr_") as base_dir:
        # watermark BEFORE the type filter: the sentinel must
        # advance event time, then drop out of the join inputs
        events = _replay_events_chronological(
            spark, sf_dir, base_dir, sentinel_hours=50
        ).withWatermark("ts", "1 hour")

        views = (
            events.filter(F.col("event_type") == "view")
            .select("user_id", F.col("ts").alias("v_ts"))
        )
        purchases = (
            events.filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
            )
        )
        joined = views.join(
            purchases,
            F.expr(
                "user_id = p_user AND p_ts >= v_ts"
                " AND p_ts <= v_ts + interval 30 minutes"
            ),
        ).select(
            "p_ts",
            (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias(
                "lat_us"
            ),
        )
        rollup = (
            joined.groupBy(F.window("p_ts", "1 day").alias("w"))
            .agg(
                F.count("*").alias("n_pairs"),
                F.sum("lat_us").alias("sum_latency_us"),
            )
            .select(
                F.col("w.start").alias("day_start"),
                "n_pairs",
                "sum_latency_us",
            )
        )
        return (
            drain_to_memory(rollup, "q252", "append")
            .orderBy("day_start")
            .localCheckpoint(eager=True)  # materialize before cleanup
        )


#: live checkpoint dir per state-reader query tag: the returned
#: DataFrame reads the checkpoint LAZILY (the driver collects after
#: the query function returns), so the dir must outlive the call —
#: each invocation deletes the PREVIOUS one, keeping at most one per
#: tag per session, and the ``TemporaryDirectory`` finalizer removes
#: whatever is still registered when the driver process ends
#: (ADVICE r11 #4: without it a long-lived session leaked one RocksDB
#: checkpoint dir per tag under /tmp at exit).
_STATE_CKPTS: dict[str, tempfile.TemporaryDirectory] = {}


def _drain_rocksdb_state(stream: DataFrame, tag: str, output_mode: str) -> str:
    """Drain ``stream`` into a discarded noop sink under the RocksDB
    state store provider and return its checkpoint dir — the STATE is
    the result. The session's state conf is restored afterwards; the
    checkpoint stays registered in ``_STATE_CKPTS`` until the next
    call for ``tag`` or process exit."""
    prev = _STATE_CKPTS.pop(tag, None)
    if prev is not None:
        prev.cleanup()
    ckpt = _STATE_CKPTS[tag] = _scratch(f"{tag}_state_")
    spark = stream.sparkSession
    previous = enable_rocksdb_state(spark)
    try:
        drain(
            stream.writeStream.format("noop")
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt.name),
            tag,
        )
    finally:
        restore_state_conf(spark, previous)
    return ckpt.name


@query(
    "q262_state_store_read",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {dec_sum_sql("value")} AS sum_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q262_state_store_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STATE STORE itself as the query result (round-11
    continuation): a streaming aggregation over the events table
    runs to completion under the **RocksDB state store provider**
    (``streaming/statestore.enable_rocksdb_state`` — changelog
    checkpointing on, the production backend), its memory sink is
    DISCARDED, and the answer is recovered from the CHECKPOINT via
    Spark's state data source (``statestore.read_state``): the
    ``key``/``value`` structs of the final state, flattened and
    finished with the same post-aggregation rounding ``dec_sum``
    applies.

    What the hash proves that q52 does not: the provider swap
    (HDFS-backed → RocksDB) and the state data source's decode of
    RocksDB's files are both value-exact — state written by the
    production backend reads back byte-equivalent to the batch
    aggregate DuckDB computes. This is the audit path a 100 TB
    deployment uses to inspect stuck keys or backfill from a
    checkpoint without replaying the stream.

    Scale: state = one row per event_type; reading state is a
    normal batch scan partitioned by the store's shuffle partitions
    — at production cardinalities the read distributes like any
    parquet scan, no driver funnel.
    """
    stream = (
        read_events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            dec_sum("value").alias("sum_value"),
        )
    )
    ckpt = _drain_rocksdb_state(stream, "q262", "update")

    # value struct = the aggregation's physical buffers: count
    # (long), sum (decimal(38,6) — dec_sum's pre-rounding buffer)
    return (
        read_state(spark, ckpt)
        .select(
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").alias("n_events"),
            F.round(F.col("value.sum"), ROUND_TO)
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("event_type")
    )


@query(
    "q263_session_state_read",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
    ),
    flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM ev
    ),
    sess AS (
      SELECT user_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    )
    SELECT user_id,
           CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           CAST(MAX(ts) AS TIMESTAMP) AS session_end,
           COUNT(*) AS n_events,
           {dec_sum_sql("value")} AS sum_value
    FROM sess
    GROUP BY user_id, sess_id
    ORDER BY user_id, session_start
    """,
)
def q263_session_state_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-WINDOW state read back from the checkpoint (round 12,
    VERDICT r11 #5): q62's dynamic-gap ``session_window`` aggregation
    runs to completion under the RocksDB provider in COMPLETE mode
    (no watermark, so no eviction — every merged session survives in
    the store), the memory sink is discarded, and the answer is
    recovered from the CHECKPOINTED STATE via Spark's state data
    source.

    What the hash proves beyond q262 (which reads a plain groupBy
    aggregation's store): the ``sessionWindowStateStoreSaveExec``
    operator keeps a DIFFERENT physical layout — key =
    ``(user_id, sessionStartTime)``, value = the merged
    ``session_window`` struct plus the min/max/count/sum aggregation
    buffers — and the state source's decode of that layout under
    RocksDB is value-exact against the relational session derivation
    DuckDB computes (gap ≥ 30 min starts a new session, window end
    exclusive). Session MERGES happen inside the store, so a correct
    read also proves merged-session consolidation: one state row per
    final session, 1:1 with the oracle's rows.

    This is the audit path for the heaviest stateful operator a
    100 TB streaming deployment runs — inspecting open sessions, or
    backfilling session stats from a checkpoint without replaying
    the stream. Stream-stream JOIN state (the other distinct store
    format, four stores per join side) is covered by the
    ``test_streaming.py`` state-read unit against q100's checkpoint.

    Scale: one state row per merged session; the read distributes
    like a parquet scan over the store's shuffle partitions — no
    driver funnel. (In production the same aggregation runs in
    append mode WITH a watermark, where closed sessions are evicted
    after emission and the store holds only open sessions — this
    query's complete-mode shape exists so the oracle can check EVERY
    session, not just the watermark survivors.)
    """
    stream = (
        read_events_stream(spark, sf_dir)
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            dec_sum("value").alias("sum_value"),
        )
    )
    ckpt = _drain_rocksdb_state(stream, "q263", "complete")

    # value struct = session_window + the aggregation's physical
    # buffers: min/max (timestamps), count (long), sum (decimal)
    return (
        read_state(spark, ckpt)
        .select(
            F.col("key.user_id").alias("user_id"),
            F.col("value.min").alias("session_start"),
            F.col("value.max").alias("session_end"),
            F.col("value.count").alias("n_events"),
            F.round(F.col("value.sum"), ROUND_TO)
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("user_id", "session_start")
    )
