"""Finite-stream drains: the one place the streaming family starts,
awaits and stops its ``availableNow`` queries.

The streaming queries re-express the reference's idempotent keyed load
(``data_loader.py:133-271``) as stream folds over checkpointed sinks.
The mechanics they share live here, so each query states only what it
computes:

- ``drain`` — run a stream writer to the end of its backlog, or stop
  it and raise on timeout;
- ``drain_to_memory`` — ``drain`` into a named memory sink and return
  the sink table;
- ``ParquetState`` — a ``foreachBatch`` fold's state as versioned
  parquet directories, swapped only after the next version is written;
- ``replay_source`` — a static frame staged as range-ordered files and
  replayed one file per micro-batch.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def drain(
    writer: DataStreamWriter, tag: str, timeout_s: int = 300
) -> StreamingQuery:
    """Start ``writer`` with the ``availableNow`` trigger and wait until
    it has drained its backlog; return the terminated query. A drain
    that exceeds ``timeout_s`` is stopped and raised as
    ``TimeoutError`` naming ``tag`` — returning a partially-filled sink
    would misreport a timeout as a data mismatch. A query that fails
    raises from ``awaitTermination``."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"{tag}: stream did not drain within {timeout_s}s"
        )
    return q


#: last memory-sink name per query tag: re-invoking the same query
#: unbinds the previous invocation's temp-view name, so a long
#: session (bench ×3, registry sweeps) keeps at most one NAMED sink
#: per query. Unbinding only drops the name — a caller still holding
#: the previous returned DataFrame keeps working (its plan references
#: the relation, which is freed when that DataFrame is GC'd).
_SINK_SLOTS: dict[str, str] = {}


def sink_name(spark: SparkSession, tag: str) -> str:
    """A fresh memory-sink query name for ``tag``; the previous
    invocation's sink view for the same tag is unbound first (see
    ``_SINK_SLOTS``). The slot is recorded BEFORE the caller starts
    its query: the memory sink registers the temp view at
    ``.start()``, so a timed-out/failed drain must still leave the
    view tracked — the next invocation for this tag then unbinds it
    instead of leaking one uuid-named view per retry."""
    prev = _SINK_SLOTS.pop(tag, None)
    if prev is not None:
        spark.catalog.dropTempView(prev)
    name = f"{tag}_sink_{uuid.uuid4().hex[:8]}"
    _SINK_SLOTS[tag] = name
    return name


def drain_to_memory(stream: DataFrame, tag: str, output_mode: str) -> DataFrame:
    """Run a finite stream to completion (``availableNow``) against a
    memory sink and return the sink table. Cleanup discipline: the
    checkpoint directory is deleted once the query terminates (a
    finished availableNow run is never restarted), and the previous
    invocation's sink view for the same ``tag`` is unbound
    (``sink_name``)."""
    spark = stream.sparkSession
    name = sink_name(spark, tag)
    with tempfile.TemporaryDirectory(
        prefix=f"{tag}_ckpt_", ignore_cleanup_errors=True
    ) as ckpt:
        drain(
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt),
            tag,
        )
    return spark.table(name)


class ParquetState:
    """A ``foreachBatch`` fold's state as versioned parquet directories
    ``{base_dir}/{name}_v{version}``. ``commit`` writes the next version
    BEFORE it deletes the current one, so a failed write leaves the
    previous state readable; at most one version survives a commit."""

    def __init__(self, base_dir: str, name: str = "state"):
        self.base_dir = base_dir
        self.name = name
        self.path: str | None = None
        self._spark: SparkSession | None = None

    def read(self) -> DataFrame | None:
        """The current state, or ``None`` before the first commit."""
        if self.path is None:
            return None
        return self._spark.read.parquet(self.path)

    def commit(self, df: DataFrame, batch_id: int) -> None:
        """Write ``df`` as version ``batch_id``, then drop the old one."""
        nxt = os.path.join(self.base_dir, f"{self.name}_v{batch_id}")
        df.write.mode("overwrite").parquet(nxt)
        old, self.path, self._spark = self.path, nxt, df.sparkSession
        if old is not None and old != nxt:
            shutil.rmtree(old, ignore_errors=True)


def replay_source(df: DataFrame, base_dir: str, key: str) -> DataFrame:
    """Stage ``df`` under ``base_dir`` as four files range-partitioned
    on ``key`` and return a file stream over them that reads ONE file
    per trigger, with ``df.schema`` — so a fold genuinely runs across
    micro-batches.

    The file source drains oldest-mtime first, so the part files get
    strictly ascending modification times in range order: the replay
    follows ``key`` (chronological when it is event time), and each
    batch's keys are ≥ the previous batch's."""
    df.repartitionByRange(4, key).write.parquet(base_dir)
    # repartitionByRange writes ascending ranges in part-file order
    parts = sorted(glob.glob(os.path.join(base_dir, "part-*")))
    base_t = os.path.getmtime(parts[0])
    for i, f in enumerate(parts):
        os.utime(f, (base_t + i, base_t + i))
    return (
        df.sparkSession.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(base_dir)
    )
