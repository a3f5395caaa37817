"""Table maintenance & health (SURVEY §2.10 C8/C10).

The reference's VACUUM / REINDEX / CLUSTER and pg_stat health probes
(``src/postgres_managing/postgres_manager.py:634-654,788-920``) are
PostgreSQL-specific; their Parquet-native counterparts are the two
things that actually degrade a file-based table at 100 TB:

- **small files** (per-trigger streaming commits, over-partitioned
  writes) → fixed by :func:`compact`;
- **partition skew** (hot keys) → surfaced by :func:`table_health`,
  fixed by re-layout.

All filesystem access goes through the Hadoop FileSystem API of the
path's own scheme (``Path.getFileSystem``), so health/compaction work
identically on ``file://``, ``hdfs://`` and ``s3a://`` warehouses —
an ``os.walk`` implementation would silently report zero files on a
remote store.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import SparkSession

#: compaction target — matches the default parquet row-group sweet spot
TARGET_FILE_BYTES = 128 * 1024 * 1024
SMALL_FILE_BYTES = 16 * 1024 * 1024

#: sibling-dir suffixes used by the compaction swap
_TMP_SUFFIX = "._compacting"
_BACKUP_SUFFIX = "._precompact"


def _jpath(spark: SparkSession, path: str):
    return spark._jvm.org.apache.hadoop.fs.Path(path)


def _fs_and_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for the path's own scheme via the session's
    Hadoop conf — the portable way to list/rename/delete."""
    jpath = _jpath(spark, path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def _data_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """Recursive (file, bytes) listing of committed parquet data files
    (skips ``_SUCCESS``/metadata/hidden), on any FS scheme."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return []
    out: list[tuple[str, int]] = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        status = it.next()
        name = status.getPath().getName()
        if name.endswith(".parquet") and not name.startswith(("_", ".")):
            out.append((status.getPath().toString(), status.getLen()))
    return out


@dataclass
class TableHealth:
    """C8 reimagined: the stats a Parquet table can actually act on."""

    n_files: int
    total_bytes: int
    avg_file_bytes: int
    small_files: int  # < SMALL_FILE_BYTES
    max_file_bytes: int
    partitions: dict[str, int]  # top-level partition dir → bytes
    skew_ratio: float  # max partition bytes / mean partition bytes


def table_health(spark: SparkSession, path: str) -> TableHealth:
    """File-layout health from filesystem metadata alone (no Spark
    job) — the analogue of the reference's size/bloat queries, which
    also read only catalog metadata."""
    base = path.rstrip("/")
    files = _data_files(spark, base)
    sizes = [s for _, s in files]
    # qualify the root through the FS so it textually matches the
    # listing's normalized URIs ('file:/x' vs the caller's '/x' or
    # 'file:///x') — splitting on the raw caller path would lump every
    # file into one bogus partition when the spellings differ
    fs, jpath = _fs_and_path(spark, base)
    qualified = fs.makeQualified(jpath).toString().rstrip("/")
    parts: dict[str, int] = {}
    for full, size in files:
        # top-level child under the table root = partition directory
        rel = full.split(qualified + "/", 1)[-1]
        top = rel.split("/")[0] if "/" in rel else "<root>"
        parts[top] = parts.get(top, 0) + size
    mean_part = (sum(parts.values()) / len(parts)) if parts else 0
    return TableHealth(
        n_files=len(files),
        total_bytes=sum(sizes),
        avg_file_bytes=int(sum(sizes) / len(sizes)) if sizes else 0,
        small_files=sum(1 for s in sizes if s < SMALL_FILE_BYTES),
        max_file_bytes=max(sizes, default=0),
        partitions=parts,
        skew_ratio=(max(parts.values()) / mean_part) if mean_part else 0.0,
    )


def recover_compact(spark: SparkSession, path: str) -> bool:
    """Heal a table after a crash mid-:func:`compact` swap.

    Invariant the swap maintains: at every instant at least one of
    ``path`` / ``backup`` holds the complete previous table, and
    ``tmp`` (when present) holds a complete compacted copy. Recovery
    therefore never loses data:

    - ``path`` missing, ``backup`` present → restore backup (a crash
      landed between the two renames);
    - ``path`` present → drop stale ``tmp``/``backup`` leftovers.

    Returns True if a restore happened.
    """
    base = path.rstrip("/")
    fs, jpath = _fs_and_path(spark, base)
    jtmp = _jpath(spark, base + _TMP_SUFFIX)
    jbackup = _jpath(spark, base + _BACKUP_SUFFIX)
    restored = False
    if not fs.exists(jpath) and fs.exists(jbackup):
        if not fs.rename(jbackup, jpath):
            raise IOError(f"recover: rename {jbackup} -> {jpath} failed")
        restored = True
    for leftover in (jtmp, jbackup):
        if fs.exists(jpath) and fs.exists(leftover):
            fs.delete(leftover, True)
    return restored


def snapshot_table(spark: SparkSession, path: str, snapshot_path: str) -> int:
    """S17 (export half): byte-identical snapshot of a table directory
    (the reference's per-table ``pg_dump`` backup,
    ``postgres_manager.py:964-1006``). A filesystem copy — not a Spark
    rewrite — so the snapshot preserves the exact file layout
    (clustering, compaction state, footer stats) and costs zero
    compute/shuffle; at 100 TB ``distcp``-style parallel copy slots in
    behind the same call. Returns the number of files copied.
    """
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    src_fs, src = _fs_and_path(spark, path.rstrip("/"))
    dst_fs, dst = _fs_and_path(spark, snapshot_path.rstrip("/"))
    if not src_fs.exists(src):
        raise FileNotFoundError(path)
    if dst_fs.exists(dst):
        dst_fs.delete(dst, True)
    if not jvm.org.apache.hadoop.fs.FileUtil.copy(
        src_fs, src, dst_fs, dst, False, conf
    ):
        raise IOError(f"snapshot: copy {path} -> {snapshot_path} failed")
    return len(_data_files(spark, snapshot_path))


def restore_table(spark: SparkSession, path: str, snapshot_path: str) -> int:
    """S17 (restore half): put a table directory back to a
    :func:`snapshot_table` state via the same crash-recoverable swap
    :func:`compact` uses — copy snapshot → ``tmp``, rename
    path → ``backup``, rename ``tmp`` → path, delete ``backup``. At
    every instant a complete copy of the pre-restore table exists
    under ``path`` or ``backup``, and the shared suffixes mean
    :func:`recover_compact` heals a crash mid-restore too. Returns
    the restored file count.
    """
    base = path.rstrip("/")
    recover_compact(spark, base)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    snap_fs, snap = _fs_and_path(spark, snapshot_path.rstrip("/"))
    if not snap_fs.exists(snap):
        raise FileNotFoundError(snapshot_path)
    fs, jpath = _fs_and_path(spark, base)
    jtmp = _jpath(spark, base + _TMP_SUFFIX)
    jbackup = _jpath(spark, base + _BACKUP_SUFFIX)
    if fs.exists(jtmp):
        fs.delete(jtmp, True)
    if not jvm.org.apache.hadoop.fs.FileUtil.copy(
        snap_fs, snap, fs, jtmp, False, conf
    ):
        raise IOError(f"restore: copy {snapshot_path} -> {jtmp} failed")
    if fs.exists(jpath) and not fs.rename(jpath, jbackup):
        raise IOError(f"restore: rename {jpath} -> {jbackup} failed")
    if not fs.rename(jtmp, jpath):
        fs.rename(jbackup, jpath)  # put the original back
        raise IOError(f"restore: rename {jtmp} -> {jpath} failed")
    fs.delete(jbackup, True)
    return len(_data_files(spark, base))


def zorder_key(
    spark: SparkSession,
    df,
    cols: list[str],
    bits_per_col: int = 16,
):
    """Morton (Z-order) key over 2+ numeric columns: each column is
    mapped to a ``bits_per_col``-bit equal-width bucket between its
    own min and max (one tiny agg, broadcast into the projection),
    and the bucket bits are interleaved. Range-partitioning + sorting
    on this key gives every output file a small hyper-RECTANGLE of
    the key space instead of a narrow slice of only the first column
    — so parquet min/max footer stats skip files for selective
    predicates on ANY of the columns, which is what multi-dimension
    file pruning needs at 100 TB (a lexicographic sort only prunes
    its leading column).

    Equal-width buckets keep the key a pure expression; heavily
    skewed columns would want rank buckets (quantile boundaries)
    instead — the interleave below is unchanged by that swap.

    ``bits_per_col`` is capped at ``63 // len(cols)`` so the top
    interleaved bit stays below the BIGINT sign bit — 4 columns at
    the default 16 bits would otherwise place bits at position ≥ 63,
    turning high-bucket keys negative and inverting the Morton order
    for part of the key space.

    Returns (df_with_key, key_col_name).
    """
    from pyspark.sql import functions as F

    bits_per_col = min(bits_per_col, 63 // len(cols))
    bounds = df.agg(
        *[F.min(c).cast("double").alias(f"__lo_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"__hi_{c}") for c in cols],
    )
    out = df.join(bounds)
    n_buckets = 1 << bits_per_col
    bucket_cols = []
    for c in cols:
        b = f"__zb_{c}"
        # width_bucket yields 1..n+1; clamp into 0..n-1
        out = out.withColumn(
            b,
            F.expr(
                f"least(greatest(width_bucket(cast({c} as double),"
                f" __lo_{c}, __hi_{c} + 1e-9, {n_buckets}) - 1, 0),"
                f" {n_buckets - 1})"
            ),
        )
        bucket_cols.append(b)
    terms = []
    for ci, b in enumerate(bucket_cols):
        for bit in range(bits_per_col):
            terms.append(
                f"shiftleft(shiftright({b}, {bit}) & 1,"
                f" {bit * len(cols) + ci})"
            )
    out = out.withColumn("__zkey", F.expr(" + ".join(terms)))
    drop = bucket_cols + [f"__lo_{c}" for c in cols] + [f"__hi_{c}" for c in cols]
    return out.drop(*drop), "__zkey"


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    cluster_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> int:
    """C10: small-file compaction — read, repartition to
    ceil(bytes/target), rewrite via a recoverable swap. Returns the
    new file count.

    ``cluster_by`` additionally range-partitions AND sorts the
    rewrite on the given columns — the Parquet-native counterpart of
    the reference's ``CLUSTER``/``REINDEX``
    (``postgres_manager.py:1175-1191``): each output file then owns
    a narrow, disjoint key range, so parquet min/max footer stats
    skip whole files for selective predicates on those columns
    (file-level pruning is the poor man's index at 100 TB; without
    clustering every file spans the full key range and nothing
    skips).

    ``zorder_by`` (2+ numeric columns) rewrites along a Morton curve
    instead (:func:`zorder_key`): every file owns a compact
    hyper-rectangle, so footer stats prune on any of the columns —
    the multi-dimensional generalization of ``cluster_by``.

    Swap protocol (all Hadoop ``FileSystem.rename``, scheme-agnostic):
    write tmp → rename path→backup → rename tmp→path → delete backup.
    A crash at any step leaves a complete copy under ``path`` or
    ``backup``; :func:`recover_compact` (run automatically at the
    start of every compaction) restores ``path`` and clears leftovers.
    """
    if cluster_by and zorder_by:
        raise ValueError("pass either cluster_by or zorder_by, not both")
    base = path.rstrip("/")
    recover_compact(spark, base)

    health = table_health(spark, base)
    n = max(1, math.ceil(health.total_bytes / target_file_bytes))
    tmp = base + _TMP_SUFFIX
    df = spark.read.parquet(base)
    if zorder_by:
        df, zkey = zorder_key(spark, df, zorder_by)
        df = (
            df.repartitionByRange(n, zkey)
            .sortWithinPartitions(zkey)
            .drop(zkey)
        )
    elif cluster_by:
        df = df.repartitionByRange(n, *cluster_by).sortWithinPartitions(
            *cluster_by
        )
    else:
        df = df.repartition(n)
    df.write.mode("overwrite").parquet(tmp)

    fs, jpath = _fs_and_path(spark, base)
    jtmp = _jpath(spark, tmp)
    jbackup = _jpath(spark, base + _BACKUP_SUFFIX)
    if not fs.rename(jpath, jbackup):
        raise IOError(f"compact: rename {jpath} -> {jbackup} failed")
    if not fs.rename(jtmp, jpath):
        # put the original back rather than leaving no table
        fs.rename(jbackup, jpath)
        raise IOError(f"compact: rename {jtmp} -> {jpath} failed")
    fs.delete(jbackup, True)
    return len(_data_files(spark, base))
