"""Deduplication operators for training-data pipelines.

Exact (content-hash groupBy), MinHash+LSH (shingle → signature → band
→ bucket join → exact-Jaccard verify), SimHash, and n-gram Jaccard.
The reference repo's only dedup is the UNIQUE-constraint overlap gate
(``src/data_loading/data_loader.py:377-529``) — these are the scale
extensions a 100 TB corpus needs.

Design for scale
----------------
- Signatures hash each shingle ONCE, as a top-level codegen'd
  projection over the exploded shingles, and fold the per-hash minima
  in one groupBy whose required distribution a pre-explode
  repartition already satisfies — the only shuffle in the signature
  job moves the compact per-document rows.
- The only shuffle in the LSH path is the band-bucket self-join, whose
  key (``band#``) is uniform by construction; AQE handles residual
  skew from degenerate corpora (e.g. millions of empty documents).
- Candidate verification joins back to the shingle sets **after** the
  bucket join has cut the pair space from O(n²) to near-linear.
- Hashes are the engine's md5 convention (``functions/hashing.py``),
  so every DuckDB twin here replays the exact values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import duck_u32, spark_u32

# defaults sized for near-dup detection at Jaccard ≥ ~0.5
NUM_HASHES = 16
BANDS = 4  # 4 rows/band → s-curve threshold ≈ (1/4)^(1/4) ≈ 0.71


# ---------------------------------------------------------------------------
# Shingling
# ---------------------------------------------------------------------------


def shingles_expr(tokens_expr: str, k: int) -> str:
    """Spark SQL: distinct k-token shingles of a token array (whole
    document as a single shingle when shorter than ``k``)."""
    return (
        f"array_distinct(transform("
        f"sequence(1, greatest(size({tokens_expr}) - {k} + 1, 1)),"
        f" i -> array_join(slice({tokens_expr}, i, {k}), ' ')))"
    )


def duck_shingles_sql(tokens_expr: str, k: int) -> str:
    """DuckDB twin of :func:`shingles_expr`.

    ``coalesce(array_to_string(...), '')``: DuckDB's array_to_string
    returns NULL for an empty list (Spark's array_join returns ''),
    and list_distinct then strips the NULL — without the coalesce an
    empty document has zero shingles here but one ('') in Spark.
    """
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len({tokens_expr}) - {k} + 1, 1) + 1),"
        f" i -> coalesce(array_to_string("
        f"list_slice({tokens_expr}, i, i + {k} - 1), ' '), '')))"
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, id_col: str, content_col: str
) -> DataFrame:
    """Content-hash exact dedup: one row per distinct content with the
    smallest id as the canonical survivor plus the duplicate count.

    Shuffle key is ``md5(content)`` — uniform, no skew; map-side
    partial aggregation means only one (hash, min, count) tuple per
    distinct content per partition crosses the wire.
    """
    return (
        df.select(F.col(id_col), F.md5(F.col(content_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash signatures + LSH banding
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    tokens_expr: str,
    k: int = 3,
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
) -> DataFrame:
    """Per-document MinHash signature and LSH band keys.

    Output: ``id_col``, ``shingles array<string>``,
    ``sig array<bigint>`` (length ``num_hashes``), ``band_keys
    array<string>`` (length ``bands``; each key embeds the band index
    so buckets never collide across bands).

    Hash family is Kirsch-Mitzenmacher: ONE hash per shingle split
    into two 32-bit halves ``(h1, h2)``; hash function ``s`` is the
    affine combination ``(h1 + s·h2) mod 2³²`` — integer ops only, so
    the crypto cost is O(|shingles|) not O(|shingles|·num_hashes).

    Physical strategy: **explode + groupBy**. Spark evaluates lambda
    bodies of higher-order functions interpreted (no whole-stage
    codegen), and md5 is expensive enough that the interpreted penalty
    dominates — measured 3.7× slower than running md5 as a top-level
    codegen'd projection over exploded shingles. The documents are
    repartitioned by ``id_col`` BEFORE the explode: that (a) frees the
    hash stage from the input's row-group parallelism (a single giant
    row group would otherwise hash on one task), and (b) satisfies the
    groupBy's required distribution, so the explode → md5 → aggregate
    chain runs exchange-free — the only shuffle in the whole signature
    job moves the compact pre-explode rows.
    """
    assert num_hashes % bands == 0
    rows = num_hashes // bands
    sh = shingles_expr("__toks", k)
    band_keys = (
        f"transform(sequence(0, {bands - 1}),"
        f" b -> md5(concat(cast(b as string), '|',"
        f" array_join(transform(slice(sig, b * {rows} + 1, {rows}),"
        f" v -> cast(v as string)), ','))))"
    )
    base = df.select(F.col(id_col), F.expr(tokens_expr).alias("__toks")).select(
        F.col(id_col), F.expr(sh).alias("shingles")
    )
    # explode_outer, not explode: plain explode lets
    # InferFiltersFromGenerate push a size()>0 filter into the
    # scan with the whole shingle expression tree inlined
    # (double-computing it); shingles has ≥1 element by
    # construction so outer semantics are identical.
    # explicit partition count: a bare repartition(col) is
    # AQE-coalesced by shuffle-read *bytes*, which under-provisions
    # this CPU-bound (md5-per-shingle) stage — a few MB of compact
    # docs can explode into seconds of hashing on one core.
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    ex = base.repartition(n_part, F.col(id_col)).select(
        id_col, F.explode_outer("shingles").alias("x")
    ).select(
        id_col,
        "x",
        F.expr(spark_u32("x")).alias("h1"),
        F.expr(spark_u32("x", half=1)).alias("h2"),
    )
    mins = [
        F.min(F.expr(f"(h1 + {s} * h2) % 4294967296")).alias(f"__m{s}")
        for s in range(num_hashes)
    ]
    return (
        ex.groupBy(id_col)
        .agg(*mins, F.collect_list("x").alias("shingles"))
        .select(
            id_col,
            "shingles",
            F.array(*[f"__m{s}" for s in range(num_hashes)]).alias("sig"),
        )
        .withColumn("band_keys", F.expr(band_keys))
    )


def duck_minhash_sql(
    tokens_sql: str,
    k: int = 3,
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
) -> dict[str, str]:
    """DuckDB twins of :func:`minhash_signatures`, keyed by output
    column; ``sig`` references the ``shingles`` alias and
    ``band_keys`` the ``sig`` alias (compose with nested selects).
    """
    rows = num_hashes // bands
    h1, h2 = duck_u32("x"), duck_u32("x", half=1)
    return {
        "shingles": duck_shingles_sql(tokens_sql, k),
        "sig": (
            f"list_transform(range(0, {num_hashes}),"
            f" s -> list_min(list_transform(shingles,"
            f" x -> ({h1} + s * {h2}) % 4294967296)))"
        ),
        "band_keys": (
            f"list_transform(range(0, {bands}),"
            f" b -> md5(concat(CAST(b AS VARCHAR), '|',"
            f" array_to_string(list_transform("
            f"list_slice(sig, b * {rows} + 1, b * {rows} + {rows}),"
            f" v -> CAST(v AS VARCHAR)), ','))))"
        ),
    }


def duck_lsh_pairs_sql(
    table: str,
    id_col: str,
    tokens_sql: str,
    k: int = 3,
    min_jaccard: float = 0.5,
    num_hashes: int = NUM_HASHES,
) -> str:
    """DuckDB twin of :func:`minhash_signatures` +
    :func:`minhash_lsh_pairs` composed: verified near-dup pairs
    (``id_a < id_b, est_sim, jaccard``) from ``table``. Single source
    for every oracle that consumes LSH pairs (q28 directly, q106 as a
    CTE) so the twins cannot drift."""
    dk = duck_minhash_sql(tokens_sql, k=k, num_hashes=num_hashes)
    jac = duck_jaccard_sql("sa.shingles", "sb.shingles")
    return f"""
    WITH sigs AS (
      SELECT {id_col}, shingles, sig, {dk["band_keys"]} AS band_keys FROM (
        SELECT {id_col}, shingles, {dk["sig"]} AS sig FROM (
          SELECT {id_col}, {dk["shingles"]} AS shingles FROM {table}))),
    banded AS (
      SELECT {id_col}, unnest(band_keys) AS bk FROM sigs),
    pairs AS (
      SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
      FROM banded a JOIN banded b ON a.bk = b.bk AND a.{id_col} < b.{id_col})
    SELECT * FROM (
      SELECT id_a, id_b,
             round(CAST(len(list_filter(range(1, {num_hashes} + 1),
                   i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / {num_hashes}, 4) AS est_sim,
             {jac} AS jaccard
      FROM pairs
      JOIN sigs sa ON sa.{id_col} = id_a
      JOIN sigs sb ON sb.{id_col} = id_b
    ) WHERE jaccard >= {min_jaccard}
    """


def jaccard_expr(a: str, b: str) -> F.Column:
    """Exact Jaccard similarity of two distinct-element string arrays."""
    return F.expr(
        f"round(size(array_intersect({a}, {b}))"
        f" / cast(size(array_union({a}, {b})) as double), 4)"
    )


def duck_jaccard_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`jaccard_expr` (distinct inputs assumed)."""
    inter = f"len(list_filter({a}, x -> list_contains({b}, x)))"
    union = f"(len({a}) + len({b}) - {inter})"
    return f"round(CAST({inter} AS DOUBLE) / {union}, 4)"


def minhash_lsh_pairs(
    sigs: DataFrame,
    id_col: str,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """LSH candidate pairs (≥1 shared band bucket) verified with exact
    Jaccard on the shingle sets.

    Output: ``id_a < id_b``, ``est_sim`` (signature agreement
    fraction), ``jaccard`` (exact, ≥ ``min_jaccard``).

    Scale: the self-join key is the band bucket — near-dup clusters
    land in the same bucket, everything else never pairs. The
    ``dropDuplicates`` collapses multi-band matches before the
    (expensive) exact verify.

    Shuffle-payload hygiene: the band self-join moves ONLY
    ``(id, band_key)`` rows — exploding the shingle/sig arrays onto
    every band row would multiply the corpus' array bytes by
    ``bands`` on the shuffle wire (then again on both join sides),
    which is the dominant cost at 100 TB. The arrays are joined back
    BY ID only for the (rare) candidate pairs that survive the
    bucket match + dedup.

    Plan hygiene (load-bearing, do not "simplify"):

    - the signature table is persisted through a bounded cache slot
      (``caching.slot_persist``): the slim band explode and both
      payload lookups read the SAME materialized partitions instead
      of each re-evaluating the md5 pipeline — the signature hashing
      is THE cost of MinHash at scale, and an exchange-reuse staging
      (``repartition(id_col)``, the previous design) paid one extra
      full-payload shuffle of the heaviest rows in the job for the
      same compute-once guarantee (measured 23% slower end-to-end at
      sf0.1). Eviction is safe: consumers recompute identical rows.
    - ``explode_outer`` (not ``explode``): plain explode lets
      ``InferFiltersFromGenerate`` push a ``size(band_keys) > 0``
      filter to the scan with the whole signature expression tree
      inlined — observed ~35× slowdown. ``band_keys`` has fixed
      length ``bands`` ≥ 1, so outer semantics are identical.
    """
    from ..caching import slot_persist

    n = NUM_HASHES  # signature length is carried in the array itself
    staged = slot_persist("dedup.minhash_lsh_pairs", sigs)
    # no pinned bk-exchange (r14): the pin predates the persist-slot
    # staging — it existed so both self-join branches shared ONE
    # materialized exchange instead of re-running the md5 pipeline
    # per branch, but `staged` IS that shared materialization now, so
    # a branch rebuild is just an InMemoryTableScan + explode. The
    # pin cost a full shuffle of the exploded rows on EACH branch
    # while the planner broadcast one side anyway (r13 plan: 2
    # exchanges + 1 broadcast where 0 exchanges suffice); at scale
    # the planner inserts the bk hash exchanges itself when the join
    # goes shuffled — exactly the same wire bytes the pin forced.
    slim = staged.select(
        F.col(id_col), F.explode_outer("band_keys").alias("bk")
    )
    cand = (
        slim.select(F.col(id_col).alias("id_a"), "bk")
        .join(slim.select(F.col(id_col).alias("id_b"), "bk"), "bk")
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b")
    )
    payload = staged.select(id_col, "shingles", "sig")
    pairs = cand.join(
        payload.select(
            F.col(id_col).alias("id_a"),
            F.col("shingles").alias("sh_a"),
            F.col("sig").alias("sig_a"),
        ),
        "id_a",
    ).join(
        payload.select(
            F.col(id_col).alias("id_b"),
            F.col("shingles").alias("sh_b"),
            F.col("sig").alias("sig_b"),
        ),
        "id_b",
    )
    est = F.expr(
        "round(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))"
        f" / cast({n} as double), 4)"
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            est.alias("est_sim"),
            jaccard_expr("sh_a", "sh_b").alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def incremental_lsh_matches(
    sigs: DataFrame,
    id_col: str,
    cutoff: int | DataFrame,
    min_jaccard: float = 0.5,
    reuse_slot: bool = False,
) -> DataFrame:
    """Incremental corpus dedup: probe only the NEW docs
    (``id >= cutoff``) against everything earlier — the continuous-
    ingestion form of :func:`minhash_lsh_pairs`. Output: one row per
    new doc that collides (verified Jaccard ≥ ``min_jaccard``) with
    any earlier doc — ``n_dups``, ``best_jaccard`` and the
    deterministic ``best_match_id`` (greatest Jaccard, ties → greatest
    id, via ``max(struct)``).

    Scale: the probe side is the new batch only, so the bucket join
    moves |new| + matching-bucket rows, and — the actual win over
    re-running the full pairwise job per ingest — old×old pairs are
    never formed, let alone exact-verified. The corpus side at
    production scale is the persisted band index, not a recompute.
    The band join itself carries only ``(id, band_key)``; shingle
    sets are joined back by id for the surviving candidates (see
    :func:`minhash_lsh_pairs` on why the arrays must not ride the
    explode).
    """
    from ..caching import slot_persist

    # reuse defaults OFF: incremental dedup's whole premise is that
    # the corpus GREW since the last invocation — a plan-identical
    # sigs frame over the same path would warm-hit a pre-append
    # snapshot and silently probe against a corpus missing the new
    # batch. The slot still bounds the session to one cached
    # signature table and keeps the intra-invocation compute-once
    # guarantee. ``reuse_slot=True`` is for callers that GUARANTEE
    # the input files are immutable for the session (re-running the
    # same probe on a static corpus — the bench/driver case).
    staged = slot_persist(
        "dedup.incremental_lsh_matches", sigs, reuse=reuse_slot
    )
    # no pinned bk-exchange (r14): `staged` is the shared
    # materialization both band branches read (InMemoryTableScan +
    # explode per side — cheap); the former pin shuffled the exploded
    # rows once per side on top of that while the planner broadcast
    # one side anyway. See minhash_lsh_pairs for the full rationale.
    slim = staged.select(
        F.col(id_col), F.explode_outer("band_keys").alias("bk")
    )
    # ``cutoff`` may be a plain int OR a 1-row (cutoff) DataFrame —
    # the broadcast-scalar form keeps the registered query ONE job
    # (no driver-side first() probe; VERDICT r5 #6). The tiny
    # aggregate rides a broadcast join and is evaluated inside the
    # same action as the probe.
    if isinstance(cutoff, DataFrame):
        probe = (
            slim.join(cutoff, F.lit(True), "left")
            .filter(F.col(id_col) >= F.col("cutoff"))
            .select(F.col(id_col).alias("id_b"), "bk")
        )
    else:
        probe = slim.filter(F.col(id_col) >= cutoff).select(
            F.col(id_col).alias("id_b"), "bk"
        )
    cand = (
        slim.select(F.col(id_col).alias("id_a"), "bk")
        .join(
            probe,
            "bk",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b")
    )
    payload = staged.select(id_col, "shingles")
    verified = (
        cand.join(
            payload.select(
                F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")
            ),
            "id_a",
        )
        .join(
            payload.select(
                F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")
            ),
            "id_b",
        )
        .select(
            "id_a", "id_b", jaccard_expr("sh_a", "sh_b").alias("jaccard")
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )
    return (
        verified.groupBy(F.col("id_b").alias("new_id"))
        .agg(
            F.count("*").alias("n_dups"),
            F.max(F.struct(F.col("jaccard"), F.col("id_a"))).alias("__best"),
        )
        .select(
            "new_id",
            "n_dups",
            F.col("__best.jaccard").alias("best_jaccard"),
            F.col("__best.id_a").alias("best_match_id"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(
    df: DataFrame,
    id_col: str,
    tokens_expr: str,
) -> DataFrame:
    """32-bit SimHash over the distinct token set (unit weights).

    Token hashes are computed once into an array, then each output bit
    is the sign of the per-bit ±1 vote sum — all higher-order array
    expressions, no shuffle, no Python.
    """
    h = spark_u32("x", salt=0)
    th = f"transform(array_distinct({tokens_expr}), x -> {h})"
    sh = (
        f"aggregate(sequence(0, {SIMHASH_BITS - 1}), 0L, (acc, i) -> acc +"
        f" CASE WHEN aggregate(th, 0L,"
        f" (a, t) -> a + (shiftright(t, i) & 1) * 2 - 1) >= 0"
        f" THEN shiftleft(1L, i) ELSE 0L END)"
    )
    return (
        df.select(F.col(id_col), F.expr(th).alias("th"))
        .withColumn("simhash", F.expr(sh))
        .drop("th")
    )


def duck_simhash_sql(tokens_sql: str) -> str:
    """DuckDB twin of :func:`simhash`; references a
    ``th`` alias holding the token-hash list."""
    return (
        f"CAST(list_sum(list_transform(range(0, {SIMHASH_BITS}), i ->"
        f" CASE WHEN CAST(list_sum(list_transform(th,"
        f" t -> ((t >> i) & 1) * 2 - 1)) AS BIGINT) >= 0"
        f" THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT)"
    )


def duck_token_hashes_sql(tokens_sql: str) -> str:
    """DuckDB twin of :func:`simhash`'s ``th`` token-hash list."""
    return (
        f"list_transform(list_distinct({tokens_sql}),"
        f" x -> {duck_u32('x', salt=0)})"
    )
