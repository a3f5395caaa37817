"""Training-corpus pipeline queries (q83–q86): sequence packing,
eval-set decontamination, repetition quality (Gopher-style token
dominance), and corpus-level boilerplate n-gram detection.

These extend the q26–q35 dedup/text family with the remaining ops a
100 TB pretraining pipeline runs between "deduped documents" and
"training batches". The reference has no text subsystem at all
(``src/analytics/`` is an empty stub); tokenization and shingling
reuse the shared Spark/DuckDB twin templates (``operators/text.py``,
``operators/dedup.py``) so the oracles cannot drift.

Determinism: every ratio is emitted as integer permille/basis-points
(``x * 10000 div n``) — no float rounding anywhere, so Spark and
DuckDB agree bit-for-bit without the round-half tie trap
(``functions/scalar.py`` docstring).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.hashing import duck_u32, spark_u32
from ..functions.scalar import dec_sum_sql
from ..operators import dedup, scale, similarity, text
from ..schema.sampling import HASH_MOD, duck_hash_bucket_sql, hash_bucket
from ..sources.readers import load_table
from .registry import query

TOK = text.SPARK_TOKENS.format(col="text")
DTOK = text.DUCK_TOKENS.format(col="text")

#: target sequence length for packing (tiny so small SFs produce many
#: chunks; a real pipeline uses 2k-8k)
SEQ_LEN = 512

#: held-out "benchmark" subset for decontamination: every 10th doc
EVAL_PRED = "doc_id % 10 = 0"


@query(
    "q83_sequence_packing",
    headline=True,
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, len({DTOK}) AS n_tokens FROM documents
    ),
    c AS (
      SELECT lang, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM t
    )
    SELECT lang,
           CAST(cum_before // {SEQ_LEN} AS BIGINT) AS chunk_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST((SUM(n_tokens) * 1000) // {SEQ_LEN} AS BIGINT)
             AS fill_permille
    FROM c GROUP BY 1, 2
    """,
)
def q83_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: per language, documents in doc_id
    order are assigned to SEQ_LEN-token training chunks by their
    cumulative token offset (``chunk_id = tokens-before div
    SEQ_LEN``); output is per-chunk fill statistics. This is the
    batch-construction step after dedup/filtering: it answers "how
    many sequences does this corpus pack into, and how full are
    they".

    Scale: one narrow token-count projection, one window partitioned
    by language (hash-parallel; at 100 TB the pack-group key becomes
    (lang, shard) so no partition exceeds a task), one
    map-side-combined groupBy. No data movement beyond the pack-group
    shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "lang", F.expr(f"size({TOK})").alias("n_tokens")
    )
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    c = t.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return (
        c.groupBy(
            "lang",
            F.expr(f"cum_before div {SEQ_LEN}").alias("chunk_id"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .withColumn(
            "fill_permille", F.expr(f"(sum_tokens * 1000) div {SEQ_LEN}")
        )
    )


def _decontamination_oracle() -> str:
    sh = dedup.duck_shingles_sql(DTOK, 3)
    return f"""
    WITH d AS (SELECT doc_id, {sh} AS sh FROM documents),
    ev AS (SELECT DISTINCT unnest(sh) AS g FROM d WHERE {EVAL_PRED}),
    tr AS (SELECT doc_id, unnest(sh) AS g FROM d WHERE NOT ({EVAL_PRED}))
    SELECT t.doc_id,
           COUNT(*) AS n_shingles,
           COUNT(e.g) AS n_contaminated,
           CAST((COUNT(e.g) * 10000) // COUNT(*) AS BIGINT)
             AS contamination_bp
    FROM tr t LEFT JOIN ev e USING (g)
    GROUP BY t.doc_id
    """


@query("q84_decontamination_overlap", oracle=_decontamination_oracle())
def q84_decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per training document, the fraction
    of its distinct word 3-grams that also appear anywhere in the
    held-out eval subset (every 10th doc stands in for a benchmark
    suite). Docs with high overlap are eval leakage and get dropped
    before training — the n-gram-overlap decontamination step every
    published pretraining pipeline runs.

    Scale: the eval n-gram set is DISTINCT'd and **broadcast** —
    benchmark suites are tiny next to the corpus, so the fact-side
    explode never shuffles; the per-doc rollup is map-side combined.
    If the eval set ever outgrows broadcast, the same plan works as a
    shuffle equi-join on the gram.
    """
    docs = load_table(spark, sf_dir, "documents")
    # project shingles BEFORE a pinned repartition: the exchange
    # materializes them once and both branches below reuse it
    # (ReuseExchange), and the CPU-bound shingling escapes the input
    # file's row-group parallelism (a single parquet file otherwise
    # runs the whole explode chain on ONE task — the trap documented
    # at operators/dedup.py:159-163)
    # tokens staged as their own projection first: interpreted
    # higher-order functions get no common-subexpression elimination,
    # so inlining the tokenizer into the shingle lambda re-tokenizes
    # once PER SHINGLE (the operators/text.py lang_id note) — measured
    # ~2× on this query alone
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = (
        docs.select("doc_id", text.tokens("text").alias("__toks"))
        .select(
            "doc_id",
            F.expr(dedup.shingles_expr("__toks", 3)).alias("sh"),
        )
        .repartition(n_part, "doc_id")
    )
    # post-explode null guard: explode_outer emits a NULL row for an
    # empty/null array while the oracle's unnest emits none — filter
    # ABOVE the Generate (a pre-explode size()>0 filter would get
    # inlined below it by InferFiltersFromGenerate, re-computing the
    # shingle tree; see operators/dedup.py:154). Shingles are ≥1
    # element by construction today; the guard keeps the engines
    # identical if that ever changes.
    ev = (
        d.filter(EVAL_PRED)
        .select(F.explode_outer("sh").alias("g"))
        .filter(F.col("g").isNotNull())
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    tr = (
        d.filter(f"NOT ({EVAL_PRED})")
        .select("doc_id", F.explode_outer("sh").alias("g"))
        .filter(F.col("g").isNotNull())
    )
    return (
        tr.join(ev, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("__hit").alias("n_contaminated"),
        )
        .withColumn(
            "contamination_bp",
            F.expr("(n_contaminated * 10000) div n_shingles"),
        )
    )


@query(
    "q85_token_dominance",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({DTOK}) AS t FROM documents),
    counts AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    win AS (SELECT doc_id, t, c,
              MAX(c) OVER (PARTITION BY doc_id) AS mx,
              SUM(c) OVER (PARTITION BY doc_id) AS n
            FROM counts)
    SELECT doc_id,
           CAST(MAX(n) AS BIGINT) AS n_tokens,
           MAX(t) AS top_token,
           CAST(MAX(c) AS BIGINT) AS top_count,
           CAST((MAX(c) * 10000) // MAX(n) AS BIGINT) AS dominance_bp
    FROM win WHERE c = mx GROUP BY doc_id
    """,
)
def q85_token_dominance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter input: per document, the share
    of tokens taken by its single most frequent token (a document
    dominated by one token is boilerplate/spam). Ties on the max
    count resolve to the lexicographically greatest token on both
    engines (Spark ``max(struct(c, t))`` ≡ the oracle's
    ``MAX(t) WHERE c = mx``) — deterministic regardless of
    partitioning.

    Scale: explode → two-level map-side-combined aggregation, all on
    the doc_id key — one shuffle, no windows over the full corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    # conditional spread (scale.spread_scan) BEFORE tokenizing: frees
    # the explode+partial-agg chain from the input file's row-group
    # parallelism; raw text (not token arrays) rides the exchange,
    # and a multi-split input skips it entirely
    counts = (
        scale.spread_scan(docs, cols=["doc_id", "text"], by=["doc_id"])
        .select("doc_id", text.tokens("text").alias("__toks"))
        .select("doc_id", F.explode_outer("__toks").alias("t"))
        # null guard: a whitespace-only doc has an EMPTY token array —
        # explode_outer would emit a t=NULL row the oracle's unnest
        # doesn't (see q84 note on why the filter sits post-explode)
        .filter(F.col("t").isNotNull())
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("c"))
    )
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.max(F.struct(F.col("c"), F.col("t"))).alias("__top"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.col("__top.t").alias("top_token"),
            F.col("__top.c").alias("top_count"),
            F.expr("(__top.c * 10000) div n_tokens").alias("dominance_bp"),
        )
    )


@query(
    "q87_embedding_quantization",
    oracle="""
    WITH s AS (
      SELECT vec_id, embedding,
             CAST(list_max(list_transform(embedding, x -> abs(x)))
                  AS DOUBLE) / 127 AS scale
      FROM embeddings
    )
    SELECT vec_id, scale,
           array_to_string(
             CASE WHEN scale = 0
                  THEN list_transform(embedding, x -> 0)
                  ELSE list_transform(embedding, x ->
                    CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INTEGER))
             END, ',') AS qvec
    FROM s
    """,
)
def q87_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column —
    the compression step before building a vector index at corpus
    scale (4× smaller than float32, SIMD-friendly distance kernels).
    ``scale = max|x| / 127``; each component maps to
    ``floor(x/scale + 0.5)`` ∈ [-127, 127].

    Engine-exact on purpose: both engines run the identical chain of
    double-precision IEEE ops (cast → divide → add 0.5 → floor), and
    ``floor`` has no round-half mode to disagree on — so the oracle
    hash-matches bit-for-bit, unlike a ``round()`` formulation.

    Scale: one narrow higher-order-function projection per row — no
    shuffle, no UDF; quantized vectors flow straight to the IVF
    partitioner (q35).

    The raw ``array<int>`` form lives in
    ``operators/similarity.quantize_vec_expr`` (used by q91); this
    registered query serializes the vector with ``array_join`` so the
    driver's pandas-based canonicalizer (which cannot hash Python
    lists) can sort and hash the result column.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # staged quantize: scale computed once per row, not once per
    # ELEMENT (interpreted HOFs get no CSE — similarity.quantize)
    return similarity.quantize(emb, "embedding", "__q", "scale").select(
        "vec_id",
        "scale",
        F.array_join("__q", ",").alias("qvec"),
    )


@query(
    "q91_quantized_topk",
    headline=True,
    oracle=similarity.duck_quantized_topk_sql(
        "embeddings", "vec_id % 50 = 0", 3
    ),
)
def q91_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized retrieval (``operators/similarity.quantized_topk``):
    top-3 neighbors per query ranked by the int8 INTEGER dot product
    — q87's quantization feeding q34's retrieval shape. Integer
    scoring is bit-exact across engines by construction (no float
    fold anywhere), so the quantized ANN path gets the same hard
    oracle as the float baseline.

    Scale: 4× smaller vectors → 4× fewer scan bytes on the corpus
    pass, broadcast queries, per-query top-k window — the
    memory-bound production path next to q34 (float exactness
    baseline) and q35 (IVF pruning).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.expr("vec_id % 50 = 0"))
    # no query-level spread_scan (r14): quantized_topk fans out the
    # projected corpus itself — the query-level call was a redundant
    # second partition probe (see q34 note)
    return similarity.quantized_topk(
        emb, queries, "vec_id", "embedding", 3
    )


@query(
    "q93_sink_roundtrip",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           {dec_sum_sql("l_extendedprice")} AS sum_price
    FROM lineitem
    WHERE l_orderkey % 100 = 0
    GROUP BY l_returnflag
    """,
)
def q93_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink-path verification through the driver contract: a lineitem
    slice is exported to CSV (S11/S15, the reference's
    ``convert_parquet_to_csv`` contract), re-imported with an explicit
    schema (S1/S16), and aggregated — the oracle aggregates the
    ORIGINAL parquet, so the hash match proves the CSV write/read
    cycle is lossless (Java double round-trip formatting, header
    handling, schema fidelity).

    Scale: the export under test is a filtered slice; the write is a
    parallel directory-of-parts (no coalesce(1) on the hot path).
    """
    import shutil
    import tempfile

    from ..sources.writers import write_csv
    from ..sources.readers import read_csv

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter("l_orderkey % 100 = 0")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
    )
    out = tempfile.mkdtemp(prefix="q93_csv_")
    try:
        write_csv(li, out, header=True)
        back = read_csv(spark, out, schema=li.schema, header=True)
        from ..functions.scalar import dec_sum

        return (
            back.groupBy("l_returnflag")
            .agg(
                F.count("*").alias("n_rows"),
                dec_sum("l_extendedprice").alias("sum_price"),
            )
            # materialize before the temp dir vanishes: the driver
            # collects AFTER this function returns
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


@query(
    "q103_jsonl_roundtrip",
    oracle=f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM({duck_u32("text")}) AS BIGINT) AS text_checksum
    FROM documents
    WHERE doc_id % 5 = 0
    GROUP BY source
    """,
)
def q103_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink/source verification: a documents slice is exported
    to gzip'd JSONL (the training-corpus interchange format), read
    back with an explicit schema, and checksummed per source — the
    oracle checksums the ORIGINAL parquet, so the hash match proves
    the JSON encode/decode cycle is lossless (string escaping,
    unicode, null handling, long fidelity). The checksum is an
    integer sum of each text's md5 hash (``functions/hashing.py``) —
    any corrupted character in any document changes it.

    Scale: filtered slice in, parallel directory-of-parts out; the
    read-back is a schema'd scan (no inference pass).
    """
    import shutil
    import tempfile

    from ..sources.readers import read_jsonl
    from ..sources.writers import write_jsonl

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter("doc_id % 5 = 0")
        .select("doc_id", "source", "text", "n_chars")
    )
    out = tempfile.mkdtemp(prefix="q103_jsonl_")
    try:
        write_jsonl(docs, out, compression="gzip")
        back = read_jsonl(spark, out, schema=docs.schema)
        return (
            back.groupBy("source")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").alias("sum_chars"),
                F.sum(F.expr(spark_u32("text"))).alias("text_checksum"),
            )
            # materialize before the temp dir vanishes (q93 pattern)
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


@query(
    "q104_orc_roundtrip",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {dec_sum_sql("value")} AS sum_value,
           CAST(SUM(CAST(epoch_us(ts) AS BIGINT)) AS BIGINT)
             AS ts_checksum
    FROM events
    WHERE event_id % 7 = 0
    GROUP BY event_type
    """,
)
def q104_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/source verification: an events slice (timestamps,
    doubles, strings) round-trips through Spark's native ORC format
    and is aggregated against the original-parquet oracle — proving
    stripe encoding preserves timestamp micros (summed as an integer
    checksum), IEEE doubles (decimal-summed), and row multiplicity.

    Scale: ORC gets the same pushdown/pruning treatment as parquet;
    this query is the interop guarantee for Hive-era warehouses.
    """
    import shutil
    import tempfile

    from ..functions.scalar import dec_sum
    from ..sources.readers import read_orc
    from ..sources.writers import write_orc

    ev = (
        load_table(spark, sf_dir, "events")
        .filter("event_id % 7 = 0")
        .select("event_id", "ts", "event_type", "value")
    )
    out = tempfile.mkdtemp(prefix="q104_orc_")
    try:
        write_orc(ev, out)
        back = read_orc(spark, out, schema=ev.schema)
        return (
            back.groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                dec_sum("value").alias("sum_value"),
                F.sum(F.unix_micros("ts")).alias("ts_checksum"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


@query(
    "q94_footer_rowcounts",
    oracle="""
    SELECT 'customer' AS table_name, COUNT(*) AS n_rows FROM customer
    UNION ALL SELECT 'events', COUNT(*) FROM events
    UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
    UNION ALL SELECT 'orders', COUNT(*) FROM orders
    """,
)
def q94_footer_rowcounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/A8 made driver-visible: per-table row counts read from the
    parquet FOOTER alone (``sources/acquire.get_parquet_info`` — no
    data scan), hash-compared to the oracle's actual ``COUNT(*)``.
    The reference estimates row counts the same metadata-only way
    (``postgres_manager.py`` reltuples); parquet footers make the
    estimate exact.

    Scale: pure metadata — cost is one footer read per file however
    large the table; this is the planner-input path (size estimates,
    compaction targets) at 100 TB.
    """
    import os

    from ..sources.acquire import get_parquet_info

    rows = []
    for t in ("customer", "events", "lineitem", "orders"):
        info = get_parquet_info(os.path.join(sf_dir, f"{t}.parquet"))
        rows.append((t, int(info["num_rows"])))
    return scale.local_frame(spark, rows, "table_name string, n_rows bigint")


#: per-source keep-rate in basis points, derived from the numeric
#: suffix of the source name so the mixture is stable at every SF:
#: suffix % 3 → 2500 / 5000 / 7500 bp (25 / 50 / 75 %).
_MIX_TH_SQL = "(2500 + (CAST(substr(source, 4) AS INT) % 3) * 2500)"


@query(
    "q88_source_mixture",
    oracle=f"""
    WITH kept AS (
      SELECT source,
             CASE WHEN ({duck_u32("CAST(doc_id AS VARCHAR)")}
                    % 10000) < {_MIX_TH_SQL}
                  THEN 1 ELSE 0 END AS keep
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_total,
           CAST(SUM(keep) AS BIGINT) AS n_kept,
           CAST((SUM(keep) * 10000) // COUNT(*) AS BIGINT) AS kept_bp,
           {_MIX_TH_SQL} AS target_bp
    FROM kept
    GROUP BY source
    """,
)
def q88_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture curation: each source is down-sampled to its
    target weight (25/50/75 % by source family) with the same
    deterministic md5-bucket predicate as q78 — so the exact member
    set, not just the rate, is reproducible run-over-run and
    auditable in SQL. Output compares achieved vs target rate per
    source.

    Scale: pure narrow filter + map-side-combined rollup; the keep
    decision is per-row with no RNG state, so it distributes and
    replays trivially (including in streaming ingest).
    """
    docs = load_table(spark, sf_dir, "documents")
    th = F.expr("2500 + (cast(substr(source, 4) as int) % 3) * 2500")
    bucket = F.expr(f"{spark_u32('cast(doc_id as string)')} % 10000")
    return (
        docs.select(
            "source",
            (bucket < th).cast("int").alias("keep"),
            th.alias("target_bp"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("keep").alias("n_kept"),
            F.expr("(sum(keep) * 10000) div count(*)").alias("kept_bp"),
            F.first("target_bp").alias("target_bp"),
        )
        .select("source", "n_total", "n_kept", "kept_bp", "target_bp")
    )


def _incremental_dedup_oracle() -> str:
    dk = dedup.duck_minhash_sql(DTOK, k=3)
    jac = dedup.duck_jaccard_sql("sa.shingles", "sb.shingles")
    return f"""
    WITH cut AS (SELECT (MAX(doc_id) * 4) // 5 AS cutoff FROM documents),
    sigs AS (
      SELECT doc_id, shingles, {dk["band_keys"]} AS band_keys FROM (
        SELECT doc_id, shingles, {dk["sig"]} AS sig FROM (
          SELECT doc_id, {dk["shingles"]} AS shingles FROM documents))),
    banded AS (SELECT doc_id, unnest(band_keys) AS bk FROM sigs),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a
      JOIN banded b ON a.bk = b.bk AND a.doc_id < b.doc_id
      JOIN cut ON b.doc_id >= cut.cutoff),
    verified AS (
      SELECT id_a, id_b, {jac} AS jaccard
      FROM pairs
      JOIN sigs sa ON sa.doc_id = id_a
      JOIN sigs sb ON sb.doc_id = id_b
      WHERE {jac} >= 0.5),
    ranked AS (
      SELECT id_a, id_b, jaccard,
             MAX(jaccard) OVER (PARTITION BY id_b) AS mx
      FROM verified)
    SELECT id_b AS new_id,
           (SELECT COUNT(*) FROM verified v WHERE v.id_b = ranked.id_b)
             AS n_dups,
           MAX(jaccard) AS best_jaccard,
           MAX(id_a) AS best_match_id
    FROM ranked WHERE jaccard = mx
    GROUP BY id_b
    """


@query(
    "q90_incremental_dedup",
    oracle=_incremental_dedup_oracle(),
    headline=True,
)
def q90_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup (``operators/dedup.
    incremental_lsh_matches``): the newest 20% of documents (by id)
    are probed through the MinHash band index against everything
    earlier, and each colliding new doc reports its verified
    duplicate count and best match — the continuous-ingestion form
    of q28 that never re-forms old×old pairs.

    Scale: probe side = the new batch; corpus side = the persisted
    band index. The exact-Jaccard verify runs only on new-vs-earlier
    bucket collisions, so per-ingest cost tracks batch size, not
    corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    # cutoff as a 1-row broadcast scalar, not a driver-side first()
    # probe — the registered query stays a single job (VERDICT r5 #6)
    cutoff = docs.agg(F.expr("max(doc_id) * 4 div 5").alias("cutoff"))
    sigs = dedup.minhash_signatures(docs, "doc_id", TOK, k=3)
    # reuse_slot=True: this registered query re-probes a STATIC
    # testdata corpus (immutable for the session), so warm slot reuse
    # is valid here; a real continuous-ingestion caller keeps the
    # default (every invocation re-persists the grown corpus)
    return dedup.incremental_lsh_matches(
        sigs, "doc_id", cutoff=cutoff, min_jaccard=0.5, reuse_slot=True
    )


def _crossmodal_oracle() -> str:
    norm = similarity.duck_norm_sql("e.embedding")
    return f"""
    SELECT d.lang,
           COUNT(*) AS n_docs,
           {dec_sum_sql(f"round({norm}, 6)")} AS sum_norm
    FROM documents d
    JOIN embeddings e ON d.doc_id = e.vec_id
    WHERE len({DTOK.replace('text', 'd.text')}) >= 20
    GROUP BY d.lang
    """


@query("q95_crossmodal_quality_norms", oracle=_crossmodal_oracle())
def q95_crossmodal_quality_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal join — the one shape no other query exercises:
    TEXT quality gating (token-count floor) joined to the VECTOR
    table on the shared id, rolling up per-language embedding-norm
    mass. This is the curation pattern where filters computed on one
    modality decide which rows of another modality survive (drop a
    document → drop its embedding).

    Determinism: the norm is the engine-exact left-to-right fold
    (``operators/similarity``), rounded per row, summed through the
    DECIMAL convention — same contract q60/q34 already prove.

    Scale: both sides shuffle once on the shared id (co-partitioned
    equi-join; at warehouse scale the two tables are bucketed on it —
    ``operators/scale.write_bucketed`` — and the exchange disappears);
    the rollup is map-side combined.
    """
    from ..functions.scalar import dec_sum

    docs = load_table(spark, sf_dir, "documents").filter(
        F.expr(f"size({TOK}) >= 20")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        docs.select("doc_id", "lang")
        .join(emb.select("vec_id", "embedding"),
              F.col("doc_id") == F.col("vec_id"))
        .select(
            "lang",
            F.round(
                F.expr(similarity.norm_expr("embedding")), 6
            ).alias("__norm"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            dec_sum("__norm").alias("sum_norm"),
        )
    )


#: curation thresholds (basis points) — integer, engine-portable
DOMINANCE_MAX_BP = 2000
CONTAMINATION_MAX_BP = 2500


def _curation_oracle() -> str:
    sh = dedup.duck_shingles_sql(DTOK, 3)
    return f"""
    WITH base AS (
      SELECT doc_id, lang, source, text, {DTOK} AS toks, {sh} AS sh
      FROM documents
    ),
    canon AS (
      SELECT doc_id,
             doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_canonical
      FROM base
    ),
    tok AS (SELECT doc_id, unnest(toks) AS t FROM base),
    counts AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    dom AS (
      SELECT doc_id,
             CAST((MAX(c) * 10000) // SUM(c) AS BIGINT) AS dominance_bp,
             CAST(SUM(c) AS BIGINT) AS n_tokens
      FROM counts GROUP BY doc_id
    ),
    ev AS (SELECT DISTINCT unnest(sh) AS g FROM base WHERE {EVAL_PRED}),
    tr AS (SELECT doc_id, unnest(sh) AS g FROM base WHERE NOT ({EVAL_PRED})),
    contam AS (
      SELECT t.doc_id,
             CAST((COUNT(e.g) * 10000) // COUNT(*) AS BIGINT)
               AS contamination_bp
      FROM tr t LEFT JOIN ev e USING (g)
      GROUP BY t.doc_id
    )
    SELECT b.lang, b.source,
           COUNT(*) AS n_docs,
           CAST(SUM(d.n_tokens) AS BIGINT) AS sum_tokens
    FROM base b
    JOIN canon cn USING (doc_id)
    JOIN dom d USING (doc_id)
    JOIN contam ct USING (doc_id)
    WHERE cn.is_canonical
      AND d.dominance_bp <= {DOMINANCE_MAX_BP}
      AND ct.contamination_bp < {CONTAMINATION_MAX_BP}
    GROUP BY b.lang, b.source
    """


@query("q92_corpus_curation", oracle=_curation_oracle())
def q92_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation — the capstone composition of the
    training-data family in ONE declarative plan: drop the held-out
    eval subset, keep only exact-dedup canonicals (min doc_id per
    content hash), apply the Gopher dominance filter (q85) and the
    decontamination filter (q84), then report the surviving corpus
    mix per (lang, source) with its token budget.

    Everything is the same integer-threshold templates the individual
    queries verify, so the composed result carries a full hash
    oracle — curation decisions are auditable SQL, not pipeline lore.

    Scale: one doc-key shuffle for dominance, one content-hash window
    for dedup, one broadcast n-gram join for contamination, one final
    map-side-combined rollup — each stage is the already-proven
    plan shape of its standalone query.
    """
    docs = load_table(spark, sf_dir, "documents")
    # one staged projection (text hash, shingles, tokens) behind a
    # pinned repartition: four consumers below reuse the exchange
    # instead of each re-running the CPU-bound array expressions on
    # the input file's single row group (see q84 note)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    base = (
        docs.select(
            "doc_id", "lang", "source", "text",
            text.tokens("text").alias("__toks"),
        )
        .select(  # staged tokens: see q84 CSE note
            "doc_id", "lang", "source", "text", "__toks",
            F.expr(dedup.shingles_expr("__toks", 3)).alias("sh"),
        )
        .repartition(n_part, "doc_id")
    )
    canon = base.select(
        "doc_id",
        (
            F.col("doc_id")
            == F.min("doc_id").over(W.partitionBy(F.md5("text")))
        ).alias("is_canonical"),
    )
    counts = (
        base.select("doc_id", F.explode_outer("__toks").alias("t"))
        .filter(F.col("t").isNotNull())  # empty-doc guard, see q84/q85
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("c"))
    )
    dom = counts.groupBy("doc_id").agg(
        F.expr("(max(c) * 10000) div sum(c)").alias("dominance_bp"),
        F.sum("c").alias("n_tokens"),
    )
    ev = (
        base.filter(EVAL_PRED)
        .select(F.explode_outer("sh").alias("g"))
        .filter(F.col("g").isNotNull())  # empty-doc guard, see q84
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    contam = (
        base.filter(f"NOT ({EVAL_PRED})")
        .select("doc_id", F.explode_outer("sh").alias("g"))
        .filter(F.col("g").isNotNull())  # empty-doc guard, see q84
        .join(ev, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.expr("(count(__hit) * 10000) div count(*)").alias(
                "contamination_bp"
            )
        )
    )
    return (
        base.join(canon, "doc_id")
        .join(dom, "doc_id")
        .join(contam, "doc_id")
        .filter(
            F.col("is_canonical")
            & (F.col("dominance_bp") <= DOMINANCE_MAX_BP)
            & (F.col("contamination_bp") < CONTAMINATION_MAX_BP)
        )
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
    )


def _boilerplate_oracle() -> str:
    sh = dedup.duck_shingles_sql(DTOK, 2)
    return f"""
    WITH d AS (SELECT doc_id, {sh} AS sh FROM documents),
    ex AS (SELECT doc_id, unnest(sh) AS g FROM d)
    SELECT g AS gram, COUNT(*) AS doc_freq
    FROM ex GROUP BY g
    ORDER BY doc_freq DESC, gram DESC
    LIMIT 100
    """


@query("q86_boilerplate_ngrams", oracle=_boilerplate_oracle())
def q86_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate detection: the 100 word bigrams that
    appear in the most documents (shingles are distinct per doc, so
    ``COUNT(*)`` after the explode IS document frequency). The output
    feeds a C4-style boilerplate-line / headers-footers removal pass.
    Deterministic top-k: ties on doc_freq break on the gram itself.

    Scale: explode → map-side-combined count per gram → global top-k
    via TakeOrdered (no full sort); the gram key is near-uniform, so
    no skew. The at-scale sibling swaps exact counts for a
    count-min/TopK sketch if the gram cardinality outgrows the agg.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return (
        docs.select("doc_id", text.tokens("text").alias("__toks"))
        .select(  # staged tokens: see q84 CSE note
            "doc_id", F.expr(dedup.shingles_expr("__toks", 2)).alias("sh")
        )
        .repartition(n_part, "doc_id")  # see q84 parallelism note
        .select(F.explode_outer("sh").alias("gram"))
        .filter(F.col("gram").isNotNull())  # empty-doc guard, see q84
        .groupBy("gram")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.desc("gram"))
        .limit(100)
    )


#: temperature-mixture target corpus size (docs) — small enough that
#: tiny SFs still leave every source undersampled
_TEMP_TARGET = 1000


@query(
    "q110_temperature_mixture",
    oracle=f"""
    WITH s AS (SELECT source, COUNT(*) AS n_docs FROM documents
               GROUP BY source),
    w AS (SELECT source, n_docs,
                 CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)
                   AS weight
          FROM s),
    t AS (SELECT SUM(weight) AS sum_w FROM w),
    tgt AS (SELECT source, n_docs, weight,
                   CAST(({_TEMP_TARGET} * weight) // sum_w AS BIGINT)
                     AS target_docs
            FROM w, t),
    sel AS (SELECT d.source, d.doc_id
            FROM documents d JOIN tgt USING (source)
            WHERE ({duck_hash_bucket_sql('doc_id')}) * n_docs
                  < target_docs * {HASH_MOD})
    SELECT g.source, g.n_docs, g.weight, g.target_docs,
           COALESCE(c.n_selected, 0) AS n_selected,
           COALESCE(c.ck, 0) AS sel_checksum
    FROM tgt g LEFT JOIN
      (SELECT source, COUNT(*) AS n_selected,
              CAST(SUM(doc_id) AS BIGINT) AS ck
       FROM sel GROUP BY source) c USING (source)
    """,
)
def q110_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source mixture (alpha = 0.5): per-source
    sampling targets proportional to ``n_docs^0.5`` — the standard
    up-weighting of small/low-resource sources (multilingual and
    domain-mixture training recipes) that q88's FIXED per-source rates
    cannot express. Selection reuses the q78/q88 md5-bucket idiom so
    the sampled member set is deterministic and auditable; the
    checksum sums the selected doc ids.

    Exactness: the only float op is ``floor(sqrt(n))`` — IEEE sqrt is
    correctly rounded on both engines, so the floor is identical;
    everything after is integer arithmetic.

    Scale: two tiny aggregates over source cardinality, then one
    narrow filtered scan. The planner broadcasts the (doc_id, source)
    projection while it is under the bar (one exchange fewer than
    broadcasting the stats); below a 64 KiB bar at sf0.1 it
    shuffle-joins it on source instead. The selection predicate is a
    pure function of (doc_id, source stats), so re-runs on a grown
    corpus re-derive a consistent sample without any stored state.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    stats = (
        docs.groupBy("source")
        .agg(F.count("*").alias("n_docs"))
        .withColumn(
            "weight",
            F.expr("cast(floor(sqrt(cast(n_docs as double))) as bigint)"),
        )
    )
    tot = stats.agg(F.sum("weight").alias("sum_w"))
    tgt = stats.crossJoin(tot).withColumn(
        "target_docs",
        F.expr(f"({_TEMP_TARGET} * weight) div sum_w"),
    )
    sel = docs.join(tgt, "source").filter(
        hash_bucket("doc_id") * F.col("n_docs")
        < F.col("target_docs") * HASH_MOD
    )
    picked = sel.groupBy("source").agg(
        F.count("*").alias("n_selected"),
        F.sum("doc_id").cast("bigint").alias("ck"),
    )
    return (
        tgt.join(picked, "source", "left")
        .select(
            "source",
            "n_docs",
            "weight",
            "target_docs",
            F.coalesce("n_selected", F.lit(0)).alias("n_selected"),
            F.coalesce("ck", F.lit(0)).alias("sel_checksum"),
        )
    )


@contextmanager
def bucketed_orders_customer(spark: SparkSession, sf_dir: str, prefix: str):
    """Write orders+customer as external bucketed tables on the join
    key (hash(custkey) mod 8) with broadcast joins disabled, yield the
    two catalog frames, then restore the conf and drop tables+files.

    Shared by q111 (result correctness vs the plain-parquet oracle)
    and ``tests/test_plan_shapes.py::TestBucketedJoinShape`` (the
    zero-exchange plan assertion) so the two checks can never drift
    onto different bucketing setups.
    """
    import os
    import shutil
    import tempfile

    from ..operators.scale import write_bucketed

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    base = tempfile.mkdtemp(prefix=f"{prefix}_bucketed_")
    prev_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    t_orders, t_customer = f"{prefix}_orders_b", f"{prefix}_customer_b"
    try:
        write_bucketed(
            orders,
            t_orders,
            ["o_custkey"],
            num_buckets=8,
            path=os.path.join(base, "orders_b"),
        )
        write_bucketed(
            customer,
            t_customer,
            ["c_custkey"],
            num_buckets=8,
            path=os.path.join(base, "customer_b"),
        )
        # disable broadcast so the join must rely on the bucket
        # layout — an accidental broadcast would hide a bucketing bug
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        yield spark.table(t_orders), spark.table(t_customer)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bcast)
        spark.sql(f"DROP TABLE IF EXISTS {t_orders}")
        spark.sql(f"DROP TABLE IF EXISTS {t_customer}")
        shutil.rmtree(base, ignore_errors=True)


@query(
    "q111_bucketed_join",
    oracle=f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           {dec_sum_sql("o_totalprice")} AS sum_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q111_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join, driver-verified end-to-end: orders
    and customer are written as bucketed tables on the join key
    (``operators/scale.write_bucketed`` — hash(custkey) mod 8, the
    one-time shuffle), read back, and joined WITHOUT any exchange:
    with broadcast disabled, the only shuffle in the whole job is the
    tiny final aggregate's. The oracle joins the original parquet, so
    the hash match proves the bucketed layout loses no rows and
    co-locates correctly.

    This is THE 100 TB lever for repeated fact-dim joins: pay the
    bucketing shuffle once at ingest, and every subsequent join/agg
    on the key is exchange-free (plan-asserted on the SAME
    ``bucketed_orders_customer`` setup in
    tests/test_plan_shapes.py::TestBucketedJoinShape).

    Tables are external (explicit ``path`` into a temp dir) so the
    query works under any warehouse configuration; the catalog
    entries and files are dropped after materialization.
    """
    from ..functions.scalar import dec_sum

    with bucketed_orders_customer(spark, sf_dir, "q111") as (ob, cb):
        return (
            ob.join(cb, ob.o_custkey == cb.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n_orders"),
                dec_sum("o_totalprice").alias("sum_price"),
            )
            .localCheckpoint(eager=True)  # materialize before cleanup
        )


#: epoch-shuffle geometry: seed makes each epoch's permutation
#: different but fully reproducible; 8 shards ≈ one per data-loader
_SHUF_SEED = "epoch1"
_N_SHARDS = 8


@query(
    "q114_shuffle_shard",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, n_chars,
             row_number() OVER (
               ORDER BY md5('{_SHUF_SEED}' || CAST(doc_id AS VARCHAR)),
                        doc_id) AS rn
      FROM documents
    )
    SELECT CAST((rn - 1) % {_N_SHARDS} AS BIGINT) AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
           MIN(rn) AS first_rank, MAX(rn) AS last_rank
    FROM ranked GROUP BY 1
    """,
)
def q114_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle + round-robin sharding — the step
    that turns a curated corpus into training-loader inputs: every
    document gets a seed-keyed pseudo-random position (md5 of
    seed+id — reshuffling an epoch is just a new seed, no RNG state
    to persist), a GLOBAL rank over that order, and a shard
    assignment ``(rank-1) mod N``. Round-robin over the shuffled
    order gives every shard an i.i.d.-like slice of equal size ±1 —
    what per-worker data loaders need. The per-shard id checksum
    pins the exact membership.

    Scale: the global rank is ``operators/scale.global_row_index``
    (range partition + in-plan offsets — NO single-partition window;
    the q22 machinery), so the shuffle-shard step inherits its
    100 TB path: one range exchange, never a serialized sort.
    """
    from ..operators.scale import global_row_index

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.md5(
            F.concat(F.lit(_SHUF_SEED), F.col("doc_id").cast("string"))
        ).alias("__key"),
    )
    ranked = global_row_index(docs, ["__key", "doc_id"], "rn")
    return (
        ranked.groupBy(
            F.expr(f"(rn - 1) % {_N_SHARDS}").cast("bigint").alias("shard")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
            F.min("rn").alias("first_rank"),
            F.max("rn").alias("last_rank"),
        )
    )


#: q127: per-class cap for balanced downsampling
BALANCE_CAP = 50


@query(
    "q127_balanced_sample",
    oracle=f"""
    SELECT lang, rn, doc_id FROM (
      SELECT lang, doc_id,
             CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS BIGINT) AS rn
      FROM documents
    ) WHERE rn <= {BALANCE_CAP}
    """,
)
def q127_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: keep at most {BALANCE_CAP}
    documents per language, selected by md5(doc_id) order — the
    deterministic per-class cap that flattens a skewed language (or
    source/domain) distribution before training, complementing the
    proportional re-weighting of q88/q110: those change sampling
    WEIGHTS, this caps class CARDINALITY. md5 order is the q78
    hash-sampling idiom — reproducible across runs/engines with no
    stored sample table, and a fresh resample is just a seed suffix
    in the hash input.

    Scale: one window partitioned by class — hash-parallel across
    classes; a pathologically hot class is capped by rank, and the
    md5 sort key spreads its rows uniformly, so per-partition sort
    cost is bounded by the largest class, the same bound every
    per-class operator carries (q83's note applies: shard the class
    key when one class exceeds a task).
    """
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select(
            "lang",
            "doc_id",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= BALANCE_CAP)
        .select("lang", "rn", "doc_id")
    )


# ---------------------------------------------------------------------------
# Length-bucketed batch packing — q134
# ---------------------------------------------------------------------------

#: token-length bucket width and sequences per training batch
LEN_BUCKET = 16
LEN_BATCH = 8


def _q134_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT doc_id, CAST(len({DTOK}) AS BIGINT) AS n_toks FROM documents
    ),
    b AS (
      SELECT doc_id, n_toks,
             n_toks // {LEN_BUCKET} AS bucket,
             {duck_hash_bucket_sql('doc_id')} AS pk
      FROM t
    ),
    idx AS (
      SELECT *, row_number() OVER (ORDER BY bucket, pk, doc_id) AS gidx
      FROM b
    ),
    offs AS (SELECT bucket, MIN(gidx) AS off FROM idx GROUP BY bucket)
    SELECT bucket,
           CAST((gidx - off) // {LEN_BATCH} AS BIGINT) AS batch_id,
           CAST(COUNT(*) AS BIGINT) AS n_seqs,
           CAST(MAX(n_toks) AS BIGINT) AS max_len,
           CAST(SUM(n_toks) AS BIGINT) AS sum_len,
           CAST(MAX(n_toks) * COUNT(*) - SUM(n_toks) AS BIGINT)
             AS pad_tokens,
           CAST((MAX(n_toks) * COUNT(*) - SUM(n_toks)) * 1000
                // greatest(MAX(n_toks) * COUNT(*), 1) AS BIGINT)
             AS waste_permille
    FROM idx JOIN offs USING (bucket)
    GROUP BY bucket, batch_id
    """


@query("q134_length_bucketed_batches", oracle=_q134_oracle())
def q134_length_bucketed_batches(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Length-bucketed training-batch assignment with padding-waste
    accounting: documents are bucketed by token length
    (width {LEN_BUCKET}), deterministically permuted WITHIN each
    bucket (md5 key — replayable, q114's convention), and cut into
    batches of {LEN_BATCH}; each batch reports its padded size,
    content size, and integer-permille padding waste. The
    complementary strategy to q83's greedy packing: packing
    concatenates documents into fixed windows, bucketing batches
    similar lengths together so per-batch padding ≈ 0 — this query
    emits the report that quantifies exactly how much compute
    padding would burn (waste_permille by construction bounded by
    bucket width / min bucket length).

    Scale: the only global structure is the in-bucket row index,
    computed by ``scale.global_row_index`` over
    ``(bucket, permute_key, doc_id)`` — range-partitioned rank, NO
    single-partition window and NO per-bucket window (a hot bucket —
    most corpora pile up at the truncation length — would serialize
    through one task in the partitionBy form; in the range-partition
    form it spreads across range splits). Per-bucket start offsets
    are a bucket-count-sized aggregate broadcast back; batch ids are
    then pure arithmetic, and the final (bucket, batch) aggregate is
    hash-partitioned and map-side combined.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = (
        scale.spread_scan(docs, cols=["doc_id", "text"], by=["doc_id"])
        .select(
            "doc_id",
            F.expr(f"size({TOK})").cast("long").alias("n_toks"),
        )
        .select(
            "doc_id",
            "n_toks",
            F.expr(f"n_toks div {LEN_BUCKET}").alias("bucket"),
            hash_bucket("doc_id").alias("pk"),
        )
    )
    idx = scale.global_row_index(
        t, [F.asc("bucket"), F.asc("pk"), F.asc("doc_id")], "gidx"
    )
    offs = idx.groupBy("bucket").agg(F.min("gidx").alias("off"))
    pad = F.max("n_toks") * F.count("*") - F.sum("n_toks")
    return (
        idx.join(F.broadcast(offs), "bucket")  # kept: q134 sort-merges (1 MiB)
        .withColumn(
            "batch_id", F.expr(f"(gidx - off) div {LEN_BATCH}").cast("long")
        )
        .groupBy("bucket", "batch_id")
        .agg(
            F.count("*").alias("n_seqs"),
            F.max("n_toks").alias("max_len"),
            F.sum("n_toks").alias("sum_len"),
            pad.cast("long").alias("pad_tokens"),
            (
                pad * 1000
                / F.greatest(F.max("n_toks") * F.count("*"), F.lit(1))
            )
            .cast("long")
            .alias("waste_permille"),
        )
    )


# ---------------------------------------------------------------------------
# Token-budget waterfill allocation — q140
# ---------------------------------------------------------------------------

#: fraction of the corpus token total to allocate, in basis points
#: (9500 puts the water level INSIDE the source-size distribution at
#: every test SF — both regimes, capped and taken-whole, get oracle
#: coverage; a lower budget than min share degenerates to all-capped)
WATERFILL_BP = 9500


def _q140_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT source, CAST(SUM(len({DTOK})) AS BIGINT) AS avail
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(avail) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS s,
             CAST(MAX(avail) AS BIGINT) AS mx
      FROM t
    ),
    b AS (SELECT (total * {WATERFILL_BP}) // 10000 AS budget, s, mx
          FROM tot),
    r AS (
      SELECT source, avail,
             CAST(row_number() OVER (ORDER BY avail, source) AS BIGINT)
               AS k,
             CAST(SUM(avail) OVER (ORDER BY avail, source
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS pref
      FROM t
    ),
    feas AS (
      SELECT k, pref FROM r, b WHERE pref + (b.s - k) * avail <= budget
      UNION ALL SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
    ),
    ks AS (SELECT k AS kstar, pref AS prefstar FROM feas
           ORDER BY k DESC LIMIT 1),
    lvl AS (
      SELECT CASE WHEN kstar = s THEN mx
                  ELSE (budget - prefstar) // (s - kstar) END AS level,
             budget
      FROM ks, b
    )
    SELECT source,
           avail AS avail_tokens,
           CAST(least(avail, level) AS BIGINT) AS alloc_tokens,
           CAST(CASE WHEN avail > level THEN 1 ELSE 0 END AS BIGINT)
             AS capped,
           CAST(level AS BIGINT) AS level,
           CAST(budget AS BIGINT) AS budget
    FROM t, lvl
    """


@query("q140_budget_waterfill", oracle=_q140_oracle())
def q140_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture construction under a hard token budget: allocate
    {WATERFILL_BP} bp of the corpus's total tokens across sources by
    WATERFILLING — every source gets ``min(avail_i, L)`` where the
    water level L is the largest integer with
    ``Σ min(avail_i, L) ≤ budget``. Small sources are taken whole,
    large sources are capped at a common level — the max-min-fair
    allocation mixture designers reach for when q88/q110's
    proportional weights would let one giant source eat the budget.
    All integer arithmetic (level floor; the ≤ S-token remainder
    stays unallocated), so the allocation replays bit-identically.

    Scale: the corpus is touched ONCE by a map-side-combined
    per-source token count; everything after runs on the S-row
    source catalog. The sorted-prefix structure (rank k and inclusive
    prefix sum) comes from a BROADCAST triangular self-join on that
    catalog (S² pairs of catalog-sized rows — no single-partition
    window, the engine-wide rule), the feasibility frontier
    ``pref + (S-k)·avail ≤ B`` is a filter + TakeOrdered(1), and the
    level broadcasts back onto the catalog. ``(S-k)·avail`` needs
    DECIMAL widening only past ~10⁴ sources × 10¹⁴ tokens
    (functions/scalar.py convention).
    """
    docs = load_table(spark, sf_dir, "documents")
    sizes = (
        scale.spread_scan(docs, cols=["doc_id", "source", "text"],
                          by=["doc_id"])
        .select("source", F.expr(f"size({TOK})").cast("long").alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").alias("avail"))
    )
    tot = sizes.agg(
        F.sum("avail").alias("total"),
        F.count("*").alias("s"),
        F.max("avail").alias("mx"),
    ).select(
        F.expr(f"(total * {WATERFILL_BP}) div 10000").alias("budget"),
        "s",
        "mx",
    )
    lo = sizes.select(
        F.col("source").alias("src2"), F.col("avail").alias("avail2")
    )
    ranked = (
        sizes.join(
            lo,
            (F.col("avail2") < F.col("avail"))
            | (
                (F.col("avail2") == F.col("avail"))
                & (F.col("src2") <= F.col("source"))
            ),
        )
        .groupBy("source", "avail")
        .agg(
            F.count("*").alias("k"),
            F.sum("avail2").alias("pref"),
        )
    )
    feas = (
        ranked.crossJoin(tot)
        .filter(F.expr("pref + (s - k) * avail <= budget"))
        .select("k", "pref")
        .union(
            tot.select(
                F.lit(0).cast("long").alias("k"),
                F.lit(0).cast("long").alias("pref"),
            )
        )
    )
    ks = feas.orderBy(F.desc("k")).limit(1).select(
        F.col("k").alias("kstar"), F.col("pref").alias("prefstar")
    )
    lvl = ks.crossJoin(F.broadcast(tot)).select(  # kept: q140 flips build side (sf0.1)
        F.expr(
            "CASE WHEN kstar = s THEN mx"
            " ELSE (budget - prefstar) div (s - kstar) END"
        ).alias("level"),
        "budget",
    )
    return sizes.crossJoin(lvl).select(
        "source",
        F.col("avail").alias("avail_tokens"),
        F.expr("least(avail, level)").alias("alloc_tokens"),
        F.expr("CASE WHEN avail > level THEN 1 ELSE 0 END")
        .cast("long")
        .alias("capped"),
        "level",
        "budget",
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weighting — q144
# ---------------------------------------------------------------------------

#: target-domain predicate (q88's stable source-family trick) and
#: result size for the selected subset
DSIR_TARGET_SQL = "(CAST(substr(source, 4) AS INT) % 3) = 0"
DSIR_TOP = 50


def _q144_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT doc_id, source, {DSIR_TARGET_SQL} AS is_target,
             {DTOK} AS toks
      FROM documents
    ),
    tok AS (SELECT doc_id, source, is_target, unnest(toks) AS tok FROM t),
    cnt AS (
      SELECT tok,
             CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT)
               AS c_t,
             CAST(SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS BIGINT)
               AS c_r
      FROM tok GROUP BY tok
    ),
    tot AS (
      SELECT CAST(SUM(c_t) AS BIGINT) AS n_t,
             CAST(SUM(c_r) AS BIGINT) AS n_r,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM cnt
    ),
    w AS (
      SELECT tok,
             (c_t + 1) * (n_r + v) * 1000 // ((c_r + 1) * (n_t + v))
               AS w_permille
      FROM cnt, tot
    )
    SELECT doc_id, source, n_toks, score_permille FROM (
      SELECT tok.doc_id,
             MAX(tok.source) AS source,
             CAST(COUNT(*) AS BIGINT) AS n_toks,
             CAST(SUM(w.w_permille) // COUNT(*) AS BIGINT)
               AS score_permille
      FROM tok JOIN w USING (tok)
      WHERE NOT tok.is_target
      GROUP BY tok.doc_id
    ) ORDER BY score_permille DESC, doc_id LIMIT {DSIR_TOP}
    """


@query("q144_dsir_proxy", headline=True, oracle=_q144_oracle())
def q144_dsir_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling, integer-exact proxy:
    score every RAW-pool document by how target-like its unigrams
    are, and keep the top {DSIR_TOP} — the DSIR recipe (hashed-ngram
    importance weights; Xie et al.) with one honest change: the
    per-token weight is the Laplace-smoothed frequency RATIO in
    integer permille, ``(c_t+1)(N_r+V)·1000 div (c_r+1)(N_t+V)``,
    and a document scores the MEAN ratio over its tokens — DSIR sums
    log-ratios, this sums ratios, same preference direction, zero
    transcendental functions so the selected set replays
    bit-identically across engines (q137's exp-PMI argument).
    Target pool = the stable source-family predicate (q88).

    Scale: the token stream is staged once through a persist slot
    and feeds both the weight build and the scoring pass; the weight
    table is VOCAB-sized and broadcasts into the scoring join (the
    corpus-sized token stream never shuffles on token keys); per-doc
    scores partial-aggregate map-side to one row per doc; the final
    cut is a TakeOrdered. The integer products need DECIMAL(38,0)
    widening past ~10¹² corpus tokens — q137's convention.
    """
    from ..caching import slot_persist

    docs = load_table(spark, sf_dir, "documents")
    target = F.expr("(cast(substr(source, 4) as int) % 3) = 0")
    tok = slot_persist(
        "llm.dsir_tokens",
        scale.spread_scan(
            docs, cols=["doc_id", "source", "text"], by=["doc_id"]
        )
        .select(
            "doc_id",
            "source",
            target.alias("is_target"),
            F.explode(F.expr(TOK)).alias("tok"),
        ),
    )
    cnt = tok.groupBy("tok").agg(
        F.sum(F.expr("CASE WHEN is_target THEN 1 ELSE 0 END")).alias("c_t"),
        F.sum(F.expr("CASE WHEN is_target THEN 0 ELSE 1 END")).alias("c_r"),
    )
    tot = cnt.agg(
        F.sum("c_t").alias("n_t"),
        F.sum("c_r").alias("n_r"),
        F.count("*").alias("v"),
    )
    w = cnt.crossJoin(tot).select(
        "tok",
        F.expr(
            "(c_t + 1) * (n_r + v) * 1000 div ((c_r + 1) * (n_t + v))"
        ).alias("w_permille"),
    )
    return (
        tok.filter(~F.col("is_target"))
        .join(F.broadcast(w), "tok")  # kept: q144 flips build side (sf0.1)
        .groupBy("doc_id")
        .agg(
            F.max("source").alias("source"),
            F.count("*").alias("n_toks"),
            F.expr("sum(w_permille) div count(*)").alias("score_permille"),
        )
        .select("doc_id", "source", "n_toks", "score_permille")
        .orderBy(F.desc("score_permille"), "doc_id")
        .limit(DSIR_TOP)
    )
