"""Text-analysis operators for training-data pipelines.

Language-ID (stopword heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and document fingerprinting over a
``documents(doc_id, text, ...)`` table.

Everything is built from ``pyspark.sql.functions`` expressions —
JVM-side, codegen-friendly, no Python UDFs — so the per-document cost
is a single narrow map over the scan: no shuffle, scales linearly to
100 TB. Each Spark expression has a DuckDB SQL twin (same formula)
used by the oracle queries in ``plans/training_queries.py``.

The reference repo has no text subsystem (its `src/analytics/` is an
empty stub); these are the BASELINE.md north-star extensions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import duck_u32, spark_u32

# ---------------------------------------------------------------------------
# Tokenization (shared substrate)
# ---------------------------------------------------------------------------

#: Spark SQL / DuckDB twin expressions: lowercase whitespace tokens,
#: empties dropped (leading/trailing whitespace produces '' entries).
#: NULL text coalesces to '' so a NULL doc tokenizes to an EMPTY array
#: (not a NULL array) identically on both engines — downstream array
#: lambdas over NULL diverge between Spark and DuckDB otherwise.
#:
#: Exactness domain (property-tested, tests/test_properties.py
#: TestTokenTwinProperty): the twins agree on all printable ASCII and
#: common Latin text; both engines treat ``\s`` as ASCII whitespace
#: (NBSP / thin / ideographic spaces do NOT split on either). Known
#: divergence: locale-special case mappings — Java lowercases ``İ``
#: to ``i`` + combining dot (2 codepoints), DuckDB to ``ii`` — so
#: corpora with Turkish/Azeri dotted capitals need an upstream
#: normalization pass (NFKC + casefold in a mapInPandas stage) before
#: oracle-exact comparison is meaningful.
SPARK_TOKENS = r"filter(split(lower(coalesce({col}, '')), '\\s+'), t -> t != '')"
DUCK_TOKENS = (
    r"list_filter(regexp_split_to_array(lower(coalesce({col}, '')), '\s+'),"
    r" t -> t != '')"
)

#: BPE-ish sub-token regex: letter runs, digit runs, single other chars.
_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9\\\\s]"
_BPE_RE_DUCK = "[a-z]+|[0-9]+|[^a-z0-9\\s]"


def tokens(col: str = "text") -> Column:
    """Lowercased whitespace tokens as ``array<string>``."""
    return F.expr(SPARK_TOKENS.format(col=col))


def duck_tokens_sql(col: str = "text") -> str:
    return DUCK_TOKENS.format(col=col)


def normalize_text(
    df: DataFrame, col: str = "text", out_col: str | None = None
) -> DataFrame:
    """Unicode-normalize a text column: NFKC + ``str.casefold`` via
    ``mapInPandas`` (Arrow-batched; there is no NFKC/casefold Spark
    builtin). This is the upstream pass the tokenizer-twin contract
    asks for on corpora with locale-special case mappings (``İ``,
    ligatures, full-width forms — see the module docstring): after
    it, both engines see identical already-folded codepoints and the
    ASCII-exact twins are sufficient.

    Scale: a map-only stage, no shuffle; normalization cost is linear
    in text bytes and rides the scan partitioning.
    """
    target = out_col or col
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    # appending the target only when it isn't already a column keeps
    # the declared schema aligned with the frame the UDF yields (an
    # existing target is overwritten in place, not duplicated)
    if target in df.columns:
        if df.schema[target].dataType.simpleString() != "string":
            raise ValueError(
                f"normalize_text target column {target!r} exists with "
                f"non-string type {df.schema[target].dataType.simpleString()}"
            )
        schema = fields
    else:
        schema = f"{fields}, {target} string"

    def run(batches):
        import unicodedata

        for pdf in batches:
            pdf = pdf.copy()
            pdf[target] = [
                unicodedata.normalize("NFKC", t).casefold()
                if t is not None
                else None
                for t in pdf[col]
            ]
            yield pdf

    return df.mapInPandas(run, schema)


# ---------------------------------------------------------------------------
# Token counting (whitespace + BPE-ish)
# ---------------------------------------------------------------------------


def token_counts(df: DataFrame, col: str = "text") -> DataFrame:
    """Append ``n_ws_tokens`` (whitespace) and ``n_bpe_tokens``
    (letter-run / digit-run / punct regex) counts."""
    return df.withColumns(
        {
            "n_ws_tokens": F.size(tokens(col)),
            "n_bpe_tokens": F.size(
                F.expr(f"regexp_extract_all(lower({col}), '{_BPE_RE}', 0)")
            ),
        }
    )


def token_counts_sql(col: str = "text") -> dict[str, str]:
    """DuckDB twins keyed by output column name."""
    return {
        "n_ws_tokens": f"len({duck_tokens_sql(col)})",
        "n_bpe_tokens": f"len(regexp_extract_all(lower({col}), '{_BPE_RE_DUCK}'))",
    }


# ---------------------------------------------------------------------------
# Language ID (stopword-hit heuristic)
# ---------------------------------------------------------------------------

#: tiny built-in stopword lists; a real deployment swaps in fastText —
#: the *plumbing* (broadcast list, argmax over per-language hit counts)
#: is the part that matters at scale.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"),
    "fr": ("le", "la", "les", "et", "est", "pas", "un", "une", "pour", "dans"),
    "es": ("el", "la", "los", "las", "es", "no", "un", "una", "por", "para"),
}

#: minimum fraction of tokens that must be stopword hits to claim a
#: language, expressed as the exact rational 1/LANG_RATIO_DEN so the
#: threshold compare stays in integers (a float multiply here would
#: put Spark-double vs DuckDB-decimal semantics on the boundary).
LANG_RATIO_DEN = 20


def _hits(tok: str, lang: str) -> str:
    inlist = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"size(filter({tok}, t -> t in ({inlist})))"


def _hits_duck(tok: str, lang: str) -> str:
    inlist = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter({tok}, t -> t in ({inlist})))"


def lang_id(df: DataFrame, col: str = "text") -> DataFrame:
    """Append ``lang_pred``: argmax over per-language stopword hit
    counts (ties broken by language-code order), ``'und'`` when the
    best ratio is below :data:`LANG_MIN_RATIO`.

    One narrow projection — the stopword lists are expression
    literals, i.e. broadcast inside the plan for free. The token
    array is staged as its own projection so the 4 per-language hit
    expressions don't each re-tokenize (interpreted higher-order
    functions get no CSE).
    """
    langs = sorted(STOPWORDS)
    hit_cols = {f"hits_{lg}": F.expr(_hits("__toks", lg)) for lg in langs}
    best = F.greatest(*[F.col(f"hits_{lg}") for lg in langs])
    pred = F.when(
        best * F.lit(LANG_RATIO_DEN) < F.expr("size(__toks)"), F.lit("und")
    )
    for lg in langs:
        pred = pred.when(F.col(f"hits_{lg}") == best, F.lit(lg))
    return (
        df.withColumn("__toks", tokens(col))
        .withColumns(hit_cols)
        .withColumn("lang_pred", pred)
        .drop("__toks", *hit_cols.keys())
    )


def lang_id_sql(col: str = "text") -> str:
    """DuckDB twin of :func:`lang_id` → a ``lang_pred`` expression."""
    tok = duck_tokens_sql(col)
    langs = sorted(STOPWORDS)
    hits = {lg: _hits_duck(tok, lg) for lg in langs}
    best = f"greatest({', '.join(hits.values())})"
    whens = "\n         ".join(
        f"WHEN {hits[lg]} = {best} THEN '{lg}'" for lg in langs
    )
    return (
        f"CASE WHEN {best} * {LANG_RATIO_DEN} < len({tok}) THEN 'und'\n"
        f"         {whens} END"
    )


# ---------------------------------------------------------------------------
# Quality scoring
# ---------------------------------------------------------------------------


def quality_features(df: DataFrame, col: str = "text") -> DataFrame:
    """Append per-document quality features + a composite score:

    - ``n_chars_q`` / ``n_tokens`` / ``distinct_ratio`` (vocab richness)
    - ``avg_token_len``
    - ``alpha_ratio`` — share of [a-z ] chars (garbage detector)
    - ``stop_ratio`` — English stopword share (fluency proxy)
    - ``quality_score`` ∈ [0,1]: mean of three clamped signals.

    Tokens are staged once per row (see :func:`lang_id`).
    """
    tok = "__toks"
    n_tok = f"size({tok})"
    exprs = {
        "n_chars_q": F.expr(f"length({col})"),
        "n_tokens": F.expr(n_tok),
        "distinct_ratio": F.expr(
            f"round(size(array_distinct({tok})) / greatest({n_tok}, 1), 4)"
        ),
        "avg_token_len": F.expr(
            f"round(aggregate({tok}, 0L, (a, t) -> a + length(t))"
            f" / cast(greatest({n_tok}, 1) as double), 4)"
        ),
        "alpha_ratio": F.expr(
            f"round(length(regexp_replace(lower({col}), '[^a-z ]', ''))"
            f" / cast(greatest(length({col}), 1) as double), 4)"
        ),
        "stop_ratio": F.expr(
            f"round({_hits(tok, 'en')} / cast(greatest({n_tok}, 1) as double), 4)"
        ),
    }
    score = F.expr(
        "round((least(n_tokens / 50.0, 1.0) + alpha_ratio"
        " + least(stop_ratio * 10.0, 1.0)) / 3.0, 4)"
    )
    return (
        df.withColumn("__toks", tokens(col))
        .withColumns(exprs)
        .withColumn("quality_score", score)
        .drop("__toks")
    )


def quality_features_sql(col: str = "text") -> dict[str, str]:
    """DuckDB twins keyed by output column (compose in a wrapping
    SELECT for the score, which references the feature aliases)."""
    tok = duck_tokens_sql(col)
    n_tok = f"len({tok})"
    return {
        "n_chars_q": f"length({col})",
        "n_tokens": n_tok,
        "distinct_ratio": (
            f"round(CAST(len(list_distinct({tok})) AS DOUBLE)"
            f" / greatest({n_tok}, 1), 4)"
        ),
        "avg_token_len": (
            f"round(CAST(list_sum(list_transform({tok}, t -> length(t)))"
            f" AS DOUBLE) / greatest({n_tok}, 1), 4)"
        ),
        "alpha_ratio": (
            f"round(CAST(length(regexp_replace(lower({col}), '[^a-z ]', '', 'g'))"
            f" AS DOUBLE) / greatest(length({col}), 1), 4)"
        ),
        "stop_ratio": (
            f"round(CAST({_hits_duck(tok, 'en')} AS DOUBLE)"
            f" / greatest({n_tok}, 1), 4)"
        ),
        "quality_score": (
            "round((least(n_tokens / 50.0, 1.0) + alpha_ratio"
            " + least(stop_ratio * 10.0, 1.0)) / 3.0, 4)"
        ),
    }


# ---------------------------------------------------------------------------
# Bigrams (within-doc repetition, n-gram LM counts)
# ---------------------------------------------------------------------------


def bigrams_expr(tokens_expr: str) -> str:
    """``array<string>`` of space-joined adjacent token pairs.

    The <2-token guard is load-bearing: Spark's ``sequence(2, n)``
    generates a DESCENDING ``[2, 1]`` when ``n < 2`` (DuckDB's
    ``range`` is empty) — without the CASE a 1-token doc fabricates a
    phantom reversed bigram on one engine only.
    """
    t = tokens_expr
    return (
        f"CASE WHEN size({t}) < 2 THEN array()"
        f" ELSE transform(sequence(2, size({t})),"
        f" i -> concat(element_at({t}, i - 1), ' ', element_at({t}, i))) END"
    )


def duck_bigrams_sql(tokens_expr: str) -> str:
    """DuckDB twin of :func:`bigrams_expr` (``range(2, n+1)`` is
    already empty for n < 2; the guard lives Spark-side)."""
    t = tokens_expr
    return (
        f"list_transform(range(2, len({t}) + 1),"
        f" i -> concat({t}[i - 1], ' ', {t}[i]))"
    )


# ---------------------------------------------------------------------------
# Document fingerprinting
# ---------------------------------------------------------------------------


def fingerprint(df: DataFrame, col: str = "text") -> DataFrame:
    """Append ``fp``: md5 over the sorted distinct token set — an
    order/whitespace/case-insensitive content fingerprint (the
    canonical-form half of winnowing; the shingle half is
    ``dedup.minhash_signatures``)."""
    tok = SPARK_TOKENS.format(col=col)
    return df.withColumn(
        "fp", F.expr(f"md5(array_join(array_sort(array_distinct({tok})), ' '))")
    )


def fingerprint_sql(col: str = "text") -> str:
    tok = duck_tokens_sql(col)
    return f"md5(array_to_string(list_sort(list_distinct({tok})), ' '))"


# ---------------------------------------------------------------------------
# BPE merge (tokenizer training)
# ---------------------------------------------------------------------------


def bpe_merge_expr(toks: str, a: str, b: str) -> str:
    """Spark SQL: rewrite the ``{toks}`` symbol array with every
    left-to-right non-overlapping occurrence of the pair
    (``{a}``, ``{b}``) merged into one symbol ``a || ' ' || b`` —
    greedy BPE merge semantics (after a merge consumes position i+1,
    matching resumes at i+2; visible only when a = b).

    A single higher-order ``aggregate`` fold with a struct
    accumulator, evaluated inside the projection — map-only, no
    shuffle. The append is O(len²) per document; chunk multi-MB
    documents or swap to a Pandas UDF past that.
    """
    return f"""
    CASE WHEN size({toks}) = 0 THEN array()
    ELSE aggregate(
      sequence(0, size({toks}) - 1),
      named_struct('out', cast(array() as array<string>), 'skip', false),
      (acc, i) -> CASE
        WHEN acc.skip THEN named_struct('out', acc.out, 'skip', false)
        WHEN i < size({toks}) - 1
             AND element_at({toks}, i + 1) = {a}
             AND element_at({toks}, i + 2) = {b}
          THEN named_struct(
            'out', concat(acc.out, array(concat({a}, ' ', {b}))),
            'skip', true)
        ELSE named_struct(
          'out', concat(acc.out, array(element_at({toks}, i + 1))),
          'skip', false)
      END,
      acc -> acc.out) END
    """


def duck_bpe_round_sql(prev: str, r: int, count_where: str = "") -> str:
    """DuckDB twin of one BPE merge round over a position-exploded
    symbol stream CTE ``prev`` with columns ``(doc_id, i, tok)``.

    ``count_where`` (optional ``WHERE ...`` clause on ``doc_id``)
    restricts the PAIR-COUNT statistics to a document subset while
    the rewrite still applies to every document — the train/apply
    split of tokenizer TRANSFER (q139). Whole documents are filtered
    before the adjacency window, so within-doc pairs are unaffected.

    DuckDB's ``list_reduce`` cannot carry a struct accumulator, so the
    greedy left-to-right merge is replayed RELATIONALLY: position i
    merges iff it pair-matches and its offset within a maximal run of
    consecutive matches is even (run-parity ≡ the sequential scan —
    overlapping matches only arise when a = b). Emits CTEs
    ``pc{r}/top{r}/matched{r}/starts{r}/runs{r}/decided{r}/
    emitted{r}/stream{r}``; ``stream{r}`` is the renumbered merged
    stream feeding the next round. Ties in the pair argmax break by
    (count DESC, a, b) — same order as the Spark plan.
    """
    return f"""
    pc{r} AS (
      SELECT a, b, COUNT(*) AS c FROM (
        SELECT doc_id, tok AS a,
               lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS b
        FROM {prev} {count_where}
      ) WHERE b IS NOT NULL GROUP BY a, b
    ),
    top{r} AS (SELECT a, b FROM pc{r} ORDER BY c DESC, a, b LIMIT 1),
    matched{r} AS (
      -- LEFT JOIN ON true, not a cross join: an EMPTY top{r} (no
      -- adjacent pair anywhere, e.g. all-single-token docs) must
      -- pass the stream through unchanged (null pair -> m=false),
      -- not vanish it (ADVICE r5 #4)
      SELECT p.doc_id, p.i, p.tok, t.a, t.b,
             COALESCE(p.tok = t.a
                      AND lead(p.tok) OVER (PARTITION BY p.doc_id
                                            ORDER BY p.i) = t.b,
                      false) AS m
      FROM {prev} p LEFT JOIN top{r} t ON true
    ),
    starts{r} AS (
      SELECT *,
             CASE WHEN m AND NOT COALESCE(
                    lag(m) OVER (PARTITION BY doc_id ORDER BY i),
                    false) THEN 1 ELSE 0 END AS run_start
      FROM matched{r}
    ),
    runs{r} AS (
      SELECT *, SUM(run_start) OVER (PARTITION BY doc_id ORDER BY i)
               AS run_id
      FROM starts{r}
    ),
    decided{r} AS (
      SELECT *,
             m AND (row_number() OVER (PARTITION BY doc_id, run_id, m
                                       ORDER BY i) % 2 = 1) AS merged
      FROM runs{r}
    ),
    emitted{r} AS (
      SELECT *,
             COALESCE(lag(merged) OVER (PARTITION BY doc_id ORDER BY i),
                      false) AS consumed,
             CASE WHEN merged THEN a || ' ' || b ELSE tok END AS out_tok
      FROM decided{r}
    ),
    stream{r} AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY doc_id ORDER BY i) AS i,
             out_tok AS tok
      FROM emitted{r} WHERE NOT consumed
    )"""


# ---------------------------------------------------------------------------
# Content-defined chunking — hash-boundary document splitting
# ---------------------------------------------------------------------------

#: boundary-hash window (characters) and divisor: a boundary falls
#: after any k-char window whose hash ≡ 0 (mod divisor), giving
#: chunks of ~divisor chars on average
CDC_WINDOW = 8
CDC_DIVISOR = 64


def cdc_chunk_exprs(
    text_col: str = "text", k: int = CDC_WINDOW, d: int = CDC_DIVISOR
) -> str:
    """Spark SQL expression: sorted boundary-END positions for
    content-defined chunking of ``text_col`` (LBFS/rsync-style, but
    position-wise: the k-char window hash at each position is a pure
    function of (text, i), so every position tests independently —
    map-parallel, no sequential rolling state).

    A boundary ends at position i (k ≤ i ≤ n) when the md5 slice of
    ``substr(text, i-k+1, k)`` ≡ 0 (mod d); the document end is
    always a boundary. Unlike q98's fixed-stride chunks, these
    boundaries are content-anchored: inserting a line shifts only
    the chunk it lands in, so chunk hashes stay stable corpus-wide —
    the dedup-friendly chunking.

    Documents shorter than k yield one whole-document chunk; the
    ``n >= k`` guard matters because Spark's ``sequence(k, n)``
    generates DESCENDING when k > n rather than empty (same trap
    documented at q98).
    """
    n = f"length({text_col})"
    win = f"substring({text_col}, i - {k - 1}, {k})"
    h = spark_u32(win)
    hits = (
        f"case when {n} >= {k}"
        f" then filter(sequence({k}, {n}), i -> {h} % {d} = 0)"
        f" else array() end"
    )
    return f"array_sort(array_distinct(concat({hits}, array({n}))))"


def duck_cdc_chunks_sql(
    docs_sql: str,
    text_col: str = "text",
    k: int = CDC_WINDOW,
    d: int = CDC_DIVISOR,
) -> str:
    """DuckDB twin of :func:`cdc_chunk_exprs` + the explode: rows
    ``(doc_id, chunk_idx, chunk_start, chunk_len, chunk_hash)`` —
    identical md5 bytes, identical boundary set."""
    n = f"length({text_col})"
    win = f"{text_col}[i - {k - 1}:i]"
    h = duck_u32(win)
    return f"""
    WITH docs AS ({docs_sql}),
    bset AS (
      SELECT doc_id, {text_col},
             list_sort(list_distinct(list_append(
               CASE WHEN {n} >= {k}
                 THEN [i FOR i IN range({k}, {n} + 1) IF {h} % {d} = 0]
                 ELSE [] END, {n}))) AS ends
      FROM docs WHERE {n} > 0),
    chunks AS (
      SELECT doc_id, {text_col}, ends,
             CAST(u.ci AS BIGINT) AS ci
      FROM bset, unnest(range(1, len(ends) + 1)) u(ci))
    SELECT doc_id,
           ci - 1 AS chunk_idx,
           CAST(CASE WHEN ci = 1 THEN 0 ELSE ends[CAST(ci AS INT) - 1] END
                AS BIGINT) AS chunk_start,
           CAST(ends[CAST(ci AS INT)]
                - CASE WHEN ci = 1 THEN 0
                       ELSE ends[CAST(ci AS INT) - 1] END
                AS BIGINT) AS chunk_len,
           md5({text_col}[
                 CAST(CASE WHEN ci = 1 THEN 0
                      ELSE ends[CAST(ci AS INT) - 1] END AS INT) + 1
                 :CAST(ends[CAST(ci AS INT)] AS INT)]) AS chunk_hash
    FROM chunks
    """
