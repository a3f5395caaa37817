"""Graph fixpoints: connected components over near-duplicate pair
edges and weighted PageRank over an edge-count table.

**Connected components** turn pairwise dedup output (q28/q30/q37)
into disjoint duplicate CLUSTERS with one canonical survivor each, by
iterative min-label propagation. Every node starts labeled with its
own id; each round, a node adopts the minimum label in its
neighborhood; fixpoint after O(component diameter) rounds. Near-dup
graphs are unions of small dense cliques (diameter ≤ ~3), so
convergence is fast regardless of corpus size.

- each round is one join + one groupBy on the edge list — shuffle
  size O(|E|), never materializing components in driver memory
  (union-find would);
- ``localCheckpoint`` every round truncates the lineage so the plan
  doesn't grow exponentially across iterations (the classic
  iterative-Spark trap);
- ``max_iter`` bounds a pathological chain; the driver-side
  convergence check is one count per round on a frame that shrinks
  to zero.

**PageRank** has two paths with one result. Below the session's
broadcast bar (``scale.driver_rows``) the edge table is collected
once and the power iteration runs in Python on the driver — a
vocab-sized graph costs a fixed ~0.1 s per Spark job and nothing per
edge, so per-round jobs, not data, were the loop's whole cost (q118:
22 eager jobs for 931 edges). Above the bar the loop runs in Spark,
one join + one groupBy per round. The driver loop repeats the Spark
loop's arithmetic operation for operation, including the
double-to-decimal cast (:func:`dec18_units`), so both paths return
the same ranks.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import scale


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Output: ``node, component`` where ``component`` is the MIN node
    id reachable from ``node`` (undirected edges)."""
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(
            pairs.select(F.col(dst).alias("u"), F.col(src).alias("v"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(
                labels.withColumnRenamed("node", "v"), "v"
            )
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        updated = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    "component", F.coalesce("nbr_min", "component")
                ).alias("component"),
            )
            .localCheckpoint()
        )
        changed = (
            updated.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = updated
        if changed == 0:
            break
    return labels


def dec18_units(x: float) -> int:
    """``CAST(x AS DECIMAL(38,18))`` of a double, as an integer count
    of 1e-18: the double's shortest decimal string (``repr``) rounded
    HALF_UP (ties away from zero) to 18 places.

    Spark parses ``Double.toString(x)`` instead, which on JDK 17 is not
    always the shortest string (2**-24 prints as
    5.9604644775390625E-8, ``repr`` gives 5.960464477539063e-08). The
    two strings name the same double, so they round apart at 18 places
    only if a tie point falls between them — not seen on 12k sampled
    contributions (``tests/test_local_frames.py``) nor on 400k
    short-mantissa doubles. The DuckDB twin has no digit-string parity
    either: its cast is DuckDB's own, and q118 matches it because the
    ROUND(…, 12) after the sum absorbs 18th-place differences.

    Raises ``ValueError`` outside finite ``|x| < 2**53``, where Java
    prints large integers with rounded-off low digits.
    """
    if not (math.isfinite(x) and abs(x) < 2.0**53):
        raise ValueError(f"dec18_units models |x| < 2**53, got {x!r}")
    return int(Decimal(repr(x)).scaleb(18).to_integral_value(ROUND_HALF_UP))


def _ranks_on_driver(
    rows: list, damping: float, max_iter: int, tol: float
) -> list | None:
    """:func:`_ranks_in_spark` run in Python over the collected
    ``(u, v, w)`` edge rows, operation for operation: double
    ``w / out_w`` and ``rank * p``; each contribution cast to
    DECIMAL(38,18); an exact sum per node, ROUND(…, 12) HALF_UP, cast
    to double; ``base + d * inflow``. Null ids and weights drop out
    exactly where the Spark joins drop them.

    ``None`` when a weight falls outside the counting domain
    (negative, non-finite, or a source whose out-weight is 0) — there
    Spark's null/NaN division rules apply, so the Spark loop runs.
    """
    out_w: dict = {}
    for u, _, w in rows:
        if u is not None and w is not None:
            if not (0.0 <= w < math.inf):
                return None
            out_w[u] = out_w.get(u, 0.0) + w
    if not all(t > 0.0 for t in out_w.values()):
        return None
    edges = [
        (u, v, w / out_w[u])
        for u, v, w in rows
        if u is not None and v is not None and w is not None
    ]
    nodes = list(dict.fromkeys(x for u, v, _ in rows for x in (u, v)))
    if not nodes:
        return []
    n = len(nodes)
    base = (1.0 - damping) / n
    ranks = dict.fromkeys(nodes, 1.0 / n)
    for _ in range(max_iter):
        inflow: dict = {}
        for u, v, p in edges:
            inflow[v] = inflow.get(v, 0) + dec18_units(ranks[u] * p)
        new = {}
        for k in nodes:
            x = 0.0
            if k in inflow:  # ROUND(sum, 12) HALF_UP, then to double
                q, r = divmod(inflow[k], 10**6)
                x = (q + (2 * r >= 10**6)) / 10**12
            new[k] = base + damping * x
        # the Spark delta is an inner join on node: a null id drops out
        deltas = [abs(new[k] - ranks[k]) for k in nodes if k is not None]
        ranks = new
        if tol > 0 and deltas and max(deltas) < tol:
            break
    return list(ranks.items())


def _ranks_in_spark(
    e: DataFrame, damping: float, max_iter: int, tol: float
) -> DataFrame:
    """The distributed loop: one join + one groupBy per round over
    the compact edge table, ``localCheckpoint`` per round."""
    e = e.localCheckpoint()
    out_w = e.groupBy("u").agg(F.sum("w").alias("out_w"))
    # normalize ONCE before the loop: every iteration then costs one
    # join + one groupBy instead of re-deriving the out-degree
    # aggregate and its join each round
    e_norm = (
        e.join(out_w, "u")
        .select("u", "v", (F.col("w") / F.col("out_w")).alias("p"))
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:  # empty graph → empty ranks, like connected_components
        return nodes.withColumn("rank", F.lit(0.0))
    base = (1.0 - damping) / n
    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).localCheckpoint()
    for _ in range(max_iter):
        contrib = (
            e_norm.join(ranks.withColumnRenamed("node", "u"), "u")
            .select(
                F.col("v").alias("node"),
                (F.col("rank") * F.col("p")).alias("x"),
            )
        )
        inflow = contrib.groupBy("node").agg(
            F.round(F.sum(F.col("x").cast("decimal(38,18)")), 12)
            .cast("double")
            .alias("inflow")
        )
        new_ranks = (
            nodes.join(inflow, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
        if tol <= 0:  # fixed-budget mode: no convergence aggregate
            ranks = new_ranks
            continue
        delta = (
            new_ranks.withColumnRenamed("rank", "new_rank")
            .join(ranks, "node")
            .agg(F.max(F.abs(F.col("new_rank") - F.col("rank"))))
            .first()[0]
        )
        ranks = new_ranks
        if delta is not None and delta < tol:
            break
    return ranks


def pagerank(
    edges: DataFrame,
    src: str = "w1",
    dst: str = "w2",
    weight: str = "c",
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-6,
    slot: str | None = None,
) -> DataFrame:
    """Weighted PageRank to (near-)fixpoint over an edge-count table —
    the loop around the oracle-checked single step (q109,
    ``plans/llm_queries.py``). Dangling mass is discarded each round
    (documented q109 semantics, applied consistently).

    Output: ``node, rank`` for every node with ≥1 in-edge, plus the
    constant ``(1-d)/N`` rank for source-only nodes, so ranks cover
    the full node set.

    Cross-engine determinism (the q109 convention, carried through
    the loop): per-edge contributions are IEEE-exact chains on
    identical operands (edge weights are integer counts, so the
    out-weight double sum is exact), and each round's in-edge sum
    goes through DECIMAL(38,18) rounded to 12 decimals —
    order-independent, so a CTE-unrolled SQL twin reproduces the
    ranks bit-for-bit (q118's oracle unrolls two rounds this way).

    ``tol <= 0`` pins the loop to exactly ``max_iter`` rounds and
    skips the per-round convergence check (the fixed-budget mode
    q118 runs in).

    Two paths, one result:

    - **driver** — when the projected edge table fits under the
      broadcast bar, it is collected ONCE, bounded at
      ``scale.driver_rows(e) // max_iter`` rows so an under-estimate
      cannot pull a large table and the Python loop never runs more
      than one bar's worth of edge-rounds (~187k at the default
      10 MB), and :func:`_ranks_on_driver` iterates in Python. The
      ranks come back as a ``LocalRelation``
      (:func:`scale.local_frame`): no per-round jobs, one collect.
      The cap is a memory bound, but it is also under the CPU
      crossover: on 4 cores the driver loop took 1.55 s against the
      Spark loop's 2.53 s at 93k edges × 2 rounds, and 0.63 s against
      4.42 s at 9.3k edges × 20 rounds (~7 µs per edge-round against
      a ~2 s floor). Over the cap the bounded collect is wasted work
      (~0.5 s at 93k edges): the Spark loop reads the edges again.
    - **Spark** — above the bar, :func:`_ranks_in_spark`: one join +
      one groupBy per round over the COMPACT edge table (corpus text
      is never touched inside the loop), ``localCheckpoint`` per
      round, convergence as a max-delta aggregate.

    ``slot``: train-once-reuse (the ``kmeans_train`` convention —
    see that docstring for the contract). The rank table is a pure
    function of (edges, hyper-parameters); its output plan rides a
    fresh ``LocalRelation`` or fresh ``localCheckpoint`` RDDs each
    run, so the slot is keyed by an explicit :func:`caching.plan_sig`
    over the EDGE frame's plan + file listing + every
    hyper-parameter. Deterministic loop (DECIMAL in-edge sums), so a
    warm hit is result-identical.
    """
    from ..caching import plan_sig, slot_lookup, slot_persist

    if slot is not None:
        sig = plan_sig(edges, src, dst, weight, damping, max_iter, tol)
        hit = slot_lookup(slot, sig, edges.sparkSession)
        if hit is not None:
            return hit

    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v"),
        F.col(weight).cast("double").alias("w"),
    )
    ranks = None
    cap = scale.driver_rows(e) // max(max_iter, 1)
    if cap:
        rows = e.limit(cap + 1).collect()
        ranked = (
            _ranks_on_driver(rows, damping, max_iter, tol)
            if len(rows) <= cap
            else None
        )
        if ranked is not None:
            node = (
                e.select(F.col("u").alias("node"))
                .union(e.select(F.col("v").alias("node")))
                .schema["node"]
            )
            ranks = scale.local_frame(
                e.sparkSession,
                ranked,
                T.StructType(
                    [node, T.StructField("rank", T.DoubleType(), False)]
                ),
            )
    if ranks is None:
        ranks = _ranks_in_spark(e, damping, max_iter, tol)
    if slot is not None:
        # vocab-sized — the persist is negligible; the slot's value
        # is skipping the LOOP next time
        return slot_persist(slot, ranks, sig=sig)
    return ranks
