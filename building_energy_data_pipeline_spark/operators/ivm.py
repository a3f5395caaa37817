"""Incremental aggregate (materialized-view) maintenance.

The reference keeps latest-state tables only and re-derives every
summary by full query (``src/data_loading/data_loader.py`` reloads,
``postgres_manager.py`` re-aggregates); a lakehouse serving the same
summaries at 100 TB cannot re-scan the fact table per refresh. This
operator keeps a grouped rollup (count / sums / min / max) in sync
with a CDC batch touching an arbitrarily small slice of the data, at
a cost proportional to the BATCH — not the table:

- **count/sum** are self-maintainable: inserts add, deletes
  subtract; the delta folds map-side over the CDC batch alone.
- **min/max** are self-maintainable on INSERT (``least``/
  ``greatest`` against the stored extreme) but not on DELETE: a
  delete that removes the last witness of the stored extreme makes
  the new extreme unknowable from the state. Dirty — recomputed from
  the post-change detail via a broadcast semi-join (a partition-
  prunable scan of the dirty groups' slices) — is any group where a
  non-null delete extreme ties or passes the stored min/max, meets a
  NULL stored extreme (nothing to compare against), or belongs to a
  group with no stored row at all (see next bullet); everything else
  patches algebraically.
- groups whose count reaches zero are dropped; keys never seen
  before enter through the full-outer join with their insert-only
  aggregates — UNLESS the batch also deletes rows of that key
  (updates are modeled as delete + insert, so an unseen key can
  carry intra-batch I+D pairs): with no stored extreme to compare
  against, a delete may have removed the batch's own insert
  extreme, so such keys route to the dirty recompute too.

This is the standard IVM treatment of non-invertible aggregates
(dirty-group recompute; cf. the summary-delta method of Mumick et
al., "Maintenance of Data Cubes and Summary Tables", SIGMOD 1997 —
public literature), expressed as three DataFrame passes: CDC fold,
state patch, dirty recompute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: CDC operation column: 'I' (insert) or 'D' (delete). Updates are
#: modeled as delete + insert, the q105/q115 convention.
OP_COL = "op"


def _dirty_pred(minmax_cols: list[str]) -> str:
    """SQL predicate over a state⋈delta row: some delete may have
    removed the last witness of a stored extreme. Per column this is
    a non-null delete extreme that (a) ties or passes the stored
    min/max, or (b) meets a NULL stored extreme — which covers BOTH
    a seen group whose base values were all NULL (an intra-batch
    insert+delete pair would otherwise fabricate an extreme from the
    insert side) AND an unseen group (``min_<c>`` is NULL through the
    full-outer join, and the delete may have removed the batch's own
    insert extreme with no stored extreme to patch from). One
    predicate, no special-cased branches. Never NULL: every disjunct
    is guarded by the IS NOT NULL probe; a D row whose value is NULL
    can never have been an extreme witness, so it never dirties."""
    return " OR ".join(
        f"(dmin_{c} IS NOT NULL AND (min_{c} IS NULL"
        f" OR dmin_{c} <= min_{c} OR dmax_{c} >= max_{c}))"
        for c in minmax_cols
    ) or "false"


def rollup_state(detail: DataFrame, keys: list[str], sum_cols: list[str], minmax_cols: list[str]) -> DataFrame:
    """The materialized rollup this module maintains: per ``keys``,
    ``cnt`` plus ``sum_<c>`` for each sum column and ``min_<c>`` /
    ``max_<c>`` for each min/max column. Build it once from the
    detail table; thereafter :func:`maintain_rollup` keeps it
    current per CDC batch.

    Sum convention: a group whose sum-column values are ALL NULL
    stores ``sum_<c> = 0`` (``coalesce`` over SQL SUM), not NULL —
    the ONE convention shared by this builder, the algebraic patch,
    and the dirty recompute, so the maintained state equals
    ``rollup_state(detail_after)`` exactly regardless of which route
    each batch took (an r8 review found the two branches disagreeing
    on all-NULL groups). Min/max keep SQL semantics (NULL when no
    non-null value exists)."""
    aggs = [F.count("*").alias("cnt")]
    aggs += [
        F.expr(f"cast(coalesce(sum({c}), 0L) as bigint)").alias(
            f"sum_{c}"
        )
        for c in sum_cols
    ]
    for c in minmax_cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return detail.groupBy(*keys).agg(*aggs)


def _delta(cdc: DataFrame, keys: list[str], sum_cols: list[str], minmax_cols: list[str]) -> DataFrame:
    """Map-side CDC fold: per key, the count/sum deltas plus the
    insert extremes (algebraic patches) and delete extremes (dirty
    probes)."""
    sign = F.expr(f"CASE WHEN {OP_COL} = 'I' THEN 1 ELSE -1 END")
    aggs = [F.sum(sign).alias("cnt_d")]
    aggs += [
        F.expr(
            f"cast(sum(CASE WHEN {OP_COL} = 'I' THEN {c}"
            f" ELSE -{c} END) as bigint)"
        ).alias(f"sumd_{c}")
        for c in sum_cols
    ]
    for c in minmax_cols:
        aggs += [
            F.expr(
                f"min(CASE WHEN {OP_COL} = 'I' THEN {c} END)"
            ).alias(f"imin_{c}"),
            F.expr(
                f"max(CASE WHEN {OP_COL} = 'I' THEN {c} END)"
            ).alias(f"imax_{c}"),
            F.expr(
                f"min(CASE WHEN {OP_COL} = 'D' THEN {c} END)"
            ).alias(f"dmin_{c}"),
            F.expr(
                f"max(CASE WHEN {OP_COL} = 'D' THEN {c} END)"
            ).alias(f"dmax_{c}"),
        ]
    return cdc.groupBy(*keys).agg(*aggs)


def maintenance_census(
    state: DataFrame,
    cdc: DataFrame,
    keys: list[str],
    minmax_cols: list[str],
) -> DataFrame:
    """Per-key maintenance path the batch will take — ``untouched``
    (no CDC rows), ``new`` (insert-only unseen key), ``dropped``
    (count reaches zero), ``dirty`` (a delete ties a stored extreme
    → slice recompute), or ``algebraic`` (patched from the batch
    alone). Diagnostic twin of :func:`maintain_rollup` — the audit
    that sizes the recompute BEFORE running it (dirty share is the
    refresh cost driver at scale)."""
    d = _delta(cdc, keys, [], minmax_cols)
    j = state.join(d, keys, "full_outer")
    return j.select(
        *keys,
        F.expr(
            "CASE"
            " WHEN cnt_d IS NULL THEN 'untouched'"
            # a group whose count reaches (or, unseen, never exceeds)
            # zero: no state row, no recompute — faithful to
            # maintain_rollup's new_cnt > 0 gate
            " WHEN coalesce(cnt, 0L) + cnt_d <= 0 THEN 'dropped'"
            # one predicate covers seen AND unseen dirty groups
            # (unseen keys have NULL stored extremes — see
            # _dirty_pred); an insert-only unseen key has NULL
            # delete extremes and falls through to 'new'
            f" WHEN {_dirty_pred(minmax_cols)} THEN 'dirty'"
            " WHEN cnt IS NULL THEN 'new'"
            " ELSE 'algebraic' END"
        ).alias("path"),
    )


def maintain_rollup(
    state: DataFrame,
    cdc: DataFrame,
    detail_after: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    minmax_cols: list[str],
) -> DataFrame:
    """Apply one CDC batch to a :func:`rollup_state` aggregate.

    ``cdc`` carries the detail schema plus :data:`OP_COL`;
    ``detail_after`` is the post-change detail table (maintained by
    the CDC apply itself, q105/q115) and is touched ONLY for dirty
    groups. Returns the refreshed state with the same schema.

    Sum columns follow :func:`rollup_state`'s 0-for-all-NULL
    convention on BOTH routes (the algebraic ``coalesce`` patch and
    the dirty recompute share it with the initial build), so the
    maintained state equals ``rollup_state(detail_after)`` exactly
    whatever routing history a group has. Callers needing SQL NULL
    semantics should track a non-null count column alongside.
    Min/max columns are exact in every case — NULL stored extremes
    route to the dirty recompute whenever a non-null delete extreme
    meets them (see :func:`_dirty_pred`).
    """
    delta = _delta(cdc, keys, sum_cols, minmax_cols)

    j = state.join(delta, keys, "full_outer")
    new_cnt = F.expr("coalesce(cnt, 0L) + coalesce(cnt_d, 0L)")
    # a delete tying/passing the stored extreme — or meeting a NULL
    # stored extreme, which covers both all-NULL seen groups and
    # unseen keys (ADVICE r7 + its seen-key sibling; see
    # _dirty_pred) — may remove the last witness. The predicate is
    # never NULL (IS NOT NULL-guarded disjuncts), so a group with no
    # deletes cleanly reads "not dirty".
    patched = j.withColumn("new_cnt", new_cnt).withColumn(
        "is_dirty", F.expr(_dirty_pred(minmax_cols))
    )

    dirty_keys = (
        patched.where("is_dirty AND new_cnt > 0").select(*keys)
    )
    recomputed = rollup_state(
        # kept: q233/q247 +1 shuffle (1 MiB)
        detail_after.join(F.broadcast(dirty_keys), keys, "left_semi"),
        keys,
        sum_cols,
        minmax_cols,
    )

    clean_cols = [F.col("new_cnt").alias("cnt")]
    clean_cols += [
        F.expr(
            f"coalesce(sum_{c}, 0L) + coalesce(sumd_{c}, 0L)"
        ).alias(f"sum_{c}")
        for c in sum_cols
    ]
    for c in minmax_cols:
        # insert-only extension (or a brand-new group's inserts)
        clean_cols.append(
            F.expr(f"least(min_{c}, imin_{c})").alias(f"min_{c}")
        )
        clean_cols.append(
            F.expr(f"greatest(max_{c}, imax_{c})").alias(f"max_{c}")
        )
    clean = (
        patched.where("NOT is_dirty AND new_cnt > 0")
        .select(*keys, *clean_cols)
    )
    return clean.unionByName(recomputed)
