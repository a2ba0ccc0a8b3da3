"""CDC operators: latest-wins dedup, CDC MERGE upsert, incremental aggregation.

These are the reference's two genuinely novel operators (SURVEY.md §4) made
reusable:

1. ``dedup_latest`` — intra-batch dedup keeping the newest CDC record per key
   (reference ``ROW_NUMBER() OVER (PARTITION BY id ORDER BY cdc_timestamp
   DESC) ... QUALIFY rnk = 1``, ``notebooks/demo-notebook.py:262-266``).
2. ``merge_cdc_batch`` — the 3-way conditional MERGE applying a deduped batch
   to a snapshot table (``notebooks/demo-notebook.py:244-280``): DELETE on
   matched deletes, UPDATE on matched updates *only when the content hash
   differs* (inter-batch dedup / no-op-update elimination, ``:276``), INSERT
   on unmatched.
3. ``cdf_signed_deltas`` + ``merge_agg_delta`` — incremental aggregate
   maintenance from a change feed (``notebooks/demo-notebook.py:384-425``):
   pre-images/deletes contribute ``-x``, post-images/inserts ``+x``; the
   grouped deltas are additively merged into the running aggregate. Only the
   *changes* are ever aggregated, never the full table — the property that
   makes the Gold update O(changed keys) instead of O(100 TB).

Scale notes: the window shuffles on the CDC key (fine — keys are high-
cardinality ids; AQE splits stragglers); the merge broadcast-joins the
micro-batch against the target scan and rewrites only touched files; the
delta aggregation is a partial-aggregated shuffle on the group key.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StructField,
    StructType,
)

from incremental_etl_on_lakehouse_spark.lake.table import (
    LakeTable,
    MergeClause,
    maintenance_plan_scope,
)


def lex_greater_sql(cols: list[str]) -> str:
    """``source.(cols) > target.(cols)`` lexicographically, as merge-clause SQL.

    For ``[a, b]``: ``(source.a > target.a OR (source.a <=> target.a AND
    source.b > target.b))``. Strict on the final column, so an exactly-equal
    tuple (identical redelivery) never fires a matched clause.

    NULL-safe with NULL ordered smallest (matching ``dedup_latest``'s
    ``desc_nulls_last`` and Spark's default NULLS FIRST ascending sort):
    the equality chain uses ``<=>`` and a non-NULL source beats a NULL
    target. A plain ``=``/``>`` chain evaluates to NULL whenever a guard
    column is NULL on either side, which makes the matched clauses
    unfireable — one unparseable ordering timestamp would otherwise freeze
    the key's snapshot row forever even though the tiebreak column (ingest
    time / commit version) still orders the changes correctly.
    """
    assert cols
    terms = []
    for i, c in enumerate(cols):
        eqs = " AND ".join(
            f"source.`{p}` <=> target.`{p}`" for p in cols[:i]
        )
        gt = (
            f"(source.`{c}` > target.`{c}` OR "
            f"(target.`{c}` IS NULL AND source.`{c}` IS NOT NULL))"
        )
        terms.append(f"({eqs} AND {gt})" if eqs else gt)
    return "(" + " OR ".join(terms) + ")"


def dedup_latest(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    tiebreak_cols: list[str] | None = None,
    skew_salts: int | None = None,
) -> DataFrame:
    """Keep the latest record per key: row_number over (key, order desc).

    ``tiebreak_cols`` make the result deterministic when two records share the
    ordering timestamp (the reference's sample data never ties; real CDC logs
    do).

    ``skew_salts``: skew hardening for pathological batches where one merge
    key dominates (a hot account replayed all day, a tombstone storm on one
    id). The plain window hash-partitions on the merge key alone, so a hot
    key serializes ONE reducer regardless of cluster size. With salts the
    latest-wins argmax runs in two phases — the ``salted_join`` pattern
    applied to a window: phase 1 ranks within ``(key, salt)`` (the hot key
    spreads over ``skew_salts`` reducers), phase 2 ranks the ≤ ``skew_salts``
    local winners per key. Both phases declare the SAME ordering, and argmax
    is associative, so the result is identical to the plain window whenever
    ``(order, tiebreak)`` is a total order per key (full ties are an
    arbitrary pick in BOTH paths — the documented contract). The salt is a
    deterministic hash of the ordering columns: retries and replays land
    every row in the same salt group. Cost: one extra exchange over the
    phase-1 winners — O(keys x salts) rows — so leave it off (None) for
    well-distributed batches and set 8-32 where a hot key is possible.
    """
    order = [F.col(c).desc() for c in order_cols] + [
        F.col(c).desc() for c in (tiebreak_cols or [])
    ]
    if skew_salts is not None and skew_salts > 1:
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in order_cols + (tiebreak_cols or [])]),
            F.lit(skew_salts),
        )
        w1 = Window.partitionBy(*key_cols, "__salt").orderBy(*order)
        local = (
            df.withColumn("__salt", salt)
            .withColumn("__rnk", F.row_number().over(w1))
            .where(F.col("__rnk") == 1)
            .drop("__rnk")
        )
        w2 = Window.partitionBy(*key_cols).orderBy(*order)
        return (
            local.withColumn("__rnk", F.row_number().over(w2))
            .where(F.col("__rnk") == 1)
            .drop("__rnk", "__salt")
        )
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("__rnk", F.row_number().over(w))
        .where(F.col("__rnk") == 1)
        .drop("__rnk")
    )


def merge_cdc_batch(
    table: LakeTable,
    batch: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    op_col: str = "cdc_operation",
    hash_col: str = "data_hash",
    delete_op: str = "DELETE",
    update_op: str = "UPDATE",
    tiebreak_cols: list[str] | None = None,
    order_guard_col: str | None = None,
    order_guard_cols: list[str] | None = None,
    dedup_skew_salts: int | None = None,
) -> dict:
    """Dedup a CDC micro-batch and MERGE it into the snapshot table.

    Mirrors ``notebooks/demo-notebook.py:244-280``:
    - WHEN MATCHED AND op = DELETE           -> DELETE
    - WHEN MATCHED AND op = UPDATE AND source.hash <> target.hash -> UPDATE SET *
    - WHEN NOT MATCHED (AND op <> DELETE)    -> INSERT *

    Engine extensions over the reference:
    - the ``NOT MATCHED AND op <> DELETE`` guard (the reference would insert
      a DELETE-op row that never matched; its data never exercises this);
    - ``order_guard_cols``: columns present in BOTH source and target (e.g.
      an event-time epoch plus an ingest-time tiebreaker) compared
      lexicographically-strictly-greater in the matched clauses, so a *late*
      re-delivered batch can never regress the snapshot to older values. The
      reference only handles the identical-redelivery case via the hash
      guard; with an order guard the "latest (order cols) wins" semantic
      holds under arbitrary reordering. A SINGLE event-time guard column is
      a footgun: two changes to one key within one timestamp tick, split
      across micro-batches, would be dropped by the strict ``>`` — pass a
      stored tiebreaker (ingest timestamp, commit version) as the second
      guard column so equal-event-time changes still apply while replayed
      older batches (whose tiebreaker is older, since it is immutable under
      replay) stay blocked. ``order_guard_col`` is the single-column form.

    Idempotence under at-least-once replay: a re-delivered batch fires zero
    clauses -> zero files rewritten (file pruning includes clause conditions).

    ``dedup_skew_salts``: see :func:`dedup_latest` — set it when a single
    merge key can dominate a batch (the hot-key window would otherwise
    serialize one reducer at cluster scale); results are identical.
    """
    deduped = dedup_latest(
        batch, key_cols, order_cols, tiebreak_cols, skew_salts=dedup_skew_salts
    )
    cond = " AND ".join(f"source.`{k}` = target.`{k}`" for k in key_cols)
    guard_cols = list(order_guard_cols or ([order_guard_col] if order_guard_col else []))
    guard = f" AND {lex_greater_sql(guard_cols)}" if guard_cols else ""
    clauses = [
        MergeClause("delete", f"source.`{op_col}` = '{delete_op}'" + guard),
        MergeClause(
            "update",
            f"source.`{op_col}` = '{update_op}' AND source.`{hash_col}` <> target.`{hash_col}`"
            + guard,
            "*",
        ),
        MergeClause("insert", f"source.`{op_col}` <> '{delete_op}'", "*"),
    ]
    # file-stats skipping on the merge keys (active when the table declares
    # them in its statsColumns property)
    return table.merge(
        deduped, cond, clauses, stats_prune={k: k for k in key_cols}
    )


def merge_cdc_batch_tombstone(
    table: LakeTable,
    batch: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    order_guard_col: str,
    op_col: str = "cdc_operation",
    delete_op: str = "DELETE",
    tombstone_col: str = "_deleted",
    tiebreak_cols: list[str] | None = None,
) -> dict:
    """CDC merge with tombstoned deletes: convergent under ARBITRARY reorder.

    The reference's hard-delete merge (``notebooks/demo-notebook.py:270-272``)
    has a re-insertion hole: once a key's row is physically gone, a late
    re-delivered older UPDATE looks like a fresh insert. Keeping deletes as
    tombstone rows (``tombstone_col = true``) closes it: every key always has
    exactly one row carrying the max ``order_guard_col`` seen so far, and a
    matched row is replaced only when the incoming one is strictly newer.
    The live snapshot is ``WHERE NOT tombstone`` (see ``live_view``).

    This is the standard lakehouse pattern for out-of-order CDC at scale
    (tombstones compact away later); the cost is storing deleted keys.
    """
    deduped = dedup_latest(batch, key_cols, order_cols, tiebreak_cols)
    cond = " AND ".join(f"source.`{k}` = target.`{k}`" for k in key_cols)
    src_cols = set(batch.columns)
    is_delete = f"source.`{op_col}` = '{delete_op}'"
    assignments = {
        f.name: (f"source.`{f.name}`" if f.name in src_cols else f"target.`{f.name}`")
        for f in table.schema().fields
        if f.name != tombstone_col
    }
    assignments[tombstone_col] = is_delete
    insert_assignments = {
        f.name: (f"source.`{f.name}`" if f.name in src_cols else "NULL")
        for f in table.schema().fields
        if f.name != tombstone_col
    }
    insert_assignments[tombstone_col] = is_delete
    clauses = [
        MergeClause(
            "update",
            lex_greater_sql([order_guard_col]),
            assignments,
        ),
        MergeClause("insert", None, insert_assignments),
    ]
    return table.merge(deduped, cond, clauses)


def live_view(table: LakeTable, tombstone_col: str = "_deleted") -> DataFrame:
    """Current-state rows of a tombstoned snapshot (deletes filtered out)."""
    return table.to_df().where(~F.col(tombstone_col)).drop(tombstone_col)


def scd2_merge(
    table: LakeTable,
    batch: DataFrame,
    key_cols: list[str],
    ts_col: str,
    hash_col: str = "data_hash",
    tiebreak_cols: list[str] | None = None,
    start_col: str = "__start_ts",
    end_col: str = "__end_ts",
    current_col: str = "__is_current",
) -> dict:
    """SCD Type-2 history merge: close out changed rows, version-insert new ones.

    Where ``merge_cdc_batch`` keeps only the *current* state per key
    (reference ``notebooks/demo-notebook.py:244-280``), this keeps the full
    attribute history: the dimension table carries one row per (key, version
    interval) with ``start_col`` / ``end_col`` effective-time bounds and a
    ``current_col`` flag. Applying a batch:

    - a key whose ``hash_col`` differs from its current row CLOSES that row
      (``end_col`` = batch ts, ``current_col`` = false) and INSERTS a new
      current row;
    - a brand-new key INSERTS its first current row;
    - an unchanged key is a no-op (no file rewrite — the same inter-batch
      no-op-update elimination the reference's hash guard provides).

    Implemented as the standard lakehouse staged-union single MERGE: each
    changed key stages TWO source rows — one carrying ``__merge_key = key``
    (matches the open row -> UPDATE close-out) and one with ``__merge_key =
    NULL`` (never matches -> INSERT the new version); brand-new keys stage
    one ``__merge_key = key`` row that finds no match -> INSERT. One shuffle
    join against current rows to classify, then one MERGE; the MERGE's
    file-level pruning still applies, so only files holding changed keys are
    rewritten — O(changed keys), not O(history).

    The batch is deduped to latest-per-key first (one version step per
    batch; replaying finer-grained history = one call per step). Idempotent:
    re-delivering an applied batch stages zero rows.
    """
    deduped = dedup_latest(batch, key_cols, [ts_col], tiebreak_cols)
    data_cols = [c for c in deduped.columns]
    current = table.to_df().where(F.col(current_col)).select(
        *[F.col(k).alias(f"__t_{k}") for k in key_cols],
        F.col(hash_col).alias("__t_hash"),
    )
    join_cond = deduped[key_cols[0]] == current[f"__t_{key_cols[0]}"]
    for k in key_cols[1:]:
        join_cond = join_cond & (deduped[k] == current[f"__t_{k}"])
    # The classify join feeds THREE union branches (close-out rows, new-
    # version rows, brand-new rows) and the MERGE evaluates its source in
    # several jobs; persist so the dedup window + join run once, not 3+
    # times (measured 12.6 -> ~6 s on the sf0.1 bench key). The persist
    # sits in a maintenance micro scope (gated on the batch's AND the
    # dimension's input bytes): persist() compiles the cached plan at call
    # time, so an AQE-on persist pays one query-stage job per Exchange
    # every time the cache materializes — pure fixed cost at micro scale.
    with maintenance_plan_scope(table.spark, batch, current):
        joined = deduped.join(current, on=join_cond, how="left").persist()
    changed = joined.where(
        F.col("__t_hash").isNotNull() & (F.col(hash_col) != F.col("__t_hash"))
    ).select(*data_cols)
    brand_new = joined.where(F.col("__t_hash").isNull()).select(*data_cols)
    mk = lambda df, key: df.select(  # noqa: E731
        *data_cols,
        *(
            [F.col(k).alias(f"__merge_{k}") for k in key_cols]
            if key
            else [F.lit(None).cast(df.schema[k].dataType).alias(f"__merge_{k}") for k in key_cols]
        ),
    )
    staged = mk(changed, True).unionByName(mk(changed, False)).unionByName(
        mk(brand_new, True)
    )
    cond = " AND ".join(
        f"source.`__merge_{k}` = target.`{k}`" for k in key_cols
    ) + f" AND target.`{current_col}`"
    insert_assignments = {c: f"source.`{c}`" for c in data_cols}
    insert_assignments[start_col] = f"source.`{ts_col}`"
    insert_assignments[end_col] = "NULL"
    insert_assignments[current_col] = "true"
    clauses = [
        MergeClause(
            "update",
            None,
            {end_col: f"source.`{ts_col}`", current_col: "false"},
        ),
        MergeClause("insert", None, insert_assignments),
    ]
    try:
        return table.merge(
            staged, cond, clauses,
            stats_prune={k: f"__merge_{k}" for k in key_cols},
        )
    finally:
        joined.unpersist()


def cdf_signed_deltas(
    changes: DataFrame,
    group_cols: list[str],
    value_col: str,
    change_type_col: str = "_change_type",
) -> DataFrame:
    """Convert change-feed rows into grouped signed deltas.

    Reference CASE (``notebooks/demo-notebook.py:400-413``):
    ``update_preimage``/``delete`` -> ``-value``; ``update_postimage``/
    ``insert`` -> ``+value``; then ``SUM`` per group. Valid for any
    subtractable aggregate (SUM/COUNT); MIN/MAX need recompute-on-delete.
    """
    signed = F.when(
        F.col(change_type_col).isin("update_preimage", "delete"),
        F.lit(-1) * F.col(value_col),
    ).when(
        F.col(change_type_col).isin("update_postimage", "insert"),
        F.col(value_col),
    )
    return (
        changes.withColumn("__signed", signed)
        .where(F.col("__signed").isNotNull())
        .groupBy(*group_cols)
        .agg(F.sum("__signed").alias("delta_value"))
        .where(F.col("delta_value") != 0)
    )


def incremental_minmax_update(
    gold: LakeTable,
    base: DataFrame,
    changes: DataFrame,
    group_cols: list[str],
    value_col: str,
    min_col: str = "min_value",
    max_col: str = "max_value",
    change_type_col: str = "_change_type",
) -> None:
    """One micro-batch of incremental MIN/MAX maintenance from a change feed.

    SUM is subtractable, MIN/MAX are not (SURVEY.md §7 hard-part d, reference
    rationale ``notebooks/demo-notebook.py:384-413``): a delete that removes
    the current extremum cannot be undone algebraically. The maintenance
    split is therefore:

    - **Additions** (``insert``/``update_postimage``) tighten extremes
      monotonically: ``new_min = least(cur_min, batch_min)`` — never a scan.
    - **Removals** (``delete``/``update_preimage``) can only change a group
      when the removed value *touches* the current extremum
      (``removed_min <= cur_min`` or ``removed_max >= cur_max``); exactly
      those groups are recomputed from ``base`` — the maintained table's
      snapshot AS OF the batch's commit version (pass
      ``table.to_df(version=v)``) — pruned to the touched groups with a
      broadcast semi-join. Removals strictly inside the open interval
      (cur_min, cur_max) are provably no-ops and never touch the base table.

    At 100 TB the recompute cost is O(rows of touched groups), not O(table):
    the group column belongs in ``statsColumns``/partitioning so the
    semi-join scan file-prunes. Groups whose recompute comes back empty
    (last row removed) are deleted from the aggregate table.
    """
    # maintenance micro scope: the emptiness probes and the merge below
    # otherwise each pay AQE query-stage jobs per Exchange — pure fixed
    # cost when every input (batch, state, pinned base) is provably micro;
    # a big input keeps AQE because the byte gate won't fire
    with maintenance_plan_scope(gold.spark, changes, base, gold.to_df()) as micro:
        return _incremental_minmax_update_impl(
            gold, base, changes, group_cols, value_col,
            min_col, max_col, change_type_col, micro,
        )


def _incremental_minmax_update_impl(
    gold: LakeTable,
    base: DataFrame,
    changes: DataFrame,
    group_cols: list[str],
    value_col: str,
    min_col: str,
    max_col: str,
    change_type_col: str,
    micro: bool = False,
) -> None:
    # broadcast hints are scope-aware: in micro scope a hint would force a
    # dedicated broadcast-build job the 1-task join doesn't need
    bc = (lambda d: d) if micro else F.broadcast
    cur = gold.to_df().select(
        *group_cols,
        F.col(min_col).alias("__cur_min"),
        F.col(max_col).alias("__cur_max"),
    )
    adds = (
        changes.where(F.col(change_type_col).isin("insert", "update_postimage"))
        .groupBy(*group_cols)
        .agg(
            F.min(value_col).alias("__inc_min"),
            F.max(value_col).alias("__inc_max"),
        )
    )
    rems = (
        changes.where(F.col(change_type_col).isin("delete", "update_preimage"))
        .groupBy(*group_cols)
        .agg(
            F.min(value_col).alias("__dec_min"),
            F.max(value_col).alias("__dec_max"),
        )
    )
    # NULL-SAFE joins throughout: a NULL group key is a legal GROUP BY
    # group, and name-based (USING) joins match with plain equality — the
    # NULL group's current state would never attach, making every batch
    # look like that group's first (overwriting its true extremes).
    def _ns(left: DataFrame, right: DataFrame, prefix: str):
        ren = {c: f"{prefix}{c}" for c in group_cols}
        r = right.withColumnsRenamed(ren)
        cond = None
        for c in group_cols:
            e = left[c].eqNullSafe(r[f"{prefix}{c}"])
            cond = e if cond is None else cond & e
        return r, cond

    rems_r, ar_cond = _ns(adds, rems, "__r_")
    ar = adds.join(rems_r, ar_cond, "full_outer").select(
        *[
            F.coalesce(adds[c], rems_r[f"__r_{c}"]).alias(c)
            for c in group_cols
        ],
        "__inc_min",
        "__inc_max",
        "__dec_min",
        "__dec_max",
    )
    cur_r, cur_cond = _ns(ar, cur, "__c_")
    # persisted: the classification probe, the mono/recompute branches and
    # the merge source all read this O(batch groups) frame — without the
    # cache the change-feed aggregation re-runs per consumer (guide §2.3)
    joined = ar.join(cur_r, cur_cond, "left").drop(
        *[f"__c_{c}" for c in group_cols]
    )
    joined.persist()
    try:
        has_rem = F.col("__dec_min").isNotNull()
        need_recompute = has_rem & (
            F.col("__cur_min").isNull()
            | (F.col("__dec_min") <= F.col("__cur_min"))
            | (F.col("__dec_max") >= F.col("__cur_max"))
        )
        recompute_groups = joined.where(need_recompute).select(*group_cols)
        is_mono = (~need_recompute) & (
            F.col("__inc_min").isNotNull()
            & (
                F.col("__cur_min").isNull()
                | (F.col("__inc_min") < F.col("__cur_min"))
                | (F.col("__inc_max") > F.col("__cur_max"))
            )
        )
        # monotone groups: additions only touch extremes outward; rows with no
        # possible change are excluded so a no-op batch rewrites zero files
        mono = joined.where(is_mono).select(
            *group_cols,
            F.least("__inc_min", "__cur_min").alias(min_col),
            F.greatest("__inc_max", "__cur_max").alias(max_col),
            F.lit("UPSERT").alias("__op"),
        )
        # Gate the base-table branch on an actual recompute being needed, and
        # the merge on anything changing at all — ONE classification job over
        # the persisted micro-batch-scale aggregate (the previous shape paid
        # two isEmpty jobs: one here, one on the assembled source). In the
        # common all-monotone batch the base table is never scanned at all.
        # Equivalence of the single probe: with recomputes present the merge
        # source is never empty (every recompute group lands in exactly one of
        # recomputed/vanished), so the old source.isEmpty() early-return could
        # only fire in the recompute-free case — which n_mono == 0 covers.
        counts = joined.select(
            F.sum(F.when(need_recompute, 1).otherwise(0)).alias("__n_rec"),
            F.sum(F.when(is_mono, 1).otherwise(0)).alias("__n_mono"),
        ).collect()[0]
        n_rec = counts["__n_rec"] or 0
        n_mono = counts["__n_mono"] or 0
        if n_rec == 0 and n_mono == 0:
            return  # nothing can change: no commit, no file writes
        if n_rec == 0:
            source = mono
        else:
            rg_r, rg_cond = _ns(base, recompute_groups, "__rg_")
            recomputed = (
                base.join(bc(rg_r), rg_cond, "left_semi")
                .groupBy(*group_cols)
                .agg(
                    F.min(value_col).alias(min_col),
                    F.max(value_col).alias(max_col),
                )
            )
            rc_r, rc_cond = _ns(recompute_groups, recomputed, "__rc_")
            vanished = recompute_groups.join(
                rc_r, rc_cond, "left_anti"
            ).select(
                *group_cols,
                *[
                    F.lit(None).cast(gold.schema()[c].dataType).alias(c)
                    for c in (min_col, max_col)
                ],
                F.lit("DELETE").alias("__op"),
            )
            source = (
                recomputed.withColumn("__op", F.lit("UPSERT"))
                .unionByName(vanished)
                .unionByName(mono)
            )
        # null-safe equality: a NULL group key is a legal GROUP BY group;
        # with plain `=` its state row would never match and every refresh
        # would insert a duplicate partial row
        cond = " AND ".join(
            f"source.`{k}` <=> target.`{k}`" for k in group_cols
        )
        assignments = {c: f"source.`{c}`" for c in (min_col, max_col)}
        insert_assignments = {k: f"source.`{k}`" for k in group_cols}
        insert_assignments.update(assignments)
        clauses = [
            MergeClause("delete", "source.`__op` = 'DELETE'"),
            MergeClause("update", "source.`__op` = 'UPSERT'", assignments),
            MergeClause(
                "insert", "source.`__op` <> 'DELETE'", insert_assignments
            ),
        ]
        gold.merge(source, cond, clauses)
    finally:
        joined.unpersist()


def cdf_multiset_deltas(
    changes: DataFrame,
    group_cols: list[str],
    value_col: str,
    change_type_col: str = "_change_type",
) -> DataFrame:
    """Signed multiplicity deltas per (group, value) from a change feed —
    the maintenance unit for incremental COUNT(DISTINCT): the distinct set
    itself is not subtractable, but the per-value multiset count is.

    NULL values are excluded here — SQL ``COUNT(DISTINCT x)`` never counts
    NULL, and a NULL row would also break the downstream MERGE whose
    equality condition (``source.value = target.value``) cannot match a
    NULL state row: every net-positive NULL delta would insert a fresh
    row that no later decrement could ever find."""
    sign = F.when(
        F.col(change_type_col).isin("update_preimage", "delete"), F.lit(-1)
    ).when(F.col(change_type_col).isin("update_postimage", "insert"), F.lit(1))
    return (
        changes.withColumn("__d", sign)
        .where(F.col("__d").isNotNull())
        .where(F.col(value_col).isNotNull())
        .groupBy(*group_cols, value_col)
        .agg(F.sum("__d").alias("delta_cnt"))
        .where(F.col("delta_cnt") != 0)
    )


def merge_distinct_state(
    state: LakeTable,
    deltas: DataFrame,
    group_cols: list[str],
    value_col: str,
    cnt_col: str = "cnt",
    delta_col: str = "delta_cnt",
    txn_app_id: str | None = None,
    txn_version: int | None = None,
) -> None:
    """Fold multiset deltas into the per-group distinct-state table
    ``(*group_cols, value, cnt)``. A value's row reaching cnt=0 is deleted,
    so COUNT(DISTINCT) per group is exactly the state row count — see
    :func:`distinct_counts`. State size is O(live distinct values), the
    irreducible memory of exact incremental distinct counting; use
    approx_count_distinct when an estimate suffices."""
    # null-safe on group keys (NULL groups are legal); the value column is
    # guaranteed non-null by cdf_multiset_deltas, where `<=>` degenerates
    # to `=`
    cond = " AND ".join(
        f"source.`{k}` <=> target.`{k}`" for k in [*group_cols, value_col]
    )
    insert_assignments = {k: f"source.`{k}`" for k in [*group_cols, value_col]}
    insert_assignments[cnt_col] = f"source.`{delta_col}`"
    clauses = [
        MergeClause(
            "delete", f"target.`{cnt_col}` + source.`{delta_col}` <= 0"
        ),
        MergeClause(
            "update",
            None,
            {cnt_col: f"target.`{cnt_col}` + source.`{delta_col}`"},
        ),
        MergeClause("insert", f"source.`{delta_col}` > 0", insert_assignments),
    ]
    state.merge(
        deltas, cond, clauses,
        txn_app_id=txn_app_id, txn_version=txn_version,
    )


def distinct_counts(
    state: LakeTable, group_cols: list[str], out_col: str = "n_distinct"
) -> DataFrame:
    """Exact per-group COUNT(DISTINCT) from the maintained state table."""
    return state.to_df().groupBy(*group_cols).agg(F.count("*").alias(out_col))


def percentile_from_state(
    state: LakeTable,
    group_cols: list[str],
    value_col: str,
    q: tuple[int, int] = (1, 2),
    out_col: str = "pctl",
    cnt_col: str = "cnt",
) -> DataFrame:
    """Exact per-group discrete percentile from the multiset state —
    incremental MEDIAN/quantiles for free: the per-(group, value) counts
    maintained for exact COUNT(DISTINCT) (:func:`merge_distinct_state`)
    are a compressed sorted histogram, so the q-th percentile (lower /
    ``ceil`` definition: the smallest value whose cumulative multiplicity
    reaches ``ceil(q * n)``) reads off one window pass over O(state
    rows), never the source table. ``q`` is an exact rational
    ``(numerator, denominator)`` so the rank threshold is pure integer
    arithmetic (``cum * den >= n * num`` — equivalent to
    ``cum >= ceil(n * q)`` for integer cum) and the result is
    engine-exact, unlike interpolating ``percentile_cont``.

    Scale: one window exchange keyed on the group over the state table
    (O(live distinct values) — the same state COUNT(DISTINCT) already
    pays for); the quantile itself adds no per-row source cost. Percentile
    joins MIN/MAX, COUNT(DISTINCT), and TOP-K in the non-subtractable
    family: state-merge on every batch, exact read at any time.
    """
    return percentiles_from_state(
        state, group_cols, value_col, {out_col: q}, cnt_col=cnt_col
    )


def mode_from_state(
    state: LakeTable,
    group_cols: list[str],
    value_col: str,
    out_col: str = "mode",
    cnt_col: str = "cnt",
) -> DataFrame:
    """Exact per-group MODE (most frequent value) from the multiset state
    — the third aggregate family the COUNT(DISTINCT) state answers for
    free (after quantiles): the mode is the state row with the maximal
    multiplicity, ties broken deterministically by smallest value (batch
    SQL's ``mode()`` is tie-arbitrary; a deterministic tiebreak is what
    makes the result oracle-checkable and replay-stable). One max_by over
    a struct ordering — a single map-side-combined aggregate on O(state)
    rows, no window, no join."""
    # max_by with a (cnt, -value) struct implements (max cnt, min value):
    # struct comparison is lexicographic, so negating the value makes the
    # smaller value win among equal counts. Two negation hazards are
    # handled explicitly: integral types widen to decimal(38,0) first
    # (ANSI mode throws ARITHMETIC_OVERFLOW negating LongType MIN_VALUE),
    # and float/double get a NaN guard field (NaN survives negation and
    # sorts GREATEST, so a bare -v would make NaN win "smallest value"
    # ties; Spark's total order puts NaN above +inf, so NaN must LOSE
    # every tie instead). Non-numeric values fall back to a window.
    vt = dict(state.to_df().dtypes)[value_col]
    integral = vt in ("tinyint", "smallint", "int", "bigint")
    floating = vt in ("float", "double")
    df = state.to_df()
    if integral or vt.startswith("decimal"):
        nv = -F.col(value_col).cast("decimal(38,0)") if integral else (
            -F.col(value_col)
        )
        ordkey = F.struct(F.col(cnt_col).alias("c"), nv.alias("nv"))
        return df.groupBy(*group_cols).agg(
            F.max_by(F.col(value_col), ordkey).alias(out_col)
        )
    if floating:
        v = F.col(value_col)
        ordkey = F.struct(
            F.col(cnt_col).alias("c"),
            # NaN ranks strictly below every real value on count ties
            F.when(F.isnan(v), F.lit(0)).otherwise(F.lit(1)).alias("real"),
            F.when(F.isnan(v), F.lit(0.0)).otherwise(-v).alias("nv"),
        )
        return df.groupBy(*group_cols).agg(
            F.max_by(F.col(value_col), ordkey).alias(out_col)
        )
    w = Window.partitionBy(*group_cols).orderBy(
        F.col(cnt_col).desc(), F.col(value_col).asc()
    )
    return (
        df.withColumn("__rnk", F.row_number().over(w))
        .where(F.col("__rnk") == 1)
        .select(*group_cols, F.col(value_col).alias(out_col))
    )


def percentiles_from_state(
    state: LakeTable,
    group_cols: list[str],
    value_col: str,
    qs: dict[str, tuple[int, int]],
    cnt_col: str = "cnt",
) -> DataFrame:
    """All requested percentiles of one value column in a SINGLE window
    pass: the cumulative/total counts are computed once and each quantile
    is a conditional ``min`` in one grouped aggregate — N quantiles cost
    exactly what one does (one window exchange + one agg on the same
    clustering, no joins). ``qs`` maps output column -> exact rational q;
    see :func:`percentile_from_state` for the rank definition."""
    for out, (num, den) in qs.items():
        if not (0 < num <= den):
            raise ValueError(f"{out}: q must be a rational in (0, 1]")
    w_cum = (
        Window.partitionBy(*group_cols)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*group_cols).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    df = (
        state.to_df()
        .withColumn("__cum", F.sum(cnt_col).over(w_cum))
        .withColumn("__n", F.sum(cnt_col).over(w_all))
    )
    return df.groupBy(*group_cols).agg(
        *[
            F.min(
                F.when(
                    F.col("__cum") * den >= F.col("__n") * num,
                    F.col(value_col),
                )
            ).alias(out)
            for out, (num, den) in qs.items()
        ]
    )


class IncrementalAggView:
    """Materialized aggregate view maintained purely from a table's change
    feed — the reference's Gold pattern (``notebooks/demo-notebook.py:
    378-435``) as one reusable component covering the full aggregate
    algebra, not just the demo's additive SUM:

    - ``("sum", col)`` / ``("count", "*")`` — signed-delta additive merge;
    - ``("avg", col)`` — derived from maintained (SUM, COUNT) components;
    - ``("min", col)`` / ``("max", col)`` — monotone tighten on inserts,
      recompute pruned to extremum-touched groups on deletes;
    - ``("count_distinct", col)`` — exact, via per-(group, value) multiset
      state;
    - ``("median", col)`` / ``("pNN", col)`` (p90, p75, ...) — EXACT lower
      percentiles read from the same multiset-state shape
      (:func:`percentile_from_state`): one window pass over O(live
      distinct values) at read time, no sketch error, no source rescan;
    - ``("mode", col)`` — deterministic exact mode (max multiplicity,
      smallest value on ties) off the same state
      (:func:`mode_from_state`): one map-side-combined aggregate.

    Each family lives in its own lake table under ``root`` (additive +
    avg components in one; one min/max table per clustered value column;
    one state table per distinct column), so a delete-driven min/max
    recompute can drop a group's extremes row without touching the
    additive sums. ``refresh()`` folds all unprocessed CDF batches through
    a checkpointed reader; ``to_df()`` assembles the current view —
    groups whose row count reached zero disappear. Only CHANGES are ever
    aggregated; the source table is scanned solely for extremum-touched
    group recomputes.

    NULL semantics match batch SQL exactly: every summed/averaged column
    carries a maintained signed NON-NULL count (``__nn_<col>``), so SUM
    and AVG skip NULL values, an all-NULL group reports NULL (never 0 or
    a poisoned running sum), AVG divides by the non-null count, and NULL
    group keys fold into one state row via null-safe (`<=>`) merge keys.
    Running-sum state is always wide (long/double/decimal38) so the
    cumulative total cannot wrap a narrow source type.
    """

    def __init__(
        self,
        source: LakeTable,
        root: str,
        group_cols: list[str],
        aggs: dict[str, tuple[str, str]],
        where: str | None = None,
        publish: bool = False,
    ):
        from incremental_etl_on_lakehouse_spark.lake.streaming import (
            LakeStreamReader,
        )

        if not source.cdf_enabled():
            raise ValueError("IncrementalAggView needs enableChangeDataFeed")
        self.source = source
        self.root = root
        self.group_cols = list(group_cols)
        self.aggs = dict(aggs)
        # row predicate applied BEFORE aggregation (the MV's WHERE): a
        # stateless filter commutes with signed-delta maintenance — each
        # CDF row (pre- and postimage independently) either contributes
        # or doesn't, exactly as in the batch aggregate; the min/max
        # recompute reads the base through the same filter
        self.where = where
        spark = source.spark
        src_schema = {f.name: f.dataType for f in source.schema().fields}
        group_fields = [
            StructField(c, src_schema[c]) for c in self.group_cols
        ]
        add_fields = list(group_fields) + [StructField("__n", LongType())]
        self._sum_cols: dict[str, str] = {}  # view name -> hidden sum col
        self._avg_specs: dict[str, str] = {}  # view name -> hidden sum col
        self._mm_cols: set[str] = set()  # value cols needing a minmax table
        self._distinct_cols: dict[str, str] = {}  # view name -> value col
        # view name -> (value col, exact rational q) for quantile kinds:
        # "median" or "pNN" (p90, p75, ...) — exact lower percentiles read
        # from a per-column multiset state (percentile_from_state)
        self._pctl_specs: dict[str, tuple[str, tuple[int, int]]] = {}
        self._mode_specs: dict[str, str] = {}  # view name -> value col
        self._countnn_specs: dict[str, str] = {}  # view name -> value col
        for name, (kind, col) in self.aggs.items():
            if kind == "sum":
                self._sum_cols[name] = f"__sum_{col}"
            elif kind == "avg":
                self._avg_specs[name] = f"__sum_{col}"
            elif kind == "count":
                # count(*) rides __n (always maintained); count(col) is
                # the signed NON-NULL count — register the column's hidden
                # sum so its __nn twin is maintained, and read the twin
                if col != "*":
                    self._countnn_specs[name] = col
            elif kind in ("min", "max"):
                self._mm_cols.add(col)
            elif kind == "count_distinct":
                self._distinct_cols[name] = col
            elif kind == "median":
                self._pctl_specs[name] = (col, (1, 2))
            elif re.fullmatch(r"p[1-9]\d?", kind):
                self._pctl_specs[name] = (col, (int(kind[1:]), 100))
            elif kind == "mode":
                # deterministic mode (max count, min value) off the same
                # per-column multiset state the quantile kinds maintain
                self._mode_specs[name] = col
            else:
                raise ValueError(f"unsupported aggregate kind: {kind!r}")
        hidden_sums = sorted(
            set(self._sum_cols.values()) | set(self._avg_specs.values())
        )
        # non-null-count columns: every summed/averaged column (SUM/AVG
        # skip NULLs, so the view needs the non-null count both as AVG's
        # true denominator and to report an all-NULL group's SUM as NULL,
        # never 0) plus count(col) columns — the latter maintain ONLY the
        # signed non-null count, never a running sum (count of a string
        # column must not multiply strings)
        nn_cols = sorted(
            {h[len("__sum_"):] for h in hidden_sums}
            | set(self._countnn_specs.values())
        )
        for h in hidden_sums:
            add_fields.append(
                StructField(h, widen_sum_type(src_schema[h[len("__sum_"):]]))
            )
        for c in nn_cols:
            add_fields.append(StructField(f"__nn_{c}", LongType()))
        self._hidden_sums = hidden_sums
        self._nn_cols = nn_cols
        self.add_table = LakeTable.create(
            spark,
            os.path.join(root, "additive"),
            StructType(add_fields),
            if_not_exists=True,
        )
        self.mm_tables = {
            col: LakeTable.create(
                spark,
                os.path.join(root, f"minmax_{col}"),
                StructType(
                    group_fields
                    + [
                        StructField("min_value", src_schema[col]),
                        StructField("max_value", src_schema[col]),
                    ]
                ),
                if_not_exists=True,
            )
            for col in sorted(self._mm_cols)
        }
        self.d_tables = {
            name: LakeTable.create(
                spark,
                os.path.join(root, f"distinct_{name}"),
                StructType(
                    group_fields
                    + [
                        StructField("value", src_schema[col]),
                        StructField("cnt", LongType()),
                    ]
                ),
                if_not_exists=True,
            )
            for name, col in sorted(self._distinct_cols.items())
        }
        # one multiset state table per QUANTILE value column (shared by
        # every quantile view on that column; a count_distinct on the same
        # column keeps its own per-name table — unifying the two storages
        # is possible but not worth the layout migration)
        self.p_tables = {
            col: LakeTable.create(
                spark,
                os.path.join(root, f"pctl_{col}"),
                StructType(
                    group_fields
                    + [
                        StructField("value", src_schema[col]),
                        StructField("cnt", LongType()),
                    ]
                ),
                if_not_exists=True,
            )
            for col in sorted(
                {c for c, _q in self._pctl_specs.values()}
                | set(self._mode_specs.values())
            )
        }
        # published: the view's LOGICAL output materialized into a
        # CDF-enabled lake table — the stacking surface (same contract as
        # IncrementalChainJoinView.publish). Maintained per source batch:
        # the merge touches only the batch's changed groups; the state
        # left-joins behind the logical projection are the same reads a
        # to_df() costs (quantile/distinct-bearing views pay their
        # O(live distinct values) state aggregation per publish — still
        # never a base rescan).
        self.published: LakeTable | None = None
        if publish:
            out_fields = [
                StructField(c, src_schema[c]) for c in self.group_cols
            ]
            for name, (kind, col) in self.aggs.items():
                if kind == "sum":
                    dt = widen_sum_type(src_schema[col])
                elif kind in ("count", "count_distinct"):
                    dt = LongType()
                elif kind == "avg":
                    dt = DoubleType()
                else:  # min/max/median/pNN/mode carry the source type
                    dt = src_schema[col]
                out_fields.append(StructField(name, dt))
            self.published = LakeTable.create(
                spark,
                os.path.join(root, "published"),
                StructType(out_fields),
                properties={
                    "enableChangeDataFeed": "true",
                    # group-key file stats: downstream consumers (stacked
                    # views' delta joins, key_range reads) file-prune on
                    # the published table's group columns
                    "statsColumns": ",".join(self.group_cols),
                },
                if_not_exists=True,
            )
        self._reader = LakeStreamReader(
            source,
            os.path.join(root, "checkpoint.json"),
            mode="cdf",
            starting_version=1,
        )

    def _apply(self, changes: DataFrame, version: int) -> None:
        if self.where:
            changes = changes.where(self.where)
        # the change feed drives EVERY maintained aggregate of this view
        # (additive deltas, each min/max update's adds/rems probes, the
        # distinct/percentile multiset deltas, the publish group set) —
        # without the persist the CDF read re-runs once per consumer
        # (guide §2.3). Scoped persist: compiled non-adaptive when the
        # batch is provably micro, with AQE kept for big feeds.
        with maintenance_plan_scope(self.source.spark, changes):
            changes = changes.persist()
        try:
            self._apply_persisted(changes, version)
        finally:
            changes.unpersist()

    def _apply_persisted(self, changes: DataFrame, version: int) -> None:
        sign = F.when(
            F.col("_change_type").isin("update_preimage", "delete"), F.lit(-1)
        ).when(F.col("_change_type").isin("update_postimage", "insert"), F.lit(1))
        signed = changes.withColumn("__s", sign).where(F.col("__s").isNotNull())
        deltas, delta_cols = signed_agg_deltas(
            signed,
            self.group_cols,
            sum_cols=[h[len("__sum_"):] for h in self._hidden_sums],
            nn_cols=self._nn_cols,
        )
        # txn guard keyed on the source CDF version: additive merges are
        # NOT idempotent under replay (a crash between this merge and the
        # reader's checkpoint write re-delivers the batch — the guard
        # makes the re-apply a no-op instead of a double count)
        merge_agg_deltas(
            self.add_table,
            deltas,
            group_cols=self.group_cols,
            agg_cols={c: f"d_{c}" for c in delta_cols},
            txn_app_id="incremental-agg-view",
            txn_version=int(version),
        )
        base = None
        for col, mm in self.mm_tables.items():
            if base is None:
                base = self.source.to_df(version=version)
                if self.where:
                    base = base.where(self.where)
            incremental_minmax_update(
                mm, base, changes, self.group_cols, col,
                min_col="min_value", max_col="max_value",
            )
        for name, col in self._distinct_cols.items():
            # select (not rename): a source column already named "value"
            # would otherwise collide with the state table's value column
            narrowed = changes.select(
                *self.group_cols,
                F.col(col).alias("value"),
                "_change_type",
            )
            merge_distinct_state(
                self.d_tables[name],
                cdf_multiset_deltas(narrowed, self.group_cols, "value"),
                self.group_cols,
                "value",
                txn_app_id="incremental-agg-view",
                txn_version=int(version),
            )
        for col, ptable in self.p_tables.items():
            narrowed = changes.select(
                *self.group_cols,
                F.col(col).alias("value"),
                "_change_type",
            )
            merge_distinct_state(
                ptable,
                cdf_multiset_deltas(narrowed, self.group_cols, "value"),
                self.group_cols,
                "value",
                txn_app_id="incremental-agg-view",
                txn_version=int(version),
            )
        if self.published is not None:
            self._publish(changes, int(version))

    def _publish(self, changes: DataFrame, version: int) -> None:
        """Merge the batch's changed groups' LOGICAL rows into
        ``published`` — same contract as the join-view publish: no-op
        groups fire zero clauses (null-safe per-column compare), drained
        groups are DELETEd, the txn guard (keyed on the source CDF
        version like every other state merge of this batch) no-ops a
        crash-replay."""
        changed = changes.select(*self.group_cols).distinct()
        ren = {c: f"__g_{c}" for c in self.group_cols}
        ch = changed.withColumnsRenamed(ren)
        state = self.add_table.to_df()
        cond = None
        for c in self.group_cols:
            e = state[c].eqNullSafe(ch[f"__g_{c}"])
            cond = e if cond is None else cond & e
        roster = state.join(ch, cond, "left_semi")
        src = self._assemble(roster, keep_n=True)
        logical = [*self.group_cols, *self.aggs]
        mcond = " AND ".join(
            f"source.`{k}` <=> target.`{k}`" for k in self.group_cols
        )
        set_all = {c: f"source.`{c}`" for c in logical}
        nochange = " AND ".join(
            f"source.`{c}` <=> target.`{c}`" for c in logical
        )
        self.published.merge(
            src,
            mcond,
            [
                MergeClause("delete", "source.`__n` <= 0"),
                MergeClause(
                    "update",
                    f"source.`__n` > 0 AND NOT ({nochange})",
                    set_all,
                ),
                MergeClause("insert", "source.`__n` > 0", set_all),
            ],
            txn_app_id="incremental-agg-view:publish",
            txn_version=version,
        )

    def refresh(self) -> int:
        """Fold all unprocessed source CDF batches; returns batches applied."""
        return self._reader.process_available(self._apply)

    def to_df(self) -> DataFrame:
        return self._assemble(
            self.add_table.to_df().where(F.col("__n") > 0)
        )

    def _assemble(self, out: DataFrame, keep_n: bool = False) -> DataFrame:
        # The additive table is the group roster; the mm/distinct state
        # tables LEFT-join onto it because neither holds a row for a group
        # whose value column is entirely NULL (the mono path requires a
        # non-null extreme; NULLs never enter distinct state).  Batch
        # semantics for such a group are MIN/MAX = NULL and
        # COUNT(DISTINCT) = 0 — exactly what the left join + coalesce
        # yield — while the group's SUM/COUNT stay visible.  ``keep_n``
        # rides the maintained row count along (the publish merge uses it
        # to DELETE drained groups).

        def _nullsafe_left(acc: DataFrame, state: DataFrame) -> DataFrame:
            """Left-join a state table on the group keys NULL-SAFELY: a
            name-based join uses plain equality, so the NULL group's state
            row would never attach (its min/max/distinct would read NULL
            even when maintained)."""
            ren = {c: f"__g_{c}" for c in self.group_cols}
            state = state.withColumnsRenamed(ren)
            cond = None
            for c in self.group_cols:
                e = acc[c].eqNullSafe(state[f"__g_{c}"])
                cond = e if cond is None else cond & e
            return acc.join(state, cond, "left").drop(
                *[f"__g_{c}" for c in self.group_cols]
            )

        for col, mm in self.mm_tables.items():
            out = _nullsafe_left(
                out,
                mm.to_df().withColumnsRenamed(
                    {"min_value": f"__min_{col}", "max_value": f"__max_{col}"}
                ),
            )
        for name in self._distinct_cols:
            out = _nullsafe_left(
                out,
                distinct_counts(
                    self.d_tables[name], self.group_cols, out_col=f"__d_{name}"
                ),
            )
        # exact lower percentiles off the multiset state, ALL quantiles of
        # one column in a single window pass (percentiles_from_state);
        # NULL for a group whose value column is entirely NULL (no state
        # row) — exactly batch MEDIAN/percentile semantics via the left join
        pctl_by_col: dict[str, dict[str, tuple[int, int]]] = {}
        for name, (col, q) in self._pctl_specs.items():
            pctl_by_col.setdefault(col, {})[f"__p_{name}"] = q
        for col, qmap in pctl_by_col.items():
            out = _nullsafe_left(
                out,
                percentiles_from_state(
                    self.p_tables[col], self.group_cols, "value", qmap
                ),
            )
        for name, col in self._mode_specs.items():
            out = _nullsafe_left(
                out,
                mode_from_state(
                    self.p_tables[col],
                    self.group_cols,
                    "value",
                    out_col=f"__mo_{name}",
                ),
            )
        sel = [F.col(c) for c in self.group_cols]
        for name, (kind, col) in self.aggs.items():
            if kind == "sum":
                # SUM of an all-NULL group is NULL, not 0: gate on the
                # maintained non-null count
                nn = f"__nn_{col}"
                sel.append(
                    F.when(
                        F.col(nn) > 0, F.col(self._sum_cols[name])
                    ).alias(name)
                )
            elif kind == "count":
                if col == "*":
                    sel.append(F.col("__n").alias(name))
                else:
                    sel.append(F.col(f"__nn_{col}").alias(name))
            elif kind == "avg":
                # AVG skips NULLs: the denominator is the non-null count,
                # not COUNT(*) — and an all-NULL group averages to NULL
                nn = f"__nn_{col}"
                sel.append(
                    F.when(
                        F.col(nn) > 0,
                        F.col(self._avg_specs[name]).cast("double")
                        / F.col(nn),
                    ).alias(name)
                )
            elif kind == "min":
                sel.append(F.col(f"__min_{col}").alias(name))
            elif kind == "max":
                sel.append(F.col(f"__max_{col}").alias(name))
            elif name in self._pctl_specs:
                sel.append(F.col(f"__p_{name}").alias(name))
            elif name in self._mode_specs:
                sel.append(F.col(f"__mo_{name}").alias(name))
            else:
                sel.append(
                    F.coalesce(F.col(f"__d_{name}"), F.lit(0)).alias(name)
                )
        if keep_n:
            sel.append(F.col("__n"))
        return out.select(*sel)


def widen_sum_type(dt):
    """Running-sum state type: always wide enough that the CUMULATIVE sum
    cannot wrap, whatever the source column's type (a ('sum', int_col)
    view would otherwise silently overflow once the total exceeds
    2^31). Shared by IncrementalAggView and IncrementalJoinView."""
    if isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        return LongType()
    if isinstance(dt, (FloatType, DoubleType)):
        return DoubleType()
    if isinstance(dt, DecimalType):
        return DecimalType(38, dt.scale)
    return dt


def signed_agg_deltas(
    signed: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    nn_cols: list[str],
) -> tuple[DataFrame, list[str]]:
    """Grouped additive deltas from a SIGNED row frame (``__s`` = ±1):
    ``d___n`` (row-count delta), ``d___sum_<c>`` per running-sum column,
    and ``d___nn_<c>`` per signed NON-NULL count column. SUM/AVG skip
    NULLs, so the view needs the non-null count both as AVG's true
    denominator and to report an all-NULL group's SUM as NULL (never 0);
    count(col) reads the same non-null count directly — no running sum
    is maintained for it (a string column's count(col) must not try to
    multiply strings). The sum delta coalesces to 0: a batch whose
    changed rows for a group are ALL NULL-valued would otherwise poison
    the running state (state + NULL = NULL). Returns (deltas, the state
    column names the deltas update)."""
    agg_exprs = [F.sum("__s").alias("d___n")]
    delta_cols = ["__n"]
    for c in sum_cols:
        agg_exprs.append(
            F.coalesce(F.sum(F.col("__s") * F.col(c)), F.lit(0)).alias(
                f"d___sum_{c}"
            )
        )
        delta_cols.append(f"__sum_{c}")
    for c in nn_cols:
        agg_exprs.append(
            F.sum(
                F.when(F.col(c).isNotNull(), F.col("__s")).otherwise(0)
            ).alias(f"d___nn_{c}")
        )
        delta_cols.append(f"__nn_{c}")
    deltas = (
        signed.groupBy(*group_cols)
        .agg(*agg_exprs)
        .where(" OR ".join(f"`d_{c}` <> 0" for c in delta_cols))
    )
    return deltas, delta_cols


def merge_agg_deltas(
    gold: LakeTable,
    deltas: DataFrame,
    group_cols: list[str],
    agg_cols: dict[str, str],
    txn_app_id: str | None = None,
    txn_version: int | None = None,
) -> dict:
    """:func:`merge_agg_delta` generalized to multiple additive aggregates
    per row — ``agg_cols`` maps gold column -> delta column. The canonical
    use is (SUM, COUNT) maintained together, from which AVG derives at
    read time: avg is not itself additive, but both its components are.
    Group keys match null-safely (`<=>`): the NULL group maintains one
    state row like any other."""
    cond = " AND ".join(f"source.`{k}` <=> target.`{k}`" for k in group_cols)
    assignments = {
        a: f"target.`{a}` + source.`{d}`" for a, d in agg_cols.items()
    }
    insert_assignments = {k: f"source.`{k}`" for k in group_cols}
    insert_assignments.update({a: f"source.`{d}`" for a, d in agg_cols.items()})
    clauses = [
        MergeClause("update", None, assignments),
        MergeClause("insert", None, insert_assignments),
    ]
    # optional writer-transaction guard (Delta's txnAppId/txnVersion):
    # the join-view maintenance path uses it for exactly-once replay
    return gold.merge(
        deltas, cond, clauses,
        txn_app_id=txn_app_id, txn_version=txn_version,
    )


def merge_agg_delta(
    gold: LakeTable,
    deltas: DataFrame,
    group_cols: list[str],
    agg_col: str,
    delta_col: str = "delta_value",
    txn_app_id: str | None = None,
    txn_version: int | None = None,
) -> dict:
    """Additively merge grouped deltas into the running aggregate table.

    Reference (``notebooks/demo-notebook.py:419-424``):
    WHEN MATCHED -> UPDATE SET agg = agg + delta;
    WHEN NOT MATCHED -> INSERT (group, delta).

    Group keys match null-safely (`<=>`), so a NULL group folds into one
    state row instead of inserting a fresh partial row per refresh.
    """
    cond = " AND ".join(f"source.`{k}` <=> target.`{k}`" for k in group_cols)
    assignments = {agg_col: f"target.`{agg_col}` + source.`{delta_col}`"}
    insert_assignments = {k: f"source.`{k}`" for k in group_cols}
    insert_assignments[agg_col] = f"source.`{delta_col}`"
    clauses = [
        MergeClause("update", None, assignments),
        MergeClause("insert", None, insert_assignments),
    ]
    # txn guard (optional): additive merges re-apply their deltas under
    # at-least-once replay; keying on the source batch/version makes the
    # replay a no-op (Delta's SetTransaction pattern for agg sinks)
    return gold.merge(
        deltas, cond, clauses, txn_app_id=txn_app_id, txn_version=txn_version
    )


def incremental_topk_update(
    gold: LakeTable,
    base: DataFrame,
    changes: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int,
    cnt_col: str = "cnt",
    change_type_col: str = "_change_type",
) -> None:
    """One micro-batch of incremental TOP-K maintenance from a change feed:
    ``gold`` holds, per group, the k largest DISTINCT values with their
    multiplicities — the leaderboard/percentile-head aggregate.

    Top-k is not subtractable (SURVEY.md §7 hard-part d, same family as
    MIN/MAX): a delete that zeroes a member's count must PROMOTE the next
    value from below the threshold, which the state alone cannot answer.
    The maintenance split per touched group:

    - **State-complete groups** (fewer than k distinct values: the state IS
      the whole multiset head): apply every signed delta directly, drop
      non-positive counts, re-rank. Never touches the base table.
    - **Full groups, inserts only above the threshold**: a new value above
      the current k-th is mergeable with count = its delta (if it existed
      it would already be in state); positive deltas below the threshold
      are provably irrelevant (rank is by value, and no member leaves in
      an insert-only batch). Never touches the base table.
    - **Full groups with a removal at-or-above the k-th value**: exactly
      these recompute from ``base`` — the maintained table's snapshot AS OF
      the batch's commit version — pruned to the touched groups with a
      broadcast semi-join. Removals strictly below the threshold are
      provably no-ops.

    Evictions and vanished groups ride the same single MERGE (__op
    DELETE markers from an anti-join of old state vs new state), so one
    commit per batch. At 100 TB the recompute is O(rows of touched
    groups) with the group column in statsColumns for file pruning."""
    # maintenance micro scope: see incremental_minmax_update — the
    # persists/probes below pay per-Exchange AQE jobs otherwise
    with maintenance_plan_scope(gold.spark, changes, base, gold.to_df()) as micro:
        return _incremental_topk_update_impl(
            gold, base, changes, group_cols, value_col, k,
            cnt_col, change_type_col, micro,
        )


def _incremental_topk_update_impl(
    gold: LakeTable,
    base: DataFrame,
    changes: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int,
    cnt_col: str,
    change_type_col: str,
    micro: bool = False,
) -> None:
    # scope-aware broadcast hints: see _incremental_minmax_update_impl
    bc = (lambda d: d) if micro else F.broadcast
    # deltas drive the emptiness probe, the group classification, AND the
    # applicable-delta join; persist so the CDF scan + agg run once per
    # batch, not once per consumer (the operator's O(changed keys) claim)
    deltas = cdf_multiset_deltas(
        changes, group_cols, value_col, change_type_col=change_type_col
    ).persist()
    if deltas.isEmpty():
        deltas.unpersist(blocking=False)
        return
    state = gold.to_df()

    def _ns(left: DataFrame, right: DataFrame, prefix: str, cols=None):
        cols = cols or group_cols
        ren = {c: f"{prefix}{c}" for c in cols}
        r = right.withColumnsRenamed(ren)
        cond = None
        for c in cols:
            e = left[c].eqNullSafe(r[f"{prefix}{c}"])
            cond = e if cond is None else cond & e
        return r, cond

    summ = state.groupBy(*group_cols).agg(
        F.min(value_col).alias("__kth"), F.count(F.lit(1)).alias("__n")
    )
    touched = deltas.groupBy(*group_cols).agg(
        F.max(F.when(F.col("delta_cnt") < 0, F.col(value_col))).alias(
            "__max_neg"
        )
    )
    summ_r, cond = _ns(touched, summ, "__s_")
    # persisted: the classification frame (O(touched groups) rows) feeds
    # the recompute probe, the direct-path semi-joins, and the
    # touched-group union — one evaluation, not four
    cls = touched.join(summ_r, cond, "left").select(
        *[touched[c] for c in group_cols],
        "__max_neg",
        "__kth",
        F.coalesce(F.col("__n"), F.lit(0)).alias("__n2"),
    ).withColumnRenamed("__n2", "__n").persist()
    full = F.col("__n") >= k
    need_recompute = (
        F.col("__max_neg").isNotNull()
        & full
        & (F.col("__max_neg") >= F.col("__kth"))
    )
    recompute_groups = cls.where(need_recompute).select(*group_cols)
    direct_groups = cls.where(~need_recompute).select(
        *group_cols, "__kth", "__n"
    )

    # direct path: state rows of the group + the applicable deltas
    dg_r, dg_cond = _ns(state, direct_groups, "__d_")
    state_direct = state.join(
        bc(dg_r), dg_cond, "left_semi"
    ).select(*group_cols, value_col, F.col(cnt_col).alias("__c"))
    del_r, del_cond = _ns(deltas, direct_groups, "__g_")
    applicable = (
        deltas.join(bc(del_r), del_cond, "inner")
        .where(
            # state-complete groups take every delta; full groups only
            # positive deltas at-or-above the threshold (below-threshold
            # positives cannot enter a value-ranked top-k while no member
            # leaves; below-threshold negatives touch untracked values)
            (F.col("__n") < k)
            | (
                (F.col("delta_cnt") > 0)
                & (F.col(value_col) >= F.col("__kth"))
            )
        )
        .select(*group_cols, value_col, F.col("delta_cnt").alias("__c"))
    )
    direct_new = (
        state_direct.unionByName(applicable)
        .groupBy(*group_cols, value_col)
        .agg(F.sum("__c").cast("long").alias(cnt_col))
        .where(F.col(cnt_col) > 0)
    )

    parts = [direct_new]
    if not recompute_groups.isEmpty():
        rg_r, rg_cond = _ns(base, recompute_groups, "__rg_")
        parts.append(
            base.join(bc(rg_r), rg_cond, "left_semi")
            .where(F.col(value_col).isNotNull())
            .groupBy(*group_cols, value_col)
            .agg(F.count(F.lit(1)).cast("long").alias(cnt_col))
        )
    candidates = parts[0]
    for p in parts[1:]:
        candidates = candidates.unionByName(p)
    w = Window.partitionBy(*group_cols).orderBy(F.col(value_col).desc())
    new_state = (
        candidates.withColumn("__rnk", F.row_number().over(w))
        .where(F.col("__rnk") <= k)
        .drop("__rnk")
    )

    # DELETE markers: old state rows of touched groups absent from the new
    # state (evictions, zeroed members, vanished groups)
    tg = recompute_groups.unionByName(
        direct_groups.select(*group_cols)
    ).distinct()
    tg_r, tg_cond = _ns(state, tg, "__t_")
    old_touched = state.join(bc(tg_r), tg_cond, "left_semi")
    ns_r, ns_cond = _ns(
        old_touched, new_state, "__v_", cols=[*group_cols, value_col]
    )
    vanished = old_touched.join(ns_r, ns_cond, "left_anti").select(
        *group_cols,
        value_col,
        F.lit(None).cast("long").alias(cnt_col),
        F.lit("DELETE").alias("__op"),
    )
    # emit only rows whose (value, cnt) actually changed: an untouched
    # no-op batch (e.g. every delta below the threshold) then produces an
    # empty source and commits nothing
    os_r, os_cond = _ns(
        new_state, state, "__o_", cols=[*group_cols, value_col, cnt_col]
    )
    changed = new_state.join(os_r, os_cond, "left_anti")
    # persisted: the emptiness probe materializes the full plan once and
    # the MERGE's own source persist then reads the cache instead of
    # re-evaluating the direct+recompute+anti-join tree
    source = (
        changed.withColumn("__op", F.lit("UPSERT"))
        .unionByName(vanished)
        .persist()
    )
    if source.isEmpty():
        source.unpersist(blocking=False)
        cls.unpersist(blocking=False)
        deltas.unpersist(blocking=False)
        return
    cond = " AND ".join(
        f"source.`{c}` <=> target.`{c}`" for c in [*group_cols, value_col]
    )
    assignments = {cnt_col: f"source.`{cnt_col}`"}
    insert_assignments = {
        c: f"source.`{c}`" for c in [*group_cols, value_col]
    }
    insert_assignments.update(assignments)
    try:
        gold.merge(
            source,
            cond,
            [
                MergeClause("delete", "source.`__op` = 'DELETE'"),
                MergeClause(
                    "update", "source.`__op` = 'UPSERT'", assignments
                ),
                MergeClause(
                    "insert", "source.`__op` <> 'DELETE'", insert_assignments
                ),
            ],
        )
    finally:
        # deltas stays cached THROUGH the merge: source.isEmpty() only
        # materializes partitions up to the first non-empty one, so the
        # merge's full evaluation still reads the deltas cache. (A probe
        # failing mid-function can leave these cached until the frames
        # are GC'd — Spark's ContextCleaner then unpersists them.)
        source.unpersist(blocking=False)
        cls.unpersist(blocking=False)
        deltas.unpersist(blocking=False)
