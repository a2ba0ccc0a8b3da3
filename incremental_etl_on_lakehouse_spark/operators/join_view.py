"""Incrementally-maintained JOIN views: a Gold defined as an equi-join
CHAIN ``T0 ⋈ T1 ⋈ ... ⋈ Tn`` + aggregate, maintained from EVERY input's
change feed via delta-join algebra — the multi-table generalization of
the reference's Silver-CDF → Gold topology
(``notebooks/demo-notebook.py:428-435``), where the engine's
single-table :class:`~.cdc.IncrementalAggView` family stops.

For one refresh folding each table ``Ti`` from version ``vi0 → vi1``
(signed multiset delta ``Δi``), the telescoping identity in chain order

    Δ(T0 ⋈ ... ⋈ Tn)  =  Σ_i  (⋈_{j<i} Tj@NEW)  ⋈  Δi  ⋈  (⋈_{j>i} Tj@OLD)

covers every cross term exactly once (prefix tables enter at their new
versions, suffix tables at their old — time-travel reads the lake log
provides natively). Each term is O(changed rows) on the delta side:

- snapshot sides joined to a delta are FILE-PRUNED by the delta batch's
  min/max over the join-path keys they share (``LakeTable.to_df_pruned``
  — in an equi-chain every same-named projected column is equated, so a
  key-range restriction on the delta restricts every snapshot carrying
  that key). At 100 TB the table-side scans ride the batch's key range,
  not the tables;
- the joins themselves broadcast the micro-batch-sized delta-anchored
  side at runtime (AQE) against the snapshot scans.

The maintained aggregate state covers the SUBTRACTABLE family (SUM /
COUNT(*) / COUNT(col) / AVG — signed join deltas merge into one additive
gold table with the same NULL semantics as ``IncrementalAggView``) AND
the non-subtractable MIN/MAX, maintained with the same split as the
single-table ``incremental_minmax_update``: additions tighten the stored
extremes monotonically; removals that touch a stored extremum trigger a
recompute of exactly those groups from the touched groups' join at the
pinned new versions (group-owning tables pre-filtered by a broadcast
semi-join, so the recompute is O(rows joining into touched groups)).
Both families fold into ONE maintenance merge per refresh. Quantiles
over a join would need full per-group join-result state; they are
rejected at construction.

Refresh is EXACTLY-ONCE across crashes: the checkpoint records a
write-ahead INTENT (the version vector about to be applied) before the
merge, and the merge carries a ``txn.<app_id>`` guard at epoch+1 — a
replay after a crash between merge-commit and checkpoint-finalize
recomputes the SAME pinned range and the guard no-ops the double apply.

:class:`IncrementalJoinView` is the two-table special case (one edge,
``left ⋈ right``); :class:`IncrementalChainJoinView` is the general
form, e.g. ``fact ⋈ dim1 ON fact.k1 = dim1.k1 ⋈ dim2 ON fact.k2 =
dim2.k2`` as ``tables=[fact, dim1, dim2], edges=[[], ["k1"], ["k2"]]``.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from incremental_etl_on_lakehouse_spark.lake.table import (
    MERGE_PRUNE_MIN_FILES,
    LakeTable,
    MergeClause,
    _json_safe,
    maintenance_plan_scope,
    persist_scope,
)
from incremental_etl_on_lakehouse_spark.operators.cdc import (
    merge_agg_deltas,
    signed_agg_deltas,
    widen_sum_type,
)

__all__ = ["IncrementalChainJoinView", "IncrementalJoinView"]


class _VectorCheckpoint:
    """Durable cursor over all change feeds with a write-ahead INTENT:
    ``versions`` is the last APPLIED version vector, ``epoch`` the count
    of maintenance merges committed, ``intent`` (when present) the
    version vector a merge was about to apply. Reads the two-table
    ``{"left","right"}`` layout transparently (pre-chain format)."""

    def __init__(self, path: str, n: int):
        self.path = path
        self.n = n

    def read(self) -> dict:
        if not os.path.exists(self.path):
            return {"versions": [0] * self.n, "epoch": 0, "intent": None}
        with open(self.path) as f:
            d = json.load(f)
        if "left" in d:  # two-table back-compat
            d["versions"] = [int(d.pop("left")), int(d.pop("right"))]
        d.setdefault("epoch", 0)
        d.setdefault("intent", None)
        return d

    def write(self, d: dict) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(d, f)
        os.replace(tmp, self.path)


class IncrementalChainJoinView:
    """Materialized equi-join-chain + GROUP BY aggregate view maintained
    from every input's change feed. See the module docstring.

    Parameters
    ----------
    tables : CDF-enabled :class:`LakeTable` inputs, in chain order.
    edges : per-table equi-join key lists — ``edges[i]`` (i >= 1) joins
        ``tables[i]`` to the accumulated relation of ``tables[0..i-1]``
        by column-name equality (``edges[0]`` must be empty). NULL keys
        never match — batch SQL inner-join semantics.
    root : directory for the view's state (gold table + checkpoint).
    group_cols : output grouping columns of the joined relation; every
        non-edge-key column name must live on exactly one table.
    aggs : ``{output_name: (kind, column)}`` with kinds ``sum`` /
        ``count`` (``"*"`` or a column — non-null count) / ``avg`` /
        ``min`` / ``max``.
    publish : materialize the logical output into a CDF-enabled lake
        table (``self.published``), O(changed groups) per refresh — the
        stacking surface.
    where : SQL row predicate over the JOINED relation, applied before
        aggregation (the MV's WHERE clause).
    """

    def __init__(
        self,
        tables: list[LakeTable],
        edges: list[list[str]],
        root: str,
        group_cols: list[str],
        aggs: dict[str, tuple[str, str]],
        publish: bool = False,
        where: str | None = None,
        how: str = "inner",
    ):
        if len(tables) < 2:
            raise ValueError("a join view needs at least two tables")
        if how not in ("inner", "left"):
            raise ValueError(f"unsupported join type: {how!r} (inner/left)")
        if how == "left" and len(tables) != 2:
            raise ValueError(
                "LEFT OUTER join views support exactly two tables — chain "
                "the outer join last over an inner-chain view's published "
                "table"
            )
        self.how = how
        if len(edges) != len(tables) or edges[0]:
            raise ValueError(
                "edges must align with tables (edges[0] empty; edges[i] "
                "joins tables[i] to the accumulated prefix)"
            )
        for i, t in enumerate(tables):
            if not t.cdf_enabled():
                side = ("left", "right")[i] if len(tables) == 2 else f"#{i}"
                raise ValueError(
                    f"IncrementalJoinView needs enableChangeDataFeed on the "
                    f"{side} input"
                )
        self.tables = list(tables)
        self.edges = [list(e) for e in edges]
        self.root = root
        self.group_cols = list(group_cols)
        self.aggs = dict(aggs)
        # row predicate over the JOINED relation (the MV's WHERE):
        # σ_pred(Δ(A⋈B)) = Δ(σ_pred(A⋈B)) for a stateless filter, so it
        # applies identically to every delta term and to the recompute
        # base; Catalyst pushes each conjunct below the join on its own
        self.where = where

        schemas = [
            {f.name: f.dataType for f in t.schema().fields} for t in tables
        ]
        edge_keys = {k for e in self.edges for k in e}
        self._sum_cols: dict[str, str] = {}
        self._avg_specs: dict[str, str] = {}
        self._mm_specs: dict[str, tuple[str, str]] = {}  # name -> (kind, col)
        self._nn_counts: dict[str, str] = {}  # name -> col for count(col)
        used_cols = list(self.group_cols)
        if self.where:
            # every identifier in the predicate that names a table column
            # must ride the projections; non-column identifiers (function
            # names, literals) fall through the set intersection
            idents = set(
                re.findall(r"\b[A-Za-z_]\w*\b", self.where)
            )
            used_cols += sorted(
                idents & {c for sc in schemas for c in sc}
            )
        for name, (kind, col) in self.aggs.items():
            if kind == "sum":
                self._sum_cols[name] = f"__sum_{col}"
                used_cols.append(col)
            elif kind == "avg":
                self._avg_specs[name] = f"__sum_{col}"
                used_cols.append(col)
            elif kind == "count":
                if col != "*":
                    self._nn_counts[name] = col
                    used_cols.append(col)
            elif kind in ("min", "max"):
                self._mm_specs[name] = (kind, col)
                used_cols.append(col)
            else:
                raise ValueError(
                    f"unsupported join-view aggregate kind: {kind!r} "
                    "(sum/count/count(col)/avg/min/max — quantiles over a "
                    "join need full per-group join-result state)"
                )
        if how == "left" and self._mm_specs:
            raise ValueError(
                "MIN/MAX in a LEFT OUTER join view is not supported (the "
                "touched-group recompute is not outer-aware) — use the "
                "subtractable family sum/count/count(col)/avg"
            )
        # every needed column resolves: edge keys may live on many tables
        # (the chain equates them); anything else on exactly one
        needed = set(used_cols) | edge_keys
        joined_types: dict[str, object] = {}
        for c in needed:
            owners = [i for i, sc in enumerate(schemas) if c in sc]
            if not owners:
                raise ValueError(f"unknown column {c!r}")
            if len(owners) > 1 and c not in edge_keys:
                raise ValueError(f"ambiguous column {c!r}: on both sides")
            joined_types[c] = schemas[owners[0]][c]
        for i in range(1, len(tables)):
            for k in self.edges[i]:
                if k not in schemas[i]:
                    raise ValueError(
                        f"join key {k!r} must exist on both sides of "
                        f"edge {i}"
                    )
            if not self.edges[i]:
                raise ValueError(f"edge {i} needs at least one join key")
        # per-table projection: its edge keys + needed columns it is the
        # FIRST provider of (later same-named non-edge columns are the
        # ambiguity error above; later edge-key copies merge via on=)
        provided: set[str] = set()
        self._projs: list[list[str]] = []
        for i, sc in enumerate(schemas):
            own = sorted(
                set(self.edges[i])
                | {c for c in needed if c in sc and c not in provided}
            )
            # chain validity: this table's edge keys must already be
            # provided by the prefix
            missing = [k for k in self.edges[i] if k not in provided]
            if i > 0 and missing:
                raise ValueError(
                    f"join key {missing[0]!r} must exist on both sides of "
                    f"edge {i} (not provided by tables 0..{i - 1})"
                )
            self._projs.append(own)
            provided |= set(own)
        self._joined_types = joined_types
        # LEFT OUTER: the right side's non-edge projection columns are the
        # ones NULL-extended on unmatched left rows (join keys keep the
        # left row's values, exactly as in batch LEFT JOIN output)
        self._right_only = [
            c for c in self._projs[-1] if c not in set(self.edges[-1])
        ]

        spark = tables[0].spark
        fields = [StructField(c, joined_types[c]) for c in self.group_cols]
        fields.append(StructField("__n", LongType()))
        self._hidden_sums = sorted(
            set(self._sum_cols.values()) | set(self._avg_specs.values())
        )
        for h in self._hidden_sums:
            src = h[len("__sum_"):]
            fields.append(StructField(h, widen_sum_type(joined_types[src])))
            fields.append(StructField(f"__nn_{src}", LongType()))
        # count(col) needs the signed non-null count even when no sum/avg
        # maintains it
        sum_srcs = {h[len("__sum_"):] for h in self._hidden_sums}
        for c in sorted(set(self._nn_counts.values()) - sum_srcs):
            fields.append(StructField(f"__nn_{c}", LongType()))
        # MIN/MAX state: the current per-group extremes of the JOINED
        # relation (maintained monotonically on inserts, recomputed from
        # the touched groups' join on extremum-touching removals)
        self._mm_cols = sorted({c for _, c in self._mm_specs.values()})
        self._mm_types = {c: joined_types[c] for c in self._mm_cols}
        for c in self._mm_cols:
            fields.append(StructField(f"__min_{c}", joined_types[c]))
            fields.append(StructField(f"__max_{c}", joined_types[c]))
        self.add_table = LakeTable.create(
            spark,
            os.path.join(root, "additive"),
            StructType(fields),
            if_not_exists=True,
        )
        self._ckpt = _VectorCheckpoint(
            os.path.join(root, "checkpoint.json"), len(tables)
        )
        self._txn_app_id = "incremental-join-view"
        # published: the view's LOGICAL output materialized into a
        # CDF-enabled lake table, maintained O(changed groups) per
        # refresh — the stacking surface: any downstream change-feed
        # maintainer (IncrementalAggView, another join view, the
        # medallion gold stage) can consume the view AS A SOURCE,
        # giving multi-hop Gold -> Platinum topologies for free.
        self.published: LakeTable | None = None
        if publish:
            out_fields = [
                StructField(c, joined_types[c]) for c in self.group_cols
            ]
            for name, (kind, col) in self.aggs.items():
                if kind == "sum":
                    dt = widen_sum_type(joined_types[col])
                elif kind == "count":
                    dt = LongType()
                elif kind == "avg":
                    dt = DoubleType()
                else:  # min / max
                    dt = joined_types[col]
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

    # ------------------------------------------------------------ internals

    def _signed(self, changes: DataFrame, i: int) -> DataFrame:
        """CDF rows of table i -> narrow signed rows: the table's chain
        projection + ``__s`` (±1). Narrowing BEFORE any join keeps the
        exchanges at delta width, not table width."""
        sign = F.when(
            F.col("_change_type").isin("update_preimage", "delete"),
            F.lit(-1),
        ).when(
            F.col("_change_type").isin("update_postimage", "insert"), F.lit(1)
        )
        return (
            changes.withColumn("__s", sign)
            .where(F.col("__s").isNotNull())
            .select(*self._projs[i], "__s")
        )

    def _snapshot(
        self,
        i: int,
        version: int,
        prune_from: DataFrame | None = None,
        prune_cols: list[str] | None = None,
    ) -> DataFrame:
        """Table i's snapshot at ``version``, projected to its chain
        columns. With ``prune_from`` (a delta batch) the read is
        file-pruned to the batch's min/max over the shared join-path
        keys (``prune_cols``) that carry file stats."""
        table = self.tables[i]
        cols = self._projs[i]
        if prune_from is not None and prune_cols:
            stats = set(table.stats_columns())
            keys = [k for k in prune_cols if k in stats]
            # same fixed-cost rule as the merge path's
            # MERGE_PRUNE_MIN_FILES: pruning pays a dedicated bounds job
            # over the delta to save snapshot-file reads — with only a
            # handful of active files it can't pay for itself, so read
            # them outright; at scale the file count crosses the
            # threshold immediately and pruning resumes
            if keys and len(
                table._state(version)["active"]
            ) <= MERGE_PRUNE_MIN_FILES:
                keys = []
            if keys:
                row = prune_from.agg(
                    *[
                        f
                        for k in keys
                        for f in (
                            F.min(k).alias(f"__mn_{k}"),
                            F.max(k).alias(f"__mx_{k}"),
                        )
                    ]
                ).collect()[0]
                ranges = {
                    k: (
                        _json_safe(row[f"__mn_{k}"]),
                        _json_safe(row[f"__mx_{k}"]),
                    )
                    for k in keys
                    if row[f"__mn_{k}"] is not None
                }
                if ranges:
                    return table.to_df_pruned(ranges, version=version).select(
                        *cols
                    )
        return table.to_df(version=version).select(*cols)

    def _has_changes(self, table: LakeTable, lo: int, hi: int) -> bool:
        if hi < lo:
            return False
        # log-retention guard: if cleanup removed commits at/below lo,
        # changes_in_range would scan only the survivors and read a
        # cleaned-away range as "provably empty" — the view would advance
        # its cursor past changes it never folded. Mirror read_changes'
        # incomplete-feed error instead of silently diverging.
        earliest = table._commits()[0].version
        if earliest > 0 and lo < earliest:
            raise ValueError(
                f"join-view feed needs changes from v{lo} but log "
                f"retention cleanup kept v{earliest}+ only — the view "
                "state is unrecoverable incrementally; rebuild it"
            )
        return table.changes_in_range(lo, hi) is not False

    def _term(self, i: int, delta: DataFrame, v_new: list[int],
              v_old: list[int]) -> DataFrame:
        """One telescoping term: prefix tables at NEW versions, Δi,
        suffix tables at OLD versions, joined in chain order. Snapshots
        prune on the keys they share with the delta's projection (the
        equi-chain equates every same-named projected column)."""
        dcols = set(self._projs[i])
        rel: DataFrame | None = None
        for j in range(len(self.tables)):
            if j == i:
                part = delta
            else:
                version = v_new[j] if j < i else v_old[j]
                shared = sorted(dcols & set(self._projs[j]))
                part = self._snapshot(
                    j, version, prune_from=delta, prune_cols=shared
                )
            rel = part if rel is None else rel.join(
                part, on=self.edges[j], how="inner"
            )
        return rel.where(self.where) if self.where else rel

    def _ns_join(
        self, left: DataFrame, right: DataFrame, cols: list[str], how: str
    ) -> tuple[DataFrame, DataFrame]:
        """Null-safe join of two per-group frames on ``cols`` (a NULL group
        key is a legal GROUP BY group; plain ``=`` would never match its
        state). Returns (joined, renamed_right) so the caller can address
        the right side's columns unambiguously."""
        ren = {c: f"__r_{c}" for c in cols}
        r = right.withColumnsRenamed(ren)
        cond = None
        for c in cols:
            e = left[c].eqNullSafe(r[f"__r_{c}"])
            cond = e if cond is None else cond & e
        return left.join(r, cond, how), r

    def _groups_join_snapshot(
        self, groups: DataFrame, v_new: list[int]
    ) -> DataFrame:
        """The chain join at the NEW version vector, restricted to the
        given groups: every table that provides a group column is
        pre-filtered with a null-safe BROADCAST semi-join before the
        chain joins, so the recompute scans only rows that can reach the
        touched groups (with the group column in ``statsColumns`` /
        partitioning the semi-joined scan also file-prunes). The other
        tables enter through the inner join, which bounds them by the
        filtered side — O(rows joining into touched groups), never
        O(table)."""
        rel: DataFrame | None = None
        for j in range(len(self.tables)):
            part = self._snapshot(j, v_new[j])
            own = [c for c in self.group_cols if c in self._projs[j]]
            if own:
                ren = groups.select(
                    *[F.col(c).alias(f"__g_{c}") for c in own]
                ).distinct()
                cond = None
                for c in own:
                    e = part[c].eqNullSafe(ren[f"__g_{c}"])
                    cond = e if cond is None else cond & e
                if not getattr(self, "_scope_micro", False):
                    ren = F.broadcast(ren)
                part = part.join(ren, cond, "left_semi")
            rel = part if rel is None else rel.join(
                part, on=self.edges[j], how="inner"
            )
        return rel.where(self.where) if self.where else rel

    def _outer_terms(
        self,
        deltas: list[DataFrame | None],
        v_new: list[int],
        v_old: list[int],
    ) -> list[DataFrame]:
        """The LEFT-OUTER extension terms — the delta of the null-extended
        unmatched part ``A ▷ B``, alongside the inner terms' delta of
        ``A ⋈ B``:

            Δ(A ▷ B) = ΔA ▷ B@old  ∪  σ_crossing(A@new)

        where *crossing* keys are those whose B match count crossed zero
        between B@old and B@new (0 -> matched: the key's A rows LEAVE the
        unmatched set, sign -1; matched -> 0: they ENTER it, sign +1).
        Match counts are computed from the PINNED old/new B snapshots
        restricted to the batch's keys — no maintained count state, so a
        crash-replay recomputes byte-identical terms and the maintenance
        merge's txn guard stays the only idempotence mechanism. NULL join
        keys never match (anti-join keeps them: always unmatched), and
        the stats-pruned snapshot reads keep every scan O(batch key
        range), never O(table)."""
        keys = self.edges[1]

        def extend(df: DataFrame) -> DataFrame:
            ext = df.select(
                *self._projs[0],
                "__s",
                *[
                    F.lit(None)
                    .cast(self._joined_types[c])
                    .alias(c)
                    for c in self._right_only
                ],
            )
            return ext.where(self.where) if self.where else ext

        out: list[DataFrame] = []
        d0, d1 = deltas
        if d0 is not None:
            bkeys_old = (
                self._snapshot(1, v_old[1], prune_from=d0, prune_cols=keys)
                .select(*keys)
                .distinct()
            )
            out.append(
                extend(d0.join(bkeys_old, on=keys, how="left_anti"))
            )
        if d1 is not None:
            nn = None
            for k in keys:
                e = F.col(k).isNotNull()
                nn = e if nn is None else nn & e
            dkeys = d1.select(*keys).where(nn).distinct()

            def cnts(version: int, alias: str) -> DataFrame:
                b = self._snapshot(
                    1, version, prune_from=dkeys, prune_cols=keys
                ).select(*keys)
                return (
                    b.join(dkeys, on=keys, how="left_semi")
                    .groupBy(*keys)
                    .agg(F.count("*").alias(alias))
                )

            c_old = F.coalesce(F.col("__c_old"), F.lit(0))
            c_new = F.coalesce(F.col("__c_new"), F.lit(0))
            crossing = (
                dkeys.join(cnts(v_old[1], "__c_old"), on=keys, how="left")
                .join(cnts(v_new[1], "__c_new"), on=keys, how="left")
                .select(
                    *keys,
                    F.when((c_old == 0) & (c_new > 0), F.lit(-1))
                    .when((c_old > 0) & (c_new == 0), F.lit(1))
                    .alias("__s"),
                )
                .where(F.col("__s").isNotNull())
            )
            a_new = self._snapshot(
                0, v_new[0], prune_from=crossing, prune_cols=keys
            )
            out.append(extend(a_new.join(crossing, on=keys, how="inner")))
        return out

    def _minmax_source(
        self, joined: DataFrame, v_new: list[int], persist
    ) -> DataFrame:
        """Per-group MIN/MAX updates from the signed join delta, split the
        same way as the single-table ``incremental_minmax_update``:

        - additions tighten extremes monotonically (least/greatest with
          the stored state — never a scan);
        - removals recompute ONLY the groups whose removed values touch
          the stored extremes, from the touched groups' join at the
          pinned NEW versions (``_groups_join_snapshot``). Removals
          strictly inside the open interval are provably no-ops.

        Returns group cols + ``__mm_set`` marker + the new
        ``__min_*``/``__max_*`` values for every group whose extremes
        change."""
        g = self.group_cols
        add_aggs, rem_aggs = [], []
        for c in self._mm_cols:
            add_aggs += [
                F.min(c).alias(f"__inc_min_{c}"),
                F.max(c).alias(f"__inc_max_{c}"),
            ]
            rem_aggs += [
                F.min(c).alias(f"__dec_min_{c}"),
                F.max(c).alias(f"__dec_max_{c}"),
            ]
        adds = joined.where(F.col("__s") == 1).groupBy(*g).agg(*add_aggs)
        rems = joined.where(F.col("__s") == -1).groupBy(*g).agg(*rem_aggs)
        ar_j, rems_r = self._ns_join(adds, rems, g, "full_outer")
        ar = ar_j.select(
            *[
                F.coalesce(adds[c], rems_r[f"__r_{c}"]).alias(c)
                for c in g
            ],
            *[ar_j[c] for c in ar_j.columns if c.startswith("__inc_")],
            *[ar_j[c] for c in ar_j.columns if c.startswith("__dec_")],
        )
        cur = self.add_table.to_df().select(
            *g,
            *[
                f
                for c in self._mm_cols
                for f in (
                    F.col(f"__min_{c}").alias(f"__cur_min_{c}"),
                    F.col(f"__max_{c}").alias(f"__cur_max_{c}"),
                )
            ],
            F.lit(1).alias("__in_state"),
        )
        st_j, cur_r = self._ns_join(ar, cur, g, "left")
        st = persist(st_j.drop(*[f"__r_{c}" for c in g]))
        touch = F.lit(False)
        grow = F.lit(False)
        for c in self._mm_cols:
            missing = (
                F.col("__in_state").isNull()
                | F.col(f"__cur_min_{c}").isNull()
            )
            touch = touch | (
                F.col(f"__dec_min_{c}").isNotNull()
                & (
                    missing
                    | (F.col(f"__dec_min_{c}") <= F.col(f"__cur_min_{c}"))
                    | (F.col(f"__dec_max_{c}") >= F.col(f"__cur_max_{c}"))
                )
            )
            grow = grow | (
                F.col(f"__inc_min_{c}").isNotNull()
                & (
                    missing
                    | (F.col(f"__inc_min_{c}") < F.col(f"__cur_min_{c}"))
                    | (F.col(f"__inc_max_{c}") > F.col(f"__cur_max_{c}"))
                )
            )
        touch = F.coalesce(touch, F.lit(False))
        grow = F.coalesce(grow, F.lit(False))
        recompute_groups = st.where(touch).select(*g)
        mono = st.where(~touch & grow).select(
            *g,
            *[
                f
                for c in self._mm_cols
                for f in (
                    F.least(f"__inc_min_{c}", f"__cur_min_{c}").alias(
                        f"__min_{c}"
                    ),
                    F.greatest(f"__inc_max_{c}", f"__cur_max_{c}").alias(
                        f"__max_{c}"
                    ),
                )
            ],
        )
        # gate the join-recompute branch on an actual extremum-touching
        # removal: the probe runs over micro-batch-scale aggregates only
        if recompute_groups.isEmpty():
            source = mono
        else:
            base = self._groups_join_snapshot(recompute_groups, v_new)
            recomputed = base.groupBy(*g).agg(
                *[
                    f
                    for c in self._mm_cols
                    for f in (
                        F.min(c).alias(f"__min_{c}"),
                        F.max(c).alias(f"__max_{c}"),
                    )
                ]
            )
            van_j, _ = self._ns_join(
                recompute_groups, recomputed, g, "left_anti"
            )
            vanished = van_j.select(
                *g,
                *[
                    f
                    for c in self._mm_cols
                    for f in (
                        F.lit(None)
                        .cast(self._mm_types[c])
                        .alias(f"__min_{c}"),
                        F.lit(None)
                        .cast(self._mm_types[c])
                        .alias(f"__max_{c}"),
                    )
                ],
            )
            source = recomputed.unionByName(vanished).unionByName(mono)
        return source.withColumn("__mm_set", F.lit(1))

    def _merge_maintenance(
        self,
        agg_deltas: DataFrame,
        delta_cols: list[str],
        mm_source: DataFrame,
        txn_version: int,
    ) -> None:
        """ONE maintenance merge combining the additive deltas with the
        MIN/MAX updates (null-safe FULL OUTER per group: a batch can move
        a group's extremes while its additive deltas cancel exactly —
        delete 10 / insert 4 / delete 2 / insert 8 nets zero rows and
        zero sum but moves the min). A single merge keeps the refresh one
        commit and the write-ahead-intent + txn-guard exactly-once story
        unchanged."""
        g = self.group_cols
        src_j, mm_r = self._ns_join(agg_deltas, mm_source, g, "full_outer")
        src = src_j.select(
            *[
                F.coalesce(agg_deltas[c], mm_r[f"__r_{c}"]).alias(c)
                for c in g
            ],
            *[agg_deltas[f"d_{c}"] for c in delta_cols],
            *[
                mm_r[f"__{k}_{c}"]
                for c in self._mm_cols
                for k in ("min", "max")
            ],
            mm_r["__mm_set"],
        )
        cond = " AND ".join(f"source.`{k}` <=> target.`{k}`" for k in g)
        assignments = {
            c: f"target.`{c}` + coalesce(source.`d_{c}`, 0)"
            for c in delta_cols
        }
        insert_assignments = {k: f"source.`{k}`" for k in g}
        insert_assignments.update(
            {c: f"coalesce(source.`d_{c}`, 0)" for c in delta_cols}
        )
        for c in self._mm_cols:
            for k in ("min", "max"):
                assignments[f"__{k}_{c}"] = (
                    f"CASE WHEN source.`__mm_set` = 1 THEN "
                    f"source.`__{k}_{c}` ELSE target.`__{k}_{c}` END"
                )
                insert_assignments[f"__{k}_{c}"] = f"source.`__{k}_{c}`"
        self.add_table.merge(
            src,
            cond,
            [
                MergeClause("update", None, assignments),
                MergeClause("insert", None, insert_assignments),
            ],
            txn_app_id=self._txn_app_id,
            txn_version=txn_version,
        )

    # ------------------------------------------------------------ interface

    def refresh(self) -> int:
        """Fold all unprocessed commits of EVERY feed through one
        delta-join maintenance merge; returns the number of feeds that
        had changes. Signed deltas are additive across commits, so each
        feed's whole backlog folds into its one telescoping term
        (availableNow-style catch-up coalescing)."""
        ck = self._ckpt.read()
        v_old = list(ck["versions"])
        if ck["intent"] is not None:
            # crash recovery: a merge for this exact range may or may not
            # have committed; re-run it (the txn guard decides) with the
            # PINNED bounds, never the current head
            v_new = list(ck["intent"])
        else:
            v_new = [t.version() for t in self.tables]
        raw: list[DataFrame | None] = []
        applied = 0
        for i, t in enumerate(self.tables):
            if self._has_changes(t, v_old[i] + 1, v_new[i]):
                applied += 1
                raw.append(t.read_changes(v_old[i] + 1, v_new[i]))
            else:
                raw.append(None)
        if not any(d is not None for d in raw) and self.how != "left":
            self._ckpt.write(
                {"versions": v_new, "epoch": ck["epoch"], "intent": None}
            )
            return 0
        # maintenance micro scope for the WHOLE refresh: the delta
        # persists, the snapshot-pruning bounds jobs, the min/max probes
        # and the maintenance/publish merges below each pay per-Exchange
        # AQE query-stage jobs otherwise (persist() compiles its cached
        # plan at CALL time) — pure fixed cost when every input (change
        # feeds + pinned snapshots) is provably micro; big feeds keep AQE
        # because the byte gate won't fire.
        gate = [d for d in raw if d is not None] + [
            t.to_df(version=v_new[i]) for i, t in enumerate(self.tables)
        ]
        with maintenance_plan_scope(
            self.tables[0].spark, *gate
        ) as micro, persist_scope() as persist:
            # scope-aware broadcast hints (see _groups_join_snapshot): in
            # micro scope a hint forces a dedicated broadcast-build job
            # the 1-task joins don't need
            self._scope_micro = micro
            try:
                return self._refresh_locked(
                    ck, v_old, v_new, raw, applied, persist
                )
            finally:
                self._scope_micro = False

    def _refresh_locked(
        self,
        ck: dict,
        v_old: list[int],
        v_new: list[int],
        raw: list[DataFrame | None],
        applied: int,
        persist,
    ) -> int:
        deltas: list[DataFrame | None] = [
            # persisted: each delta feeds the snapshot-pruning bounds
            # jobs of its term AND the maintenance merge
            persist(self._signed(d, i)) if d is not None else None
            for i, d in enumerate(raw)
        ]
        terms = [
            self._term(i, d, v_new, v_old)
            for i, d in enumerate(deltas)
            if d is not None
        ]
        if self.how == "left":
            terms += self._outer_terms(deltas, v_new, v_old)
        if not terms:
            self._ckpt.write(
                {"versions": v_new, "epoch": ck["epoch"], "intent": None}
            )
            return 0
        # write-ahead intent: pin the range BEFORE the merge so a crash
        # replays exactly this batch
        self._ckpt.write(
            {"versions": v_old, "epoch": ck["epoch"], "intent": v_new}
        )
        joined = terms[0]
        for t in terms[1:]:
            joined = joined.unionByName(t)
        if self._mm_cols or self.published is not None:
            # the signed join delta feeds the additive aggregation, the
            # min/max adds/rems probes, and the publish group set —
            # evaluate it once
            joined = persist(joined)

        sum_srcs = [h[len("__sum_"):] for h in self._hidden_sums]
        nn_srcs = sorted(set(sum_srcs) | set(self._nn_counts.values()))
        agg_deltas, delta_cols = signed_agg_deltas(
            joined, self.group_cols, sum_cols=sum_srcs, nn_cols=nn_srcs
        )
        if self._mm_cols:
            mm_source = self._minmax_source(joined, v_new, persist)
            self._merge_maintenance(
                agg_deltas, delta_cols, mm_source, ck["epoch"] + 1
            )
        else:
            merge_agg_deltas(
                self.add_table,
                agg_deltas,
                group_cols=self.group_cols,
                agg_cols={c: f"d_{c}" for c in delta_cols},
                txn_app_id=self._txn_app_id,
                txn_version=ck["epoch"] + 1,
            )
        if self.published is not None:
            # derived from the pinned CDF ranges, so deterministic under
            # crash-replay even though the state merge above already
            # committed; the publish merge's own txn guard no-ops a
            # replayed double apply
            changed = joined.select(*self.group_cols).distinct()
            self._publish(changed, ck["epoch"] + 1)
        self._ckpt.write(
            {"versions": v_new, "epoch": ck["epoch"] + 1, "intent": None}
        )
        return applied

    def to_df(self) -> DataFrame:
        """Assemble the current view: groups whose joined row count
        reached zero disappear, SUM of an all-NULL group reads NULL, AVG
        divides by the non-null count — batch INNER JOIN + GROUP BY
        semantics exactly."""
        out = self.add_table.to_df().where(F.col("__n") > 0)
        return out.select(*self._logical_exprs())

    def _logical_exprs(self) -> list:
        """The view's output columns as expressions over a state row —
        shared by ``to_df`` and the publish merge."""
        sel = [F.col(c) for c in self.group_cols]
        for name, (kind, col) in self.aggs.items():
            if kind == "sum":
                sel.append(
                    F.when(
                        F.col(f"__nn_{col}") > 0, F.col(self._sum_cols[name])
                    ).alias(name)
                )
            elif kind == "count" and col == "*":
                sel.append(F.col("__n").alias(name))
            elif kind == "count":
                sel.append(F.col(f"__nn_{col}").alias(name))
            elif kind in ("min", "max"):
                sel.append(F.col(f"__{kind}_{col}").alias(name))
            else:  # avg
                nn = f"__nn_{col}"
                sel.append(
                    F.when(
                        F.col(nn) > 0,
                        F.col(self._avg_specs[name]).cast("double")
                        / F.col(nn),
                    ).alias(name)
                )
        return sel

    def _publish(self, changed: DataFrame, txn_version: int) -> None:
        """Merge the changed groups' LOGICAL rows into ``published``.

        O(changed groups): the state read is a semi-join on the batch's
        group set (AQE broadcasts it when small; at large group
        cardinality it stays a shuffle semi-join — never a full publish
        rewrite). No-op groups fire zero clauses (the update condition
        null-safe-compares every output column), a group whose row count
        reached zero is DELETEd from the published table, and the merge
        carries its own txn guard so a crash-replay never double-applies.
        """
        g = self.group_cols
        state = self.add_table.to_df()
        st_j, _ = self._ns_join(changed, state, g, "inner")
        src = st_j.drop(*[f"__r_{c}" for c in g]).select(
            *self._logical_exprs(), F.col("__n")
        )
        logical = [*g, *self.aggs]
        cond = " AND ".join(f"source.`{k}` <=> target.`{k}`" for k in g)
        set_all = {c: f"source.`{c}`" for c in logical}
        nochange = " AND ".join(
            f"source.`{c}` <=> target.`{c}`" for c in logical
        )
        self.published.merge(
            src,
            cond,
            [
                MergeClause("delete", "source.`__n` <= 0"),
                MergeClause(
                    "update",
                    f"source.`__n` > 0 AND NOT ({nochange})",
                    set_all,
                ),
                MergeClause("insert", "source.`__n` > 0", set_all),
            ],
            txn_app_id=self._txn_app_id + ":publish",
            txn_version=txn_version,
        )


class IncrementalJoinView(IncrementalChainJoinView):
    """The two-table special case: ``left ⋈ right`` on shared key names
    — one chain edge. Kept as the stable named surface (the
    ``view_incremental_join`` driver key, the matview builder)."""

    def __init__(
        self,
        left: LakeTable,
        right: LakeTable,
        root: str,
        join_keys: list[str],
        group_cols: list[str],
        aggs: dict[str, tuple[str, str]],
        publish: bool = False,
        where: str | None = None,
        how: str = "inner",
    ):
        for k in join_keys:
            if k not in left.schema().fieldNames():
                raise ValueError(
                    f"join key {k!r} must exist on both sides"
                )
        super().__init__(
            [left, right],
            [[], list(join_keys)],
            root,
            group_cols,
            aggs,
            publish=publish,
            where=where,
            how=how,
        )
        self.left, self.right = left, right
        self.join_keys = list(join_keys)
