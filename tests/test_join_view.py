"""IncrementalJoinView: a Gold defined as ``left ⋈ right`` + aggregate,
maintained from BOTH change feeds via delta-join algebra
(Δ(A⋈B) = ΔA⋈B@old ∪ A@new⋈ΔB) — the multi-table generalization of the
reference's Silver-CDF → Gold topology (demo-notebook.py:428-435).

Every behavioral test compares the maintained view against a full batch
recompute of the same join+aggregate after EVERY refresh."""

import os
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from incremental_etl_on_lakehouse_spark.lake import LakeTable
from incremental_etl_on_lakehouse_spark.lake.table import MergeClause
from incremental_etl_on_lakehouse_spark.operators.join_view import (
    IncrementalJoinView,
)

FACT_SCHEMA = StructType(
    [
        StructField("k", LongType()),
        StructField("v", LongType()),
        StructField("rid", LongType()),
    ]
)
DIM_SCHEMA = StructType(
    [
        StructField("k", LongType()),
        StructField("seg", StringType()),
    ]
)
CDF = {"enableChangeDataFeed": "true", "statsColumns": "k"}


def _mk(spark, tmp_path, name, schema):
    return LakeTable.create(
        spark, str(tmp_path / name), schema, properties=CDF
    )


def _view(spark, tmp_path, left, right):
    return IncrementalJoinView(
        left,
        right,
        str(tmp_path / "view"),
        join_keys=["k"],
        group_cols=["seg"],
        aggs={
            "total": ("sum", "v"),
            "n": ("count", "*"),
            "mean": ("avg", "v"),
            # round-12 additions: the non-subtractable extremes (touched-
            # group recompute path) + the signed non-null count
            "mn": ("min", "v"),
            "mx": ("max", "v"),
            "nv": ("count", "v"),
        },
    )


_TUPLE = ("total", "n", "mean", "mn", "mx", "nv")


def _batch_expected(left, right):
    joined = left.to_df().join(right.to_df(), on=["k"], how="inner")
    rows = (
        joined.groupBy("seg")
        .agg(
            F.sum("v").alias("total"),
            F.count("*").alias("n"),
            F.avg("v").alias("mean"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
            F.count("v").alias("nv"),
        )
        .collect()
    )
    return {r["seg"]: tuple(r[c] for c in _TUPLE) for r in rows}


def _view_state(view):
    return {
        r["seg"]: tuple(r[c] for c in _TUPLE)
        for r in view.to_df().collect()
    }


def _assert_converged(view, left, right, ctx=""):
    got, want = _view_state(view), _batch_expected(left, right)
    assert got == want, (ctx, got, want)


def test_join_view_matches_batch_through_interleaved_feeds(spark, tmp_path):
    """Appends, deletes, and upserts land alternately on both inputs;
    after every refresh the view equals the batch join+aggregate —
    including the refresh where BOTH feeds advanced (the ΔA⋈ΔB cross
    term rides the A@new⋈ΔB side)."""
    left = _mk(spark, tmp_path, "fact", FACT_SCHEMA)
    right = _mk(spark, tmp_path, "dim", DIM_SCHEMA)
    view = _view(spark, tmp_path, left, right)

    # facts first: no dim rows yet -> empty view
    left.append(spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2), (2, 5, 3), (3, 7, 4)], FACT_SCHEMA))
    assert view.refresh() == 1
    _assert_converged(view, left, right, "facts only")
    assert _view_state(view) == {}

    # dims arrive: A@new ⋈ ΔB does all the work
    right.append(spark.createDataFrame(
        [(1, "a"), (2, "b"), (9, "zzz")], DIM_SCHEMA))
    view.refresh()
    _assert_converged(view, left, right, "dims landed")
    assert _view_state(view)["a"] == (30, 2, 15.0, 10, 20, 2)

    # more facts: ΔA ⋈ B@old
    left.append(spark.createDataFrame([(2, 100, 5), (9, 1, 6)], FACT_SCHEMA))
    view.refresh()
    _assert_converged(view, left, right, "facts batch 2")

    # BOTH feeds advance before one refresh: cross term exercised
    left.append(spark.createDataFrame([(3, 50, 7)], FACT_SCHEMA))
    right.append(spark.createDataFrame([(3, "a")], DIM_SCHEMA))
    assert view.refresh() == 2
    _assert_converged(view, left, right, "cross term")

    # dim UPDATE moves a key between groups (preimage/postimage signs)
    right.merge(
        spark.createDataFrame([(2, "a")], DIM_SCHEMA),
        "source.k = target.k",
        [MergeClause("update", None, "*"), MergeClause("insert", None, "*")],
    )
    view.refresh()
    _assert_converged(view, left, right, "dim group move")

    # fact DELETE drains a group's rows
    left.delete("k = 1")
    view.refresh()
    _assert_converged(view, left, right, "fact delete")
    assert "b" not in _view_state(view)  # k=2 moved to 'a'; no b rows left

    # no-op refresh
    assert view.refresh() == 0
    _assert_converged(view, left, right, "noop")


def test_join_view_group_disappears_and_returns(spark, tmp_path):
    left = _mk(spark, tmp_path, "fact", FACT_SCHEMA)
    right = _mk(spark, tmp_path, "dim", DIM_SCHEMA)
    view = _view(spark, tmp_path, left, right)
    left.append(spark.createDataFrame([(1, 10, 1)], FACT_SCHEMA))
    right.append(spark.createDataFrame([(1, "a")], DIM_SCHEMA))
    view.refresh()
    assert set(_view_state(view)) == {"a"}
    left.delete("rid = 1")
    view.refresh()
    assert _view_state(view) == {}
    left.append(spark.createDataFrame([(1, 99, 2)], FACT_SCHEMA))
    view.refresh()
    assert _view_state(view) == {"a": (99, 1, 99.0, 99, 99, 1)}


def test_join_view_null_semantics(spark, tmp_path):
    """NULL join keys never match (inner-join semantics); an all-NULL
    summed group reads SUM/AVG NULL while COUNT(*) counts rows; a NULL
    group key is a first-class group."""
    left = _mk(spark, tmp_path, "fact", FACT_SCHEMA)
    right = _mk(spark, tmp_path, "dim", DIM_SCHEMA)
    view = _view(spark, tmp_path, left, right)
    left.append(spark.createDataFrame(
        [(1, None, 1), (1, None, 2), (None, 5, 3), (2, 4, 4)], FACT_SCHEMA))
    right.append(spark.createDataFrame(
        [(1, "nulls"), (None, "nokey"), (2, None)], DIM_SCHEMA))
    view.refresh()
    _assert_converged(view, left, right, "null shapes")
    got = _view_state(view)
    assert got["nulls"] == (None, 2, None, None, None, 0)
    assert "nokey" not in got  # NULL keys never join
    assert got[None] == (4, 1, 4.0, 4, 4, 1)  # NULL group key maintained
    # deleting one NULL-valued row keeps the all-NULL group semantics
    left.delete("rid = 1")
    view.refresh()
    _assert_converged(view, left, right, "null delete")
    assert _view_state(view)["nulls"] == (None, 1, None, None, None, 0)


@pytest.mark.parametrize("seed", range(3))
def test_join_view_differential_fuzz(spark, tmp_path, seed):
    """Randomized differential: random append/delete/upsert batches land
    on either or both inputs between refreshes; after every refresh the
    maintained view must equal the batch recompute."""
    rng = random.Random(12_000 + seed)
    left = _mk(spark, tmp_path, "fact", FACT_SCHEMA)
    right = _mk(spark, tmp_path, "dim", DIM_SCHEMA)
    view = _view(spark, tmp_path, left, right)
    rid = [0]
    segs = ["a", "b", "c", None]

    def fact_rows(n):
        out = []
        for _ in range(n):
            rid[0] += 1
            out.append(
                (
                    rng.choice([None, *range(6)]),
                    rng.choice([None, *range(-3, 9)]),
                    rid[0],
                )
            )
        return out

    for step in range(8):
        for side in ("l", "r"):
            if rng.random() < 0.7:
                if side == "l":
                    op = rng.random()
                    if op < 0.6 or left.to_df().limit(1).count() == 0:
                        left.append(
                            spark.createDataFrame(
                                fact_rows(rng.randint(1, 5)), FACT_SCHEMA
                            )
                        )
                    else:
                        left.delete(f"rid % 3 = {rng.randint(0, 2)}")
                else:
                    ups = [
                        (k, rng.choice(segs))
                        for k in rng.sample(range(6), rng.randint(1, 3))
                    ]
                    right.merge(
                        spark.createDataFrame(ups, DIM_SCHEMA),
                        "source.k = target.k",
                        [
                            MergeClause("update", None, "*"),
                            MergeClause("insert", None, "*"),
                        ],
                    )
        view.refresh()
        _assert_converged(view, left, right, (seed, step))


def test_join_view_failed_merge_releases_deltas(
    spark, tmp_path, monkeypatch, cache_guard
):
    """A refresh persists each signed delta, the joined delta and the
    min/max state frame; a maintenance merge that raises must release
    every one of them."""
    left = _mk(spark, tmp_path, "fact", FACT_SCHEMA)
    right = _mk(spark, tmp_path, "dim", DIM_SCHEMA)
    view = _view(spark, tmp_path, left, right)
    left.append(spark.createDataFrame([(1, 10, 1)], FACT_SCHEMA))
    right.append(spark.createDataFrame([(1, "a")], DIM_SCHEMA))

    def boom(*a, **k):
        raise RuntimeError("merge failed")

    monkeypatch.setattr(LakeTable, "merge", boom)
    with pytest.raises(RuntimeError, match="merge failed"):
        view.refresh()
    assert cache_guard() == 0


def test_join_view_crash_before_merge_recovers(spark, tmp_path, monkeypatch):
    """Crash AFTER the write-ahead intent, BEFORE the maintenance merge:
    a fresh refresh replays the pinned range and converges once."""
    left = _mk(spark, tmp_path, "fact", FACT_SCHEMA)
    right = _mk(spark, tmp_path, "dim", DIM_SCHEMA)
    view = _view(spark, tmp_path, left, right)
    left.append(spark.createDataFrame([(1, 10, 1)], FACT_SCHEMA))
    right.append(spark.createDataFrame([(1, "a")], DIM_SCHEMA))
    import incremental_etl_on_lakehouse_spark.operators.join_view as jv

    def boom(*a, **k):
        raise RuntimeError("crash before merge")

    # the mm-bearing view routes through _merge_maintenance; patch that
    # seam (the sum-only path's merge_agg_deltas is covered by the
    # matview/pipeline crash fuzzers)
    monkeypatch.setattr(
        jv.IncrementalChainJoinView, "_merge_maintenance", boom
    )
    with pytest.raises(RuntimeError, match="crash before merge"):
        view.refresh()
    monkeypatch.undo()
    # more commits arrive AFTER the crash — recovery must apply the
    # pinned range first, then the tail, never double-counting
    left.append(spark.createDataFrame([(1, 5, 2)], FACT_SCHEMA))
    view.refresh()  # replays the pinned intent range
    view.refresh()  # applies the post-crash tail
    _assert_converged(view, left, right, "recovered")


def test_join_view_crash_after_merge_never_double_applies(
    spark, tmp_path, monkeypatch
):
    """Crash AFTER the maintenance merge committed, BEFORE the checkpoint
    finalize: the replay recomputes the same pinned range and the gold
    table's txn guard no-ops the second apply."""
    left = _mk(spark, tmp_path, "fact", FACT_SCHEMA)
    right = _mk(spark, tmp_path, "dim", DIM_SCHEMA)
    view = _view(spark, tmp_path, left, right)
    left.append(spark.createDataFrame([(1, 10, 1)], FACT_SCHEMA))
    right.append(spark.createDataFrame([(1, "a")], DIM_SCHEMA))
    view.refresh()
    left.append(spark.createDataFrame([(1, 7, 2)], FACT_SCHEMA))

    from incremental_etl_on_lakehouse_spark.operators.join_view import (
        _VectorCheckpoint,
    )

    real_write = _VectorCheckpoint.write
    calls = {"n": 0}

    def failing_finalize(self, d):
        if d.get("intent") is None and calls["n"] == 0:
            calls["n"] += 1
            raise RuntimeError("crash before finalize")
        real_write(self, d)

    monkeypatch.setattr(_VectorCheckpoint, "write", failing_finalize)
    with pytest.raises(RuntimeError, match="crash before finalize"):
        view.refresh()
    monkeypatch.undo()
    view.refresh()  # replay: txn guard must no-op the committed merge
    _assert_converged(view, left, right, "post-recovery")
    assert _view_state(view)["a"] == (17, 2, 8.5, 7, 10, 2)


def test_join_view_rejections(spark, tmp_path):
    plain = LakeTable.create(
        spark, str(tmp_path / "plain"), FACT_SCHEMA
    )  # no CDF
    dim = _mk(spark, tmp_path, "dim", DIM_SCHEMA)
    with pytest.raises(ValueError, match="enableChangeDataFeed"):
        IncrementalJoinView(
            plain, dim, str(tmp_path / "v1"), ["k"], ["seg"],
            {"n": ("count", "*")},
        )
    fact = _mk(spark, tmp_path, "fact", FACT_SCHEMA)
    # min/max joined the supported family in round 12; quantiles stay out
    with pytest.raises(ValueError, match="unsupported join-view aggregate"):
        IncrementalJoinView(
            fact, dim, str(tmp_path / "v2"), ["k"], ["seg"],
            {"m": ("median", "v")},
        )
    with pytest.raises(ValueError, match="join key"):
        IncrementalJoinView(
            fact, dim, str(tmp_path / "v3"), ["seg"], ["seg"],
            {"n": ("count", "*")},
        )
    with pytest.raises(ValueError, match="unknown column"):
        IncrementalJoinView(
            fact, dim, str(tmp_path / "v4"), ["k"], ["nope"],
            {"n": ("count", "*")},
        )


def test_to_df_pruned_skips_nonoverlapping_files(spark, tmp_path):
    """The stats-pruned snapshot read behind the A@new ⋈ ΔB term: files
    whose recorded key range cannot overlap the batch are not read."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), FACT_SCHEMA, properties=CDF
    )
    for lo in (0, 100, 200):
        t.append(
            spark.createDataFrame(
                [(lo + i, i, lo + i) for i in range(5)], FACT_SCHEMA
            ).coalesce(1)
        )
    assert len(t.files()) == 3
    pruned_files = t.files_matching({"k": (101, 103)})
    assert len(pruned_files) == 1
    got = t.to_df_pruned({"k": (101, 103)})
    ks = sorted(r["k"] for r in got.collect())
    assert ks == [100, 101, 102, 103, 104]  # one file, superset of matches


def test_join_view_refuses_retention_cleaned_feed(spark, tmp_path):
    """If log-retention cleanup removed commits the view has not folded,
    refresh must RAISE (unrecoverable incrementally), never read the
    cleaned-away range as provably empty and silently advance."""
    left = _mk(spark, tmp_path, "fact", FACT_SCHEMA)
    right = _mk(spark, tmp_path, "dim", DIM_SCHEMA)
    view = _view(spark, tmp_path, left, right)
    right.append(spark.createDataFrame([(1, "a")], DIM_SCHEMA))
    view.refresh()
    for i in range(1, 4):
        left.append(spark.createDataFrame([(1, i, i)], FACT_SCHEMA))
    # drop the unfolded log prefix (retention 0)
    removed = left.cleanup_log(retention_ms=0)
    if not removed:
        import pytest as _pytest

        _pytest.skip("log cleanup kept everything on this layout")
    with pytest.raises(ValueError, match="log retention"):
        view.refresh()


# --------------------------------------------------- N-table chain views


CHAIN_DIM2 = StructType(
    [
        StructField("d", LongType()),
        StructField("region", StringType()),
    ]
)
CHAIN_FACT = StructType(
    [
        StructField("k", LongType()),
        StructField("d", LongType()),
        StructField("v", LongType()),
        StructField("rid", LongType()),
    ]
)


def _chain_expected(fact, dim1, dim2, mm=False):
    joined = (
        fact.to_df()
        .join(dim1.to_df(), on=["k"], how="inner")
        .join(dim2.to_df(), on=["d"], how="inner")
    )
    aggs = [F.sum("v").alias("total"), F.count("*").alias("n")]
    if mm:
        aggs += [F.min("v").alias("mn"), F.max("v").alias("mx")]
    rows = joined.groupBy("seg", "region").agg(*aggs).collect()
    cols = ("total", "n", "mn", "mx") if mm else ("total", "n")
    return {
        (r["seg"], r["region"]): tuple(r[c] for c in cols) for r in rows
    }


def test_chain_join_view_three_tables(spark, tmp_path):
    """fact ⋈ dim1 (on k) ⋈ dim2 (on d), maintained from all THREE
    change feeds; equals the batch recompute after every refresh —
    including a refresh where all three advanced at once."""
    from incremental_etl_on_lakehouse_spark.operators.join_view import (
        IncrementalChainJoinView,
    )

    fact = _mk(spark, tmp_path, "fact", CHAIN_FACT)
    dim1 = _mk(spark, tmp_path, "dim1", DIM_SCHEMA)
    dim2 = _mk(spark, tmp_path, "dim2", CHAIN_DIM2)
    view = IncrementalChainJoinView(
        [fact, dim1, dim2],
        [[], ["k"], ["d"]],
        str(tmp_path / "view"),
        group_cols=["seg", "region"],
        aggs={"total": ("sum", "v"), "n": ("count", "*")},
    )

    def got():
        return {
            (r["seg"], r["region"]): (r["total"], r["n"])
            for r in view.to_df().collect()
        }

    fact.append(
        spark.createDataFrame(
            [(1, 10, 5, 1), (2, 10, 7, 2), (1, 20, 1, 3)], CHAIN_FACT
        )
    )
    assert view.refresh() == 1
    assert got() == {}  # dims empty
    dim1.append(spark.createDataFrame([(1, "a"), (2, "b")], DIM_SCHEMA))
    dim2.append(spark.createDataFrame([(10, "eu"), (20, "us")], CHAIN_DIM2))
    assert view.refresh() == 2
    assert got() == _chain_expected(fact, dim1, dim2)
    assert got()[("a", "eu")] == (5, 1)
    # all three feeds advance before ONE refresh (every cross term)
    fact.append(spark.createDataFrame([(3, 20, 100, 4)], CHAIN_FACT))
    dim1.append(spark.createDataFrame([(3, "a")], DIM_SCHEMA))
    dim2.delete("d = 10")
    assert view.refresh() == 3
    assert got() == _chain_expected(fact, dim1, dim2)
    # dim1 group move propagates through the chain
    dim1.merge(
        spark.createDataFrame([(1, "b")], DIM_SCHEMA),
        "source.k = target.k",
        [MergeClause("update", None, "*"), MergeClause("insert", None, "*")],
    )
    view.refresh()
    assert got() == _chain_expected(fact, dim1, dim2)
    # no-op refresh
    assert view.refresh() == 0


@pytest.mark.parametrize("seed", range(2))
def test_chain_join_view_differential_fuzz(spark, tmp_path, seed):
    from incremental_etl_on_lakehouse_spark.operators.join_view import (
        IncrementalChainJoinView,
    )

    rng = random.Random(12_900 + seed)
    fact = _mk(spark, tmp_path, "fact", CHAIN_FACT)
    dim1 = _mk(spark, tmp_path, "dim1", DIM_SCHEMA)
    dim2 = _mk(spark, tmp_path, "dim2", CHAIN_DIM2)
    view = IncrementalChainJoinView(
        [fact, dim1, dim2],
        [[], ["k"], ["d"]],
        str(tmp_path / "view"),
        group_cols=["seg", "region"],
        aggs={
            "total": ("sum", "v"),
            "n": ("count", "*"),
            "mn": ("min", "v"),
            "mx": ("max", "v"),
        },
    )
    rid = [0]
    for step in range(6):
        if rng.random() < 0.8:
            rows = []
            for _ in range(rng.randint(1, 4)):
                rid[0] += 1
                rows.append(
                    (rng.randint(0, 4), rng.choice([10, 20, 30]),
                     rng.randint(-5, 9), rid[0])
                )
            fact.append(spark.createDataFrame(rows, CHAIN_FACT))
        if rng.random() < 0.6:
            ups = [
                (k, rng.choice(["a", "b", None]))
                for k in rng.sample(range(5), rng.randint(1, 2))
            ]
            dim1.merge(
                spark.createDataFrame(ups, DIM_SCHEMA),
                "source.k = target.k",
                [
                    MergeClause("update", None, "*"),
                    MergeClause("insert", None, "*"),
                ],
            )
        if rng.random() < 0.5:
            ups = [
                (d, rng.choice(["eu", "us"]))
                for d in rng.sample([10, 20, 30], rng.randint(1, 2))
            ]
            dim2.merge(
                spark.createDataFrame(ups, CHAIN_DIM2),
                "source.d = target.d",
                [
                    MergeClause("update", None, "*"),
                    MergeClause("insert", None, "*"),
                ],
            )
        view.refresh()
        got = {
            (r["seg"], r["region"]): (r["total"], r["n"], r["mn"], r["mx"])
            for r in view.to_df().collect()
        }
        assert got == _chain_expected(fact, dim1, dim2, mm=True), (
            seed,
            step,
        )


def test_chain_join_view_rejections(spark, tmp_path):
    from incremental_etl_on_lakehouse_spark.operators.join_view import (
        IncrementalChainJoinView,
    )

    fact = _mk(spark, tmp_path, "fact", CHAIN_FACT)
    dim1 = _mk(spark, tmp_path, "dim1", DIM_SCHEMA)
    dim2 = _mk(spark, tmp_path, "dim2", CHAIN_DIM2)
    with pytest.raises(ValueError, match="edges must align"):
        IncrementalChainJoinView(
            [fact, dim1], [["k"], ["k"]], str(tmp_path / "v1"),
            ["seg"], {"n": ("count", "*")},
        )
    with pytest.raises(ValueError, match="at least two tables"):
        IncrementalChainJoinView(
            [fact], [[]], str(tmp_path / "v2"), ["k"], {"n": ("count", "*")},
        )
    # an edge key the prefix does not provide
    with pytest.raises(ValueError, match="join key"):
        IncrementalChainJoinView(
            [dim2, dim1], [[], ["k"]], str(tmp_path / "v3"),
            ["region"], {"n": ("count", "*")},
        )


# ---------------------------------------------------------------------------
# Published views: the stacking surface (round 12)
# ---------------------------------------------------------------------------

STACK_DIM = StructType(
    [
        StructField("k", LongType()),
        StructField("seg", StringType()),
        StructField("et", StringType()),
    ]
)


def _stacked(spark, tmp_path):
    from incremental_etl_on_lakehouse_spark.operators.cdc import (
        IncrementalAggView,
    )

    fact = _mk(spark, tmp_path, "sfact", FACT_SCHEMA)
    dim = _mk(spark, tmp_path, "sdim", STACK_DIM)
    gold = IncrementalJoinView(
        fact,
        dim,
        str(tmp_path / "gold"),
        join_keys=["k"],
        group_cols=["seg", "et"],
        aggs={"total": ("sum", "v"), "n": ("count", "*"), "mx": ("max", "v")},
        publish=True,
    )
    plat = IncrementalAggView(
        gold.published,
        str(tmp_path / "plat"),
        group_cols=["et"],
        aggs={
            "sum_total": ("sum", "total"),
            "n_groups": ("count", "*"),
            "max_mx": ("max", "mx"),
        },
    )
    return fact, dim, gold, plat


def _assert_stack_converged(fact, dim, gold, plat, ctx=""):
    pub = sorted(tuple(r) for r in gold.published.to_df().collect())
    logical = sorted(tuple(r) for r in gold.to_df().collect())
    assert pub == logical, (ctx, pub, logical)
    got = sorted(tuple(r) for r in plat.to_df().collect())
    exp = sorted(
        tuple(r)
        for r in fact.to_df()
        .join(dim.to_df(), "k")
        .groupBy("seg", "et")
        .agg(
            F.sum("v").alias("total"),
            F.count("*").alias("n"),
            F.max("v").alias("mx"),
        )
        .groupBy("et")
        .agg(
            F.sum("total").alias("sum_total"),
            F.count("*").alias("n_groups"),
            F.max("mx").alias("max_mx"),
        )
        .collect()
    )
    assert got == exp, (ctx, got, exp)


def test_join_view_publish_feeds_downstream_view(spark, tmp_path):
    """Multi-hop: fact ⋈ dim -> published gold (CDF lake table maintained
    O(changed groups)) -> downstream IncrementalAggView. After every
    refresh pair, published == the view's logical output AND the platinum
    rollup equals the full two-level batch recompute."""
    fact, dim, gold, plat = _stacked(spark, tmp_path)

    def step(ctx):
        gold.refresh()
        plat.refresh()
        _assert_stack_converged(fact, dim, gold, plat, ctx)

    fact.append(
        spark.createDataFrame(
            [(1, 10, 1), (2, 5, 2), (3, 7, 3), (4, 20, 4)], FACT_SCHEMA
        )
    )
    dim.append(
        spark.createDataFrame(
            [(1, "a", "x"), (2, "a", "x"), (3, "b", "y"), (4, "b", "x")],
            STACK_DIM,
        )
    )
    step("b1")
    # extremum delete -> gold recompute -> published UPDATE rides the CDF
    fact.delete("rid = 4")
    step("b2 extreme delete")
    # dim reassignment moves a (seg, et) group between platinum groups
    dim.merge(
        spark.createDataFrame([(1, "a", "y")], STACK_DIM),
        "source.k = target.k",
        [MergeClause("update", None, "*"), MergeClause("insert", None, "*")],
    )
    step("b3 reassign")
    # drain a gold group -> published DELETE -> platinum group count drops
    fact.delete("rid = 3")
    step("b4 drain")
    # no-op refresh never advances the published table
    v0 = gold.published.version()
    assert gold.refresh() == 0
    assert gold.published.version() == v0


def test_join_view_publish_crash_between_merges_replays_once(
    spark, tmp_path, monkeypatch
):
    """Crash AFTER the state maintenance merge committed, BEFORE the
    publish merge: the replay no-ops the state merge (txn guard) and
    completes the publish, exactly once."""
    fact, dim, gold, plat = _stacked(spark, tmp_path)
    fact.append(spark.createDataFrame([(1, 10, 1)], FACT_SCHEMA))
    dim.append(spark.createDataFrame([(1, "a", "x")], STACK_DIM))
    gold.refresh()
    plat.refresh()
    fact.append(spark.createDataFrame([(1, 4, 2)], FACT_SCHEMA))

    import incremental_etl_on_lakehouse_spark.operators.join_view as jv

    def boom(self, *a, **k):
        raise RuntimeError("crash before publish")

    monkeypatch.setattr(jv.IncrementalChainJoinView, "_publish", boom)
    with pytest.raises(RuntimeError, match="crash before publish"):
        gold.refresh()
    monkeypatch.undo()
    gold.refresh()  # replay: state merge no-ops, publish completes
    plat.refresh()
    _assert_stack_converged(fact, dim, gold, plat, "post-crash")
    got = {r["et"]: r["sum_total"] for r in plat.to_df().collect()}
    assert got == {"x": 14}


# ---------------------------------------------------------------------------
# LEFT OUTER join views (round 12)
# ---------------------------------------------------------------------------


def _left_view(spark, tmp_path, left, right):
    return IncrementalJoinView(
        left,
        right,
        str(tmp_path / "lview"),
        join_keys=["k"],
        group_cols=["seg"],
        how="left",
        aggs={
            "total": ("sum", "v"),
            "n": ("count", "*"),
            "nv": ("count", "v"),
            "mean": ("avg", "v"),
        },
    )


def _left_expected(left, right):
    rows = (
        left.to_df()
        .join(right.to_df(), on=["k"], how="left")
        .groupBy("seg")
        .agg(
            F.sum("v").alias("total"),
            F.count("*").alias("n"),
            F.count("v").alias("nv"),
            F.avg("v").alias("mean"),
        )
        .collect()
    )
    return {r["seg"]: (r["total"], r["n"], r["nv"], r["mean"]) for r in rows}


def _left_state(view):
    return {
        r["seg"]: (r["total"], r["n"], r["nv"], r["mean"])
        for r in view.to_df().collect()
    }


def test_left_join_view_match_state_transitions(spark, tmp_path):
    """Facts-before-dims: unmatched rows live under the NULL-extended
    group; a dim arrival moves the key's rows matched-ward (crossing),
    a dim delete moves them back — each time the view must equal the
    batch LEFT JOIN aggregate."""
    left = _mk(spark, tmp_path, "lfact", FACT_SCHEMA)
    right = _mk(spark, tmp_path, "ldim", DIM_SCHEMA)
    view = _left_view(spark, tmp_path, left, right)
    left.append(
        spark.createDataFrame(
            [(1, 10, 1), (2, 5, 2), (None, 7, 3)], FACT_SCHEMA
        )
    )
    view.refresh()
    assert _left_state(view) == _left_expected(left, right)
    # everything unmatched: one NULL-seg group carrying all 3 rows
    assert _left_state(view)[None][1] == 3
    # dims arrive: key 1 crosses into matched; NULL-key row never does
    right.append(spark.createDataFrame([(1, "a"), (9, "z")], DIM_SCHEMA))
    view.refresh()
    assert _left_state(view) == _left_expected(left, right)
    # both feeds advance before one refresh: new fact + key-2 crossing
    left.append(spark.createDataFrame([(2, 100, 4), (3, 1, 5)], FACT_SCHEMA))
    right.merge(
        spark.createDataFrame([(2, "b")], DIM_SCHEMA),
        "source.k = target.k",
        [MergeClause("update", None, "*"), MergeClause("insert", None, "*")],
    )
    view.refresh()
    assert _left_state(view) == _left_expected(left, right)
    # dim delete: key 1 crosses back to unmatched
    right.delete("k = 1")
    view.refresh()
    assert _left_state(view) == _left_expected(left, right)
    # dim fan-out 1 -> 2 rows for key 2 (count change, NO crossing)
    right.append(spark.createDataFrame([(2, "b2")], DIM_SCHEMA))
    view.refresh()
    assert _left_state(view) == _left_expected(left, right)
    # no-op refresh
    assert view.refresh() == 0


@pytest.mark.parametrize("seed", range(3))
def test_left_join_view_differential_fuzz(spark, tmp_path, seed):
    """Randomized differential for the LEFT OUTER view: random batches
    on both feeds, view vs batch LEFT JOIN aggregate after every
    refresh."""
    rng = random.Random(13_500 + seed)
    left = _mk(spark, tmp_path, "lfact", FACT_SCHEMA)
    right = _mk(spark, tmp_path, "ldim", DIM_SCHEMA)
    view = _left_view(spark, tmp_path, left, right)
    rid = [0]
    segs = ["a", "b", None]

    def fact_rows(n):
        out = []
        for _ in range(n):
            rid[0] += 1
            out.append(
                (
                    rng.choice([None, *range(6)]),
                    rng.choice([None, *range(-3, 9)]),
                    rid[0],
                )
            )
        return out

    for step in range(8):
        if rng.random() < 0.7:
            op = rng.random()
            if op < 0.6 or left.to_df().limit(1).count() == 0:
                left.append(
                    spark.createDataFrame(
                        fact_rows(rng.randint(1, 5)), FACT_SCHEMA
                    )
                )
            else:
                left.delete(f"rid % 3 = {rng.randint(0, 2)}")
        if rng.random() < 0.7:
            op = rng.random()
            if op < 0.6:
                ups = [
                    (k, rng.choice(segs))
                    for k in rng.sample(range(6), rng.randint(1, 3))
                ]
                right.merge(
                    spark.createDataFrame(ups, DIM_SCHEMA),
                    "source.k = target.k",
                    [
                        MergeClause("update", None, "*"),
                        MergeClause("insert", None, "*"),
                    ],
                )
            else:
                right.delete(f"k % 3 = {rng.randint(0, 2)}")
        view.refresh()
        assert _left_state(view) == _left_expected(left, right), (seed, step)


def test_left_join_view_rejections(spark, tmp_path):
    left = _mk(spark, tmp_path, "lfact", FACT_SCHEMA)
    right = _mk(spark, tmp_path, "ldim", DIM_SCHEMA)
    with pytest.raises(ValueError, match="not outer-aware"):
        IncrementalJoinView(
            left, right, str(tmp_path / "v1"), ["k"], ["seg"],
            {"m": ("min", "v")}, how="left",
        )
    with pytest.raises(ValueError, match="unsupported join type"):
        IncrementalJoinView(
            left, right, str(tmp_path / "v2"), ["k"], ["seg"],
            {"n": ("count", "*")}, how="full",
        )
