"""Incremental MIN/MAX + COUNT(DISTINCT) maintenance under extremum deletes.

The crafted scenario makes every maintenance path observable: deletes that
REMOVE the current group max/min (the case the subtractable-sum algebra
cannot handle, forcing the recompute-touched-groups path), an interior
delete that provably requires no recompute, a whole-group removal, and
duplicate values exercising the multiset distinct state.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from incremental_etl_on_lakehouse_spark.lake import LakeStreamReader, LakeTable
from incremental_etl_on_lakehouse_spark.operators.cdc import (
    cdf_multiset_deltas,
    distinct_counts,
    incremental_minmax_update,
    merge_distinct_state,
)

ROWS = StructType(
    [
        StructField("id", LongType()),
        StructField("grp", StringType()),
        StructField("val", LongType()),
    ]
)
MM = StructType(
    [
        StructField("grp", StringType()),
        StructField("min_value", LongType()),
        StructField("max_value", LongType()),
    ]
)
ST = StructType(
    [
        StructField("grp", StringType()),
        StructField("val", LongType()),
        StructField("cnt", LongType()),
    ]
)


@pytest.fixture()
def tables(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), ROWS,
        properties={"enableChangeDataFeed": "true"},
    )
    mm = LakeTable.create(spark, str(tmp_path / "mm"), MM)
    state = LakeTable.create(spark, str(tmp_path / "st"), ST)
    reader = LakeStreamReader(
        t, str(tmp_path / "ck.json"), mode="cdf", starting_version=1
    )

    def sync():
        def apply(changes, v):
            incremental_minmax_update(
                mm, t.to_df(version=v), changes, ["grp"], "val"
            )
            merge_distinct_state(
                state, cdf_multiset_deltas(changes, ["grp"], "val"),
                ["grp"], "val",
            )

        reader.process_available(apply)

    return t, mm, state, sync


def mm_state(mm):
    return {
        r["grp"]: (r["min_value"], r["max_value"])
        for r in mm.to_df().collect()
    }


def dcounts(state):
    return {
        r["grp"]: r["n_distinct"]
        for r in distinct_counts(state, ["grp"]).collect()
    }


def test_extremum_delete_forces_recompute(spark, tables):
    t, mm, state, sync = tables
    t.append(
        spark.createDataFrame(
            [(1, "a", 1), (2, "a", 5), (3, "a", 10), (4, "b", 100)], ROWS
        )
    )
    sync()
    assert mm_state(mm) == {"a": (1, 10), "b": (100, 100)}
    assert dcounts(state) == {"a": 3, "b": 1}

    # delete the CURRENT MAX of group a — monotone greatest/least cannot
    # produce this answer; only the recompute path can shrink the max to 5
    t.delete("id = 3")
    sync()
    assert mm_state(mm) == {"a": (1, 5), "b": (100, 100)}
    assert dcounts(state) == {"a": 2, "b": 1}

    # delete the CURRENT MIN of group a
    t.delete("id = 1")
    sync()
    assert mm_state(mm) == {"a": (5, 5), "b": (100, 100)}
    assert dcounts(state) == {"a": 1, "b": 1}


def test_interior_delete_is_noop_and_group_vanishes(spark, tables):
    t, mm, state, sync = tables
    t.append(
        spark.createDataFrame(
            [(1, "a", 1), (2, "a", 5), (3, "a", 10), (4, "b", 100)], ROWS
        )
    )
    sync()
    v_before = mm.version()
    # interior value: 1 < 5 < 10 — extremes provably unaffected, and the
    # no-possible-change filter means the aggregate table commits nothing
    t.delete("id = 2")
    sync()
    assert mm_state(mm)["a"] == (1, 10)
    assert mm.version() == v_before, "interior delete must not rewrite gold"
    assert dcounts(state)["a"] == 2

    # removing the last row of b deletes its aggregate row entirely
    t.delete("id = 4")
    sync()
    assert "b" not in mm_state(mm)
    assert "b" not in dcounts(state)


def test_duplicate_values_keep_distinct_exact(spark, tables):
    t, mm, state, sync = tables
    t.append(
        spark.createDataFrame(
            [(1, "a", 5), (2, "a", 5), (3, "a", 7)], ROWS
        )
    )
    sync()
    assert dcounts(state) == {"a": 2}
    assert mm_state(mm) == {"a": (5, 7)}

    # removing ONE of the two val=5 rows must not drop 5 from the distinct
    # set (multiset count 2 -> 1), and min stays 5
    t.delete("id = 1")
    sync()
    assert dcounts(state) == {"a": 2}
    assert mm_state(mm) == {"a": (5, 7)}

    # removing the second one drops it (count 1 -> 0 -> row deleted)
    t.delete("id = 2")
    sync()
    assert dcounts(state) == {"a": 1}
    assert mm_state(mm) == {"a": (7, 7)}


def test_null_values_never_enter_distinct_state(spark, tables):
    """COUNT(DISTINCT x) excludes NULL, and a NULL state row could never be
    matched by the MERGE equality condition (source.val = target.val is
    UNKNOWN for NULL) — so NULL deltas must be filtered out entirely
    (r3 advisor finding, cdf_multiset_deltas)."""
    t, mm, state, sync = tables
    t.append(
        spark.createDataFrame(
            [(1, "a", None), (2, "a", 5), (3, "b", None)], ROWS
        )
    )
    sync()
    # batch semantics: a has 1 distinct non-null value; b has 0 -> no row
    assert dcounts(state) == {"a": 1}
    assert all(r["val"] is not None for r in state.to_df().collect())

    # repeated NULL-bearing batches must not accumulate unmatched rows
    t.delete("id = 1")
    t.append(spark.createDataFrame([(4, "a", None)], ROWS))
    sync()
    assert dcounts(state) == {"a": 1}
    assert state.to_df().where("val IS NULL").count() == 0


# ---------------------------------------------------------------------------
# Incremental TOP-K maintenance (round 10): the leaderboard aggregate
# ---------------------------------------------------------------------------


def test_incremental_topk_paths(spark, tmp_path):
    """Every maintenance path of incremental_topk_update observable on a
    crafted sequence: state-complete direct apply, insert-above-threshold
    without base scan, eviction, promote-on-delete recompute, interior
    no-op delete, whole-group vanish."""
    from incremental_etl_on_lakehouse_spark.operators.cdc import (
        incremental_topk_update,
    )

    t = LakeTable.create(
        spark, str(tmp_path / "t2"), ROWS,
        properties={"enableChangeDataFeed": "true"},
    )
    topk = LakeTable.create(spark, str(tmp_path / "topk"), ST)
    reader = LakeStreamReader(
        t, str(tmp_path / "ck2.json"), mode="cdf", starting_version=1
    )

    def sync():
        reader.process_available(
            lambda ch, v: incremental_topk_update(
                topk, t.to_df(version=v), ch,
                group_cols=["grp"], value_col="val", k=3,
            )
        )

    def state():
        return {
            (r.grp, r.val): r.cnt for r in topk.to_df().collect()
        }

    def expected():
        rows = [(r.grp, r.val) for r in t.to_df().collect()]
        from collections import Counter

        per = {}
        for g, v in rows:
            per.setdefault(g, Counter())[v] += 1
        out = {}
        for g, c in per.items():
            for v in sorted(c, reverse=True)[:3]:
                out[(g, v)] = c[v]
        return out

    # batch 1: group a has 2 distinct values (state-complete), group b 4
    t.append(spark.createDataFrame(
        [(1, "a", 10), (2, "a", 10), (3, "a", 20),
         (4, "b", 1), (5, "b", 2), (6, "b", 3), (7, "b", 4)], ROWS))
    sync()
    assert state() == expected()
    assert state() == {("a", 10): 2, ("a", 20): 1,
                       ("b", 4): 1, ("b", 3): 1, ("b", 2): 1}

    # batch 2: insert above b's threshold (evicts 2) — insert-only path
    t.append(spark.createDataFrame([(8, "b", 9)], ROWS))
    sync()
    assert state() == expected()
    assert ("b", 2) not in state()

    # batch 3: delete b's maximum — promote-on-delete recompute (value 2
    # must rise back from below the threshold)
    t.delete("grp = 'b' AND val = 9")
    sync()
    assert state() == expected()
    assert state()[("b", 2)] == 1

    # batch 4: interior delete below b's threshold (val 1 untracked) — a
    # provable no-op for the state; and a duplicate-count decrement in a
    # (state-complete direct path)
    v_before = topk.version()
    t.delete("grp = 'b' AND val = 1")
    sync()
    assert state() == expected()
    assert topk.version() == v_before, "below-threshold delete must not commit"
    t.delete("id = 1")  # one of a's duplicate 10s
    sync()
    assert state() == expected()
    assert state()[("a", 10)] == 1

    # batch 5: whole group vanishes
    t.delete("grp = 'a'")
    sync()
    assert state() == expected()
    assert not [k for k in state() if k[0] == "a"]


@pytest.mark.parametrize("seed", range(3))
def test_incremental_topk_random_differential(spark, tmp_path, seed):
    """Randomized differential check for the three-way top-k maintenance
    split: arbitrary append/delete/update interleavings, state compared
    after EVERY batch against the batch top-3 of the current snapshot —
    the fixed-path test can't enumerate the split's boundary mixes
    (same-batch insert+delete straddling the threshold, ties at the k-th
    value, repeated counts)."""
    import random
    from collections import Counter

    from incremental_etl_on_lakehouse_spark.operators.cdc import (
        incremental_topk_update,
    )

    rng = random.Random(4400 + seed)
    t = LakeTable.create(
        spark, str(tmp_path / f"t_{seed}"), ROWS,
        properties={"enableChangeDataFeed": "true"},
    )
    topk = LakeTable.create(spark, str(tmp_path / f"topk_{seed}"), ST)
    reader = LakeStreamReader(
        t, str(tmp_path / f"ck_{seed}.json"), mode="cdf", starting_version=1
    )
    next_id = 0

    def sync():
        reader.process_available(
            lambda ch, v: incremental_topk_update(
                topk, t.to_df(version=v), ch,
                group_cols=["grp"], value_col="val", k=3,
            )
        )

    def expected():
        per: dict = {}
        for r in t.to_df().collect():
            per.setdefault(r.grp, Counter())[r.val] += 1
        out = {}
        for g, c in per.items():
            for v in sorted(c, reverse=True)[:3]:
                out[(g, v)] = c[v]
        return out

    # narrow value domain (0..6) and 2 groups force threshold collisions,
    # duplicate counts, and full/complete state transitions constantly
    for _ in range(10):
        op = rng.choice(["append", "append", "delete", "update"])
        if op == "append":
            k = rng.randint(1, 4)
            rows = [
                (next_id + j, rng.choice("ab"), rng.randint(0, 6))
                for j in range(k)
            ]
            next_id += k
            t.append(spark.createDataFrame(rows, ROWS))
        elif op == "delete":
            v = rng.randint(0, 6)
            g = rng.choice("ab")
            t.delete(f"grp = '{g}' AND val = {v}")
        elif op == "update":
            v = rng.randint(0, 6)
            t.update({"val": f"val + {rng.randint(1, 3)}"},
                     condition=f"val = {v}")
        sync()
        got = {(r.grp, r.val): r.cnt for r in topk.to_df().collect()}
        assert got == expected(), (seed, op, got, expected())


def test_failed_classification_leaves_nothing_persisted(
    spark, tmp_path, monkeypatch
):
    """The per-group frame is persisted for the classification collect,
    the branches and the merge source; an error anywhere after the persist
    — here in the classification collect itself, after it materialized the
    cache — must still release it."""
    mm = LakeTable.create(spark, str(tmp_path / "mm"), MM)
    base = spark.createDataFrame([(1, "a", 5), (2, "b", 7)], ROWS)
    changes = base.withColumn("_change_type", F.lit("insert"))
    cls = type(base)
    real = cls.collect

    def collect(self):
        out = real(self)
        if "__n_rec" in self.columns:
            raise RuntimeError("classification failed")
        return out

    monkeypatch.setattr(cls, "collect", collect)
    # the conftest cache guard fails the test if the frame stays persisted
    with pytest.raises(RuntimeError, match="classification failed"):
        incremental_minmax_update(mm, base, changes, ["grp"], "val")


def test_failed_topk_merge_releases_every_persisted_frame(
    spark, tmp_path, monkeypatch, cache_guard
):
    """incremental_topk_update persists its deltas, classification and
    merge source, and the MERGE persists its own source and planning join;
    a MERGE that raises at its planning probe must release all of them."""
    from incremental_etl_on_lakehouse_spark.operators.cdc import (
        incremental_topk_update,
    )

    topk = LakeTable.create(spark, str(tmp_path / "topk"), ST)
    base = spark.createDataFrame([(1, "a", 5), (2, "b", 7)], ROWS)
    changes = base.withColumn("_change_type", F.lit("insert"))
    cls = type(base)
    real = cls.collect

    def collect(self):
        if "__action" in self.columns:
            raise RuntimeError("merge planning failed")
        return real(self)

    monkeypatch.setattr(cls, "collect", collect)
    with pytest.raises(RuntimeError, match="merge planning failed"):
        incremental_topk_update(
            topk, base, changes, group_cols=["grp"], value_col="val", k=3
        )
    assert cache_guard() == 0
