"""LakeTable: append / merge / CDF / time travel semantics."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from incremental_etl_on_lakehouse_spark.lake import LakeTable, LakeStreamReader
from incremental_etl_on_lakehouse_spark.lake import log as lakelog
from incremental_etl_on_lakehouse_spark.lake.table import MergeClause

SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("country", StringType()),
        StructField("visitors", LongType()),
    ]
)


def make_table(spark, tmp_path, rows, cdf=True):
    t = LakeTable.create(
        spark,
        str(tmp_path / "tbl"),
        SCHEMA,
        properties={"enableChangeDataFeed": "true"} if cdf else {},
    )
    if rows:
        t.append(spark.createDataFrame(rows, SCHEMA))
    return t


def test_create_append_read(spark, tmp_path):
    t = make_table(spark, tmp_path, [(1, "England", 10), (2, "Wales", 20)])
    assert t.version() == 1
    got = {r["id"]: r["visitors"] for r in t.to_df().collect()}
    assert got == {1: 10, 2: 20}
    # time travel: version 0 is the empty CREATE
    assert t.to_df(version=0).count() == 0


def test_merge_upsert_delete_and_noop(spark, tmp_path):
    t = make_table(spark, tmp_path, [(1, "England", 10), (2, "Wales", 20), (3, "Scotland", 30)])
    src = spark.createDataFrame(
        [(1, "England", 99, "UPDATE"), (2, "Wales", 20, "NOOP"), (4, "Australia", 40, "INSERT")],
        StructType(SCHEMA.fields + [StructField("op", StringType())]),
    )
    metrics = t.merge(
        src,
        "source.id = target.id",
        [
            MergeClause("delete", "source.op = 'DELETE'"),
            MergeClause("update", "source.op = 'UPDATE'", "*"),
            MergeClause("insert", None, "*"),
        ],
    )
    assert metrics["num_updated_rows"] == 1
    assert metrics["num_inserted_rows"] == 1
    assert metrics["num_deleted_rows"] == 0
    got = {r["id"]: r["visitors"] for r in t.to_df().collect()}
    assert got == {1: 99, 2: 20, 3: 30, 4: 40}

    # delete clause
    src2 = spark.createDataFrame(
        [(4, "Australia", 0, "DELETE")],
        StructType(SCHEMA.fields + [StructField("op", StringType())]),
    )
    m2 = t.merge(
        src2,
        "source.id = target.id",
        [
            MergeClause("delete", "source.op = 'DELETE'"),
            MergeClause("update", "source.op = 'UPDATE'", "*"),
            MergeClause("insert", "source.op <> 'DELETE'", "*"),
        ],
    )
    assert m2["num_deleted_rows"] == 1
    assert {r["id"] for r in t.to_df().collect()} == {1, 2, 3}

    # time travel still sees id=4 at the pre-delete version
    assert {r["id"] for r in t.to_df(version=2).collect()} == {1, 2, 3, 4}


def test_merge_noop_touches_no_files(spark, tmp_path):
    t = make_table(spark, tmp_path, [(1, "England", 10)])
    src = spark.createDataFrame([(5, "Nowhere", 1, "DELETE")],
                                StructType(SCHEMA.fields + [StructField("op", StringType())]))
    m = t.merge(
        src,
        "source.id = target.id",
        [
            MergeClause("delete", "source.op = 'DELETE'"),
            MergeClause("insert", "source.op <> 'DELETE'", "*"),
        ],
    )
    assert m["num_touched_files"] == 0
    assert m["num_inserted_rows"] == 0


def test_cdf_and_stream_reader(spark, tmp_path):
    t = make_table(spark, tmp_path, [(1, "England", 10)])
    src = spark.createDataFrame(
        [(1, "England", 25, "UPDATE"), (2, "Wales", 7, "INSERT")],
        StructType(SCHEMA.fields + [StructField("op", StringType())]),
    )
    t.merge(
        src,
        "source.id = target.id",
        [
            MergeClause("update", "source.op = 'UPDATE'", "*"),
            MergeClause("insert", None, "*"),
        ],
    )
    changes = t.read_changes(starting_version=1).collect()
    types = sorted((r["_change_type"], r["id"]) for r in changes)
    assert types == [
        ("insert", 1),
        ("insert", 2),
        ("update_postimage", 1),
        ("update_preimage", 1),
    ]
    pre = [r for r in changes if r["_change_type"] == "update_preimage"][0]
    post = [r for r in changes if r["_change_type"] == "update_postimage"][0]
    assert (pre["visitors"], post["visitors"]) == (10, 25)
    assert {r["_commit_version"] for r in changes} == {1, 2}

    # stream reader: one micro-batch per commit, checkpoint resumes
    seen = []
    reader = LakeStreamReader(t, str(tmp_path / "ckpt.json"), mode="cdf", starting_version=1)
    n = reader.process_available(lambda df, v: seen.append((v, df.count())))
    assert n == 2
    assert seen == [(1, 1), (2, 3)]
    assert reader.process_available(lambda df, v: seen.append((v, df.count()))) == 0


def test_append_stream_mode(spark, tmp_path):
    t = make_table(spark, tmp_path, [], cdf=False)
    t.append(spark.createDataFrame([(1, "a", 1)], SCHEMA))
    t.append(spark.createDataFrame([(2, "b", 2)], SCHEMA))
    seen = []
    reader = LakeStreamReader(t, str(tmp_path / "ck.json"), mode="append", starting_version=0)
    reader.process_available(lambda df, v: seen.append((v, [r["id"] for r in df.collect()])))
    assert seen == [(1, [1]), (2, [2])]


def test_delete_where(spark, tmp_path):
    t = make_table(spark, tmp_path, [(1, "England", 10), (2, "Wales", 20)])
    t.delete("country = 'Wales'")
    assert {r["id"] for r in t.to_df().collect()} == {1}
    changes = t.read_changes(starting_version=2).collect()
    assert [(r["_change_type"], r["id"]) for r in changes] == [("delete", 2)]


def test_log_checkpointing(spark, tmp_path):
    from incremental_etl_on_lakehouse_spark.lake import log as lakelog

    t = make_table(spark, tmp_path, [], cdf=False)
    for i in range(25):
        t.append(spark.createDataFrame([(i, "c", i)], SCHEMA).coalesce(1))
    commit_vs, ckpt_vs = lakelog.list_versions(t.path)
    assert commit_vs[-1] == 25
    assert ckpt_vs == [20]  # rolled up at the interval
    # state from checkpoint + tail equals full replay
    assert t.to_df().count() == 25
    assert len(t.files()) == 25
    # time travel BEFORE the checkpoint still replays the prefix
    assert t.to_df(version=5).count() == 5
    # and checkpoint state is actually used (corrupt a pre-checkpoint commit's
    # add list in memory-free way: state at latest must not re-read it)
    state = lakelog.table_state(t.path)
    assert state["version"] == 25 and len(state["active"]) == 25


# ------------------------------------------------ optimistic concurrency


def test_concurrent_appends_both_land_via_rebase(spark, tmp_path):
    """Two writers race the same version: appends commute (blind writes),
    so the loser auto-rebases its already-staged files onto the winner's
    version — BOTH succeed with no caller-side retry and no lost update."""
    import threading

    t = make_table(spark, tmp_path, [(1, "England", 10)])
    barrier = threading.Barrier(2)
    results: dict[str, object] = {}

    def writer(name, rows):
        handle = LakeTable(spark, t.path)  # independent snapshot per writer
        df = spark.createDataFrame(rows, SCHEMA)
        barrier.wait()
        results[name] = handle.append(df)

    th1 = threading.Thread(target=writer, args=("a", [(10, "Japan", 1)]))
    th2 = threading.Thread(target=writer, args=("b", [(20, "Chile", 2)]))
    th1.start(); th2.start(); th1.join(); th2.join()
    assert sorted(results.values()) == [2, 3], results
    # no lost updates: every writer's rows are present
    assert t.to_df().count() == 3


def test_append_rebase_forced_collision(spark, tmp_path):
    """Deterministic rebase: an interloper commits between this append's
    snapshot read and its commit; the append republishes the same staged
    files at the fresh version instead of raising."""
    t = make_table(spark, tmp_path, [(1, "England", 10)])
    fired = {}
    orig_stage = LakeTable._stage_write

    def stage_with_interloper(self, df, **kw):
        if not fired:
            fired["v"] = None
            fired["v"] = LakeTable(self.spark, self.path).append(
                self.spark.createDataFrame([(7, "Peru", 7)], SCHEMA)
            )
        return orig_stage(self, df, **kw)

    LakeTable._stage_write = stage_with_interloper
    try:
        v = t.append(spark.createDataFrame([(10, "Japan", 1)], SCHEMA))
    finally:
        LakeTable._stage_write = orig_stage
    assert fired["v"] == 2 and v == 3, (fired, v)
    assert t.to_df().count() == 3  # both the interloper's and our row


def test_append_rebase_disabled_for_identity_tables(spark, tmp_path):
    """Identity-column appends bake high-water-derived values into the
    staged parquet, so a racing winner invalidates them: the collision must
    surface (FileExistsError), never silently rebase into duplicate ids."""
    path = str(tmp_path / "id_tbl")
    t = LakeTable.create(
        spark,
        path,
        StructType(
            [StructField("name", StringType()), StructField("rid", LongType())]
        ),
        properties={"identity.rid": "1,1"},
    )
    orig_stage = LakeTable._stage_write
    fired = {}

    def stage_with_interloper(self, df, **kw):
        if not fired:
            fired["v"] = None
            fired["v"] = LakeTable(self.spark, self.path).append(
                self.spark.createDataFrame([("racer",)], "name string")
            )
        return orig_stage(self, df, **kw)

    LakeTable._stage_write = stage_with_interloper
    try:
        with pytest.raises(FileExistsError):
            t.append(spark.createDataFrame([("loser",)], "name string"))
    finally:
        LakeTable._stage_write = orig_stage
    # caller-side retry against a fresh snapshot succeeds with unique ids
    LakeTable(spark, t.path).append(
        spark.createDataFrame([("retried",)], "name string")
    )
    # the loser's staged rows were never committed: racer + retried only
    rids = [r["rid"] for r in t.to_df().collect()]
    assert len(rids) == len(set(rids)) == 2, rids
    assert {r["name"] for r in t.to_df().collect()} == {"racer", "retried"}


def test_merge_write_skew_detected(spark, tmp_path):
    """A commit landing between a merge's snapshot read and its own commit
    must make the merge fail (FileExistsError), never be silently built
    over — the merge's version is pinned to its snapshot."""
    t = make_table(spark, tmp_path, [(1, "England", 10)])
    interloper_done = {}
    orig_stage = LakeTable._stage_write

    def stage_with_interloper(self, df, **kw):
        # first _stage_write of the merge: sneak in a concurrent append
        # through a second handle before the merge can commit (guard set
        # eagerly — the interloper's own append re-enters this hook)
        if not interloper_done:
            interloper_done["v"] = None
            interloper_done["v"] = LakeTable(self.spark, self.path).append(
                self.spark.createDataFrame([(7, "Peru", 7)], SCHEMA)
            )
        return orig_stage(self, df, **kw)

    src = spark.createDataFrame([(1, "England", 99, "UPDATE")],
        StructType(SCHEMA.fields + [StructField("op", StringType())]))
    LakeTable._stage_write = stage_with_interloper
    try:
        with pytest.raises(FileExistsError):
            t.merge(
                src,
                "source.id = target.id",
                [MergeClause("update", "source.op = 'UPDATE'", "*")],
            )
    finally:
        LakeTable._stage_write = orig_stage
    # the interloper's commit is intact and the merge left no partial state
    fresh = LakeTable(spark, t.path)
    assert fresh.version() == interloper_done["v"]
    got = {r["id"]: r["visitors"] for r in fresh.to_df().collect()}
    assert got == {1: 10, 7: 7}


def test_merge_in_path_with_space(spark, tmp_path):
    """input_file_name() percent-encodes paths; merge must URL-decode them or
    rewritten files stay active and rows duplicate."""
    root = tmp_path / "tbl with space"
    t = LakeTable.create(spark, str(root), SCHEMA)
    t.append(spark.createDataFrame([(1, "England", 10), (2, "Wales", 20)], SCHEMA))
    src = spark.createDataFrame(
        [(1, "England", 99, "UPDATE")],
        StructType(SCHEMA.fields + [StructField("op", StringType())]),
    )
    m = t.merge(
        src,
        "source.id = target.id",
        [MergeClause("update", "source.op = 'UPDATE'", "*")],
    )
    assert m["num_updated_rows"] == 1
    rows = t.to_df().collect()
    assert len(rows) == 2, rows  # no duplicated survivors
    assert {r["id"]: r["visitors"] for r in rows} == {1: 99, 2: 20}


def test_read_changes_rejects_partial_feed(spark, tmp_path):
    """On a non-CDF table, append-only change feeds still synthesize, but a
    MERGE/DELETE commit in range must raise instead of returning a feed with
    silently missing updates/deletes."""
    t = make_table(spark, tmp_path, [(1, "England", 10)], cdf=False)
    assert t.read_changes().count() == 1  # append-only: synthesized inserts
    src = spark.createDataFrame(
        [(1, "England", 99, "UPDATE")],
        StructType(SCHEMA.fields + [StructField("op", StringType())]),
    )
    t.merge(src, "source.id = target.id",
            [MergeClause("update", "source.op = 'UPDATE'", "*")])
    with pytest.raises(ValueError, match="change feed incomplete"):
        t.read_changes().count()
    # versions before the merge still read fine
    assert t.read_changes(ending_version=1).count() == 1


# ------------------------------------------------ timestamp travel + vacuum


def test_timestamp_as_of(spark, tmp_path):
    t = make_table(spark, tmp_path, [(1, "England", 10)])
    t.append(spark.createDataFrame([(2, "Wales", 20)], SCHEMA))
    hist = {h["version"]: h["timestamp_ms"] for h in t.history()}
    assert t.to_df(timestamp_ms=hist[1]).count() == 1
    # between v1 and v2 commits (or exactly v2): rounds down to the commit
    # at-or-before the timestamp
    assert t.to_df(timestamp_ms=hist[2]).count() == 2
    assert t.version_at_timestamp(hist[2] + 10_000) == 2
    with pytest.raises(ValueError, match="no commit at or before"):
        t.version_at_timestamp(hist[0] - 1)
    with pytest.raises(ValueError, match="not both"):
        t.to_df(version=1, timestamp_ms=hist[1])


def test_vacuum_removes_only_expired_unreferenced_files(spark, tmp_path):
    import os

    t = make_table(spark, tmp_path, [(1, "England", 10), (2, "Wales", 20)])
    src = spark.createDataFrame(
        [(1, "England", 99, "UPDATE")],
        StructType(SCHEMA.fields + [StructField("op", StringType())]),
    )
    t.merge(src, "source.id = target.id",
            [MergeClause("update", "source.op = 'UPDATE'", "*")])
    # v1's original file was rewritten by the merge -> unreferenced now
    all_files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(t.path, "data"))
        for f in fs
    ]
    live = set(t.files())
    dead = [f for f in all_files if f not in live]
    assert dead, "merge should have left at least one rewritten file"

    # retention window still open: nothing is deleted
    assert t.vacuum(retention_ms=3600_000) == []
    assert all(os.path.isfile(f) for f in dead)

    # dry run with horizon now: reports but keeps
    reported = t.vacuum(retention_ms=-1, dry_run=True)
    assert reported and all(os.path.isfile(t._abs(r)) for r in reported)

    # real vacuum with retention 0 (horizon = now): expired files deleted
    deleted = t.vacuum(retention_ms=-1)
    assert sorted(deleted) == sorted(reported)
    assert all(not os.path.isfile(t._abs(r)) for r in deleted)

    # the live snapshot still reads completely
    got = {r["id"]: r["visitors"] for r in t.to_df().collect()}
    assert got == {1: 99, 2: 20}
    # current version (within retention) still time-travels
    assert t.to_df(version=t.version()).count() == 2


def test_merge_bounded_job_count(spark, tmp_path):
    """The merge planner must stay O(1) Spark jobs regardless of clause
    count: one action materializes the persisted source-sided join, one
    groupBy(action, file) collect yields BOTH the touched-file list and
    every per-action count, then the rewrite+insert write. A regression
    that re-plans per clause or re-collects per metric shows up here as a
    job-count jump."""
    t = make_table(
        spark, tmp_path, [(i, "c", i) for i in range(100)], cdf=False
    )
    src = spark.createDataFrame(
        [(i, "c", 1000 + i) for i in range(50, 150)], SCHEMA
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    sc.setJobGroup("merge-count", "merge job budget")
    try:
        t.merge(
            src,
            "source.id = target.id",
            [
                MergeClause("update", "source.visitors <> target.visitors", "*"),
                MergeClause("delete", "source.visitors < 0", None),
                MergeClause("insert", None, "*"),
            ],
        )
    finally:
        sc.setJobGroup(None, None)
    jobs = len(tracker.getJobIdsForGroup("merge-count") or [])
    # persist-materialize, plan-collect, and the snapshot write, plus AQE
    # materializing shuffle stages as extra jobs; the invariant is the
    # budget does NOT scale with clause count (3 clauses here), nor with
    # metric count as it did before the fused planning probe
    assert 1 <= jobs <= 8, f"merge ran {jobs} Spark jobs"


def test_restore_rolls_back_as_new_commit(spark, tmp_path):
    t = make_table(spark, tmp_path, [(1, "England", 10), (2, "Wales", 20)])
    t.append(spark.createDataFrame([(3, "Scotland", 30)], SCHEMA))
    t.merge(
        spark.createDataFrame([(1, "England", 999)], SCHEMA),
        "source.id = target.id",
        [MergeClause("update", None, "*")],
    )
    v_bad = t.version()
    v1_rows = {(r["id"], r["visitors"]) for r in t.to_df(version=1).collect()}
    v = t.restore(1)
    # rollback is a NEW commit on top, content equals the restored version
    assert v == v_bad + 1 and t.version() == v
    assert {(r["id"], r["visitors"]) for r in t.to_df().collect()} == v1_rows
    # history preserved: the bad version still time-travels
    assert {r["id"] for r in t.to_df(version=v_bad).collect()} == {1, 2, 3}
    hist = {h["version"]: h["operation"] for h in t.history()}
    assert hist[v] == "RESTORE"
    # change feed sees the rollback as whole-file deletes + re-inserts
    ch = t.read_changes(starting_version=v)
    kinds = {r["_change_type"] for r in ch.collect()}
    assert "delete" in kinds
    # restore FORWARD to the pre-rollback snapshot also works
    t.restore(v_bad)
    assert {r["visitors"] for r in t.to_df().where(F.col("id") == 1).collect()} == {999}


def test_restore_refuses_vacuumed_versions(spark, tmp_path):
    t = make_table(spark, tmp_path, [(1, "England", 10)], cdf=False)
    t.overwrite(spark.createDataFrame([(2, "Wales", 20)], SCHEMA))
    t.vacuum(retention_ms=-1)
    with pytest.raises(ValueError, match="vacuumed"):
        t.restore(1)


def test_check_constraints_enforced_on_every_write_path(spark, tmp_path):
    from incremental_etl_on_lakehouse_spark.lake.table import (
        ConstraintViolationError,
    )

    t = make_table(spark, tmp_path, [(1, "England", 10), (2, "Wales", 20)])
    t.add_constraint("pos_visitors", "visitors >= 0")
    t.add_not_null("country")
    assert set(t.constraints()) == {"pos_visitors", "nn_country"}
    v = t.version()

    # valid append passes; NULL in a non-constrained column passes
    t.append(spark.createDataFrame([(3, "Scotland", 0)], SCHEMA))
    assert t.version() == v + 1

    # violating append: rejected, version unchanged, no stray staged files
    with pytest.raises(ConstraintViolationError, match="pos_visitors"):
        t.append(spark.createDataFrame([(4, "Eire", -5)], SCHEMA))
    with pytest.raises(ConstraintViolationError, match="nn_country"):
        t.append(spark.createDataFrame([(4, None, 5)], SCHEMA))
    assert t.version() == v + 1
    assert sorted(r["id"] for r in t.to_df().collect()) == [1, 2, 3]

    # UPDATE through the rewrite path is gated too
    with pytest.raises(ConstraintViolationError):
        t.update({"visitors": "-1"}, "id = 1")
    assert t.to_df().where("id = 1").collect()[0]["visitors"] == 10

    # merge: violating UPDATE/INSERT rows abort before any commit
    src = spark.createDataFrame([(1, "England", -99), (9, "Norway", 1)], SCHEMA)
    with pytest.raises(ConstraintViolationError):
        t.merge(
            src,
            "source.id = target.id",
            [
                MergeClause("update", None, "*"),
                MergeClause("insert", None, "*"),
            ],
        )
    assert sorted(r["id"] for r in t.to_df().collect()) == [1, 2, 3]

    # adding a constraint the existing data violates is refused
    with pytest.raises(ConstraintViolationError):
        t.add_constraint("small", "visitors < 15")
    assert "small" not in t.constraints()

    # dropped constraint stops gating; audit trail in history
    t.drop_constraint("pos_visitors")
    t.append(spark.createDataFrame([(4, "Eire", -5)], SCHEMA))
    assert sorted(r["id"] for r in t.to_df().collect()) == [1, 2, 3, 4]
    ops = [h["operation"] for h in t.history()]
    assert "ADD CONSTRAINT" in ops and "DROP CONSTRAINT" in ops


def test_shallow_clone_zero_copy_and_independent_evolution(spark, tmp_path):
    import os

    t = make_table(spark, tmp_path, [(1, "England", 10), (2, "Wales", 20)])
    clone = t.clone(str(tmp_path / "clone"), shallow=True)

    # zero copy: every referenced file resolves inside the SOURCE dir
    assert clone.files() and all(
        os.path.realpath(f).startswith(os.path.realpath(t.path))
        for f in clone.files()
    )
    assert sorted(r["id"] for r in clone.to_df().collect()) == [1, 2]

    # independent evolution: clone append is invisible to the source
    clone.append(spark.createDataFrame([(3, "Scotland", 30)], SCHEMA))
    assert sorted(r["id"] for r in clone.to_df().collect()) == [1, 2, 3]
    assert sorted(r["id"] for r in t.to_df().collect()) == [1, 2]

    # a clone-side rewrite drops source references from the clone snapshot,
    # but VACUUM on the clone must never unlink source bytes
    clone.delete("id = 1")
    deleted = clone.vacuum(retention_ms=-1)
    assert deleted == [] or all(".." not in d for d in deleted)
    assert sorted(r["id"] for r in t.to_df().collect()) == [1, 2]

    # deep clone carries its own bytes
    deep = t.clone(str(tmp_path / "deep"), shallow=False)
    assert all(
        os.path.realpath(f).startswith(os.path.realpath(deep.path))
        for f in deep.files()
    )
    assert sorted(r["id"] for r in deep.to_df().collect()) == [1, 2]


def test_shallow_clone_partitioned_reads_and_prunes(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "ptbl"), SCHEMA, partition_by=["country"]
    )
    t.append(
        spark.createDataFrame(
            [(1, "England", 10), (2, "Wales", 20), (3, "England", 30)], SCHEMA
        )
    )
    clone = t.clone(str(tmp_path / "pclone"), shallow=True)
    got = sorted((r["id"], r["country"]) for r in clone.to_df().collect())
    assert got == [(1, "England"), (2, "Wales"), (3, "England")]
    assert clone.to_df().where("country = 'Wales'").count() == 1


def make_dv_table(spark, tmp_path, rows, name="dvt"):
    t = LakeTable.create(
        spark,
        str(tmp_path / name),
        SCHEMA,
        properties={
            "enableChangeDataFeed": "true",
            "enableDeletionVectors": "true",
        },
    )
    if rows:
        t.append(spark.createDataFrame(rows, SCHEMA))
    return t


def test_dv_delete_marks_rows_without_rewriting_files(spark, tmp_path):
    rows = [(i, "England" if i % 2 else "Wales", i * 10) for i in range(1, 9)]
    t = make_dv_table(spark, tmp_path, rows)
    files_before = sorted(t.files())
    v = t.delete("country = 'Wales'")
    # zero data-file churn: same active files, rows masked by the sidecar
    assert sorted(t.files()) == files_before
    assert sorted(r["id"] for r in t.to_df().collect()) == [1, 3, 5, 7]
    # the DV commit reports row-accurate metrics
    h = {c["version"]: c for c in t.history()}
    assert h[v]["metrics"]["deletion_vector"] is True
    assert h[v]["metrics"]["num_deleted_rows"] == 4
    # time travel reads pre-delete state (no DV at that version)
    assert t.to_df(version=v - 1).count() == 8
    # CDF reports the deletes
    ch = t.read_changes(starting_version=v, ending_version=v).collect()
    assert sorted(r["id"] for r in ch) == [2, 4, 6, 8]
    assert all(r["_change_type"] == "delete" for r in ch)


def test_dv_cumulative_deletes_and_compact_materializes(spark, tmp_path):
    rows = [(i, "C", i) for i in range(1, 11)]
    t = make_dv_table(spark, tmp_path, rows)
    files_before = sorted(t.files())
    t.delete("id <= 3")
    t.delete("id >= 9")  # second DV on the same file must be cumulative
    assert sorted(r["id"] for r in t.to_df().collect()) == [4, 5, 6, 7, 8]
    assert sorted(t.files()) == files_before
    # delete of already-DV'd rows is a no-op commit (they're invisible)
    v = t.delete("id = 2")
    assert t.to_df().count() == 5
    h = {c["version"]: c for c in t.history()}
    assert h[v]["metrics"] == {}
    # compact applies the DVs physically and releases the sidecars
    t.compact()
    assert t._state()["dv"] == {}
    assert sorted(r["id"] for r in t.to_df().collect()) == [4, 5, 6, 7, 8]
    # released sidecars become vacuumable
    victims = t.vacuum(retention_ms=-1)
    assert any(v.startswith("_dv") for v in victims)
    assert sorted(r["id"] for r in t.to_df().collect()) == [4, 5, 6, 7, 8]


def test_dv_update_stages_only_updated_rows(spark, tmp_path):
    rows = [(i, "C", i * 10) for i in range(1, 9)]
    t = make_dv_table(spark, tmp_path, rows)
    files_before = set(t.files())
    v = t.update({"visitors": "visitors + 1"}, "id IN (2, 5)")
    # old files all still active, plus a small new file with the 2 rows
    assert files_before <= set(t.files())
    new_files = set(t.files()) - files_before
    assert len(new_files) >= 1
    got = {r["id"]: r["visitors"] for r in t.to_df().collect()}
    assert got == {1: 10, 2: 21, 3: 30, 4: 40, 5: 51, 6: 60, 7: 70, 8: 80}
    # CDF pre/post pairs
    ch = t.read_changes(starting_version=v, ending_version=v).collect()
    kinds = sorted((r["id"], r["_change_type"]) for r in ch)
    assert kinds == [
        (2, "update_postimage"), (2, "update_preimage"),
        (5, "update_postimage"), (5, "update_preimage"),
    ]


@pytest.mark.parametrize(
    "condition, clauses",
    [
        # the ON condition fails analysis at the planning join
        ("source.id = target.nope", [MergeClause("delete")]),
        # a clause condition fails analysis in the action classifier
        ("source.id = target.id", [MergeClause("delete", "source.nope > 0")]),
    ],
    ids=["on_condition", "clause_condition"],
)
def test_failed_merge_releases_its_source(
    spark, tmp_path, cache_guard, condition, clauses
):
    """A MERGE that fails analysis after persisting its source must not
    leave that source in the CacheManager."""
    t = make_table(spark, tmp_path, [(1, "England", 10)])
    src = spark.createDataFrame([(1, "Wales", 20)], SCHEMA)
    with pytest.raises(Exception, match="nope"):
        t.merge(src, condition, clauses)
    assert cache_guard() == 0


@pytest.mark.parametrize(
    "write, dml",
    [
        ("_write_dv", lambda t: t.delete("id = 2")),
        ("_write_cdf", lambda t: t.delete("id = 2")),
        ("_write_dv", lambda t: t.update({"visitors": "0"}, "id = 2")),
        ("_write_cdf", lambda t: t.update({"visitors": "0"}, "id = 2")),
    ],
    ids=["delete_dv", "delete_cdf", "update_dv", "update_cdf"],
)
def test_failed_dv_write_releases_persisted_rows(
    spark, tmp_path, monkeypatch, cache_guard, write, dml
):
    """DV DELETE/UPDATE persist the affected rows for the sidecar, data
    and change-feed writes; a raising write must still release them."""
    t = make_dv_table(spark, tmp_path, [(i, "C", i) for i in range(1, 5)])

    def boom(*a, **k):
        raise RuntimeError("write failed")

    monkeypatch.setattr(LakeTable, write, boom)
    with pytest.raises(RuntimeError, match="write failed"):
        dml(t)
    assert cache_guard() == 0


def test_dv_merge_reads_through_vectors_and_rewrites_clean(spark, tmp_path):
    rows = [(1, "A", 10), (2, "B", 20), (3, "C", 30)]
    t = make_dv_table(spark, tmp_path, rows)
    t.delete("id = 2")
    # a merge keyed on a DV-deleted row must treat it as absent (insert)
    src = spark.createDataFrame([(2, "B2", 99), (3, "C2", 33)], SCHEMA)
    t.merge(
        src,
        "source.id = target.id",
        [MergeClause("update", None, "*"), MergeClause("insert", None, "*")],
    )
    got = {r["id"]: (r["country"], r["visitors"]) for r in t.to_df().collect()}
    assert got == {1: ("A", 10), 2: ("B2", 99), 3: ("C2", 33)}
    # the file holding the DV-deleted old id=2 row was NOT matched by any
    # clause, so it keeps its vector; a rewritten file would have dropped
    # its pointer. Compaction materializes everything and clears the map.
    t.compact()
    assert t._state()["dv"] == {}
    got2 = {r["id"]: (r["country"], r["visitors"]) for r in t.to_df().collect()}
    assert got2 == got


def test_dv_restore_reinstates_vector_state(spark, tmp_path):
    rows = [(i, "C", i) for i in range(1, 6)]
    t = make_dv_table(spark, tmp_path, rows)
    v_full = t.version()
    t.delete("id = 2")
    v_dv1 = t.version()
    t.delete("id = 4")
    assert sorted(r["id"] for r in t.to_df().collect()) == [1, 3, 5]
    # restore to the single-delete version: DV state must roll back with it
    t.restore(v_dv1)
    assert sorted(r["id"] for r in t.to_df().collect()) == [1, 3, 4, 5]
    # restore to the pre-delete version: DV tombstoned entirely
    t.restore(v_full)
    assert sorted(r["id"] for r in t.to_df().collect()) == [1, 2, 3, 4, 5]
    assert t._state()["dv"] == {}


def test_dv_partitioned_table(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "pdv"),
        SCHEMA,
        properties={"enableDeletionVectors": "true"},
        partition_by=["country"],
    )
    t.append(
        spark.createDataFrame(
            [(1, "A", 10), (2, "A", 20), (3, "B", 30), (4, "B", 40)], SCHEMA
        )
    )
    files_before = sorted(t.files())
    t.delete("visitors = 20")
    assert sorted(t.files()) == files_before
    got = sorted((r["id"], r["country"]) for r in t.to_df().collect())
    assert got == [(1, "A"), (3, "B"), (4, "B")]
    # partition pruning still works through the DV anti-join
    assert t.to_df().where("country = 'A'").count() == 1


def test_dv_manifest_refuses_then_compact_allows(spark, tmp_path):
    t = make_dv_table(spark, tmp_path, [(1, "A", 1), (2, "B", 2)])
    t.delete("id = 1")
    with pytest.raises(ValueError, match="deletion vectors"):
        t.generate_manifest()
    t.compact()
    assert t.generate_manifest()


def test_replace_where_atomic_partial_overwrite(spark, tmp_path):
    t = make_table(
        spark,
        tmp_path,
        [(1, "England", 10), (2, "Wales", 20), (3, "England", 30)],
    )
    v0 = t.version()
    # rows outside the predicate are rejected up front
    with pytest.raises(ValueError, match="replaceWhere"):
        t.overwrite_where(
            spark.createDataFrame([(9, "Eire", 90)], SCHEMA),
            "country = 'England'",
        )
    assert t.version() == v0
    v = t.overwrite_where(
        spark.createDataFrame(
            [(7, "England", 70), (8, "England", 80)], SCHEMA
        ),
        "country = 'England'",
    )
    got = sorted((r["id"], r["country"]) for r in t.to_df().collect())
    assert got == [(2, "Wales"), (7, "England"), (8, "England")]
    assert v == v0 + 1  # one atomic commit
    # change feed: replaced rows as deletes, new rows as inserts, the kept
    # Wales row absent
    ch = sorted(
        (r["id"], r["_change_type"])
        for r in t.read_changes(starting_version=v, ending_version=v).collect()
    )
    assert ch == [(1, "delete"), (3, "delete"), (7, "insert"), (8, "insert")]
    # time travel still sees the pre-replace snapshot
    assert sorted(r["id"] for r in t.to_df(version=v0).collect()) == [1, 2, 3]


def test_replace_where_untouched_files_not_rewritten(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "rw"), SCHEMA, partition_by=["country"]
    )
    t.append(
        spark.createDataFrame(
            [(1, "A", 10), (2, "B", 20), (3, "B", 30)], SCHEMA
        )
    )
    before = set(t.files())
    t.overwrite_where(
        spark.createDataFrame([(9, "A", 90)], SCHEMA), "country = 'A'"
    )
    after = set(t.files())
    # the B-partition file survives untouched
    b_files = {f for f in before if "country=B" in f}
    assert b_files <= after
    got = sorted((r["id"], r["country"]) for r in t.to_df().collect())
    assert got == [(2, "B"), (3, "B"), (9, "A")]


def test_rename_column_metadata_only(spark, tmp_path):
    t = make_table(spark, tmp_path, [(1, "England", 10), (2, "Wales", 20)])
    files_before = sorted(t.files())
    v = t.rename_column("visitors", "visit_count")
    # metadata-only: same data files, new logical name
    assert sorted(t.files()) == files_before
    assert [f.name for f in t.schema().fields] == ["id", "country", "visit_count"]
    got = {r["id"]: r["visit_count"] for r in t.to_df().collect()}
    assert got == {1: 10, 2: 20}
    # writes after the rename use the new logical name and land in the
    # same physical column, so old and new files union cleanly
    t.append(spark.createDataFrame([(3, "Scotland", 30)],
             "id long, country string, visit_count long"))
    got = {r["id"]: r["visit_count"] for r in t.to_df().collect()}
    assert got == {1: 10, 2: 20, 3: 30}
    # predicates/updates on the new name work across old+new files
    t.update({"visit_count": "visit_count + 1"}, "id = 1")
    assert t.to_df().where("visit_count = 11").count() == 1
    # CDF written before AND after the rename reads under the current name
    ch = t.read_changes(starting_version=1)
    assert "visit_count" in ch.columns and "visitors" not in ch.columns
    assert ch.count() > 0
    # audit trail
    ops = [h["operation"] for h in t.history()]
    assert "RENAME COLUMN" in ops
    assert v == 2


def test_rename_column_restrictions(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "rp"), SCHEMA, partition_by=["country"],
        properties={"statsColumns": "id"},
    )
    t.append(spark.createDataFrame([(1, "A", 10)], SCHEMA))
    with pytest.raises(ValueError, match="partition"):
        t.rename_column("country", "nation")
    with pytest.raises(ValueError, match="statsColumns"):
        t.rename_column("id", "ident")
    t2 = make_table(spark, tmp_path, [(1, "A", 10)], cdf=False)
    t2.add_constraint("pos", "visitors >= 0")
    with pytest.raises(ValueError, match="constraint"):
        t2.rename_column("visitors", "v2")
    with pytest.raises(ValueError, match="no such column"):
        t2.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        t2.rename_column("id", "country")


def test_rename_column_merge_and_second_rename(spark, tmp_path):
    t = make_table(spark, tmp_path, [(1, "England", 10)], cdf=False)
    t.rename_column("visitors", "v2")
    src = spark.createDataFrame(
        [(1, "England", 99), (2, "Wales", 20)],
        "id long, country string, v2 long",
    )
    t.merge(
        src,
        "source.id = target.id",
        [MergeClause("update", None, "*"), MergeClause("insert", None, "*")],
    )
    got = {r["id"]: r["v2"] for r in t.to_df().collect()}
    assert got == {1: 99, 2: 20}
    # rename a second time: physical anchor stays the ORIGINAL name
    t.rename_column("v2", "v3")
    got = {r["id"]: r["v3"] for r in t.to_df().collect()}
    assert got == {1: 99, 2: 20}
    phys = {
        f.name: (f.metadata or {}).get("physical", f.name)
        for f in t.schema().fields
    }
    assert phys["v3"] == "visitors"


def test_bloom_filter_index_skips_point_lookups(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "bf"),
        SCHEMA,
        properties={"bloomFilterColumns": "country", "bloomFilterBits": "8192"},
    )
    # three appends -> three files with disjoint country sets
    t.append(spark.createDataFrame([(1, "Albania", 1), (2, "Belgium", 2)], SCHEMA).coalesce(1))
    t.append(spark.createDataFrame([(3, "Croatia", 3), (4, "Denmark", 4)], SCHEMA).coalesce(1))
    t.append(spark.createDataFrame([(5, "Estonia", 5), (6, "Finland", 6)], SCHEMA).coalesce(1))
    assert len(t.files()) == 3
    # the probe prunes to (almost certainly) the single containing file
    probed = t._touched_candidates("country = 'Croatia'")
    assert len(probed) <= 2  # bloom fp could retain one extra, never all
    assert any("data" in p for p in probed)
    # and NEVER loses the containing file: the delete is correct
    v = t.delete("country = 'Croatia'")
    got = sorted(r["country"] for r in t.to_df().collect())
    assert got == ["Albania", "Belgium", "Denmark", "Estonia", "Finland"]
    h = {c["version"]: c for c in t.history()}
    assert h[v]["metrics"]["num_touched_files"] == 1
    # probe for an absent key touches nothing
    assert t._touched_candidates("country = 'Wakanda'") == [] or len(
        t._touched_candidates("country = 'Wakanda'")
    ) <= 1
    v2 = t.delete("country = 'Wakanda'")
    assert h != {} and t.to_df().count() == 5
    # integer point probes hash with the column's type (long), not the
    # python literal's: id = 5 must find Estonia's file
    probed_id = t._touched_candidates("id = 5")
    assert len(probed_id) == 3  # id is NOT bloom-indexed: all files kept
    t2 = LakeTable.create(
        spark,
        str(tmp_path / "bf2"),
        SCHEMA,
        properties={"bloomFilterColumns": "id"},
    )
    t2.append(spark.createDataFrame([(10, "x", 1)], SCHEMA).coalesce(1))
    t2.append(spark.createDataFrame([(20, "y", 2)], SCHEMA).coalesce(1))
    assert len(t2._touched_candidates("id = 20")) <= 1
    t2.delete("id = 20")
    assert [r["id"] for r in t2.to_df().collect()] == [10]


def test_manifest_refuses_renamed_table(spark, tmp_path):
    t = make_table(spark, tmp_path, [(1, "A", 1)], cdf=False)
    assert t.generate_manifest()
    t.rename_column("visitors", "v2")
    with pytest.raises(ValueError, match="column-mapped"):
        t.generate_manifest()


def test_generated_columns_compute_and_enforce(spark, tmp_path):
    from incremental_etl_on_lakehouse_spark.lake.table import (
        ConstraintViolationError,
    )

    t = LakeTable.create(
        spark,
        str(tmp_path / "gen"),
        SCHEMA,
        properties={"generated.visitors": "id * 10"},
    )
    # absent column -> computed from the expression
    t.append(
        spark.createDataFrame([(1, "A"), (2, "B")], "id long, country string")
    )
    got = {r["id"]: r["visitors"] for r in t.to_df().collect()}
    assert got == {1: 10, 2: 20}
    # provided-and-consistent passes
    t.append(spark.createDataFrame([(3, "C", 30)], SCHEMA))
    # provided-but-wrong is rejected at the gate, atomically
    v = t.version()
    with pytest.raises(ConstraintViolationError, match="gen_visitors"):
        t.append(spark.createDataFrame([(4, "D", 5)], SCHEMA))
    assert t.version() == v
    assert sorted(r["id"] for r in t.to_df().collect()) == [1, 2, 3]
    # creation-time validation
    with pytest.raises(ValueError, match="generated column not in schema"):
        LakeTable.create(
            spark,
            str(tmp_path / "gen2"),
            SCHEMA,
            properties={"generated.nope": "id"},
        )


def test_identity_columns_assign_unique_advancing(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "ident"),
        SCHEMA,
        properties={"identity.id": "100,5"},
    )
    t.append(
        spark.createDataFrame(
            [("A", 1), ("B", 2), ("C", 3)], "country string, visitors long"
        ).repartition(2)
    )
    first = sorted(r["id"] for r in t.to_df().collect())
    assert len(set(first)) == 3
    assert all(v >= 100 and (v - 100) % 5 == 0 for v in first)
    hwm1 = int(t.properties()["identityHighWater.id"])
    assert hwm1 == max(first)
    # second append never collides and advances past the first batch
    t.append(
        spark.createDataFrame([("D", 4), ("E", 5)], "country string, visitors long")
    )
    allids = [r["id"] for r in t.to_df().collect()]
    assert len(set(allids)) == 5
    second = sorted(set(allids) - set(first))
    assert min(second) > hwm1
    # GENERATED ALWAYS: explicit values are rejected
    with pytest.raises(ValueError, match="GENERATED ALWAYS AS IDENTITY"):
        t.append(spark.createDataFrame([(999, "F", 6)], SCHEMA))
    # invalid declarations
    with pytest.raises(ValueError, match="identity column not in schema"):
        LakeTable.create(
            spark, str(tmp_path / "i2"), SCHEMA, properties={"identity.zz": "1,1"}
        )


def test_read_changes_timestamp_bounds(spark, tmp_path):
    import time as _time

    t = make_table(spark, tmp_path, [(1, "A", 1)])
    ts_after_v1 = int(_time.time() * 1000)
    _time.sleep(0.05)
    t.append(spark.createDataFrame([(2, "B", 2)], SCHEMA))
    # starting at a timestamp between v1 and v2 yields only v2's insert
    ch = t.read_changes(starting_timestamp_ms=ts_after_v1 + 1).collect()
    assert sorted(r["id"] for r in ch) == [2]
    # ending at that timestamp yields only v1's
    ch = t.read_changes(ending_timestamp_ms=ts_after_v1).collect()
    assert sorted(r["id"] for r in ch) == [1]
    # a starting timestamp after every commit yields an empty feed
    assert t.read_changes(starting_timestamp_ms=int(_time.time() * 1000) + 10_000).count() == 0


def test_stream_modes_over_dv_table(spark, tmp_path):
    """Streaming over a DV table: append-mode sees only ADDED files (a DV
    delete adds none — Delta's ignoreDeletes; a DV update re-delivers just
    the small updated-rows file — ignoreChanges); cdf-mode reports the
    exact row-level deletes and update pairs."""
    t = make_dv_table(spark, tmp_path, [(i, "C", i * 10) for i in range(1, 5)])
    t.delete("id = 2")
    t.update({"visitors": "visitors + 1"}, "id = 3")
    batches = []
    reader = LakeStreamReader(
        t, str(tmp_path / "ck.json"), mode="append", starting_version=1
    )
    reader.process_available(
        lambda df, v: batches.append((v, sorted(r["id"] for r in df.collect())))
    )
    # v1 = initial 4 rows; v2 (DV delete) adds no files; v3 (DV update)
    # re-delivers only the updated row
    assert batches == [(1, [1, 2, 3, 4]), (3, [3])]
    cdf_batches = []
    r2 = LakeStreamReader(
        t, str(tmp_path / "ck2.json"), mode="cdf", starting_version=2
    )
    r2.process_available(
        lambda df, v: cdf_batches.append(
            (v, sorted((r["id"], r["_change_type"]) for r in df.collect()))
        )
    )
    assert cdf_batches == [
        (2, [(2, "delete")]),
        (3, [(3, "update_postimage"), (3, "update_preimage")]),
    ]


def test_idempotent_append_txn_versioning(spark, tmp_path):
    """Delta-style txnAppId/txnVersion: a replayed micro-batch append is a
    no-op; newer versions land; independent app ids don't interfere."""
    t = make_table(spark, tmp_path, [], cdf=False)
    b1 = spark.createDataFrame([(1, "A", 1)], SCHEMA)
    v = t.append(b1, txn_app_id="job1", txn_version=1)
    assert t.to_df().count() == 1 and t.txn_version("job1") == 1
    # exact replay (crash-recovery re-delivery): no-op, version unchanged
    assert t.append(b1, txn_app_id="job1", txn_version=1) == v
    assert t.to_df().count() == 1
    # stale replay (older epoch) also a no-op
    assert t.append(b1, txn_app_id="job1", txn_version=0) == v
    # next epoch lands
    t.append(spark.createDataFrame([(2, "B", 2)], SCHEMA),
             txn_app_id="job1", txn_version=2)
    assert t.to_df().count() == 2 and t.txn_version("job1") == 2
    # a different app id has its own sequence
    t.append(spark.createDataFrame([(3, "C", 3)], SCHEMA),
             txn_app_id="job2", txn_version=1)
    assert t.to_df().count() == 3
    assert t.txn_version("job1") == 2 and t.txn_version("job2") == 1
    # guard: mismatched arguments
    with pytest.raises(ValueError, match="together"):
        t.append(b1, txn_app_id="job1")


def test_incremental_optimize_touches_only_small_files(spark, tmp_path):
    t = make_table(spark, tmp_path, [], cdf=False)
    # one big file, three small ones
    t.append(spark.createDataFrame([(i, "c", i) for i in range(100)], SCHEMA).coalesce(1))
    for i in range(3):
        t.append(spark.createDataFrame([(1000 + i, "c", i)], SCHEMA).coalesce(1))
    files = {f: True for f in t.files()}
    assert len(files) == 4
    big = [f for f in t.files() if "part-" in f][0]  # resolved below by rows
    state = t._state()
    big_rel = [r for r, a in state["active"].items() if a["rows"] == 100][0]
    t.compact(max_input_file_rows=10)
    after = t.files()
    # the big file survives untouched; the three small ones merged
    assert any(f.endswith(big_rel.split("/")[-1]) for f in after)
    assert len(after) == 2
    assert t.to_df().count() == 103
    # nothing small left: incremental OPTIMIZE now no-ops (empty commit)
    v = t.compact(max_input_file_rows=0)
    assert len(t.files()) == 2 and t.version() == v
    # a DV-carrying file IS selected even if large (vector materialized)
    t2 = make_dv_table(spark, tmp_path, [(i, "c", i) for i in range(50)], name="dvopt")
    t2.delete("id < 5")
    t2.compact(max_input_file_rows=1)
    assert t2._state()["dv"] == {}
    assert t2.to_df().count() == 45


def test_incremental_vs_full_optimize_same_content(spark, tmp_path):
    """Fork the table with a shallow clone, run FULL compaction on one and
    INCREMENTAL on the other: logical content must be identical, and the
    incremental side must keep its pre-sized big file."""
    t = make_table(spark, tmp_path, [], cdf=False)
    t.append(spark.createDataFrame([(i, "c", i) for i in range(200)], SCHEMA).coalesce(1))
    for i in range(4):
        t.append(spark.createDataFrame([(1000 + i, "d", i)], SCHEMA).coalesce(1))
    t.delete("id % 50 = 1")
    clone = t.clone(str(tmp_path / "full"), shallow=True)
    big_rel = [r for r, a in t._state()["active"].items() if a["rows"] >= 100]
    t.compact(max_input_file_rows=10)
    clone.compact()
    a = sorted(tuple(r) for r in t.to_df().collect())
    b = sorted(tuple(r) for r in clone.to_df().collect())
    assert a == b and len(a) == 199  # 204 appended - 5 deleted (1,51,101,151,1001)
    # incremental kept the big file; full rewrote everything
    assert any(f.endswith(big_rel[0].split("/")[-1]) for f in t.files())
    assert not any(f.endswith(big_rel[0].split("/")[-1]) for f in clone.files())


def test_rename_then_schema_evolution_append(spark, tmp_path):
    """A rename's physical-name metadata must survive a later additive
    schema evolution (the evolved schema_json rewrites the full field
    list), and the evolved column reads back across pre/post files."""
    t = make_table(spark, tmp_path, [(1, "A", 10)], cdf=False)
    t.rename_column("visitors", "visit_count")
    t.append(
        spark.createDataFrame(
            [(2, "B", 20, "x")],
            "id long, country string, visit_count long, note string",
        ),
        merge_schema=True,
    )
    got = {
        r["id"]: (r["visit_count"], r["note"]) for r in t.to_df().collect()
    }
    assert got == {1: (10, None), 2: (20, "x")}
    phys = {
        f.name: (f.metadata or {}).get("physical", f.name)
        for f in t.schema().fields
    }
    assert phys["visit_count"] == "visitors" and phys["note"] == "note"
    # and a THIRD write after evolution still lands in the right physical
    t.update({"visit_count": "visit_count * 2"}, "id = 1")
    assert t.to_df().where("id = 1").collect()[0]["visit_count"] == 20


# ---------------------------------------------------------------------------
# COPY INTO — idempotent batch file ingestion
# ---------------------------------------------------------------------------


def test_copy_into_idempotent(spark, tmp_path):
    import pandas as pd

    from incremental_etl_on_lakehouse_spark.lake import LakeTable
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    land = tmp_path / "land"
    land.mkdir()
    pd.DataFrame({"id": [1, 2], "v": ["a", "b"]}).to_parquet(land / "f0.parquet")
    pd.DataFrame({"id": [3], "v": ["c"]}).to_parquet(land / "f1.parquet")

    schema = StructType([StructField("id", LongType()), StructField("v", StringType())])
    t = LakeTable.create(spark, str(tmp_path / "t"), schema)

    r1 = t.copy_into(str(land))
    assert r1["num_files"] == 2 and r1["num_rows"] == 3
    assert t.to_df().count() == 3
    # idempotent re-run: nothing ingested, no version advance
    v = t.version()
    r2 = t.copy_into(str(land))
    assert r2 == {"num_files": 0, "num_rows": 0, "version": v}
    # a late file is ingested exactly once
    pd.DataFrame({"id": [4], "v": ["d"]}).to_parquet(land / "f2.parquet")
    r3 = t.copy_into(str(land))
    assert r3["num_files"] == 1 and t.to_df().count() == 4
    assert sorted(x.id for x in t.to_df().collect()) == [1, 2, 3, 4]
    # ingested-file bookkeeping survives unrelated commits
    t.append(spark.createDataFrame([(9, "z")], schema))
    assert t.copy_into(str(land))["num_files"] == 0
    # format gate
    import pytest as _pytest
    with _pytest.raises(ValueError, match="unsupported"):
        t.copy_into(str(land), file_format="avro")


def test_copy_into_feeds_change_feed(spark, tmp_path):
    import pandas as pd

    from incremental_etl_on_lakehouse_spark.lake import LakeTable
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    land = tmp_path / "land"
    land.mkdir()
    pd.DataFrame({"id": [1, 2], "v": ["a", "b"]}).to_parquet(land / "f0.parquet")
    schema = StructType([StructField("id", LongType()), StructField("v", StringType())])
    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema,
        properties={"enableChangeDataFeed": "true"},
    )
    t.copy_into(str(land))
    ch = t.read_changes(starting_version=1).collect()
    assert {(r.id, r["_change_type"]) for r in ch} == {(1, "insert"), (2, "insert")}


def test_set_unset_tblproperties(spark, tmp_path):
    from incremental_etl_on_lakehouse_spark.lake import LakeTable
    from pyspark.sql.types import LongType, StructField, StructType

    t = LakeTable.create(
        spark, str(tmp_path / "p"),
        StructType([StructField("id", LongType())]),
        properties={"keep": "1"},
    )
    t.set_properties({"a": "x", "statsColumns": "id"})
    assert t.properties()["a"] == "x" and t.stats_columns() == ["id"]
    t.unset_properties(["a"])
    props = t.properties()
    assert "a" not in props and props["keep"] == "1"
    # unset survives a checkpoint rollup (25 commits > checkpoint cadence)
    df = spark.createDataFrame([(1,)], "id long")
    for _ in range(25):
        t.append(df)
    assert "a" not in t.properties()
    import pytest as _pytest
    with _pytest.raises(ValueError, match="fixed at table creation"):
        t.set_properties({"partitionBy": "id"})
    with _pytest.raises(ValueError, match="fixed at table creation"):
        t.unset_properties(["identity.id"])


def test_analyze_table_stats(spark, tmp_path):
    """ANALYZE computes row/column stats in one pass, persists them as a
    stats.json property, merges FOR COLUMNS runs instead of clobbering,
    and the SQL front door routes the statement."""
    from incremental_etl_on_lakehouse_spark.lake.sql import execute_statement

    t = LakeTable.create(
        spark,
        str(tmp_path / "an"),
        StructType(
            [
                StructField("id", LongType()),
                StructField("grp", StringType()),
                StructField("v", LongType()),
            ]
        ),
    )
    t.append(
        spark.createDataFrame(
            [(1, "a", 10), (2, "a", None), (3, "b", 30), (4, None, 40)],
            "id long, grp string, v long",
        )
    )
    s1 = t.analyze(columns=["id", "grp"], exact_ndv=True)
    assert s1["numRows"] == 4
    assert s1["columns"]["grp"] == {
        "nonNull": 3, "ndv": 2, "min": "a", "max": "b",
    }
    # FOR COLUMNS v merges; id/grp stats survive
    s2 = execute_statement(
        spark, "ANALYZE TABLE an COMPUTE STATISTICS FOR COLUMNS v", {"an": t}
    )
    merged = t.table_stats()
    assert set(merged["columns"]) == {"id", "grp", "v"}
    assert merged["columns"]["v"]["nonNull"] == 3
    assert merged["columns"]["grp"]["ndv"] == 2
    # stats survive a fresh handle (they live in the commit log)
    t2 = LakeTable(spark, str(tmp_path / "an"))
    assert t2.table_stats() == merged
    # unknown column is an error
    with pytest.raises(ValueError, match="nope"):
        t.analyze(columns=["nope"])
    # full-table ANALYZE without FOR COLUMNS covers every column
    execute_statement(spark, "ANALYZE TABLE an COMPUTE STATISTICS", {"an": t})
    assert set(t.table_stats()["columns"]) == {"id", "grp", "v"}


def test_many_concurrent_appenders_all_land(spark, tmp_path):
    """4 writers x 3 appends each through a start barrier: every commit
    lands (auto-rebase absorbs every collision), the version chain is
    contiguous 1..13, and no rows are lost or duplicated."""
    import threading

    t = make_table(spark, tmp_path, [(0, "Base", 0)])
    barrier = threading.Barrier(4)
    errors: list[Exception] = []

    def writer(wid: int) -> None:
        try:
            handle = LakeTable(spark, t.path)
            barrier.wait()
            for j in range(3):
                handle.append(
                    spark.createDataFrame(
                        [(wid * 100 + j, f"W{wid}", wid)], SCHEMA
                    )
                )
        except Exception as ex:  # pragma: no cover - failure detail
            errors.append(ex)

    ths = [threading.Thread(target=writer, args=(w,)) for w in range(4)]
    for th in ths:
        th.start()
    for th in ths:
        th.join()
    assert not errors, errors
    assert t.version() == 13  # create + base append + 12 raced appends
    ids = [r["id"] for r in t.to_df().collect()]
    assert sorted(ids) == sorted(
        [0] + [w * 100 + j for w in range(4) for j in range(3)]
    )
    from incremental_etl_on_lakehouse_spark.lake import log as lakelog

    versions = [c.version for c in lakelog.read_log(t.path)]
    assert versions == list(range(14)), versions


def test_vacuum_sweeps_crashed_writer_tmp_files(spark, tmp_path):
    """A writer killed between staging and linking its commit leaves a
    `*.json.tmp-<uuid>` in the log dir: invisible to read_log, but VACUUM
    past retention must sweep it (and must NOT touch a fresh one)."""
    import os
    import time

    from incremental_etl_on_lakehouse_spark.lake import log as lakelog

    t = make_table(spark, tmp_path, [(1, "England", 10)])
    ldir = lakelog.log_dir(t.path)
    stale = os.path.join(ldir, f"{2:020d}.json.tmp-deadbeef")
    fresh = os.path.join(ldir, f"{3:020d}.json.tmp-cafebabe")
    for p in (stale, fresh):
        with open(p, "w") as f:
            f.write("{}")
    old = time.time() - 8 * 24 * 3600
    os.utime(stale, (old, old))
    # readers ignore residue entirely
    assert t.version() == 1 and t.to_df().count() == 1
    swept = t.vacuum()  # default 7-day retention
    assert any("tmp-deadbeef" in s for s in swept), swept
    assert not os.path.exists(stale)
    assert os.path.exists(fresh)  # within retention: kept
    # the table still reads and commits normally afterwards
    t.append(spark.createDataFrame([(2, "Wales", 20)], SCHEMA))
    assert t.to_df().count() == 2


def test_append_stream_reads_through_restore_dv(spark, tmp_path):
    """An append-mode stream over a RESTORE commit must read the re-added
    files through the commit's deletion-vector patch — never delivering
    rows that are DV-deleted in the restored snapshot."""
    from incremental_etl_on_lakehouse_spark.lake import log as lakelog

    schema = StructType([StructField("k", LongType())])
    t = LakeTable.create(
        spark,
        str(tmp_path / "dvstream"),
        schema,
        properties={"enableDeletionVectors": "true"},
    )
    t.append(spark.createDataFrame([(i,) for i in range(6)], schema))  # v1
    t.delete("k >= 4")  # v2: DV on the file
    t.overwrite(spark.createDataFrame([(99,)], schema))  # v3: drops the file
    v4 = t.restore(2)  # v4: re-adds the file WITH its v2 deletion vector
    seen = {}
    reader = LakeStreamReader(
        t, str(tmp_path / "ck.json"), mode="append", starting_version=v4
    )
    reader.process_available(
        lambda df, v: seen.setdefault(v, sorted(r["k"] for r in df.collect()))
    )
    assert seen == {v4: [0, 1, 2, 3]}, seen  # 4,5 are DV-deleted


def test_stream_max_versions_per_trigger_coalesces(spark, tmp_path):
    """max_versions_per_trigger=N delivers up to N commits per batch, with
    fn receiving the window's last version (the checkpointed offset)."""
    t = make_table(spark, tmp_path, [], cdf=False)
    for i in range(5):
        t.append(spark.createDataFrame([(i, "c", i)], SCHEMA).coalesce(1))
    seen = []
    reader = LakeStreamReader(
        t,
        str(tmp_path / "ckN.json"),
        mode="append",
        starting_version=1,
        max_versions_per_trigger=2,
    )
    n = reader.process_available(
        lambda df, v: seen.append((v, sorted(r["id"] for r in df.collect())))
    )
    assert n == 3
    assert seen == [(2, [0, 1]), (4, [2, 3]), (5, [4])], seen
    # resume is a no-op from the recorded offset
    assert reader.process_available(lambda df, v: seen.append((v, None))) == 0


def test_optimized_write_sizes_merge_rewrites(spark, tmp_path):
    """A MERGE rewrite sizes its output from the log's per-file row counts
    (ceil(rows / optimizedWrite.targetFileRows)) instead of emitting one
    shard per shuffle partition — the Delta optimized-writes behaviour that
    keeps rewrites from manufacturing the small-file problem."""
    t = LakeTable.create(spark, str(tmp_path / "ow"), SCHEMA)
    t.append(
        spark.createDataFrame(
            [(i, "England", i) for i in range(1, 201)], SCHEMA
        ).coalesce(1)
    )
    assert len(t._state()["active"]) == 1
    src = spark.createDataFrame([(i, "Wales", 0) for i in range(1, 51)], SCHEMA)
    t.merge(
        src,
        "target.id = source.id",
        [MergeClause("update", None, "*"), MergeClause("insert", None, "*")],
    )
    # 200 survivors << targetFileRows: the rewrite must land as ONE file,
    # not one per shuffle partition (4 in tests) of the planning join
    assert len(t._state()["active"]) == 1
    got = {r["id"]: r["country"] for r in t.to_df().collect()}
    assert got[1] == "Wales" and got[200] == "England" and len(got) == 200


def test_optimized_write_disable_property(spark, tmp_path):
    """TBLPROPERTIES optimizedWrite.enabled=false turns the rewrite
    repartition off: the merge output lands with the join's natural
    partitioning (whatever AQE leaves), and results stay identical."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "owoff"),
        SCHEMA,
        properties={"optimizedWrite.enabled": "false"},
    )
    t.append(
        spark.createDataFrame(
            [(i, "England", i) for i in range(1, 201)], SCHEMA
        ).coalesce(1)
    )
    src = spark.createDataFrame([(i, "Wales", 0) for i in range(1, 51)], SCHEMA)
    t.merge(
        src,
        "target.id = source.id",
        [MergeClause("update", None, "*"), MergeClause("insert", None, "*")],
    )
    got = {r["id"]: r["country"] for r in t.to_df().collect()}
    assert got[1] == "Wales" and got[200] == "England" and len(got) == 200


def test_merge_insert_cdf_unified_micro_write(spark, tmp_path):
    """A provably-MICRO CDF merge with update images rides its inserts on
    ONE unified staged write (no ins-flagged files) and materializes their
    change rows into the sidecar it is already writing — the feed must
    deliver exactly one copy of every change either way."""
    t = make_table(spark, tmp_path, [(1, "England", 10), (2, "Wales", 20)])
    src = spark.createDataFrame(
        [(2, "Wales", 99), (3, "Scotland", 30), (4, "Ulster", 40)], SCHEMA
    )
    t.merge(
        src,
        "source.id = target.id",
        [
            MergeClause("update", "source.visitors <> target.visitors", "*"),
            MergeClause("insert", None, "*"),
        ],
    )
    v = t.version()
    commit = lakelog.read_commit(t.path, v)
    # unified micro path: no ins-flagged files; update pre+post images AND
    # the two insert rows live in the sidecar
    assert not [a for a in commit.add if a.get("ins")]
    cdf_rows = spark.read.parquet(t._abs(commit.cdf_path)).count()
    assert cdf_rows == 4
    # the feed reports every change exactly once
    ch = t.read_changes(starting_version=v, ending_version=v)
    rows = ch.collect()
    assert len(rows) == 4
    got = {
        (r["id"], r["_change_type"]): r["visitors"] for r in rows
    }
    assert got == {
        (2, "update_preimage"): 20,
        (2, "update_postimage"): 99,
        (3, "insert"): 30,
        (4, "insert"): 40,
    }


def test_merge_insert_cdf_split_kept_for_identity_tables(spark, tmp_path):
    """Identity-bearing tables must KEEP the split-staged insert write
    (generated ids are evaluated by exactly one action), so their feed
    still synthesizes insert rows from ins-flagged files."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("country", StringType()),
            StructField("visitors", LongType()),
            StructField("rid", LongType()),
        ]
    )
    t = LakeTable.create(
        spark,
        str(tmp_path / "ident"),
        schema,
        properties={
            "enableChangeDataFeed": "true",
            "identity.rid": "1,1",
        },
    )
    t.append(
        spark.createDataFrame([(1, "England", 10), (2, "Wales", 20)], SCHEMA)
    )
    src = spark.createDataFrame(
        [(2, "Wales", 99), (3, "Scotland", 30), (4, "Ulster", 40)], SCHEMA
    )
    t.merge(
        src,
        "source.id = target.id",
        [
            MergeClause("update", "source.visitors <> target.visitors", "*"),
            MergeClause("insert", None, "*"),
        ],
    )
    v = t.version()
    commit = lakelog.read_commit(t.path, v)
    ins_adds = [a for a in commit.add if a.get("ins")]
    plain_adds = [a for a in commit.add if not a.get("ins")]
    assert ins_adds and plain_adds
    assert sum(a["rows"] for a in ins_adds) == 2
    # sidecar carries only the update images; inserts synthesize from files
    assert spark.read.parquet(t._abs(commit.cdf_path)).count() == 2
    ch = t.read_changes(starting_version=v, ending_version=v)
    got = {
        (r["id"], r["_change_type"]): r["visitors"] for r in ch.collect()
    }
    assert got == {
        (2, "update_preimage"): 20,
        (2, "update_postimage"): 99,
        (3, "insert"): 30,
        (4, "insert"): 40,
    }


def test_merge_insert_only_skips_cdf_materialization(spark, tmp_path):
    """An insert-only merge (initial CDC load) writes its data exactly
    once: no materialized change rows at all, feed synthesized from the
    flagged files."""
    t = make_table(spark, tmp_path, [])
    src = spark.createDataFrame([(1, "England", 10), (2, "Wales", 20)], SCHEMA)
    t.merge(
        src,
        "source.id = target.id",
        [MergeClause("update", None, "*"), MergeClause("insert", None, "*")],
    )
    commit = lakelog.read_commit(t.path, t.version())
    assert commit.cdf_path is None
    assert all(a.get("ins") for a in commit.add)
    ch = t.read_changes(starting_version=t.version())
    got = {(r["id"], r["_change_type"]) for r in ch.collect()}
    assert got == {(1, "insert"), (2, "insert")}


def test_merge_empty_target_fast_path(spark, tmp_path):
    """The initial merge into an EMPTY table skips the planning join (no
    target files -> nothing can match) yet honours conditional insert
    clauses, and a follow-up merge sees the loaded state normally."""
    t = make_table(spark, tmp_path, [])
    src = spark.createDataFrame(
        [(1, "England", 10), (2, "Wales", 20), (3, "skipme", 30)], SCHEMA
    )
    m = t.merge(
        src,
        "source.id = target.id",
        [
            MergeClause("update", None, "*"),
            MergeClause("insert", "source.country <> 'skipme'", "*"),
        ],
    )
    assert m["num_inserted_rows"] == 2
    assert m["num_touched_files"] == 0
    assert {r["id"] for r in t.to_df().collect()} == {1, 2}
    # second merge takes the normal (joined) path against the loaded rows
    t.merge(
        spark.createDataFrame([(2, "Wales", 99), (4, "Scotland", 4)], SCHEMA),
        "source.id = target.id",
        [MergeClause("update", None, "*"), MergeClause("insert", None, "*")],
    )
    got = {r["id"]: r["visitors"] for r in t.to_df().collect()}
    assert got == {1: 10, 2: 99, 4: 4}



def test_convert_from_parquet_in_place(spark, tmp_path):
    """CONVERT TO LAKE adopts a parquet directory without rewriting a
    byte: same files, footer-driven schema/rows/stats, and the full lake
    surface (merge, time travel, stats skipping) works from commit 0."""
    import os

    from incremental_etl_on_lakehouse_spark.lake import LakeTable
    from incremental_etl_on_lakehouse_spark.lake.sql import execute_statement
    from incremental_etl_on_lakehouse_spark.lake.table import MergeClause

    src = str(tmp_path / "plain")
    spark.range(0, 100).selectExpr("id", "id * 2 AS v").coalesce(2).write.parquet(src)
    before = sorted(
        f for f in os.listdir(src) if f.endswith(".parquet")
    )
    t = LakeTable.convert_from_parquet(spark, src, stats_columns=["id"])
    # in place: identical data files, no rewrite
    after = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    assert after == before
    assert t.to_df().count() == 100
    assert set(t.to_df().columns) == {"id", "v"}
    # footer stats recorded -> data skipping live
    assert t.files_matching({"id": (0, 1)}) != t.files()
    # the converted table is fully writable
    t.merge(
        spark.createDataFrame([(1, 999), (200, 1)], "id bigint, v bigint"),
        "source.id = target.id",
        [MergeClause("update", None, "*"), MergeClause("insert", None, "*")],
    )
    got = {r.id: r.v for r in t.to_df().collect()}
    assert got[1] == 999 and got[200] == 1 and len(got) == 101
    # time travel back to the conversion snapshot
    assert t.to_df(version=0).count() == 100


def test_convert_detects_hive_partitions(spark, tmp_path):
    from incremental_etl_on_lakehouse_spark.lake import LakeTable

    src = str(tmp_path / "part")
    spark.range(0, 20).selectExpr(
        "id", "CAST(id % 2 AS STRING) AS day"
    ).write.partitionBy("day").parquet(src)
    t = LakeTable.convert_from_parquet(spark, src)
    assert t.partition_columns() == ["day"]
    df = t.to_df()
    assert df.count() == 20 and "day" in df.columns
    assert df.where("day = '1'").count() == 10


def test_convert_sql_and_rejects_double_convert(spark, tmp_path):
    import pytest

    from incremental_etl_on_lakehouse_spark.lake import LakeTable
    from incremental_etl_on_lakehouse_spark.lake.sql import execute_statement

    src = str(tmp_path / "plain2")
    spark.range(0, 5).write.parquet(src)
    t = execute_statement(spark, f"CONVERT TO LAKE parquet.`{src}`", {})
    assert isinstance(t, LakeTable) and t.to_df().count() == 5
    with pytest.raises(ValueError, match="already a lake table"):
        LakeTable.convert_from_parquet(spark, src)


def test_convert_skips_hidden_and_temporary_files(spark, tmp_path):
    """_temporary/.staging debris from crashed jobs must not become table
    data (Spark's hidden-file filter semantics)."""
    import os
    import shutil

    from incremental_etl_on_lakehouse_spark.lake import LakeTable

    src = str(tmp_path / "plain")
    spark.range(0, 10).write.parquet(src)
    real = [f for f in os.listdir(src) if f.endswith(".parquet")]
    os.makedirs(os.path.join(src, "_temporary", "0"))
    shutil.copy(
        os.path.join(src, real[0]),
        os.path.join(src, "_temporary", "0", "part-junk.parquet"),
    )
    shutil.copy(
        os.path.join(src, real[0]), os.path.join(src, ".hidden.parquet")
    )
    t = LakeTable.convert_from_parquet(spark, src)
    assert t.to_df().count() == 10  # not 10 + duplicates
    assert all("_temporary" not in f and "/." not in f for f in t.files())


def test_convert_partition_values_not_lossily_retyped(spark, tmp_path):
    """day=01 and day=1 are DISTINCT string partitions; inference would
    collapse both to int 1. partition_types opts into typed columns."""
    import os

    from incremental_etl_on_lakehouse_spark.lake import LakeTable

    src = str(tmp_path / "p")
    for day in ("01", "1"):
        spark.range(0, 3).write.parquet(os.path.join(src, f"day={day}"))
    t = LakeTable.convert_from_parquet(spark, src)
    days = {r["day"] for r in t.to_df().select("day").distinct().collect()}
    assert days == {"01", "1"}  # strings preserved, partitions distinct
    # typed opt-in
    src2 = str(tmp_path / "p2")
    spark.range(0, 3).write.parquet(os.path.join(src2, "day=7"))
    t2 = LakeTable.convert_from_parquet(
        spark, src2, partition_types={"day": "INT"}
    )
    assert dict(t2.to_df().dtypes)["day"] == "int"
    assert {r["day"] for r in t2.to_df().select("day").collect()} == {7}


def test_footer_stats_dropped_when_row_group_coverage_partial(tmp_path):
    """A column whose min/max covers only SOME row groups must record no
    stats at all — a falsely-narrow range would skip rows that exist."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incremental_etl_on_lakehouse_spark.lake.table import _footer_stats

    f = str(tmp_path / "x.parquet")
    table = pa.table({"id": list(range(100))})
    # two row groups; disable stats entirely (simplest partial-coverage
    # proxy: zero of two groups covered)
    pq.write_table(table, f, row_group_size=50, write_statistics=False)
    meta = pq.read_metadata(f)
    assert meta.num_row_groups == 2
    assert _footer_stats(meta, {"id"}) is None
    # fully-covered file still yields stats
    f2 = str(tmp_path / "y.parquet")
    pq.write_table(table, f2, row_group_size=50)
    assert _footer_stats(pq.read_metadata(f2), {"id"}) == {"id": [0, 99]}


def test_changes_in_range_metadata_probe(spark, tmp_path):
    """changes_in_range decides change-feed emptiness from the commit log
    alone: True for appends/merges with rows and for cdf sidecars, False
    for empty ranges / compaction-only windows, None when DV masking makes
    it undecidable. Its verdicts must agree with read_changes."""
    t = make_table(spark, tmp_path, [(1, "England", 10)])
    src = spark.createDataFrame(
        [(1, "England", 25, "UPDATE"), (2, "Wales", 7, "INSERT")],
        StructType(SCHEMA.fields + [StructField("op", StringType())]),
    )
    t.merge(
        src,
        "source.id = target.id",
        [
            MergeClause("update", "source.op = 'UPDATE'", "*"),
            MergeClause("insert", None, "*"),
        ],
    )
    # v1 = CREATE append (rows), v2 = MERGE (cdf sidecar + ins files)
    assert t.changes_in_range(1, 1) is True
    assert t.changes_in_range(2, 2) is True
    assert t.changes_in_range(1, 2) is True
    # beyond head: provably empty
    assert t.changes_in_range(t.version() + 1, t.version() + 5) is False
    # compaction adds no logical rows to the feed
    t.compact()
    assert t.changes_in_range(t.version(), t.version()) is False
    # agreement with the actual feed on every single-version window
    for v in range(1, t.version() + 1):
        verdict = t.changes_in_range(v, v)
        actual = bool(t.read_changes(v, v).limit(1).count())
        if verdict is not None:
            assert verdict == actual, (v, verdict, actual)


def test_changes_in_range_never_wrong_under_dv(spark, tmp_path):
    """The probe's safety invariant under deletion vectors: it may return
    None (undecidable — the reader falls back to a row-level check), but
    it must NEVER return False for a window whose feed has rows, nor True
    for an empty one. Exercised on the DV lifecycle that makes metadata
    ambiguous: DV delete, overwrite, restore-with-DV-patch."""
    schema = StructType([StructField("k", LongType())])
    t = LakeTable.create(
        spark,
        str(tmp_path / "dvprobe"),
        schema,
        properties={
            "enableChangeDataFeed": "true",
            "enableDeletionVectors": "true",
        },
    )
    t.append(spark.createDataFrame([(i,) for i in range(6)], schema))  # v1
    t.delete("k >= 4")  # v2: DV on the file + cdf images
    t.overwrite(spark.createDataFrame([(99,)], schema))  # v3
    v4 = t.restore(2)  # v4: re-adds the file WITH its v2 deletion vector
    for lo in range(1, v4 + 1):
        for hi in range(lo, v4 + 1):
            verdict = t.changes_in_range(lo, hi)
            actual = bool(t.read_changes(lo, hi).limit(1).count())
            if verdict is not None:
                assert verdict == actual, (lo, hi, verdict, actual)
    # and the cdf reader delivers the same batches as before the probe
    seen = {}
    reader = LakeStreamReader(
        t, str(tmp_path / "ck_dv.json"), mode="cdf", starting_version=v4
    )
    reader.process_available(
        lambda df, v: seen.setdefault(
            v, sorted((r["_change_type"], r["k"]) for r in df.collect())
        )
    )
    assert v4 in seen and ("delete", 99) in seen[v4], seen


def test_in_commit_timestamps_monotonic_under_clock_skew(spark, tmp_path):
    """Commit timestamps are clamped strictly increasing even when the
    wall clock runs backwards between commits (skewed writers on object
    stores), so TIMESTAMP AS OF picks the right snapshot."""
    from unittest import mock

    from pyspark.sql.types import LongType, StructField, StructType

    from incremental_etl_on_lakehouse_spark.lake import log as lakelog
    from incremental_etl_on_lakehouse_spark.lake import LakeTable

    schema = StructType([StructField("id", LongType())])
    t = LakeTable.create(spark, str(tmp_path / "t"), schema)
    t.append(spark.createDataFrame([(1,)], schema))
    real = lakelog.now_ms()
    # second writer's clock is 10 s BEHIND
    with mock.patch.object(lakelog, "now_ms", lambda: real - 10_000):
        t.append(spark.createDataFrame([(2,)], schema))
    ts = [c["timestamp_ms"] for c in t.history()]
    assert ts == sorted(ts) and len(set(ts)) == len(ts), ts
    # TIMESTAMP AS OF at the clamped v2 timestamp sees both rows
    assert t.to_df(timestamp_ms=ts[-1]).count() == 2
    # ... and just before it sees only the first append
    assert t.to_df(timestamp_ms=ts[-1] - 1).count() == 1


def test_log_retention_cleanup(spark, tmp_path):
    """cleanup_log drops the old commit prefix behind a boundary
    checkpoint: live reads, retained time travel, retained CDF, history,
    and row-id bases all still reconstruct exactly; reads below the
    boundary raise cleanly instead of answering from partial history."""
    from unittest import mock

    from pyspark.sql.types import LongType, StructField, StructType

    from incremental_etl_on_lakehouse_spark.lake import log as lakelog
    from incremental_etl_on_lakehouse_spark.lake import LakeTable

    schema = StructType([StructField("id", LongType())])
    real = lakelog.now_ms()
    # versions 0..4 committed "8 days ago" (create included — in-commit
    # timestamp monotonicity would otherwise clamp the backdated appends
    # up to the fresh create's timestamp)
    with mock.patch.object(lakelog, "now_ms", lambda: real - 8 * 86400_000):
        t = LakeTable.create(
            spark,
            str(tmp_path / "t"),
            schema,
            properties={
                "enableChangeDataFeed": "true",
                "enableRowTracking": "true",
            },
        )
        for i in range(4):
            t.append(spark.createDataFrame([(i,)], schema).coalesce(1))
    t.delete("id = 1")  # v5, fresh
    rows_before = {r.id for r in t.to_df().collect()}
    rids_before = {
        r.id: r._row_id for r in t.to_df(with_row_ids=True).collect()
    }
    v4_rows = {r.id for r in t.to_df(version=4).collect()}

    deleted = t.cleanup_log(retention_ms=7 * 86400_000)
    # all five backdated commits go (v5, the fresh delete, is the live
    # head); the boundary checkpoint at v4 keeps v4 reconstructible
    assert deleted == [0, 1, 2, 3, 4], deleted
    # a second run is a no-op
    assert t.cleanup_log(retention_ms=7 * 86400_000) == []

    # fresh handle: live state, boundary version, row ids, history intact
    t2 = LakeTable(spark, str(tmp_path / "t"))
    assert {r.id for r in t2.to_df().collect()} == rows_before
    assert {r.id for r in t2.to_df(version=4).collect()} == v4_rows
    assert {
        r.id: r._row_id for r in t2.to_df(with_row_ids=True).collect()
    } == rids_before
    assert [h["version"] for h in t2.history()] == [5]
    # retained CDF folds exactly the fresh delete
    ch = t2.read_changes(5).collect()
    assert {(r.id, r._change_type) for r in ch} == {(1, "delete")}
    # below the boundary: clean errors, not partial answers
    with pytest.raises(ValueError, match="no longer reconstructible|no commit"):
        t2.to_df(version=2).collect()
    with pytest.raises(ValueError, match="log retention"):
        t2.read_changes(0)
    # the table stays fully writable after cleanup
    t2.append(spark.createDataFrame([(99,)], schema))
    assert 99 in {r.id for r in t2.to_df().collect()}


def test_log_retention_keeps_young_prefix(spark, tmp_path):
    """Only a contiguous OLD prefix is deleted: a young early commit
    shields everything after it (the retained log stays gap-free)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from incremental_etl_on_lakehouse_spark.lake import LakeTable

    schema = StructType([StructField("id", LongType())])
    t = LakeTable.create(spark, str(tmp_path / "t"), schema)
    t.append(spark.createDataFrame([(1,)], schema))
    assert t.cleanup_log(retention_ms=7 * 86400_000) == []
    assert [h["version"] for h in t.history()] == [0, 1]


def test_protocol_reader_features(spark, tmp_path):
    """Protocol table features (Delta's reader-version contract): tables
    record active read-semantics features; an engine that doesn't know a
    recorded feature refuses to open the table instead of misreading it."""
    from pyspark.sql.types import LongType, StructField, StructType

    from incremental_etl_on_lakehouse_spark.lake import log as lakelog
    from incremental_etl_on_lakehouse_spark.lake import LakeTable
    from incremental_etl_on_lakehouse_spark.lake.log import Commit

    schema = StructType([StructField("id", LongType())])
    # creation-time features recorded
    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        schema,
        properties={"enableDeletionVectors": "true"},
    )
    assert t.properties()["protocol.readerFeatures"] == "deletionVectors"
    # mid-life enablement unions into the protocol
    t.set_properties({"enableRowTracking": "true"})
    assert (
        t.properties()["protocol.readerFeatures"]
        == "deletionVectors,rowTracking"
    )
    # the first rename activates columnMapping
    t2 = LakeTable.create(spark, str(tmp_path / "t2"), schema)
    assert "protocol.readerFeatures" not in t2.properties()
    t2.rename_column("id", "ident")
    assert t2.properties()["protocol.readerFeatures"] == "columnMapping"

    # a table requiring an UNKNOWN feature is refused, not misread
    t3 = LakeTable.create(spark, str(tmp_path / "t3"), schema)
    t3.append(spark.createDataFrame([(1,)], schema))
    lakelog.write_commit(
        str(tmp_path / "t3"),
        Commit(
            version=t3.version() + 1,
            operation="SET TBLPROPERTIES",
            timestamp_ms=lakelog.now_ms(),
            properties={"protocol.readerFeatures": "futuristicDeletionCodec"},
        ),
    )
    t3b = LakeTable(spark, str(tmp_path / "t3"))
    with pytest.raises(ValueError, match="futuristicDeletionCodec"):
        t3b.to_df().collect()
    # protocol is TABLE-level (Delta's contract): even time travel to a
    # pre-feature version refuses — the head schema/layout lookups would
    # already interpret state this reader can't
    with pytest.raises(ValueError, match="futuristicDeletionCodec"):
        LakeTable(spark, str(tmp_path / "t3")).to_df(version=1).count()


def test_auto_compact(spark, tmp_path):
    """autoCompact: once enough small files accumulate, a write triggers
    an incremental compact of just the small files — rows and row ids
    unchanged, the file count collapses, and right-sized files are left
    physically untouched. Off by default."""
    from pyspark.sql.types import LongType, StructField, StructType

    from incremental_etl_on_lakehouse_spark.lake import LakeTable

    schema = StructType([StructField("id", LongType())])
    # default off: small files accumulate freely
    t0 = LakeTable.create(spark, str(tmp_path / "t0"), schema)
    for i in range(5):
        t0.append(spark.createDataFrame([(i,)], schema).coalesce(1))
    assert len(t0.files()) == 5

    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        schema,
        properties={
            "autoCompact": "true",
            "autoCompact.minNumFiles": "4",
            "optimizedWrite.targetFileRows": "1000",
            "enableRowTracking": "true",
        },
    )
    for i in range(3):
        t.append(spark.createDataFrame([(i,)], schema).coalesce(1))
    assert len(t.files()) == 3  # below the threshold: untouched
    rids = {r.id: r._row_id for r in t.to_df(with_row_ids=True).collect()}
    t.append(spark.createDataFrame([(3,)], schema).coalesce(1))
    # 4th small file crossed the threshold -> compacted to one
    assert len(t.files()) == 1
    assert [h["operation"] for h in t.history()][-1] == "COMPACT"
    got = {r.id: r._row_id for r in t.to_df(with_row_ids=True).collect()}
    assert {r for r in got} == {0, 1, 2, 3}
    assert all(got[k] == v for k, v in rids.items())  # ids survived
