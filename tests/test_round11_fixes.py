"""Round-11 regression tests.

Covers the r10 verdict/advice findings:
- vacuum's eligibility clock vs the in-commit monotonic timestamp clamp
  (the r10 full-suite flake: a 0-ms-retention vacuum right after a delete
  returned [] when commits out-ran the wall clock),
- checkpoint-interval cache invalidation on drop/recreate (a recreated
  table must not inherit the dropped incarnation's cadence),
- DROP DATABASE CASCADE order-independence when an external table is
  registered inside the db directory (registered name sorting before the
  directory basename used to abort the cascade on the orphan guard),
- external data registered in a DIFFERENT database (or a sibling catalog,
  via the Lakehouse peer hook) whose location lies inside a dropped db's
  directory must survive — 'DROP never deletes external data',
- Lakehouse.sql CREATE DATABASE must not silently mint a typo'd catalog,
- the BPE trainer must return its final symbol table MATERIALIZED in the
  cache so bpe_encode's terminal aggregate never replays the multi-round
  window chain.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import LongType, StructField, StructType

from incremental_etl_on_lakehouse_spark.lake import LakeTable
from incremental_etl_on_lakehouse_spark.lake import log as lakelog
from incremental_etl_on_lakehouse_spark.lake.catalog import (
    LakeCatalog,
    Lakehouse,
)

SCHEMA = StructType([StructField("id", LongType())])


def _append(spark, t, i):
    t.append(spark.createDataFrame([(i,)], SCHEMA).coalesce(1))


# --------------------------------------------------------------- vacuum clock


def test_vacuum_eligible_under_frozen_clock(spark, tmp_path, monkeypatch):
    """With the wall clock FROZEN, every commit is stamped ahead of
    now_ms() by write_commit's monotonic clamp — the adversarial version
    of the r10 flake (commits landing faster than the clock ticks). A
    0-ms-retention vacuum must still see the delete's tombstones: its
    eligibility clock is max(wall, latest commit ts + 1)."""
    t0 = lakelog.now_ms()
    monkeypatch.setattr(lakelog, "now_ms", lambda: t0)
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA)
    for i in range(3):
        _append(spark, t, i)
    t.delete("id = 0")
    victims = t.vacuum(retention_ms=0, dry_run=True, force=True)
    assert victims, "0-retention vacuum must see the delete's tombstone"
    assert t.vacuum(retention_ms=0, force=True)  # and really reclaims
    assert t.to_df().count() == 2  # live snapshot untouched


def test_vacuum_same_millisecond_delete(spark, tmp_path):
    """The non-frozen flavor: even when delete and vacuum land in the
    same wall-clock millisecond, the strict `t < horizon` compare must
    not exclude the tombstone at 0-ms retention (the +1 in the clock)."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA)
    for i in range(2):
        _append(spark, t, i)
    t.delete("id = 0")
    assert t.vacuum(retention_ms=0, dry_run=True, force=True)


def test_cleanup_log_full_prefix_under_frozen_clock(spark, tmp_path, monkeypatch):
    """clean_log has the same clamp-ahead hazard as vacuum: with the wall
    clock frozen, every commit is stamped ahead of now_ms() and a
    0-ms-retention cleanup would stop its prefix at the first commit. The
    shared eligibility clock must still clean up to the head."""
    t0 = lakelog.now_ms()
    monkeypatch.setattr(lakelog, "now_ms", lambda: t0)
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA)
    for i in range(4):
        _append(spark, t, i)
    deleted = t.cleanup_log(retention_ms=0)
    assert deleted and max(deleted) == t.version() - 1, deleted
    assert t.to_df().count() == 4  # live snapshot intact


def test_vacuum_long_retention_still_protects(spark, tmp_path, monkeypatch):
    """The clamp-aware clock must not erode real retention windows."""
    t0 = lakelog.now_ms()
    monkeypatch.setattr(lakelog, "now_ms", lambda: t0)
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA)
    for i in range(2):
        _append(spark, t, i)
    t.delete("id = 0")
    assert t.vacuum(retention_ms=7 * 86400000, dry_run=True, force=True) == []


def test_vacuum_lite_log_driven_only(spark, tmp_path):
    """VACUUM LITE (Delta 3.3): reclaims the commit log's tombstoned files
    WITHOUT any directory listing — an unreferenced orphan stage dir
    survives the lite pass and is reclaimed by the next full vacuum."""
    import os
    import time

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA)
    for i in range(3):
        _append(spark, t, i)
    t.delete("id = 0")
    # plant a crashed-writer orphan: a staged dir no commit references
    orphan = os.path.join(t.path, "data", "deadbeef_orphan")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-0.parquet"), "w") as f:
        f.write("x")
    old = time.time() - 3600
    os.utime(orphan, (old, old))

    lite = t.vacuum(retention_ms=0, lite=True)
    assert lite, "lite must reclaim the delete's tombstone"
    assert all("deadbeef_orphan" not in v for v in lite)
    assert os.path.isdir(orphan), "lite must not list/sweep orphans"
    full = t.vacuum(retention_ms=0, force=True)
    assert any("deadbeef_orphan" in v for v in full)
    assert not os.path.isdir(orphan)
    assert t.to_df().count() == 2


def test_vacuum_lite_sql(spark, tmp_path):
    from incremental_etl_on_lakehouse_spark.lake.sql import execute_statement

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA)
    for i in range(2):
        _append(spark, t, i)
    t.delete("id = 0")
    got = execute_statement(
        spark, "VACUUM tbl LITE RETAIN 0 HOURS DRY RUN", lambda name: t
    )
    assert got, "SQL LITE dry run must report the tombstone"
    assert t.files()  # nothing deleted on dry run


# --------------------------------------------------- CREATE TABLE LIKE


def test_create_table_like(spark, tmp_path):
    """Delta's CREATE TABLE ... LIKE: a new EMPTY table carrying the
    source's schema, partitioning, and table properties — the
    definition-copy sibling of CLONE (which copies data)."""
    from pyspark.sql.types import StringType
    from incremental_etl_on_lakehouse_spark.lake.sql import execute_statement

    schema = StructType(
        [StructField("id", LongType()), StructField("grp", StringType())]
    )
    src = LakeTable.create(
        spark,
        str(tmp_path / "src"),
        schema,
        properties={"enableChangeDataFeed": "true"},
        partition_by=["grp"],
    )
    src.append(spark.createDataFrame([(1, "a")], schema))
    dst = execute_statement(
        spark,
        "CREATE TABLE dst LIKE src",
        lambda n: src,
        dest_path=str(tmp_path / "dst"),
    )
    assert dst.schema() == src.schema()
    assert dst.to_df().count() == 0, "LIKE must not copy data"
    assert dst.partition_columns() == ["grp"]
    assert dst.properties().get("enableChangeDataFeed") == "true"
    dst.append(spark.createDataFrame([(2, "b")], schema))
    assert dst.to_df().count() == 1
    # IF NOT EXISTS over the existing dest is a no-op returning it
    again = execute_statement(
        spark,
        "CREATE TABLE IF NOT EXISTS dst LIKE src",
        lambda n: src,
        dest_path=str(tmp_path / "dst"),
    )
    assert again.to_df().count() == 1


def test_catalog_clone_and_like_managed_destination(spark, tmp_path):
    """CREATE TABLE db.new [SHALLOW CLONE|LIKE] db.src through the catalog
    front door: the destination path derives from the name, the result is
    REGISTERED as a managed table (previously these raised for lack of a
    dest_path)."""
    cat = LakeCatalog(spark, str(tmp_path / "cat"))
    cat.create_database("db")
    src = cat.create_table("db", "src", SCHEMA)
    src.append(spark.createDataFrame([(1,), (2,)], SCHEMA))
    cat.sql("CREATE TABLE db.c1 SHALLOW CLONE db.src")
    assert cat.table("db", "c1").to_df().count() == 2
    cat.sql("CREATE TABLE db.c2 LIKE db.src")
    assert cat.table("db", "c2").to_df().count() == 0
    assert {"c1", "c2"} <= set(cat.tables("db"))
    assert not cat.is_external("db", "c2")
    with pytest.raises(ValueError, match="exists"):
        cat.sql("CREATE TABLE db.c1 LIKE db.src")
    assert cat.sql("CREATE TABLE IF NOT EXISTS db.c2 LIKE db.src") is not None
    cat.drop_table("db", "c2")  # managed: drop deletes data
    assert "c2" not in cat.tables("db")


# ------------------------------------------------- ckpt-interval cache


def test_ckpt_interval_cache_invalidated_on_recreate(spark, tmp_path):
    """A table recreated at a dropped table's path must follow ITS OWN
    checkpointInterval from the first commit, not the cached cadence of
    the previous incarnation."""
    path = str(tmp_path / "t")
    t = LakeTable.create(
        spark, path, SCHEMA, properties={"checkpointInterval": "3"}
    )
    for i in range(3):
        _append(spark, t, i)
    _, ckpts = lakelog.list_versions(path)
    assert ckpts == [3]
    LakeTable.drop(path)
    t2 = LakeTable.create(
        spark, path, SCHEMA, properties={"checkpointInterval": "2"}
    )
    for i in range(2):
        _append(spark, t2, i)
    _, ckpts = lakelog.list_versions(path)
    assert ckpts == [2], "recreate inherited the dropped table's cadence"


def test_ckpt_interval_cache_key_normalized(spark, tmp_path):
    """Raw and abspath spellings of the same table share one cache entry
    (invalidate_ckpt_interval pops both)."""
    path = str(tmp_path / "t")
    LakeTable.create(
        spark, path, SCHEMA, properties={"checkpointInterval": "5"}
    )
    assert lakelog._ckpt_cache_key(path) == lakelog._ckpt_cache_key(
        str(tmp_path) + "/./t"
    )
    LakeTable.drop(path)
    assert lakelog._ckpt_cache_key(path) not in lakelog._CKPT_INTERVAL_CACHE


# --------------------------------------------------- catalog external safety


def _mk_external(spark, loc):
    ext = LakeTable.create(spark, loc, SCHEMA)
    ext.append(spark.createDataFrame([(42,)], SCHEMA))
    return ext


@pytest.mark.parametrize("regname", ["aaa", "zzz9"])
def test_drop_database_cascade_order_independent(
    spark, tmp_path, regname
):
    """An external table registered INSIDE the db directory appears in
    tables(db) under both its registered name and its directory basename.
    CASCADE must succeed regardless of which sorts first ('aaa' < 'mid' <
    'zzz9' covers both orders), drop the managed tables, and leave the
    external bytes untouched."""
    cat = LakeCatalog(spark, str(tmp_path / "cat"))
    cat.create_database("db")
    loc = str(tmp_path / "cat" / "db" / "mid")
    _mk_external(spark, loc)
    cat.register_table("db", regname, loc)
    managed = cat.create_table("db", "managed1", SCHEMA)
    _append(spark, managed, 1)
    cat.drop_database("db", cascade=True)
    assert LakeTable.exists(loc), "cascade deleted external bytes"
    assert not LakeTable.exists(str(tmp_path / "cat" / "db" / "managed1"))
    assert "db" not in {
        d for d in cat.databases() if cat.tables(d)
    } or cat.tables("db") == ["mid"]  # only the external shell may remain


def test_drop_database_protects_external_in_other_db(spark, tmp_path):
    """External data whose LOCATION lies inside db1 but whose
    REGISTRATION lives in db2 must survive DROP DATABASE db1 CASCADE —
    previously only db1's own registrations were scanned and rmtree took
    the bytes."""
    cat = LakeCatalog(spark, str(tmp_path / "cat"))
    cat.create_database("db1")
    loc = str(tmp_path / "cat" / "db1" / "extdata")
    _mk_external(spark, loc)
    cat.register_table("db2", "ext", loc)
    managed = cat.create_table("db1", "managed", SCHEMA)
    _append(spark, managed, 1)
    cat.drop_database("db1", cascade=True)
    assert LakeTable.exists(loc), "cross-db external bytes deleted"
    assert cat.table("db2", "ext").to_df().count() == 1


def test_drop_table_directory_convention_respects_other_db_external(
    spark, tmp_path
):
    """drop_table on the directory-convention name must treat a path
    registered externally by ANOTHER database as an alias, not managed
    data."""
    cat = LakeCatalog(spark, str(tmp_path / "cat"))
    cat.create_database("db1")
    loc = str(tmp_path / "cat" / "db1" / "extdata")
    _mk_external(spark, loc)
    cat.register_table("db2", "ext", loc)
    cat.drop_table("db1", "extdata")  # must be a silent no-op
    assert LakeTable.exists(loc)


def test_lakehouse_sibling_catalog_external_protected(spark, tmp_path):
    """The Lakehouse peer hook: external data registered in catalog c2
    living inside c1's db directory survives DROP DATABASE in c1 —
    mirroring the drop_catalog blockers scan."""
    lh = Lakehouse(spark, str(tmp_path / "lh"))
    lh.create_catalog("c1")
    lh.create_catalog("c2")
    lh.catalog("c1").create_database("db")
    loc = str(tmp_path / "lh" / "c1" / "db" / "shared")
    _mk_external(spark, loc)
    lh.catalog("c2").register_table("d2", "ext", loc)
    lh.catalog("c1").drop_database("db", cascade=True)
    assert LakeTable.exists(loc), "sibling-catalog external bytes deleted"
    assert lh.catalog("c2").table("d2", "ext").to_df().count() == 1


def test_cross_catalog_orphan_marker_protects_after_unregistration(
    spark, tmp_path
):
    """UNREGISTERING a cross-catalog external must leave the ownership
    marker even though the data lives under a SIBLING catalog's tree (the
    marker was once only written for paths inside the registering
    catalog's own root): the containing catalog's directory-convention
    DROP TABLE / DROP DATABASE CASCADE reads sibling orphan sets through
    the Lakehouse peer scan, so the marker is what keeps the bytes alive
    after unregistration."""
    lh = Lakehouse(spark, str(tmp_path / "lh"))
    lh.create_catalog("c1")
    lh.create_catalog("c2")
    lh.catalog("c1").create_database("db")
    loc = str(tmp_path / "lh" / "c1" / "db" / "shared")
    _mk_external(spark, loc)
    lh.catalog("c2").register_table("d2", "ext", loc)
    lh.catalog("c2").drop_table("d2", "ext")  # unregister -> orphan marker
    lh.catalog("c1").drop_table("db", "shared")  # alias drop: no-op
    assert LakeTable.exists(loc), "orphaned cross-catalog bytes deleted"
    lh.catalog("c1").drop_database("db", cascade=True)
    assert LakeTable.exists(loc), "cascade deleted orphaned sibling bytes"


def test_lakehouse_create_database_requires_catalog(spark, tmp_path):
    """CREATE DATABASE in a missing catalog errors (Unity Catalog's
    CREATE SCHEMA semantics) instead of silently minting the catalog;
    the built-in default catalog works out of the box."""
    lh = Lakehouse(spark, str(tmp_path / "lh"))
    with pytest.raises(ValueError, match="no such catalog"):
        lh.sql("CREATE DATABASE typo_cat.db1")
    assert "typo_cat" not in lh.catalogs()
    lh.sql("CREATE DATABASE db1")  # default catalog pre-exists
    assert "db1" in lh.catalog("main").databases()


# ------------------------------------------------------- skew-salted dedup


def _hot_key_batch(spark, seed: int, n: int = 400):
    """90% of rows on ONE merge key — the pathological batch where the
    plain dedup window serializes a single reducer."""
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        key = 7 if rng.random() < 0.9 else rng.randint(100, 120)
        rows.append(
            (key, rng.randint(0, 10_000), i, f"v{i}", f"h{i}",
             "UPDATE" if rng.random() < 0.8 else "DELETE")
        )
    return spark.createDataFrame(
        rows,
        "id long, ts long, seq long, payload string, data_hash string,"
        " cdc_operation string",
    )


@pytest.mark.parametrize("seed", range(3))
def test_salted_dedup_matches_plain_window(spark, seed):
    """Fuzzed 90%-one-key batches: the two-phase salted argmax returns
    exactly the plain window's rows ((ts, seq) is a total order per key,
    so both paths are deterministic)."""
    from incremental_etl_on_lakehouse_spark.operators.cdc import dedup_latest

    batch = _hot_key_batch(spark, 9100 + seed)
    plain = dedup_latest(batch, ["id"], ["ts"], ["seq"])
    salted = dedup_latest(batch, ["id"], ["ts"], ["seq"], skew_salts=8)
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_salted_dedup_plan_spreads_hot_key(spark):
    """Plan shape: phase 1 partitions the window by (key, __salt) — the
    hot key spreads across skew_salts reducers — and phase 2 reduces only
    the local winners; the plain path must stay single-window."""
    from incremental_etl_on_lakehouse_spark import plans
    from incremental_etl_on_lakehouse_spark.operators.cdc import dedup_latest

    batch = _hot_key_batch(spark, 9200)
    salted_plan = plans.formatted_plan(
        dedup_latest(batch, ["id"], ["ts"], ["seq"], skew_salts=8)
    )
    assert "__salt" in salted_plan
    assert salted_plan.count("Window") >= 2
    plain_plan = plans.formatted_plan(dedup_latest(batch, ["id"], ["ts"], ["seq"]))
    assert "__salt" not in plain_plan


@pytest.mark.parametrize("seed", range(2))
def test_merge_cdc_salted_dedup_same_table_state(spark, tmp_path, seed):
    """merge_cdc_batch with dedup_skew_salts lands the IDENTICAL table
    state as the plain path on hot-key batches, including DELETE ops."""
    from incremental_etl_on_lakehouse_spark.operators.cdc import merge_cdc_batch

    schema = (
        "id long, ts long, seq long, payload string, cdc_operation string"
    )
    states = []
    for salts in (None, 8):
        t = LakeTable.create(
            spark,
            str(tmp_path / f"t_{salts}_{seed}"),
            _hot_key_batch(spark, 1).schema,
        )
        for b in range(2):
            merge_cdc_batch(
                t,
                _hot_key_batch(spark, 9300 + 10 * seed + b),
                ["id"],
                ["ts"],
                tiebreak_cols=["seq"],
                dedup_skew_salts=salts,
            )
        states.append(sorted(map(tuple, t.to_df().collect())))
    assert states[0] == states[1]


# ---------------------------------------------- incremental exact percentile


@pytest.mark.parametrize("seed", range(3))
def test_percentile_from_state_differential(spark, tmp_path, seed):
    """Randomized differential: fold synthetic insert/delete change
    batches into the multiset state and, after EVERY batch, the state
    median/p90 must equal the python model's lower percentile over the
    live multiset (including batches that delete current median-holders
    and batches that empty a group entirely)."""
    import random
    from collections import Counter

    from incremental_etl_on_lakehouse_spark.operators.cdc import (
        cdf_multiset_deltas,
        merge_distinct_state,
        percentile_from_state,
    )
    from pyspark.sql.types import StringType

    schema = StructType(
        [
            StructField("grp", StringType()),
            StructField("val", LongType()),
            StructField("cnt", LongType()),
        ]
    )
    state = LakeTable.create(spark, str(tmp_path / "pstate"), schema)
    rng = random.Random(11_500 + seed)
    model: Counter = Counter()  # (grp, val) -> multiplicity

    def model_pctl(grp, num, den):
        items = sorted(
            (v, c) for (g, v), c in model.items() if g == grp and c > 0
        )
        n = sum(c for _v, c in items)
        if n == 0:
            return None
        cum = 0
        for v, c in items:
            cum += c
            if cum * den >= n * num:
                return v
        raise AssertionError("unreachable")

    for _batch in range(6):
        changes = []
        for _ in range(rng.randint(3, 10)):
            live = [k for k, c in model.items() if c > 0]
            if live and rng.random() < 0.45:
                g, v = rng.choice(live)
                changes.append((g, v, "delete"))
                model[(g, v)] -= 1
            else:
                g = rng.choice("ab")
                v = rng.randint(0, 9)
                changes.append((g, v, "insert"))
                model[(g, v)] += 1
        cdf = spark.createDataFrame(
            changes, "grp string, val long, _change_type string"
        )
        deltas = cdf_multiset_deltas(cdf, ["grp"], "val")
        merge_distinct_state(state, deltas, ["grp"], "val")
        for (num, den), col in (((1, 2), "m"), ((9, 10), "p")):
            got = {
                r["grp"]: r[col]
                for r in percentile_from_state(
                    state, ["grp"], "val", q=(num, den), out_col=col
                ).collect()
            }
            want = {
                g: model_pctl(g, num, den)
                for g in "ab"
                if model_pctl(g, num, den) is not None
            }
            assert got == want, (seed, _batch, (num, den), got, want)


# ------------------------------------------------------------ BPE caching


def test_bpe_final_symbol_table_is_materialized(spark):
    """_bpe_run must hand back the final symbol table MATERIALIZED, as a
    local checkpoint the returned frame owns (its parent's cache is
    released at loop exit, so an unmaterialized return would make
    bpe_encode's aggregate replay the whole multi-round window chain)."""
    from incremental_etl_on_lakehouse_spark.operators.text import _bpe_run

    sc = spark.sparkContext
    before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    words = spark.createDataFrame(
        [("abab", 3), ("ab", 2), ("cd", 1)], "w string, freq long"
    )
    merges, st = _bpe_run(words, 2)
    assert merges
    # the returned plan is a scan of the checkpointed RDD, not the chain
    assert st._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD"
    new_cached = [
        i
        for i in sc._jsc.sc().getRDDStorageInfo()
        if i.id() not in before and i.numCachedPartitions() > 0
    ]
    assert new_cached, "final symbol table returned unmaterialized"
