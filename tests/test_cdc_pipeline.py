"""End-to-end golden test of the medallion CDC pipeline.

Replicates the reference's built-in validation scenario
(``notebooks/demo-notebook.py:448-538``; expected outcomes ``:520-525``):

- intra-batch duplicate INSERT (Australia counted once, 10k not 20k),
- genuine cross-batch UPDATE (England 934 -> 10934),
- inter-batch duplicate (id 298 re-delivered verbatim -> no change),
- untouched countries unchanged,
- plus an engine-extension DELETE record (the reference handles DELETE in its
  merge, ``:270-272``, but never feeds one).
"""

from __future__ import annotations

import json

import pytest

from incremental_etl_on_lakehouse_spark.pipeline import MedallionPipeline


def write_cdc_file(path, records):
    rows = []
    for (id_, country, district, visit_ts, visitors, op, cdc_ts) in records:
        rows.append(
            {
                "id": id_,
                "country": country,
                "district": district,
                "visit_timestamp": visit_ts,
                "num_visitors": visitors,
                "cdc_operation": op,
                "cdc_timestamp": cdc_ts,
            }
        )
    path.write_text(json.dumps(rows, indent=1))


FILE1 = [
    (7, "England", "District_1", "2023-01-01 10:00:00", 247, "INSERT", "2023-01-01 10:00:00.000"),
    (7, "England", "District_1", "2023-01-01 11:00:00", 934, "UPDATE", "2023-01-01 11:00:00.000"),
    (10, "Wales", "District_2", "2023-01-01 10:00:00", 500, "INSERT", "2023-01-01 10:00:00.000"),
    (20, "Scotland", "District_3", "2023-01-01 10:00:00", 600, "INSERT", "2023-01-01 10:00:00.000"),
    (298, "Northern Ireland", "District_4", "2023-01-01 10:00:00", 900, "INSERT", "2023-01-01 10:00:00.000"),
    (298, "Northern Ireland", "District_4", "2023-01-01 12:00:00", 994, "UPDATE", "2023-01-01 12:00:00.000"),
]

# the injected edge-case file (notebooks/demo-notebook.py:458-500)
FILE2 = [
    (100, "Australia", "District_9", "2023-01-02 10:00:00", 10000, "INSERT", "2023-01-02 10:00:00.000"),
    (100, "Australia", "District_9", "2023-01-02 10:00:00", 10000, "INSERT", "2023-01-02 10:00:00.000"),
    (7, "England", "District_1", "2023-01-02 11:00:00", 10934, "UPDATE", "2023-01-02 11:00:00.000"),
    (298, "Northern Ireland", "District_4", "2023-01-01 12:00:00", 994, "UPDATE", "2023-01-01 12:00:00.000"),
]

FILE3_DELETE = [
    (10, "Wales", "District_2", "2023-01-03 10:00:00", 500, "DELETE", "2023-01-03 10:00:00.000"),
]


@pytest.fixture()
def pipeline(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    return MedallionPipeline(spark, str(tmp_path / "lake"), str(landing)), landing


def gold_state(p):
    return {r["country"]: r["sum_visitors"] for r in p.gold.to_df().collect()}


def silver_state(p):
    return {r["id"]: r["num_visitors"] for r in p.silver.to_df().collect()}


def test_golden_scenario(pipeline):
    p, landing = pipeline

    write_cdc_file(landing / "cdc_1.json", FILE1)
    p.run_available()

    assert silver_state(p) == {7: 934, 10: 500, 20: 600, 298: 994}
    assert gold_state(p) == {
        "England": 934,
        "Wales": 500,
        "Scotland": 600,
        "Northern Ireland": 994,
    }
    gold_v1 = p.gold.version()

    # ---- inject the edge-case file (reference :448-502) ----
    write_cdc_file(landing / "cdc_2.json", FILE2)
    p.run_available()

    # golden expectations (reference :520-525)
    assert gold_state(p) == {
        "England": 10934,  # +10000 genuine update
        "Wales": 500,  # no change
        "Scotland": 600,  # no change
        "Northern Ireland": 994,  # no change (inter-batch duplicate ignored)
        "Australia": 10000,  # new insert, 10000 not 20000 (intra-batch dup ignored)
    }

    # validation query: right-outer join current Gold vs time travel (:527-538)
    past = p.gold.to_df(version=gold_v1).selectExpr(
        "country", "sum_visitors as past_sum"
    )
    curr = p.gold.to_df()
    deltas = {
        r["country"]: r["delta"]
        for r in curr.join(past, "country", "right_outer")
        .selectExpr("country", "sum_visitors - nvl(past_sum, 0) as delta")
        .collect()
    }
    assert deltas == {
        "England": 10000,
        "Wales": 0,
        "Scotland": 0,
        "Northern Ireland": 0,
    }

    # inter-batch duplicate was a no-op merge: silver files untouched
    hist = {h["version"]: h for h in p.silver.history()}
    last_merge = max(v for v, h in hist.items() if h["operation"] == "MERGE")
    assert hist[last_merge]["metrics"]["num_updated_rows"] == 1  # only England

    # ---- engine extension: DELETE flows through to Gold ----
    write_cdc_file(landing / "cdc_3.json", FILE3_DELETE)
    p.run_available()
    assert 10 not in silver_state(p)
    assert gold_state(p)["Wales"] == 0

    # idempotence: nothing new -> nothing changes
    sv, gv = p.silver.version(), p.gold.version()
    p.run_available()
    assert (p.silver.version(), p.gold.version()) == (sv, gv)


def test_bronze_audit_columns(pipeline):
    p, landing = pipeline
    write_cdc_file(landing / "cdc_1.json", FILE1)
    p.run_available()
    bronze = p.bronze.to_df()
    assert bronze.count() == len(FILE1)
    row = bronze.where("id = 7 and cdc_operation = 'INSERT'").collect()[0]
    assert row["data_hash"] is not None and len(row["data_hash"]) == 32
    assert "cdc_1.json" in row["file_name"]
    assert row["insert_timestamp"] is not None
    # same business values -> same hash; different -> different
    hashes = {
        (r["id"], r["num_visitors"]): r["data_hash"] for r in bronze.collect()
    }
    assert hashes[(298, 994)] != hashes[(298, 900)]


def test_silver_utc_projection(pipeline):
    p, landing = pipeline
    write_cdc_file(landing / "cdc_1.json", FILE1)
    p.run_available()
    row = p.silver.to_df().where("id = 7").collect()[0]
    # Europe/Paris is UTC+1 in January -> utc = visit - 1h (reference :253)
    delta = row["visit_timestamp"] - row["utc_visit_timestamp"]
    assert delta.total_seconds() == 3600


def test_malformed_records_quarantined(pipeline):
    p, landing = pipeline
    write_cdc_file(landing / "cdc_1.json", FILE1)
    (landing / "broken.json").write_text("{this is not json")
    p.run_available()
    # pipeline unaffected by the bad file
    assert silver_state(p) == {7: 934, 10: 500, 20: 600, 298: 994}
    assert p.bronze.to_df().where("id is null").count() == 0
    quarantined = p.quarantine.to_df().collect()
    assert len(quarantined) == 1
    assert "not json" in quarantined[0]["_corrupt_record"]
    assert "broken.json" in quarantined[0]["file_name"]


def test_failed_bronze_append_releases_landing_batch(
    pipeline, monkeypatch, cache_guard
):
    """The landing batch is persisted for the quarantine split and the
    Bronze append; an append that raises must release it."""
    from incremental_etl_on_lakehouse_spark.lake import LakeTable

    p, landing = pipeline
    write_cdc_file(landing / "cdc_1.json", FILE1)
    bronze_path = p.bronze.path
    real = LakeTable.append

    def append(self, *a, **k):
        if self.path == bronze_path:
            raise RuntimeError("bronze append failed")
        return real(self, *a, **k)

    monkeypatch.setattr(LakeTable, "append", append)
    with pytest.raises(RuntimeError, match="bronze append failed"):
        p.run_available()
    assert cache_guard() == 0


def test_schema_drift_new_column_lands_in_bronze(pipeline):
    """Autoloader schemaLocation semantics: a NEW column appearing in a
    mid-stream file must widen the persisted schema at the next stream-start
    boundary and land in Bronze (via merge_schema) instead of vanishing."""
    p, landing = pipeline

    write_cdc_file(landing / "cdc_1.json", FILE1)
    p.run_available()
    assert "session_id" not in [f.name for f in p.bronze.schema().fields]

    # drifted file: same business columns plus a brand-new session_id
    rows = []
    for (id_, country, district, visit_ts, visitors, op, cdc_ts) in FILE2:
        rows.append(
            {
                "id": id_,
                "country": country,
                "district": district,
                "visit_timestamp": visit_ts,
                "num_visitors": visitors,
                "cdc_operation": op,
                "cdc_timestamp": cdc_ts,
                "session_id": f"s-{id_}",
            }
        )
    (landing / "cdc_2_drift.json").write_text(json.dumps(rows, indent=1))
    p.run_available()

    bronze_cols = [f.name for f in p.bronze.schema().fields]
    assert "session_id" in bronze_cols, bronze_cols
    got = {
        r["id"]: r["session_id"]
        for r in p.bronze.to_df()
        .where("session_id is not null")
        .select("id", "session_id")
        .collect()
    }
    assert got == {100: "s-100", 7: "s-7", 298: "s-298"}
    # pre-drift rows read the new column as NULL (schema-on-read)
    assert (
        p.bronze.to_df().where("session_id is null").count() == len(FILE1)
    )
    # pipeline results unaffected: silver keeps its fixed DDL
    assert silver_state(p)[7] == 10934
    assert gold_state(p)["Australia"] == 10000

    # the widened schema is persisted: a fresh pipeline object (restart)
    # starts from it without re-deriving
    import os

    assert os.path.exists(
        os.path.join(str(p.checkpoints), "bronze_schema.json")
    )


def test_equal_timestamp_change_across_batches_applies(pipeline):
    """Two changes to one key inside one cdc_timestamp tick, split across
    micro-batches: the second must still apply.

    A single strict ``cdc_timestamp > target.cdc_timestamp`` order guard
    silently dropped it forever (the hash guard alone used to apply it);
    the lexicographic (cdc_timestamp, insert_timestamp) guard restores it
    because the second batch's Bronze ingest time is strictly later.
    """
    p, landing = pipeline
    ts = "2023-01-01 10:00:00"
    write_cdc_file(
        landing / "cdc_1.json",
        [(1, "England", "D1", ts, 100, "INSERT", ts + ".000")],
    )
    p.run_available()
    assert silver_state(p) == {1: 100}

    # same key, same cdc_timestamp, different content — a later batch
    write_cdc_file(
        landing / "cdc_2.json",
        [(1, "England", "D1", ts, 250, "UPDATE", ts + ".000")],
    )
    p.run_available()
    assert silver_state(p) == {1: 250}
    assert gold_state(p) == {"England": 250}

    # identical redelivery of the equal-ts update (hash equal, ingest later)
    # must still be a no-op: the update clause's hash guard absorbs it
    sv = p.silver.version()
    write_cdc_file(
        landing / "cdc_3.json",
        [(1, "England", "D1", ts, 250, "UPDATE", ts + ".000")],
    )
    p.run_available()
    assert silver_state(p) == {1: 250}
    hist = {h["version"]: h for h in p.silver.history()}
    merges_after = [
        h for v, h in hist.items() if v > sv and h["operation"] == "MERGE"
    ]
    assert all(
        h["metrics"]["num_updated_rows"] == 0
        and h["metrics"]["num_deleted_rows"] == 0
        for h in merges_after
    )


def test_lex_greater_sql_shapes():
    from incremental_etl_on_lakehouse_spark.operators.cdc import lex_greater_sql

    gt_a = "(source.`a` > target.`a` OR (target.`a` IS NULL AND source.`a` IS NOT NULL))"
    gt_b = "(source.`b` > target.`b` OR (target.`b` IS NULL AND source.`b` IS NOT NULL))"
    assert lex_greater_sql(["a"]) == f"({gt_a})"
    assert lex_greater_sql(["a", "b"]) == (
        f"({gt_a} OR (source.`a` <=> target.`a` AND {gt_b}))"
    )


# ---------------------------------------------------------------------------
# SCD Type-2 history merge (operators/cdc.py: scd2_merge)
# ---------------------------------------------------------------------------


def test_scd2_merge_history(spark, tmp_path):
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from incremental_etl_on_lakehouse_spark.lake import LakeTable
    from incremental_etl_on_lakehouse_spark.operators.cdc import scd2_merge

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("attr", StringType()),
            StructField("ts_ms", LongType()),
            StructField("data_hash", StringType()),
            StructField("__start_ts", LongType()),
            StructField("__end_ts", LongType()),
            StructField("__is_current", BooleanType()),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "dim"), schema)

    def batch(rows):
        df = spark.createDataFrame(rows, "id long, attr string, ts_ms long")
        return df.withColumn("data_hash", F.md5(F.col("attr")))

    # batch 1: keys 1, 2 (intra-batch dup on key 1 -> latest wins)
    scd2_merge(t, batch([(1, "a", 100), (1, "b", 200), (2, "x", 100)]),
               ["id"], "ts_ms")
    hist = {(r.id, r.attr): (r["__start_ts"], r["__end_ts"], r["__is_current"])
            for r in t.to_df().collect()}
    assert hist == {(1, "b"): (200, None, True), (2, "x"): (100, None, True)}

    # batch 2: key 1 changes (close + new version), key 2 unchanged (no-op),
    # key 3 brand new
    b2 = batch([(1, "c", 300), (2, "x", 300), (3, "z", 300)])
    scd2_merge(t, b2, ["id"], "ts_ms")
    hist = {(r.id, r.attr): (r["__start_ts"], r["__end_ts"], r["__is_current"])
            for r in t.to_df().collect()}
    assert hist == {
        (1, "b"): (200, 300, False),
        (1, "c"): (300, None, True),
        (2, "x"): (100, None, True),
        (3, "z"): (300, None, True),
    }

    # idempotence: replaying batch 2 stages nothing (hashes all match)
    v = t.version()
    scd2_merge(t, b2, ["id"], "ts_ms")
    assert {(r.id, r.attr, r["__is_current"]) for r in t.to_df().collect()} == {
        (1, "b", False), (1, "c", True), (2, "x", True), (3, "z", True)
    }
