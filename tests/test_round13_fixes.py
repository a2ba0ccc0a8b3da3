"""Round-13 optimization guards.

The round rebuilt the MERGE planner's classifiers/projections as SQL
strings, consolidated incremental_minmax_update's two isEmpty probes
into one classification aggregate, and taught the micro-plan conf scope
to switch off whole-stage codegen. These tests pin the behaviors those rewrites
could plausibly have broken: identifier quoting, the no-op early return
(no commit), and conf restoration on scope exit."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from incremental_etl_on_lakehouse_spark.lake.table import (
    MICRO_PLAN_CONF,
    LakeTable,
    MergeClause,
    conf_scope,
)


def test_merge_sql_string_builders_quote_weird_identifiers(spark, tmp_path):
    """The SQL-string action/projection builders must backtick-quote
    every identifier: a merge over columns named with spaces and a
    reserved word exercises the post-image CASE, the insert projection
    and the CDF pre/post images."""
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("weird col", LongType()),
            StructField("select", StringType()),
        ]
    )
    t = LakeTable.create(
        spark,
        os.path.join(str(tmp_path), "weird"),
        schema,
        properties={"enableChangeDataFeed": "true"},
    )
    t.append(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")], schema
        )
    )
    src = spark.createDataFrame(
        [(1, 11, "A"), (3, 33, "c"), (4, 40, "d")], schema
    )
    t.merge(
        src,
        "source.id = target.id",
        [
            MergeClause("delete", "source.`select` = 'c'"),
            MergeClause(
                "update",
                None,
                {"weird col": "source.`weird col`", "select": "source.`select`"},
            ),
            MergeClause("insert", None, "*"),
        ],
    )
    rows = sorted(
        (r["id"], r["weird col"], r["select"]) for r in t.to_df().collect()
    )
    assert rows == [(1, 11, "A"), (2, 20, "b"), (4, 40, "d")]
    feed = t.read_changes(t.version(), t.version())
    kinds = sorted(
        (r["id"], r["_change_type"]) for r in feed.collect()
    )
    assert kinds == [
        (1, "update_postimage"),
        (1, "update_preimage"),
        (3, "delete"),
        (4, "insert"),
    ]


def test_minmax_noop_batch_commits_nothing(spark, tmp_path):
    """The single-probe classification must keep the old early-return:
    a batch whose removals are strictly inside the open (min, max)
    interval and whose additions tighten nothing is a provable no-op —
    zero commits on the aggregate table."""
    from incremental_etl_on_lakehouse_spark.operators.cdc import (
        incremental_minmax_update,
    )

    src_schema = StructType(
        [
            StructField("g", StringType()),
            StructField("v", LongType()),
        ]
    )
    # base = the maintained table's snapshot AS OF the batch commit, i.e.
    # post-change content: 9 was present for the stored (1, 9) state but
    # is gone after the extremum-removing batch below
    base = LakeTable.create(
        spark,
        os.path.join(str(tmp_path), "base"),
        src_schema,
        properties={"enableChangeDataFeed": "true"},
    )
    base.append(
        spark.createDataFrame([("a", 1), ("a", 4), ("a", 5)], src_schema)
    )
    gold_schema = StructType(
        [
            StructField("g", StringType()),
            StructField("min_value", LongType()),
            StructField("max_value", LongType()),
        ]
    )
    gold = LakeTable.create(
        spark, os.path.join(str(tmp_path), "gold"), gold_schema
    )
    gold.append(spark.createDataFrame([("a", 1, 9)], gold_schema))
    v0 = gold.version()
    # interior removal (5 is strictly inside (1, 9)) + non-tightening add
    changes = spark.createDataFrame(
        [("a", 5, "delete"), ("a", 4, "insert")],
        StructType(
            src_schema.fields + [StructField("_change_type", StringType())]
        ),
    )
    incremental_minmax_update(
        gold, base.to_df(), changes, ["g"], "v",
        min_col="min_value", max_col="max_value",
    )
    assert gold.version() == v0, "no-op batch must not commit"
    # extremum removal must still recompute from base: max 9 removed, the
    # post-change base holds {1, 4, 5} so the state must tighten to (1, 5)
    changes2 = spark.createDataFrame(
        [("a", 9, "delete")],
        StructType(
            src_schema.fields + [StructField("_change_type", StringType())]
        ),
    )
    incremental_minmax_update(
        gold, base.to_df(), changes2, ["g"], "v",
        min_col="min_value", max_col="max_value",
    )
    row = gold.to_df().collect()[0]
    assert (row["min_value"], row["max_value"]) == (1, 5)
    assert gold.version() > v0


def test_micro_plan_mode_restores_codegen_conf(spark):
    """The scope must restore spark.sql.codegen.wholeStage (and the other
    three confs) on exit, including the not-previously-set case."""
    key = "spark.sql.codegen.wholeStage"
    prev = spark.conf.get(key, None)
    with conf_scope(spark, MICRO_PLAN_CONF):
        assert spark.conf.get(key) == "false"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
    assert spark.conf.get(key, None) == prev
    # inactive scope must not touch anything
    with conf_scope(spark, {}):
        assert spark.conf.get(key, None) == prev
