"""Reusable DataFrame operators: CDC/merge, dedup families, similarity, text."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

# logical operators that keep their child's partitioning
_NARROW = frozenset({"Project", "Filter", "Generate", "Sample", "SubqueryAlias"})


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition only when the input is under-parallelized.

    Single-file (or single-row-group) parquet scans arrive as one partition,
    which serializes every CPU-heavy narrow operator behind one core. At
    cluster scale inputs come pre-split, so this is a no-op there — the
    repartition (and its shuffle) only happens when the plan would otherwise
    underuse the executors. The decision reads plan metadata only
    (:func:`planned_partitions`) and runs no Spark job.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if planned_partitions(df) >= max(2, target // 2):
        return df
    return df.repartition(target)


def planned_partitions(df: DataFrame) -> int:
    """The number of partitions ``df`` will run with, read from its plans
    without running a Spark job. (``df.rdd.getNumPartitions()`` is not
    that: on an adaptive plan it executes the plan's query stages.)

    Below any narrow operators sits the node that decides the partitioning:
    - an explicit repartition count is exact;
    - a persisted frame that is already materialized knows its count;
    - a plan with no shuffle and no subquery takes its scans' split,
      which the lazily built RDD knows without running;
    - anything else is taken to end in a shuffle. With AQE coalescing,
      that shuffle's width is decided at run time from the bytes it carries,
      so it is predicted from the plan's size estimate at the coalescing
      target (``minPartitionSize``, 1 MiB by default), capped at the
      shuffle partition count. Without coalescing it is that count.
    """
    spark = df.sparkSession
    qe = df._jdf.queryExecution()
    node = qe.optimizedPlan()
    while node.nodeName() in _NARROW:
        node = node.child()
    name = node.nodeName()
    if name == "Repartition":
        return node.numPartitions()
    if name == "RepartitionByExpression" and node.optNumPartitions().isDefined():
        return node.optNumPartitions().get()
    if name == "InMemoryRelation":
        cache = node.cacheBuilder()
        if cache.isCachedColumnBuffersLoaded():
            return cache.cachedColumnBuffers().getNumPartitions()
    elif node.children().isEmpty():
        plan = qe.executedPlan().toString()
        if not any(w in plan for w in ("AdaptiveSparkPlan", "Exchange", "Subquery")):
            return qe.toRdd().getNumPartitions()
    conf = spark.conf
    shuffle = int(conf.get("spark.sql.shuffle.partitions"))
    aqe = "spark.sql.adaptive."

    def on(key: str) -> bool:
        return conf.get(aqe + key, "true").lower() == "true"

    if not (on("enabled") and on("coalescePartitions.enabled")):
        return shuffle
    target = (
        conf.get(aqe + "coalescePartitions.minPartitionSize", "1MB")
        if on("coalescePartitions.parallelismFirst")
        else conf.get(aqe + "advisoryPartitionSizeInBytes", "64MB")
    )
    size = node.stats().sizeInBytes()
    per = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(target)
    return max(1, min(shuffle, math.ceil(size / per)))
