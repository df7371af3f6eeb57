"""Scan-width guard shared across operators.

A whole fixture table fits one ``maxPartitionBytes`` split, and a
parquet row group is the smallest split, so a small file arrives as a
single scan partition and every narrow stage Catalyst pipelines onto it
(tokenize/explode, quantize, candidate generation) runs on one core
whatever the cluster size.  :func:`ensure_min_partitions` is the one
rule that widens such inputs.  It reads the input's width from the
physical plan Spark has already built, without running any of it, and
adds a ``repartition`` only when that width is below the target.

A shuffle-fed input is already wide: its first exchange declares
``spark.sql.shuffle.partitions`` partitions (or the count an explicit
``repartition`` asked for), and AQE narrows that at run time only when
the shuffled data is too small to need the cores.  A real-scale scan
(more splits than cores) is wide too, so on such inputs the guard adds
no shuffle.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame


def _planned_width(node) -> int:
    """Partition count of the streamed side of physical plan ``node``.

    The walk descends the streamed side and stops at the first node
    that declares its partitioning: a shuffle exchange (its declared
    count), an operator above one, a bucketed scan, a limit (one
    partition).  Broadcast build sides never stream and count as 0.
    Below AQE the walk reads the initial plan, the one with the
    exchanges ``EnsureRequirements`` added, because AQE itself reports
    ``UnknownPartitioning(0)`` until it has run.  A leaf that
    declares nothing reports the partitions of the RDD it plans: for
    a file scan that is ``inputRDD``, which already applies static
    partition pruning; a scan awaiting dynamic partition pruning
    counts as wide.  Nothing here launches a Spark job."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _planned_width(node.initialPlan())
    if name == "BroadcastExchangeExec":
        return 0
    if name == "InMemoryTableScanExec":
        return _planned_width(node.relation().cachedPlan())
    declared = node.outputPartitioning().numPartitions()
    if declared > 0:
        return declared
    if name == "FileSourceScanExec":
        if "dynamicpruning" in node.partitionFilters().toString():
            # the pruned width is known only once the pruning subquery
            # has run, and a table worth pruning at run time is wide
            return sys.maxsize
        return node.inputRDD().getNumPartitions()
    kids = node.children()
    if kids.isEmpty():
        return node.execute().getNumPartitions()
    widths = [_planned_width(kids.apply(i)) for i in range(kids.size())]
    return sum(widths) if name == "UnionExec" else max(widths)


def ensure_min_partitions(df: DataFrame, target: int | None = None) -> DataFrame:
    """``df.repartition(target)`` when ``df``'s planned width is below
    ``target`` (default: the session's default parallelism), else
    ``df`` itself.

    The width is read from ``df``'s physical plan by
    :func:`_planned_width` and costs driver-side planning only: no
    Spark job runs, so upstream shuffles and broadcasts execute once,
    inside the caller's own query.  A shuffle-fed input is judged by
    its exchange's declared count, ``spark.sql.shuffle.partitions``
    (the core count in :func:`session.get_spark`, 200 by default in
    Spark); the count AQE coalesces it to at run time is not
    consulted, because AQE coalesces only shuffles too small to need
    the cores.  A real-scale scan has more splits than cores.  So in
    practice the guard widens only narrow scans, explicit narrow
    repartitions and small in-memory relations.  Streaming DataFrames
    pass through untouched: micro-batch sources manage their own
    parallelism.
    """
    if df.isStreaming:
        return df
    target = target or df.sparkSession.sparkContext.defaultParallelism
    if _planned_width(df._jdf.queryExecution().executedPlan()) < target:
        return df.repartition(target)
    return df
