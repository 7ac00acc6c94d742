"""Parquet source/sink executing the planner's copy tasks Spark-natively.

The reference streams reader->SqlBulkCopy per work item from a hand-rolled
queue (reference: client/SmartBulkCopy.cs:398-663). On Spark the partition
tasks of one table collapse into ONE declarative job — the scheduler *is*
the work queue — and the plan node family only decides the partitioning
expression and write-side sort:

- FullCopyTask            -> read -> (orderBy if hinted) -> write
- LogicalPartitionCopyTask-> read -> repartitionById(N, bucket) -> write
                              (bucket b is output partition b: one writer
                              per bucket)
- PhysicalPartitionCopyTask-> read -> repartitionByRange(N, part_col)
                              -> sortWithinPartitions (hint) -> write
                              (sampled bounds, not the tasks' declared
                              ones: declared bounds that miss the data's
                              range pile its rows onto one writer)

Each output partition is written independently and the parquet commit
protocol (_temporary + job commit) makes the copy idempotent under task
retry — the property the reference needs transactions for (SURVEY §4 R12).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from smartbulkcopy_spark.planner import (
    CopyTask,
    FullCopyTask,
    LogicalPartitionCopyTask,
    PhysicalPartitionCopyTask,
)


def _sort_cols(task: CopyTask):
    return [
        F.col(name).desc() if desc else F.col(name).asc()
        for name, desc in task.order_by_spec()
    ]


def read_for_tasks(spark: SparkSession, tasks: list[CopyTask]) -> DataFrame:
    """Build the single partitioned DataFrame equivalent to one table's
    task family. ``tasks`` must share a source table."""
    if not tasks:
        raise ValueError("empty task list")
    head = tasks[0]
    df = spark.read.parquet(head.source.location).select(*head.select_columns())

    if isinstance(head, LogicalPartitionCopyTask) and head.n_partitions > 1:
        # Same canonical bucket expression as the JDBC predicate string
        # (planner.bucket_sql_expr) so a bucket re-copied/verified on either
        # path selects exactly the same rows (reference contract:
        # client/CopyInfo.cs:61-67). The bucket id IS the partition id:
        # hash-partitioning 9 bucket ids fills only 4 of 9 partitions.
        df = df.repartitionById(
            head.n_partitions, F.expr(f"CAST({head.bucket_sql_expr()} AS INT)")
        )
    elif isinstance(head, PhysicalPartitionCopyTask):
        n = max(len(tasks), 1)
        df = df.repartitionByRange(n, F.col(head.partition_column))

    sort = _sort_cols(head)
    if sort:
        if isinstance(head, FullCopyTask):
            # single ordered stream (reference's clustered-rowstore path)
            df = df.orderBy(*sort)
        else:
            df = df.sortWithinPartitions(*sort)
    return df


def copy_table(
    spark: SparkSession, tasks: list[CopyTask], dest_path: str
) -> None:
    """Write one table's task family to ``dest_path``, replacing whatever
    is there: a retried attempt starts from nothing, so it cannot
    duplicate rows."""
    read_for_tasks(spark, tasks).write.mode("overwrite").parquet(dest_path)
