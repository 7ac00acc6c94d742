"""Copy-path invariants: bucket disjointness/exhaustiveness across both
spellings of the canonical bucket expression, fingerprint duplicate
sensitivity, and the vacuous-predicate guard (round-1 verdict/advice)."""

from __future__ import annotations

import dataclasses

import pytest

from smartbulkcopy_spark.catalog import ParquetCatalog
from smartbulkcopy_spark.config import EngineConfig, LogicalPartitioningStrategy
from smartbulkcopy_spark.model import TableInfo, TableSize
from smartbulkcopy_spark.planner import (
    FullCopyTask,
    LogicalPartitionCopyTask,
    Outcome,
    PhysicalPartitionCopyTask,
    analyze,
)
from smartbulkcopy_spark.sources.jdbc import jdbc_predicates
from smartbulkcopy_spark.sources.parquet import copy_table, read_for_tasks
from smartbulkcopy_spark.verify import content_fingerprint


def _nine_way(sf_dir):
    src = ParquetCatalog(sf_dir).collect("lineitem")
    dst = dataclasses.replace(src)
    config = EngineConfig(
        logical_partitioning_strategy=LogicalPartitioningStrategy.COUNT,
        logical_partitions=9,
        batch_size=1000,
    )
    plan = analyze(["lineitem"], [src], [dst], config)
    assert plan.outcome is Outcome.SUCCESS
    assert len(plan.tasks) == 9
    assert all(isinstance(t, LogicalPartitionCopyTask) for t in plan.tasks)
    return plan.tasks


def _with_null_keys(spark, tasks, tmp_path):
    """The 9-way family re-pointed at a lineitem copy whose bucket key is
    NULL on every 7th row."""
    from pyspark.sql import functions as F

    key = tasks[0].bucket_column
    path = str(tmp_path / "li_nulls")
    li = spark.read.parquet(tasks[0].source.location)
    li.withColumn(
        key, F.when(F.col(key) % 7 != 0, F.col(key))
    ).write.parquet(path)
    src = dataclasses.replace(tasks[0].source, location=path)
    return [dataclasses.replace(t, source=src) for t in tasks]


def test_buckets_disjoint_exhaustive_both_spellings(spark, sf_dir, tmp_path):
    """Every row, NULL keys included, satisfies exactly one task predicate
    (the JDBC SQL string, parsed by Catalyst here), and the file copy
    routes it to the Spark partition of that bucket — the two spellings
    are the same expression by construction."""
    from pyspark.sql import functions as F

    tasks = _with_null_keys(spark, _nine_way(sf_dir), tmp_path)
    li = spark.read.parquet(tasks[0].source.location)
    assert li.filter(F.col(tasks[0].bucket_column).isNull()).count() > 0
    per_bucket_sql = [
        li.filter(F.expr(t.predicate_sql())).count() for t in tasks
    ]
    assert sum(per_bucket_sql) == li.count()
    assert all(c > 0 for c in per_bucket_sql)  # no empty bucket at 6k rows

    preds = [F.expr(t.predicate_sql()) for t in tasks]
    routed = read_for_tasks(spark, tasks).select(
        F.spark_partition_id().alias("pid"),
        sum(p.cast("int") for p in preds).alias("n_matched"),
        F.coalesce(*(F.when(p, i) for i, p in enumerate(preds))).alias("b"),
    )
    assert routed.count() == li.count()
    assert routed.filter("n_matched != 1 OR b != pid").count() == 0


def test_nine_way_copy_writes_one_file_per_bucket(spark, sf_dir, tmp_path):
    """Each logical bucket gets its own writer: 9 non-empty part files,
    each holding exactly one bucket (hash-partitioning the 9 bucket ids
    fills only 4 partitions)."""
    from pyspark.sql import functions as F

    tasks = _nine_way(sf_dir)
    dest = str(tmp_path / "li_9")
    copy_table(spark, tasks, dest)
    per_file = (
        spark.read.parquet(dest)
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            F.countDistinct(F.expr(tasks[0].bucket_sql_expr())).alias("b"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    assert len(per_file) == 9
    assert all(r["b"] == 1 and r["n"] > 0 for r in per_file)


def test_null_bucket_keys_route_to_bucket_zero(spark):
    """NULL (or non-castable) keys deterministically land in bucket 0
    instead of vanishing from every bucket (round-1 advice)."""
    from pyspark.sql import functions as F

    task = LogicalPartitionCopyTask(
        source=TableInfo(name="t"),
        destination=TableInfo(name="t"),
        partition_number=1,
        n_partitions=3,
        bucket_column="k",
    )
    df = spark.createDataFrame(
        [(None,), (0,), (1,), (2,), (3,)], "k int"
    )
    matched = sum(
        df.filter(
            F.expr(
                dataclasses.replace(task, partition_number=i).predicate_sql()
            )
        ).count()
        for i in range(1, 4)
    )
    assert matched == 5  # NULL row included exactly once, nothing dropped
    # bucket 0 holds k=0, k=3, and the NULL row
    assert df.filter(F.expr(task.predicate_sql())).count() == 3


def test_text_only_table_falls_back_to_full_copy():
    """A table with no BIGINT-castable column cannot be modulo-bucketed;
    the planner must emit one full stream, not N vacuous scans."""
    src = TableInfo(
        name="t",
        columns=["a", "b"],
        numeric_columns=[],  # known: NO numeric columns -> no bucketing
        size=TableSize(row_count=10_000, size_gb=0),
    )
    dst = dataclasses.replace(src)
    config = EngineConfig(
        logical_partitioning_strategy=LogicalPartitioningStrategy.COUNT,
        logical_partitions=9,
        batch_size=1000,
    )
    plan = analyze(["t"], [src], [dst], config)
    assert plan.outcome is Outcome.SUCCESS
    assert len(plan.tasks) == 1
    assert isinstance(plan.tasks[0], FullCopyTask)


def test_jdbc_predicates_reject_vacuous_families():
    t = TableInfo(name="t", columns=["a"])
    tasks = [
        LogicalPartitionCopyTask(
            source=t, destination=t, partition_number=i, n_partitions=3,
            bucket_column=None,
        )
        for i in range(1, 4)
    ]
    with pytest.raises(ValueError, match="vacuous"):
        jdbc_predicates(tasks)


def test_jdbc_physical_fallback_uses_dollar_partition():
    t = TableInfo(name="t", columns=["a"])
    task = PhysicalPartitionCopyTask(
        source=t, destination=t, partition_number=4,
        partition_column="a", partition_function="pf",
    )
    assert jdbc_predicates([task]) == ["$partition.pf(a) = 4"]


def test_mssql_logical_partition_predicates_carry_maxdop_hint():
    """reference client/CopyInfo.cs:63 appends OPTION (MAXDOP 1) to every
    logical-partition scan: N concurrent modulo scans must not each
    parallelize server-side. mssql dialect only; the hint is a statement-
    final T-SQL clause, so it must be the predicate's suffix."""
    t = TableInfo(name="t", columns=["a"], numeric_columns=["a"])
    tasks = [
        LogicalPartitionCopyTask(
            source=t, destination=t, partition_number=i, n_partitions=3,
            bucket_column="a",
        )
        for i in range(1, 4)
    ]
    mssql = jdbc_predicates(tasks, dialect="mssql")
    assert all(p.endswith(" OPTION (MAXDOP 1)") for p in mssql)
    # the bucket expression itself is unchanged in front of the hint
    for p, task in zip(mssql, tasks):
        assert p == f"{task.predicate_sql()} OPTION (MAXDOP 1)"
    # default/ansi dialect: no T-SQL hint anywhere
    assert all("MAXDOP" not in p for p in jdbc_predicates(tasks))
    # physical-partition predicates never get the hint, even for mssql
    phys = PhysicalPartitionCopyTask(
        source=t, destination=t, partition_number=4,
        partition_column="a", partition_function="pf",
    )
    assert jdbc_predicates([phys], dialect="mssql") == [
        "$partition.pf(a) = 4"
    ]


def test_partition_key_only_ordered_write_path(spark, sf_dir, tmp_path):
    """O2 end-to-end: a partitioned-heap copy runs the PARTITION_KEY_ONLY
    hint through repartitionByRange + sortWithinPartitions, preserves
    content exactly, and each output file is internally sorted on the
    partition key (the property the ORDER hint promises the destination)."""
    import datetime as dt

    import pyspark.sql.functions as F

    from smartbulkcopy_spark.catalog import LayoutSpec, ParquetCatalog
    from smartbulkcopy_spark.planner import OrderHint, analyze
    from smartbulkcopy_spark.verify import check_copy

    layout = LayoutSpec(
        partition_column="l_shipdate",
        partition_function="pf_year",
        partition_boundaries=[dt.datetime(y, 1, 1) for y in range(1993, 1999)],
    )
    cat = ParquetCatalog(sf_dir, {"lineitem": layout})
    src = cat.collect("lineitem")
    dst = dataclasses.replace(src)
    plan = analyze(
        ["lineitem"], [src], [dst],
        EngineConfig(batch_size=1000),
    )
    assert plan.outcome is Outcome.SUCCESS
    assert all(isinstance(t, PhysicalPartitionCopyTask) for t in plan.tasks)
    assert all(t.order_hint is OrderHint.PARTITION_KEY_ONLY for t in plan.tasks)

    dest = str(tmp_path / "li_part")
    copy_table(spark, plan.tasks, dest)
    check = check_copy(
        spark.read.parquet(src.location), spark.read.parquet(dest), "lineitem"
    )
    assert check.content_match

    # within every output file, l_shipdate must be non-decreasing
    out = spark.read.parquet(dest).select(
        F.input_file_name().alias("f"), "l_shipdate"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("f").orderBy(F.monotonically_increasing_id())
    violations = (
        out.withColumn("prev", F.lag("l_shipdate").over(w))
        .where(F.col("prev") > F.col("l_shipdate"))
        .count()
    )
    assert violations == 0


def test_columnstore_destination_forces_batch_floor():
    from smartbulkcopy_spark.config import COLUMNSTORE_MIN_BATCH
    from smartbulkcopy_spark.model import IndexKind, TableIndex
    from smartbulkcopy_spark.sources.jdbc import effective_batch_size

    cfg = EngineConfig(batch_size=5000)
    heap = TableInfo(name="t")
    cci = TableInfo(
        name="t",
        primary_index=TableIndex(kind=IndexKind.COLUMNSTORE_CLUSTERED),
    )
    assert effective_batch_size(cfg, heap) == 5000
    assert effective_batch_size(cfg, cci) == COLUMNSTORE_MIN_BATCH


def test_fingerprint_detects_duplicate_swap(spark):
    """{A,A,B} vs {A,B,B} must not fingerprint-collide (XOR did)."""
    a = spark.createDataFrame([(1,), (1,), (2,)], "x int")
    b = spark.createDataFrame([(1,), (2,), (2,)], "x int")
    ca, ha = content_fingerprint(a)
    cb, hb = content_fingerprint(b)
    assert ca == cb == 3
    assert ha != hb


def test_fingerprint_order_and_column_order_insensitive(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y")], "i int, s string")
    b = spark.createDataFrame([("y", 2), ("x", 1)], "s string, i int")
    assert content_fingerprint(a) == content_fingerprint(b.select("s", "i"))


def test_maxdop_hint_disables_jdbc_filter_pushdown(spark, monkeypatch):
    """With pushed Catalyst filters Spark emits WHERE (filter) AND (pred)
    — a parenthesized statement-final hint is a T-SQL syntax error. When
    hints are embedded, the reader must pin pushDownPredicate=false so
    the partition predicate stays the lone, verbatim WHERE clause."""
    from pyspark.sql.readwriter import DataFrameReader

    from smartbulkcopy_spark.sources.jdbc import read_jdbc_partitioned

    captured = {}

    def fake_jdbc(self, url, table=None, predicates=None, properties=None,
                  **kw):
        captured.update(predicates=predicates, properties=properties)
        return spark.range(1).selectExpr("id AS a")

    monkeypatch.setattr(DataFrameReader, "jdbc", fake_jdbc)
    t = TableInfo(name="t", columns=["a"], numeric_columns=["a"])
    tasks = [
        LogicalPartitionCopyTask(
            source=t, destination=t, partition_number=i, n_partitions=3,
            bucket_column="a",
        )
        for i in range(1, 4)
    ]
    read_jdbc_partitioned(spark, "jdbc:fake", tasks, dialect="mssql")
    assert all("OPTION (MAXDOP 1)" in p for p in captured["predicates"])
    assert captured["properties"]["pushDownPredicate"] == "false"

    # no hint (ansi dialect) -> pushdown left alone
    read_jdbc_partitioned(spark, "jdbc:fake", tasks, dialect="ansi")
    assert "pushDownPredicate" not in (captured["properties"] or {})


def test_jsonl_source_feeds_pipeline_and_quarantines_rejects(spark, tmp_path):
    """Declared-schema JSONL read: clean rows land in the canonical
    documents shape (so registered operators run unchanged), malformed
    or incomplete lines are quarantined with their raw text."""
    import json

    import pyspark.sql.functions as F

    from smartbulkcopy_spark.sources.jsonl import read_documents_jsonl

    p = tmp_path / "corpus.jsonl"
    rows = [
        {"doc_id": 1, "text": "the quick brown fox", "lang": "en",
         "source": "src0"},
        {"doc_id": 2, "text": "the quick brown fox", "lang": "en",
         "source": "src1"},  # exact dup of doc 1
        {"doc_id": 3, "text": "etwas ganz anderes hier", "lang": "de",
         "source": "src0"},
    ]
    lines = [json.dumps(r) for r in rows]
    lines.append('{"doc_id": 4, "text": "truncated')  # broken JSON
    lines.append('{"lang": "en", "source": "src0"}')  # parses, no id/text
    p.write_text("\n".join(lines) + "\n")

    docs, rejects = read_documents_jsonl(spark, str(p))
    got = {r["doc_id"]: r for r in docs.collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["n_chars"] == len("the quick brown fox")
    assert set(docs.columns) == {"doc_id", "text", "lang", "source",
                                 "n_chars"}
    # broken JSON and parsed-but-incomplete rows are both quarantined
    # with their raw lines — nothing vanishes from corpus accounting
    rej = {r["raw_line"] for r in rejects.collect()}
    assert rej == {
        '{"doc_id": 4, "text": "truncated',
        '{"lang": "en", "source": "src0"}',
    }

    # the canonical shape feeds a registered operator unchanged: exact
    # dedup groups docs 1+2 into one hash with keep-first semantics
    from smartbulkcopy_spark.pipeline.text import norm_text

    dedup = (
        docs.groupBy(F.md5(norm_text()).alias("h"))
        .agg(F.min("doc_id").alias("keep"), F.count("*").alias("c"))
    )
    by_keep = {r["keep"]: r["c"] for r in dedup.collect()}
    assert by_keep == {1: 2, 3: 1}


def test_csv_source_feeds_pipeline_and_quarantines_rejects(spark, tmp_path):
    """Declared-schema CSV read mirrors the JSONL source contract: clean
    rows in the canonical documents shape, malformed/incomplete rows
    quarantined raw, per-file header lines dropped without becoming
    rejects, quoted separators handled."""
    import pyspark.sql.functions as F

    from smartbulkcopy_spark.sources.csv import read_documents_csv

    p = tmp_path / "corpus.csv"
    lines = [
        "doc_id,text,lang,source",  # header
        '1,"the quick, brown fox",en,src0',  # quoted separator
        "2,plain text here,en,src1",
        "abc,bad id row,en,src0",  # unparseable id -> reject
        "3,,en,src0",  # empty text field parses as NULL -> reject
    ]
    p.write_text("\n".join(lines) + "\n")

    docs, rejects = read_documents_csv(spark, str(p))
    got = {r["doc_id"]: r for r in docs.collect()}
    assert set(got) == {1, 2}
    assert got[1]["text"] == "the quick, brown fox"
    assert got[1]["n_chars"] == len("the quick, brown fox")
    assert set(docs.columns) == {"doc_id", "text", "lang", "source",
                                 "n_chars"}
    rej = {r["raw_line"] for r in rejects.collect()}
    assert rej == {"abc,bad id row,en,src0", "3,,en,src0"}

    # same canonical shape feeds registered operators unchanged
    n = docs.agg(F.count("*").alias("c")).collect()[0]["c"]
    assert n == 2
