"""Catalog collectors: turn a source (parquet dir / JDBC database) into
TableInfo metadata for the planner.

The reference collects this over ~12 sys.* catalog queries
(reference: client/TableInfoCollector.cs:137-501). Here:

- ``ParquetCatalog`` derives schema/rowcount/size from parquet footers
  (no data scan — metadata only, O(files) not O(rows)), with physical
  layout supplied by a ``LayoutSpec`` since plain parquet has no notion of
  clustered indexes. This mirrors how the harness's fixtures simulate the
  reference's six LINEITEM layouts (FIXTURES.md §B).
- ``JdbcCatalog`` carries the catalog queries for a SQL Server source as
  DataFrame reads (catalog-as-DataFrame, SURVEY §2.1 S7). It is
  constructed lazily and never touched by tests in this container (no
  live DB) — the SQL is the tested contract.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from pathlib import Path

from smartbulkcopy_spark.model import (
    HistoryInfo,
    IndexColumn,
    IndexKind,
    TableIndex,
    TableInfo,
    TableSize,
    TableType,
)


@dataclass
class LayoutSpec:
    """Physical-layout metadata a file source cannot self-describe."""

    kind: IndexKind = IndexKind.HEAP
    key_columns: list[tuple[str, bool]] = field(default_factory=list)  # (name, desc)
    partition_column: str | None = None
    partition_boundaries: list[object] = field(default_factory=list)
    partition_function: str | None = None
    secondary_indexes: int = 0
    foreign_keys: int = 0
    table_type: TableType = TableType.REGULAR
    history: HistoryInfo | None = None
    identity_column: str | None = None

    def to_index(self) -> TableIndex:
        cols = [
            IndexColumn(name=n, ordinal=i + 1, descending=d)
            for i, (n, d) in enumerate(self.key_columns)
        ]
        if self.partition_column:
            existing = {c.name: c for c in cols}
            if self.partition_column in existing:
                old = existing[self.partition_column]
                cols[cols.index(old)] = IndexColumn(
                    name=old.name,
                    ordinal=old.ordinal,
                    descending=old.descending,
                    partition_ordinal=1,
                )
            else:
                cols.append(
                    IndexColumn(
                        name=self.partition_column,
                        ordinal=len(cols) + 1,
                        partition_ordinal=1,
                    )
                )
        return TableIndex(kind=self.kind, columns=cols)


def dataset_state(path: str) -> tuple:
    """Change key of a parquet dataset on disk: the path's own
    (mtime_ns, size), plus, for a directory dataset, the largest child
    mtime, the largest child size and the child count. Rewriting a part
    file IN PLACE changes neither the directory's mtime nor its size,
    so only the children show it. Cost: one stat per child file on
    every call, O(files) driver work — about 4 us a file on a local
    disk with a warm cache (20k files: 0.08 s), far more on a network
    filesystem, so a 100k-file table pays ~0.4 s or worse per call.
    Raises OSError if the path is missing."""
    st = os.stat(path)
    key: tuple = (st.st_mtime_ns, st.st_size)
    if not os.path.isfile(path):
        with os.scandir(path) as it:
            kids = [e.stat() for e in it if e.is_file()]
        key += (
            max((k.st_mtime_ns for k in kids), default=0),
            max((k.st_size for k in kids), default=0),
            len(kids),
        )
    return key


class ParquetCatalog:
    """Collect TableInfo from a directory of ``<table>.parquet`` files."""

    def __init__(self, root: str, layouts: dict[str, LayoutSpec] | None = None):
        self.root = Path(root)
        self.layouts = layouts or {}

    def list_tables(self) -> list[str]:
        return sorted(p.stem for p in self.root.glob("*.parquet"))

    def _path(self, name: str) -> Path:
        return self.root / f"{name.replace('[', '').replace(']', '')}.parquet"

    def collect(self, name: str) -> TableInfo:
        path = self._path(name)
        if not path.exists():
            return TableInfo(name=name, exists=False)

        import pyarrow as pa
        import pyarrow.dataset as pads

        # One parquet file or a directory of part files (what Spark
        # writes; its _SUCCESS and .crc files are skipped); row count
        # and schema come from the footers alone.
        data = pads.dataset(str(path), format="parquet")
        size_bytes = sum(os.path.getsize(f) for f in data.files)
        layout = self.layouts.get(name, LayoutSpec())
        schema = data.schema
        numeric = [
            f.name
            for f in schema
            if pa.types.is_integer(f.type)
            or pa.types.is_floating(f.type)
            or pa.types.is_decimal(f.type)
        ]

        index = layout.to_index()
        info = TableInfo(
            name=name,
            exists=True,
            primary_index=index,
            secondary_indexes=layout.secondary_indexes,
            foreign_keys=layout.foreign_keys,
            columns=list(schema.names),
            numeric_columns=numeric,
            identity_column=layout.identity_column,
            size=TableSize(
                row_count=data.count_rows(), size_gb=size_bytes // (1 << 30)
            ),
            table_type=layout.table_type,
            history_info=layout.history,
            partition_column=layout.partition_column,
            partition_function=layout.partition_function,
            partition_boundaries=list(layout.partition_boundaries),
            partition_count=(
                len(layout.partition_boundaries) + 1
                if layout.partition_boundaries
                else 0
            ),
            location=str(path),
        )
        return info

    def collect_all(self, names: list[str]) -> list[TableInfo]:
        return [self.collect(n) for n in names]


# ---------------------------------------------------------------------------
# JDBC catalog queries (SQL Server source) — catalog-as-DataFrame.
# Authored fresh against the documented sys.* views; behaviorally equivalent
# to the reference's introspection (reference: client/TableInfoCollector.cs).
# ---------------------------------------------------------------------------

SQL_TABLE_EXISTS = """
SELECT COUNT(*) AS n
FROM sys.tables t
JOIN sys.schemas s ON t.schema_id = s.schema_id
WHERE s.name = PARSENAME('{table}', 2) AND t.name = PARSENAME('{table}', 1)
"""  # reference: client/TableInfoCollector.cs:190-218

SQL_COPYABLE_COLUMNS = """
SELECT c.name AS column_name, c.column_id, c.system_type_id,
       c.precision, c.scale
FROM sys.columns c
WHERE c.object_id = OBJECT_ID('{table}')
  AND c.is_computed = 0        -- destination recomputes
  AND c.is_column_set = 0      -- sparse column sets
  AND c.system_type_id != 189  -- timestamp/rowversion regenerates
ORDER BY c.column_id
"""  # reference: client/TableInfoCollector.cs:391-414

# SQL Server numeric system_type_ids — columns safe for BIGINT-modulo
# logical bucketing (tinyint..bigint, decimal/numeric, money, float, bit).
NUMERIC_SYSTEM_TYPE_IDS = frozenset(
    {48, 52, 56, 59, 60, 62, 104, 106, 108, 122, 127}
)

SQL_PRIMARY_INDEX = """
SELECT i.type AS index_type, ic.key_ordinal AS ordinal,
       c.name AS column_name, ic.is_descending_key AS descending,
       ic.partition_ordinal, c.is_computed
FROM sys.indexes i
JOIN sys.index_columns ic
  ON i.object_id = ic.object_id AND i.index_id = ic.index_id
JOIN sys.columns c
  ON c.object_id = ic.object_id AND c.column_id = ic.column_id
WHERE i.object_id = OBJECT_ID('{table}') AND i.index_id IN (0, 1)
"""  # reference: client/TableInfoCollector.cs:224-287

SQL_TABLE_SIZE = """
SELECT SUM(row_count) AS row_count,
       CAST(SUM(used_page_count) * 8.0 / 1024 / 1024 AS INT) AS size_gb
FROM sys.dm_db_partition_stats
WHERE object_id = OBJECT_ID('{table}') AND index_id IN (0, 1)
"""  # reference: client/TableInfoCollector.cs:370-389

SQL_SECONDARY_INDEX_COUNT = """
SELECT COUNT(*) AS n FROM sys.indexes
WHERE object_id = OBJECT_ID('{table}') AND index_id > 1
"""  # reference: client/TableInfoCollector.cs:463-481

SQL_FOREIGN_KEY_COUNT = """
SELECT COUNT(*) AS n FROM sys.foreign_keys
WHERE parent_object_id = OBJECT_ID('{table}')
"""  # reference: client/TableInfoCollector.cs:483-501

SQL_PARTITION_INFO = """
SELECT pf.name AS partition_function, c.name AS partition_column,
       pf.fanout AS partition_count
FROM sys.indexes i
JOIN sys.partition_schemes ps ON i.data_space_id = ps.data_space_id
JOIN sys.partition_functions pf ON ps.function_id = pf.function_id
JOIN sys.index_columns ic
  ON i.object_id = ic.object_id AND i.index_id = ic.index_id
JOIN sys.columns c ON c.object_id = i.object_id AND c.column_id = ic.column_id
WHERE i.object_id = OBJECT_ID('{table}')
  AND i.index_id IN (0, 1) AND ic.partition_ordinal = 1
"""  # reference: client/TableAnalyzer.cs:313-338

SQL_TEMPORAL_TYPE = """
SELECT temporal_type FROM sys.tables WHERE object_id = OBJECT_ID('{table}')
"""  # reference: client/TableInfoCollector.cs:421-459

SQL_PARTITION_BOUNDARIES = """
SELECT prv.value AS boundary
FROM sys.partition_functions pf
JOIN sys.partition_range_values prv ON pf.function_id = prv.function_id
WHERE pf.name = '{table}'
ORDER BY prv.boundary_id
"""  # boundary values let the planner emit real range predicates instead
#    of $partition ordinals (round-1 advice: without them every physical-
#    partition predicate degenerated to a full scan)

SQL_IDENTITY_COLUMN = """
SELECT name AS identity_column FROM sys.identity_columns
WHERE object_id = OBJECT_ID('{table}')
"""  # reference reads IDENT_CURRENT and reseeds the identity column
#    (client/SmartBulkCopy.cs:341-389)

SQL_CONNECTION_TEST = "SELECT 1 AS ok"
# reference: client/SmartBulkCopy.cs:768-810 (test + SKU detection)
SQL_SERVICE_OBJECTIVE = """
SELECT service_objective FROM sys.database_service_objectives
WHERE database_id = DB_ID()
"""

SQL_LOG_FLUSH_INSTANCE = """
SELECT instance_name FROM sys.dm_os_performance_counters
WHERE counter_name = 'Log Bytes Flushed/sec'
  AND instance_name = COALESCE(
    (SELECT TOP (1) physical_database_name FROM sys.databases
      WHERE database_id = DB_ID()), DB_NAME(DB_ID()))
"""  # the counter row is keyed by the PHYSICAL database name, which on
#    Azure SQL differs from DB_NAME() and changes when the service level
#    objective changes — so the instance is re-resolved per connection
#    (reference: client/SmartBulkCopy.cs:701-722)

SQL_LOG_FLUSH_COUNTER = """
SELECT cntr_value FROM sys.dm_os_performance_counters
WHERE counter_name = 'Log Bytes Flushed/sec'
  AND instance_name = '{instance}'
"""  # despite the '/sec' name this is a CUMULATIVE byte counter; the rate
#    is the two-sample delta over the sampling interval
#    (reference: client/SmartBulkCopy.cs:723-731 samples it 5s apart)

SQL_HISTORY_INFO = """
SELECT CONCAT(QUOTENAME(SCHEMA_NAME(h.schema_id)), '.', QUOTENAME(h.name))
         AS history_table,
       (SELECT c.name FROM sys.columns c
         WHERE c.object_id = t.object_id
           AND c.generated_always_type = 1) AS period_start_column,
       (SELECT c.name FROM sys.columns c
         WHERE c.object_id = t.object_id
           AND c.generated_always_type = 2) AS period_end_column,
       CASE WHEN t.history_retention_period IS NULL THEN 'INFINITE'
            ELSE CONCAT(t.history_retention_period, ' ',
                        t.history_retention_period_unit_desc)
       END AS retention_period
FROM sys.tables t
LEFT JOIN sys.tables h ON t.history_table_id = h.object_id
WHERE t.object_id = OBJECT_ID('{table}')
"""  # J4 correlated subqueries on sys.columns for the temporal period
#    columns (reference: client/TableInfoCollector.cs:438-459)


class JdbcCatalog:
    """Collect TableInfo over JDBC using the catalog queries above.

    Each query runs as ``spark.read.jdbc(url, '({sql}) q', props)`` so the
    catalog itself is a DataFrame (SURVEY §2.1 S7). Requires a live SQL
    Server endpoint; in this container it exists for API parity and its
    SQL constants are what the planner tests pin.
    """

    def __init__(self, spark, url: str, properties: dict[str, str] | None = None):
        self.spark = spark
        self.url = url
        self.properties = properties or {}

    def _query(self, sql: str):
        return self.spark.read.jdbc(
            self.url, f"({sql}) AS q", properties=self.properties
        )

    @staticmethod
    def _fmt(sql: str, name: str) -> str:
        """Interpolate a table name into a SQL string literal safely: the
        reference passes @tableName as a parameter; here the name rides
        inside '...' literals, so embedded quotes must be doubled or a
        name like ``O'Brien.t`` breaks the query (injection surface,
        round-1 advice)."""
        return sql.format(table=name.replace("'", "''"))

    def collect(self, name: str) -> TableInfo:
        exists = self._query(self._fmt(SQL_TABLE_EXISTS, name)).first()["n"] > 0
        if not exists:
            return TableInfo(name=name, exists=False)

        col_rows = self._query(self._fmt(SQL_COPYABLE_COLUMNS, name)).collect()
        cols = [r["column_name"] for r in col_rows]
        numeric = [
            r["column_name"]
            for r in col_rows
            if r["system_type_id"] in NUMERIC_SYSTEM_TYPE_IDS
        ]
        col_types = [
            (
                r["column_name"],
                r["system_type_id"],
                r["precision"] or 0,
                r["scale"] or 0,
            )
            for r in col_rows
        ]
        idx_rows = self._query(self._fmt(SQL_PRIMARY_INDEX, name)).collect()
        kind = IndexKind.HEAP
        if idx_rows:
            t = idx_rows[0]["index_type"]
            kind = {
                0: IndexKind.HEAP,
                1: IndexKind.ROWSTORE_CLUSTERED,
                5: IndexKind.COLUMNSTORE_CLUSTERED,
            }.get(t, IndexKind.UNKNOWN)
        index = TableIndex(
            kind=kind,
            columns=[
                IndexColumn(
                    name=r["column_name"],
                    ordinal=r["ordinal"],
                    descending=bool(r["descending"]),
                    partition_ordinal=r["partition_ordinal"],
                    computed=bool(r["is_computed"]),
                )
                for r in idx_rows
            ],
        )
        size_row = self._query(self._fmt(SQL_TABLE_SIZE, name)).first()
        sec = self._query(self._fmt(SQL_SECONDARY_INDEX_COUNT, name)).first()["n"]
        fks = self._query(self._fmt(SQL_FOREIGN_KEY_COUNT, name)).first()["n"]
        part = self._query(self._fmt(SQL_PARTITION_INFO, name)).collect()
        boundaries: list[object] = []
        if part:
            boundaries = [
                r["boundary"]
                for r in self._query(
                    self._fmt(
                        SQL_PARTITION_BOUNDARIES,
                        part[0]["partition_function"],
                    )
                ).collect()
            ]
        ident = self._query(self._fmt(SQL_IDENTITY_COLUMN, name)).first()
        temporal = self._query(self._fmt(SQL_TEMPORAL_TYPE, name)).first()
        ttype = TableType(temporal["temporal_type"] if temporal else 0)
        history = None
        if ttype is TableType.SYSTEM_VERSIONED_TEMPORAL:
            h = self._query(self._fmt(SQL_HISTORY_INFO, name)).first()
            if h is not None:
                history = HistoryInfo(
                    history_table=h["history_table"] or "",
                    period_start_column=h["period_start_column"] or "",
                    period_end_column=h["period_end_column"] or "",
                    retention_period=h["retention_period"] or "INFINITE",
                )

        return TableInfo(
            name=name,
            exists=True,
            primary_index=index,
            secondary_indexes=sec,
            foreign_keys=fks,
            columns=cols,
            numeric_columns=numeric,
            column_types=col_types,
            identity_column=ident["identity_column"] if ident else None,
            size=TableSize(
                row_count=size_row["row_count"] or 0,
                size_gb=size_row["size_gb"] or 0,
            ),
            table_type=ttype,
            history_info=history,
            partition_count=part[0]["partition_count"] if part else 0,
            partition_column=part[0]["partition_column"] if part else None,
            partition_function=part[0]["partition_function"] if part else None,
            partition_boundaries=boundaries,
            location=name,
        )
