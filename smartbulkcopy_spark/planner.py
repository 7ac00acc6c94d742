"""Driver-side planner: catalog metadata -> partition-grained copy plan.

Pure-function re-expression of the reference's TableAnalyzer
(reference: client/TableAnalyzer.cs:39-352) and CopyInfo plan nodes
(reference: client/CopyInfo.cs:13-68). Nothing here touches Spark or a
network — it is unit-testable exactly like the reference's NUnit suite
asserts plan shape (partition counts, order hints, outcomes).

Spark mapping of the plan nodes:
- a ``LogicalPartitionCopyTask`` family = ``spark.read.jdbc(predicates=[...])``
  (one Spark task per predicate) or, for file sources, a single scan whose
  bucket expression drives ``repartitionById`` — Spark's scheduler
  replaces the reference's hand-rolled ConcurrentQueue of workers.
- a ``PhysicalPartitionCopyTask`` = one partition-pruned read (range
  predicate per partition boundary; ``$partition.fn(col) = n`` is the
  SQL-Server-specific spelling, reference: client/CopyInfo.cs:54).
- ``order_hint`` selects ``sortWithinPartitions``/``orderBy`` before the
  write (reference ships ORDER hints to SqlBulkCopy,
  client/SmartBulkCopy.cs:429-437,492-509).
"""

from __future__ import annotations

import enum
from dataclasses import dataclass, field

from smartbulkcopy_spark.config import EngineConfig, LogicalPartitioningStrategy, StopIf
from smartbulkcopy_spark.model import IndexKind, TableInfo, TableType


class Outcome(enum.Enum):
    """reference: client/TableAnalyzer.cs:10-19"""

    SUCCESS = 0
    ANALYSIS_NOT_COMPLETED = 1
    SOURCE_TABLE_DOES_NOT_EXIST = 2
    DESTINATION_TABLE_DOES_NOT_EXIST = 3
    SECONDARY_INDEX_FOUND_ON_DESTINATION = 4
    FOREIGN_KEYS_FOUND_ON_DESTINATION = 5
    DESTINATION_IS_TEMPORAL_TABLE = 6


class OrderHint(enum.Enum):
    """reference: client/CopyInfo.cs:7-11"""

    NONE = "none"
    CLUSTERED_INDEX = "clustered_index"
    PARTITION_KEY_ONLY = "partition_key_only"


@dataclass
class CopyTask:
    """One partition-grained unit of copy work (a physical plan node)."""

    source: TableInfo
    destination: TableInfo
    order_hint: OrderHint = OrderHint.NONE
    partition_number: int = 1

    @property
    def table_name(self) -> str:
        return self.source.name

    def select_columns(self) -> list[str]:
        """Copyable column list — exclusion of computed/rowversion columns
        happens at catalog collection (reference:
        client/TableInfoCollector.cs:391-414)."""
        return list(self.source.columns)

    def predicate_sql(self) -> str | None:
        """ANSI predicate for JDBC ``predicates=[...]`` reads; None = full scan."""
        return None

    def order_by_spec(self) -> tuple[tuple[str, bool], ...]:
        """(column, descending) sort spec the writer should apply, per the
        order hint (reference: client/SmartBulkCopy.cs:429-437,501-509)."""
        if self.order_hint is OrderHint.CLUSTERED_INDEX:
            return self.source.primary_index.order_by_spec()
        if self.order_hint is OrderHint.PARTITION_KEY_ONLY:
            return tuple(
                (c, False) for c in self.source.primary_index.partition_by_spec()
            )
        return ()


@dataclass
class FullCopyTask(CopyTask):
    """Single-stream copy (reference: NoPartitionsCopyInfo,
    client/CopyInfo.cs:35-45)."""


@dataclass
class LogicalPartitionCopyTask(CopyTask):
    """One of N disjoint modulo-hash buckets (reference:
    LogicalPartitionCopyInfo, client/CopyInfo.cs:58-68).

    The reference buckets on the physical row address (%%PhysLoc%%), which
    is only stable on immutable sources (reference: README.md:70-74). We
    bucket on a stable key column instead — deterministic, strictly safer,
    and expressible both as a JDBC predicate and as a Catalyst expression.
    """

    n_partitions: int = 1
    bucket_column: str | None = None

    def bucket_sql_expr(self) -> str | None:
        """THE canonical bucketing expression. Every spelling — the JDBC
        predicate and the Catalyst routing expression of a file copy —
        derives from this one string, so a row lands in the same bucket
        no matter which path evaluates it (the two paths once
        disagreed). NULL or non-castable keys deterministically
        land in bucket 0 (the reference's %%PhysLoc%% can never be NULL;
        a key column can)."""
        if self.n_partitions <= 1 or not self.bucket_column:
            return None
        return (
            f"COALESCE(ABS(CAST({self.bucket_column} AS BIGINT))"
            f" % {self.n_partitions}, 0)"
        )

    def predicate_sql(self) -> str | None:
        expr = self.bucket_sql_expr()
        if expr is None:
            return None
        return f"{expr} = {self.partition_number - 1}"


def sql_literal(value: object) -> str:
    """Render a partition boundary as a SQL literal. Python repr is NOT
    valid SQL for dates/decimals/strings (repr(datetime(...)) emits
    'datetime.datetime(...)'), which broke every date-partitioned JDBC
    read; strings escape embedded quotes."""
    import datetime as _dt
    import decimal as _dec

    if isinstance(value, bool):
        return "1" if value else "0"
    if isinstance(value, (int, float, _dec.Decimal)):
        return str(value)
    if isinstance(value, _dt.datetime):
        return f"'{value.strftime('%Y-%m-%d %H:%M:%S')}'"
    if isinstance(value, _dt.date):
        return f"'{value.isoformat()}'"
    s = str(value)
    if "\x00" in s:
        # No portable SQL spelling exists for NUL inside a string literal;
        # failing loudly beats a silently truncated predicate.
        raise ValueError("cannot render NUL byte in SQL literal")
    return "'" + s.replace("'", "''") + "'"


@dataclass
class PhysicalPartitionCopyTask(CopyTask):
    """One physical partition, addressed by range boundaries (files) or
    partition ordinal (JDBC $partition form, reference:
    client/CopyInfo.cs:47-56)."""

    partition_column: str | None = None
    partition_function: str | None = None
    lower: object | None = None  # inclusive; None = open
    upper: object | None = None  # exclusive; None = open

    def predicate_sql(self) -> str | None:
        parts = []
        if self.lower is not None:
            parts.append(f"{self.partition_column} >= {sql_literal(self.lower)}")
        if self.upper is not None:
            parts.append(f"{self.partition_column} < {sql_literal(self.upper)}")
        if not parts:
            return None
        pred = " AND ".join(parts)
        if self.lower is None:
            # SQL Server ranges NULL partition keys into the FIRST
            # partition; 'col < b0' alone would silently drop them from
            # the copy (the $partition.fn spelling includes them).
            pred = f"({pred} OR {self.partition_column} IS NULL)"
        return pred

    def mssql_predicate(self) -> str:
        """SQL-Server-native spelling (reference: client/CopyInfo.cs:54)."""
        return (
            f"$partition.{self.partition_function}({self.partition_column})"
            f" = {self.partition_number}"
        )


@dataclass
class PlanResult:
    """reference: AnalysisResult, client/TableAnalyzer.cs:21-26"""

    outcome: Outcome = Outcome.ANALYSIS_NOT_COMPLETED
    tasks: list[CopyTask] = field(default_factory=list)


def logical_partition_count(config: EngineConfig, row_count: int, size_gb: int) -> int:
    """Partition-count heuristic, bit-identical to the reference
    (reference: client/TableAnalyzer.cs:246-270): auto = one per GB, or
    rows/(10*batch) for small-but-row-heavy tables, clamped to
    [3, 3*tasks]; any strategy's result is forced odd for even bucket
    distribution (doc: docs/CONFIG.md:26-32)."""
    strategy = config.logical_partitioning_strategy
    if strategy is LogicalPartitioningStrategy.AUTO:
        count = size_gb
        if size_gb < 1 and row_count > config.batch_size:
            count = row_count // (config.batch_size * 10)
        max_partitions = config.max_parallel_tasks * 3
        if count < 3:
            count = 3
        if count > max_partitions:
            count = max_partitions
    elif strategy is LogicalPartitioningStrategy.SIZE:
        count = size_gb // config.logical_partitions
    else:
        count = config.logical_partitions
    if count % 2 == 0:
        count += 1
    return count


def _pick_bucket_column(src: TableInfo) -> str | None:
    """Stable BIGINT-castable key for logical bucketing: first clustered-key
    column, else the first copyable column — validated against the
    catalog's numeric-column list when it is known. Returns None when no
    safe column exists; the caller falls back to a single-stream copy
    (round-1 advice: a text bucket column silently put every row in one
    bucket)."""
    known = src.numeric_columns is not None
    numeric = set(src.numeric_columns or ())

    def ok(col: str) -> bool:
        return (col in numeric) if known else True

    order = src.primary_index.order_by_spec()
    if order and ok(order[0][0]):
        return order[0][0]
    if src.columns:
        if ok(src.columns[0]):
            return src.columns[0]
        for c in src.columns:
            if c in numeric:
                return c
    return None


def _expand_logical(src: TableInfo, dst: TableInfo, hint: OrderHint, n: int):
    bucket_col = _pick_bucket_column(src)
    if bucket_col is None:
        # No safe bucket key -> one full stream rather than N overlapping
        # full scans (each predicate would be vacuous).
        return [FullCopyTask(source=src, destination=dst, order_hint=hint)]
    return [
        LogicalPartitionCopyTask(
            source=src,
            destination=dst,
            order_hint=hint,
            partition_number=i,
            n_partitions=n,
            bucket_column=bucket_col,
        )
        for i in range(1, n + 1)
    ]


def _expand_physical(src: TableInfo, dst: TableInfo, hint: OrderHint):
    """One task per physical partition ordinal (reference:
    client/TableAnalyzer.cs:288-352). Boundaries, when the catalog has
    them, become file-side range predicates: partition i of N covers
    [b[i-2], b[i-1]) with open ends."""
    n = src.partition_count
    bounds = list(src.partition_boundaries)
    tasks = []
    for i in range(1, n + 1):
        lower = bounds[i - 2] if i >= 2 and len(bounds) >= i - 1 else None
        upper = bounds[i - 1] if len(bounds) >= i else None
        tasks.append(
            PhysicalPartitionCopyTask(
                source=src,
                destination=dst,
                order_hint=hint,
                partition_number=i,
                partition_column=src.partition_column,
                partition_function=src.partition_function,
                lower=lower,
                upper=upper,
            )
        )
    return tasks


def analyze(
    tables_to_copy: list[str],
    source_infos: list[TableInfo],
    destination_infos: list[TableInfo],
    config: EngineConfig,
    log=None,
) -> PlanResult:
    """The planner: validation guard rails -> parallelism decision matrix ->
    order-hint decision -> size gate -> partition expansion
    (reference: client/TableAnalyzer.cs:39-233)."""
    log = log or (lambda *_: None)
    result = PlanResult()
    src_by_name = {t.name: t for t in source_infos}
    dst_by_name = {t.name: t for t in destination_infos}

    for name in tables_to_copy:
        src = src_by_name.get(name)
        dst = dst_by_name.get(name)

        # Guard rails (reference: client/TableAnalyzer.cs:52-106)
        if src is None or not src.exists:
            result.outcome = Outcome.SOURCE_TABLE_DOES_NOT_EXIST
            return result
        if dst is None or not dst.exists:
            result.outcome = Outcome.DESTINATION_TABLE_DOES_NOT_EXIST
            return result
        if dst.secondary_indexes > 0:
            if config.stop_if & StopIf.SECONDARY_INDEX:
                result.outcome = Outcome.SECONDARY_INDEX_FOUND_ON_DESTINATION
                return result
            log(f"{name}: secondary indexes on destination; performance warning")
        if dst.foreign_keys > 0:
            # Always fatal (reference: client/TableAnalyzer.cs:82-88)
            result.outcome = Outcome.FOREIGN_KEYS_FOUND_ON_DESTINATION
            return result
        if dst.table_type is not TableType.REGULAR:
            if config.stop_if & StopIf.TEMPORAL_TABLE:
                result.outcome = Outcome.DESTINATION_IS_TEMPORAL_TABLE
                return result
            log(f"{name}: temporal table will be disabled/re-enabled around load")

        if src.column_types:
            from smartbulkcopy_spark.types import lossy_columns

            try:
                for col, reason in lossy_columns(src.column_types):
                    # A declared-lossy mapping is a visible decision,
                    # never a silent surprise (types.py policy).
                    log(f"{name}.{col}: lossy type mapping — {reason}")
            except ValueError as exc:
                # An undeclared type id must not crash analysis out of
                # its Outcome contract; the read path raises loudly.
                log(f"{name}: {exc}")

        s_idx, d_idx = src.primary_index, dst.primary_index

        # Parallelism decision matrix (reference: client/TableAnalyzer.cs:109-145)
        if s_idx.is_partitioned and d_idx.kind is IndexKind.HEAP:
            use_partitioning = True
        elif s_idx.kind is IndexKind.HEAP and d_idx.kind is IndexKind.HEAP:
            use_partitioning = True
        elif not s_idx.is_partitioned and d_idx.kind is IndexKind.HEAP:
            use_partitioning = True
        elif (
            s_idx.is_partitioned
            and d_idx.is_partitioned
            and s_idx.partition_by_spec() == d_idx.partition_by_spec()
            and s_idx.order_by_spec() == d_idx.order_by_spec()
        ):
            use_partitioning = True
        elif d_idx.kind is IndexKind.COLUMNSTORE_CLUSTERED:
            use_partitioning = True
        else:
            use_partitioning = False

        # Order-hint decision (reference: client/TableAnalyzer.cs:148-172)
        hint = OrderHint.NONE
        if (
            s_idx.kind is IndexKind.ROWSTORE_CLUSTERED
            and d_idx.kind is IndexKind.ROWSTORE_CLUSTERED
            and s_idx.order_by_spec() == d_idx.order_by_spec()
        ):
            hint = OrderHint.CLUSTERED_INDEX
        if (
            s_idx.kind is IndexKind.HEAP
            and d_idx.kind is IndexKind.HEAP
            and s_idx.is_partitioned
            and d_idx.is_partitioned
        ):
            hint = OrderHint.PARTITION_KEY_ONLY
        if (
            s_idx.kind is IndexKind.COLUMNSTORE_CLUSTERED
            and d_idx.kind is IndexKind.COLUMNSTORE_CLUSTERED
            and s_idx.is_partitioned
            and d_idx.is_partitioned
        ):
            hint = OrderHint.PARTITION_KEY_ONLY

        # Size gate (reference: client/TableAnalyzer.cs:181,212-214)
        if use_partitioning:
            size = src.size
            if size.row_count > config.batch_size or size.size_gb > 1:
                if s_idx.is_partitioned:
                    ptasks = _expand_physical(src, dst, hint)
                    if ptasks:
                        result.tasks.extend(ptasks)
                    else:
                        # A partitioned source whose catalog reported zero
                        # partitions would otherwise contribute NO tasks and
                        # silently skip the table under a SUCCESS outcome.
                        log(
                            f"{name}: partitioned source expanded to zero"
                            " tasks; falling back to a full copy"
                        )
                        use_partitioning = False
                else:
                    n = logical_partition_count(
                        config, size.row_count, size.size_gb
                    )
                    result.tasks.extend(_expand_logical(src, dst, hint, n))
            else:
                log(f"{name}: small table, partitioned copy not used")
                use_partitioning = False

        if not use_partitioning:
            result.tasks.append(
                FullCopyTask(source=src, destination=dst, order_hint=hint)
            )

    result.outcome = Outcome.SUCCESS
    return result
