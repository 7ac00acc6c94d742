"""Engine configuration: same JSON surface, bounds, and semantics as the
reference (reference: client/SmartBulkCopyConfig.cs:29-222, template at
client/configs/smartbulkcopy.config.template.json, docs/CONFIG.md)."""

from __future__ import annotations

import enum
import json
from dataclasses import dataclass, field
from pathlib import Path


class StopIf(enum.Flag):
    """reference: client/SmartBulkCopyConfig.cs:12-17"""

    NONE = 0
    SECONDARY_INDEX = enum.auto()
    TEMPORAL_TABLE = enum.auto()


class SafeCheck(enum.Enum):
    """reference: client/SmartBulkCopyConfig.cs:19-23"""

    NONE = "none"
    SNAPSHOT = "snapshot"
    READ_ONLY = "readonly"


class LogicalPartitioningStrategy(enum.Enum):
    """reference: client/SmartBulkCopyConfig.cs:25-29"""

    AUTO = "auto"
    SIZE = "size"
    COUNT = "count"


MAX_PARALLEL_TASKS = 32  # reference: client/SmartBulkCopyConfig.cs:55
MAX_LOGICAL_PARTITION_COUNT = 128  # reference: client/SmartBulkCopyConfig.cs:73
MAX_LOGICAL_PARTITION_SIZE_GB = 8  # reference: client/SmartBulkCopyConfig.cs:79
COLUMNSTORE_MIN_BATCH = 102_400  # reference: client/SmartBulkCopy.cs:511-516


@dataclass
class EngineConfig:
    source: str = ""  # connection string (JDBC url) or directory of parquet
    destination: str = ""
    tables: list[str] = field(default_factory=list)  # with +:/-: prefixes
    batch_size: int = 100_000
    max_parallel_tasks: int = 7
    logical_partitioning_strategy: LogicalPartitioningStrategy = (
        LogicalPartitioningStrategy.AUTO
    )
    logical_partitions: int = 1
    sync_identity: bool = False
    truncate_tables: bool = False
    safe_check: SafeCheck = SafeCheck.READ_ONLY
    stop_if: StopIf = StopIf.SECONDARY_INDEX | StopIf.TEMPORAL_TABLE
    retry_max_attempt: int = 5
    retry_delay_increment: int = 10

    def __post_init__(self) -> None:
        self.validate()

    def validate(self) -> None:
        if self.batch_size < 0:
            raise ValueError("batch-size cannot be less than 0")
        if not (1 <= self.max_parallel_tasks <= MAX_PARALLEL_TASKS):
            raise ValueError(
                f"tasks must be between 1 and {MAX_PARALLEL_TASKS}"
            )
        if self.logical_partitioning_strategy is LogicalPartitioningStrategy.COUNT:
            if not (1 <= self.logical_partitions <= MAX_LOGICAL_PARTITION_COUNT):
                raise ValueError(
                    "logical-partitions count must be between 1 and"
                    f" {MAX_LOGICAL_PARTITION_COUNT}"
                )
        if self.logical_partitioning_strategy is LogicalPartitioningStrategy.SIZE:
            if not (1 <= self.logical_partitions <= MAX_LOGICAL_PARTITION_SIZE_GB):
                raise ValueError(
                    "logical-partitions size must be between 1 and"
                    f" {MAX_LOGICAL_PARTITION_SIZE_GB} GB"
                )


def _parse_logical_partitions(raw: str) -> tuple[LogicalPartitioningStrategy, int]:
    """'auto' | '7' | '4GB' (reference: client/SmartBulkCopyConfig.cs:199-219)."""
    v = (raw or "").strip().lower()
    if v in ("", "auto"):
        return LogicalPartitioningStrategy.AUTO, 1
    if v.endswith("gb"):
        return LogicalPartitioningStrategy.SIZE, int(v[:-2])
    try:
        return LogicalPartitioningStrategy.COUNT, int(v)
    except ValueError:
        raise ValueError(
            'Option logical-partitions can only contain "auto", a number'
            " (eg: 7) or a size in GB (eg: 10GB)"
        ) from None


def load_config(path: str | Path) -> EngineConfig:
    """Load the reference's JSON config schema.

    Keys (same names/nesting as the reference template):
    source.connection-string, destination.connection-string,
    options.{tasks,batch-size,logical-partitions,truncate-tables,
    sync-identity,safe-check,stop-if.{secondary-indexes,temporal-table},
    command-timeout,retry-connection.{max-attempt,delay-increment},
    compatibility-mode}, tables | tables.include/tables.exclude.
    ``command-timeout`` and ``compatibility-mode`` are accepted and ignored:
    nothing on Spark has a per-command timeout or a compatibility mode.
    """
    data = json.loads(Path(path).read_text())
    opts = data.get("options", {})

    strategy, lp = _parse_logical_partitions(str(opts.get("logical-partitions", "")))

    stop_if = StopIf.SECONDARY_INDEX | StopIf.TEMPORAL_TABLE
    stop_flags = opts.get("stop-if", {})
    if stop_flags.get("secondary-indexes") is False:
        stop_if &= ~StopIf.SECONDARY_INDEX
    if stop_flags.get("temporal-table") is False:
        stop_if &= ~StopIf.TEMPORAL_TABLE

    safe_raw = str(opts.get("safe-check", "readonly")).lower()
    safe_map = {
        "none": SafeCheck.NONE,
        "readonly": SafeCheck.READ_ONLY,
        "read-only": SafeCheck.READ_ONLY,
        "snapshot": SafeCheck.SNAPSHOT,
    }
    if safe_raw not in safe_map:
        raise ValueError(
            "Option safe-check can only contain 'none', 'readonly' or"
            " 'snapshot' values."
        )

    tables_section = data.get("tables", [])
    tables: list[str] = []
    if isinstance(tables_section, dict):
        tables += [f"+:{t}" for t in tables_section.get("include", [])]
        tables += [f"-:{t}" for t in tables_section.get("exclude", [])]
    else:
        tables += list(tables_section)

    retry = opts.get("retry-connection", {})

    return EngineConfig(
        source=data.get("source", {}).get("connection-string", ""),
        destination=data.get("destination", {}).get("connection-string", ""),
        tables=tables,
        batch_size=int(opts.get("batch-size", 100_000)),
        max_parallel_tasks=int(opts.get("tasks", 7)),
        logical_partitioning_strategy=strategy,
        logical_partitions=lp,
        sync_identity=bool(opts.get("sync-identity", False)),
        truncate_tables=bool(opts.get("truncate-tables", False)),
        safe_check=safe_map[safe_raw],
        stop_if=stop_if,
        retry_max_attempt=int(retry.get("max-attempt", 5)),
        retry_delay_increment=int(retry.get("delay-increment", 10)),
    )
