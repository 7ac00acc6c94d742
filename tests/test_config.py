"""Config surface tests (reference: tests/Configuration.cs:27-49 +
client/SmartBulkCopyConfig.cs bounds) and table-set resolution
(reference: client/SmartBulkCopy.cs:812-911)."""

from __future__ import annotations

import json

import pytest

from smartbulkcopy_spark.config import (
    EngineConfig,
    LogicalPartitioningStrategy,
    SafeCheck,
    StopIf,
    load_config,
)
from smartbulkcopy_spark.tableset import quote_two_part, resolve_tables


def write_cfg(tmp_path, data):
    p = tmp_path / "cfg.json"
    p.write_text(json.dumps(data))
    return p


def test_defaults():
    cfg = EngineConfig()
    assert cfg.batch_size == 100_000
    assert cfg.max_parallel_tasks == 7
    assert cfg.logical_partitioning_strategy is LogicalPartitioningStrategy.AUTO
    assert cfg.safe_check is SafeCheck.READ_ONLY
    assert cfg.stop_if == StopIf.SECONDARY_INDEX | StopIf.TEMPORAL_TABLE
    assert cfg.retry_max_attempt == 5
    assert cfg.retry_delay_increment == 10


@pytest.mark.parametrize(
    "kw",
    [
        {"batch_size": -1},
        {"max_parallel_tasks": 0},
        {"max_parallel_tasks": 33},
        {
            "logical_partitioning_strategy": LogicalPartitioningStrategy.COUNT,
            "logical_partitions": 129,
        },
        {
            "logical_partitioning_strategy": LogicalPartitioningStrategy.SIZE,
            "logical_partitions": 9,
        },
    ],
)
def test_bounds_rejected(kw):
    with pytest.raises(ValueError):
        EngineConfig(**kw)


def test_load_full_config(tmp_path):
    p = write_cfg(
        tmp_path,
        {
            "source": {"connection-string": "src"},
            "destination": {"connection-string": "dst"},
            "tables": ["dbo.t1", "dbo.t2"],
            "options": {
                "tasks": 12,
                "batch-size": 50000,
                "logical-partitions": "4gb",
                "truncate-tables": True,
                "sync-identity": True,
                "safe-check": "snapshot",
                # reference configs carry these two; they must load,
                # though nothing on Spark reads them
                "command-timeout": 120,
                "compatibility-mode": True,
                "retry-connection": {"max-attempt": 3, "delay-increment": 5},
                "stop-if": {"secondary-indexes": False, "temporal-table": False},
            },
        },
    )
    cfg = load_config(p)
    assert cfg.source == "src" and cfg.destination == "dst"
    assert cfg.tables == ["dbo.t1", "dbo.t2"]
    assert cfg.max_parallel_tasks == 12
    assert cfg.batch_size == 50000
    assert cfg.logical_partitioning_strategy is LogicalPartitioningStrategy.SIZE
    assert cfg.logical_partitions == 4
    assert cfg.truncate_tables and cfg.sync_identity
    assert cfg.safe_check is SafeCheck.SNAPSHOT
    assert cfg.retry_max_attempt == 3 and cfg.retry_delay_increment == 5
    assert cfg.stop_if == StopIf.NONE


def test_load_include_exclude(tmp_path):
    p = write_cfg(
        tmp_path,
        {
            "tables": {"include": ["dbo.*"], "exclude": ["dbo.skipme"]},
            "options": {"logical-partitions": "auto"},
        },
    )
    cfg = load_config(p)
    assert cfg.tables == ["+:dbo.*", "-:dbo.skipme"]
    assert cfg.logical_partitioning_strategy is LogicalPartitioningStrategy.AUTO


def test_load_count_partitions(tmp_path):
    p = write_cfg(tmp_path, {"options": {"logical-partitions": "7"}})
    cfg = load_config(p)
    assert cfg.logical_partitioning_strategy is LogicalPartitioningStrategy.COUNT
    assert cfg.logical_partitions == 7


def test_bad_logical_partitions(tmp_path):
    p = write_cfg(tmp_path, {"options": {"logical-partitions": "nope"}})
    with pytest.raises(ValueError):
        load_config(p)


def test_bad_safe_check(tmp_path):
    p = write_cfg(tmp_path, {"options": {"safe-check": "maybe"}})
    with pytest.raises(ValueError):
        load_config(p)


# --- table-set resolution ---------------------------------------------------

CATALOG = ["dbo.orders", "dbo.lineitem", "sales.orders", "dbo.skipme"]


def test_quote():
    assert quote_two_part("dbo.t") == "[dbo].[t]"
    assert quote_two_part("[dbo].[t]") == "[dbo].[t]"


def test_plain_include():
    assert resolve_tables(["dbo.orders"], CATALOG) == ["[dbo].[orders]"]


def test_wildcard_include_exclude():
    got = resolve_tables(["+:dbo.*", "-:dbo.skipme"], CATALOG)
    assert got == ["[dbo].[orders]", "[dbo].[lineitem]"]


def test_wildcard_exclude_with_wildcard():
    got = resolve_tables(["+:*.orders", "-:sales.*"], CATALOG)
    assert got == ["[dbo].[orders]"]


def test_duplicates_deduped_preserving_order():
    got = resolve_tables(["dbo.orders", "+:dbo.*", "-:dbo.skipme"], CATALOG)
    assert got == ["[dbo].[orders]", "[dbo].[lineitem]"]
