"""The orchestrator: config -> catalog -> plan -> parallel copy -> verify.

Re-expresses the reference's `SmartBulkCopy.Copy()` lifecycle (reference:
client/SmartBulkCopy.cs:69-253) Spark-first:

1. connection test (source readable / destination writable)
2. safety check (source immutability stands in for snapshot/read-only,
   reference: client/SmartBulkCopy.cs:111-133 — for files, "snapshot"
   means nobody mutates the input under us; verified by mtime fingerprint)
3. wildcard expansion over the catalog listing
4. TableInfo collection for both sides
5. planner guard rails + partition expansion
6. per-table copy jobs from a driver thread pool with transient retry —
   Spark's scheduler parallelizes partitions *within* a job; the pool
   interleaves tables exactly like the reference's worker queue
7. monitor heartbeat while copying
8. verification: row counts + content fingerprint (strictly stronger than
   the reference's count-only CheckResults, client/SmartBulkCopy.cs:296-339)
9. identity sync + temporal re-enable DDL hooks (emitted; executed only
   against JDBC destinations)

Exit codes match the reference (client/SmartBulkCopy.cs:214-253,
client/Program.cs:27-39): 0 ok, 1 config/connection error, 2 analysis or
verification mismatch, 3 copy errors.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from smartbulkcopy_spark.catalog import (
    LayoutSpec,
    ParquetCatalog,
    dataset_state,
)
from smartbulkcopy_spark.config import EngineConfig, SafeCheck
from smartbulkcopy_spark.ddl import hooks_for
from smartbulkcopy_spark.model import TableInfo
from smartbulkcopy_spark.monitor import CopyMonitor
from smartbulkcopy_spark.planner import Outcome, analyze
from smartbulkcopy_spark.retry import with_retry
from smartbulkcopy_spark.sources.parquet import copy_table
from smartbulkcopy_spark.tableset import resolve_tables
from smartbulkcopy_spark.verify import check_copy

EXIT_OK = 0
EXIT_CONFIG = 1
EXIT_MISMATCH = 2
EXIT_COPY_ERRORS = 3


@dataclass
class TableResult:
    table: str
    source_rows: int = -1
    destination_rows: int = -1
    content_match: bool = False
    seconds: float = 0.0
    # the write (with its retries) and the verify alone, inside ``seconds``
    write_s: float = 0.0
    verify_s: float = 0.0
    identity_reseed_sql: str | None = None
    pre_sql: list[str] = field(default_factory=list)
    post_sql: list[str] = field(default_factory=list)
    error: str | None = None


@dataclass
class _State:
    """Shared state the monitor reads. Mutations and monitor snapshots
    take the lock — a bare set iterated concurrently with add/discard can
    raise 'set changed size during iteration' and kill the heartbeat."""

    running: set = field(default_factory=set)
    queued: int = 0
    lock: object = field(default_factory=__import__("threading").Lock)


@dataclass
class RunReport:
    exit_code: int = EXIT_OK
    outcome: Outcome | None = None
    results: list[TableResult] = field(default_factory=list)
    messages: list[str] = field(default_factory=list)


def _source_fingerprint(root: str, tables: list[str]) -> dict[str, tuple]:
    out = {}
    for t in tables:
        try:
            out[t] = dataset_state(os.path.join(root, f"{t}.parquet"))
        except OSError:
            out[t] = (0, 0)
    return out


class CopyExecutor:
    """Parquet-to-parquet engine run. JDBC endpoints plug in through the
    same plan/copy interfaces (sources/jdbc.py) when a live database
    exists; the orchestration below is endpoint-agnostic."""

    def __init__(
        self,
        spark: SparkSession,
        config: EngineConfig,
        layouts: dict[str, LayoutSpec] | None = None,
        monitor_interval: float = 5.0,
        log=print,
    ):
        import threading

        self.spark = spark
        self.config = config
        self.layouts = layouts or {}
        self.monitor_interval = monitor_interval
        self.log = log
        self._cancel = threading.Event()

    def request_cancel(self) -> None:
        """Cooperative cancel: tables not yet started are skipped (the
        running ones are killed by sc.cancelAllJobs, wired in the CLI).
        Without this, Ctrl-C killed in-flight jobs but the worker pool
        kept starting fresh Spark jobs for every queued table."""
        self._cancel.set()

    # -- lifecycle steps ----------------------------------------------------

    def test_connections(self) -> str | None:
        src, dst = self.config.source, self.config.destination
        if not src or not os.path.isdir(src):
            return f"source not readable: {src!r}"
        if not dst:
            return "destination not configured"
        os.makedirs(dst, exist_ok=True)
        if not os.access(dst, os.W_OK):
            return f"destination not writable: {dst!r}"
        if os.path.abspath(src) == os.path.abspath(dst):
            return "source and destination are the same directory"
        return None

    def run(self) -> RunReport:
        report = RunReport()
        t0 = time.monotonic()

        err = self.test_connections()
        if err:
            report.exit_code = EXIT_CONFIG
            report.messages.append(err)
            return report

        src_cat = ParquetCatalog(self.config.source, self.layouts)
        dst_cat = ParquetCatalog(self.config.destination, self.layouts)

        names = [
            t.replace("[", "").replace("]", "")
            for t in resolve_tables(self.config.tables, src_cat.list_tables())
        ]
        if not names:
            report.exit_code = EXIT_CONFIG
            report.messages.append("no tables matched the configured set")
            return report

        baseline = None
        if self.config.safe_check is not SafeCheck.NONE:
            baseline = _source_fingerprint(self.config.source, names)

        src_infos = src_cat.collect_all(names)
        # Destination objects must pre-exist in the reference
        # (docs/FAQ.md:10-16); a parquet destination is created by the
        # write, so "existence" is the writable directory checked above.
        dst_infos = [
            d if d.exists else _as_empty_destination(s)
            for s, d in zip(src_infos, dst_cat.collect_all(names))
        ]

        plan = analyze(names, src_infos, dst_infos, self.config, log=self.log)
        report.outcome = plan.outcome
        if plan.outcome is not Outcome.SUCCESS:
            report.exit_code = EXIT_MISMATCH
            report.messages.append(f"analysis stopped: {plan.outcome.name}")
            return report

        by_table: dict[str, list] = {}
        for task in plan.tasks:
            by_table.setdefault(task.table_name, []).append(task)

        state = _State(queued=len(by_table))
        monitor = CopyMonitor(
            self.config.destination,
            state,
            interval=self.monitor_interval,
            log=self.log,
        )
        monitor.start()
        try:
            workers = min(self.config.max_parallel_tasks, len(by_table))
            with ThreadPoolExecutor(max_workers=workers) as pool:
                futures = {
                    t: pool.submit(self._copy_one, t, tasks, state)
                    for t, tasks in by_table.items()
                }
                report.results = [f.result() for f in futures.values()]
        finally:
            monitor.stop()

        failed = [r for r in report.results if r.error]
        mismatched = [
            r for r in report.results if not r.error and not r.content_match
        ]
        if self.config.safe_check is not SafeCheck.NONE:
            after = _source_fingerprint(self.config.source, names)
            if after != baseline:
                report.exit_code = EXIT_CONFIG
                report.messages.append(
                    "safe-check failed: source changed during the copy"
                    " (the reference requires a snapshot/read-only source,"
                    " client/SmartBulkCopy.cs:111-133)"
                )
                return report

        if failed:
            report.exit_code = EXIT_COPY_ERRORS
            report.messages += [f"{r.table}: {r.error}" for r in failed]
        elif mismatched:
            report.exit_code = EXIT_MISMATCH
            report.messages += [
                f"{r.table}: rows {r.source_rows} vs {r.destination_rows},"
                f" content_match={r.content_match}"
                for r in mismatched
            ]
        self.log(
            f"done in {time.monotonic() - t0:.1f}s, exit"
            f" {report.exit_code}: "
            + ", ".join(
                f"{r.table}({r.source_rows}r,"
                f" {'ok' if r.content_match else 'FAIL'})"
                for r in report.results
            )
        )
        return report

    # -- per-table work -----------------------------------------------------

    def _copy_one(self, table: str, tasks, state: _State) -> TableResult:
        res = TableResult(table=table)
        with state.lock:
            state.queued -= 1
            state.running.add(table)
        t0 = time.monotonic()
        if self._cancel.is_set():
            res.error = "cancelled before start"
            with state.lock:
                state.running.discard(table)
            return res
        # One FAIR pool per table: pools share executor slots evenly, so
        # a huge early table can't starve the rest (plain FAIR mode with
        # a single default pool still schedules FIFO within it).
        self.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", f"sbc_{table}"
        )
        try:
            dest = os.path.join(self.config.destination, f"{table}.parquet")
            # Temporal disable/enable DDL hooks (reference:
            # client/SmartBulkCopy.cs:256-280) — executed over JDBC when
            # the destination is a database, logged for file destinations.
            hooks = hooks_for(tasks[0].destination)
            res.pre_sql, res.post_sql = hooks.pre, hooks.post
            for sql in hooks.pre:
                self.log(f"pre-copy DDL hook: {sql}")
            t_write = time.perf_counter()
            with_retry(
                lambda: copy_table(self.spark, tasks, dest),
                self.config,
                log=self.log,
            )
            t_verify = time.perf_counter()
            res.write_s = t_verify - t_write
            check = check_copy(
                self.spark.read.parquet(tasks[0].source.location),
                self.spark.read.parquet(dest),
                table,
            )
            res.verify_s = time.perf_counter() - t_verify
            res.source_rows = check.source_rows
            res.destination_rows = check.destination_rows
            res.content_match = check.content_match
            for sql in hooks.post:
                self.log(f"post-copy DDL hook: {sql}")
            if self.config.sync_identity:
                res.identity_reseed_sql = self._identity_sql(table, tasks[0])
                if res.identity_reseed_sql:
                    self.log(f"identity sync (DDL hook): {res.identity_reseed_sql}")
        except Exception as exc:  # per-table isolation, like the reference
            res.error = str(exc)
        finally:
            res.seconds = time.monotonic() - t0
            self.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", None
            )
            with state.lock:
                state.running.discard(table)
        return res

    def _identity_sql(self, table: str, task) -> str | None:
        """Post-copy identity reseed DDL (reference:
        client/SmartBulkCopy.cs:341-389): destination is reseeded to the
        copied max OF THE IDENTITY COLUMN — which the catalog must name
        (sys.identity_columns over JDBC, LayoutSpec for files); guessing
        a numeric column would reseed to a wrong, possibly colliding
        value. No known identity column -> no reseed."""
        from smartbulkcopy_spark.ddl import identity_reseed_sql

        src: TableInfo = task.source
        id_col = src.identity_column
        if not id_col:
            return None
        import pyspark.sql.functions as F

        row = (
            self.spark.read.parquet(
                os.path.join(self.config.destination, f"{table}.parquet")
            )
            .agg(F.max(id_col).alias("m"))
            .first()
        )
        if row["m"] is None:
            return None
        return identity_reseed_sql(table, row["m"])


def _as_empty_destination(src: TableInfo) -> TableInfo:
    import dataclasses

    return dataclasses.replace(src, exists=True)


def run_from_config_file(path: str, spark=None, **kwargs) -> RunReport:
    from smartbulkcopy_spark.config import load_config
    from smartbulkcopy_spark.session import get_spark

    try:
        config = load_config(path)
    except (ValueError, OSError, KeyError) as exc:
        report = RunReport(exit_code=EXIT_CONFIG)
        report.messages.append(f"config error: {exc}")
        return report
    spark = spark or get_spark(app_name="smartsparkcopy")
    return CopyExecutor(spark, config, **kwargs).run()
