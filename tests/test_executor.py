"""End-to-end engine runs (config JSON -> copy -> verify -> exit code),
retry policy, and monitor heartbeat."""

from __future__ import annotations

import json

import pytest

from smartbulkcopy_spark.config import EngineConfig
from smartbulkcopy_spark.executor import (
    EXIT_CONFIG,
    EXIT_MISMATCH,
    EXIT_OK,
    CopyExecutor,
    run_from_config_file,
)
from smartbulkcopy_spark.monitor import CopyMonitor
from smartbulkcopy_spark.retry import TransientError, is_transient, with_retry


def _write_config(tmp_path, src, dst, tables, **opts):
    cfg = {
        "source": {"connection-string": str(src)},
        "destination": {"connection-string": str(dst)},
        "tables": tables,
        "options": {"tasks": 4, "logical-partitions": "9",
                    "batch-size": 1000, **opts},
    }
    p = tmp_path / "config.json"
    p.write_text(json.dumps(cfg))
    return str(p)


def test_e2e_copy_two_tables(spark, sf_dir, tmp_path):
    dst = tmp_path / "dest"
    cfg = _write_config(tmp_path, sf_dir, dst, ["lineitem", "orders"])
    lines = []
    report = run_from_config_file(
        cfg, spark=spark, monitor_interval=0.2, log=lines.append
    )
    assert report.exit_code == EXIT_OK, report.messages
    assert {r.table for r in report.results} == {"lineitem", "orders"}
    assert all(r.content_match for r in report.results)
    li = spark.read.parquet(str(dst / "lineitem.parquet"))
    src_li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    assert li.count() == src_li.count()
    # monitor heartbeat lines appeared during the copy
    assert any("Copy rate:" in ln for ln in lines)


def test_e2e_wildcards_and_exclude(spark, sf_dir, tmp_path):
    dst = tmp_path / "dest"
    cfg = _write_config(
        tmp_path, sf_dir, dst,
        ["+:*", "-:events", "-:documents", "-:embeddings", "-:lineitem",
         "-:orders", "-:part", "-:supplier", "-:customer"],
    )
    report = run_from_config_file(cfg, spark=spark, monitor_interval=60,
                                  log=lambda *_: None)
    assert report.exit_code == EXIT_OK, report.messages
    assert {r.table for r in report.results} == {"region", "nation"}


def test_missing_source_table_exits_2(spark, sf_dir, tmp_path):
    cfg = _write_config(tmp_path, sf_dir, tmp_path / "dest", ["nope"])
    report = run_from_config_file(cfg, spark=spark, monitor_interval=60,
                                  log=lambda *_: None)
    assert report.exit_code == EXIT_MISMATCH
    assert report.outcome is not None


def test_bad_source_dir_exits_1(spark, tmp_path):
    cfg = _write_config(tmp_path, "/nonexistent/dir", tmp_path / "d", ["x"])
    report = run_from_config_file(cfg, spark=spark, log=lambda *_: None)
    assert report.exit_code == EXIT_CONFIG


def test_invalid_config_exits_1(tmp_path):
    p = tmp_path / "bad.json"
    p.write_text(json.dumps({"options": {"tasks": 99}}))  # > 32 bound
    report = run_from_config_file(str(p))
    assert report.exit_code == EXIT_CONFIG
    assert "config error" in report.messages[0]


def test_identity_sync_emits_reseed(spark, sf_dir, tmp_path):
    from smartbulkcopy_spark.catalog import LayoutSpec

    dst = tmp_path / "dest"
    cfg = _write_config(tmp_path, sf_dir, dst, ["orders"],
                        **{"sync-identity": True})
    report = run_from_config_file(
        cfg, spark=spark, monitor_interval=60, log=lambda *_: None,
        layouts={"orders": LayoutSpec(identity_column="o_orderkey")},
    )
    assert report.exit_code == EXIT_OK
    (res,) = report.results
    assert res.identity_reseed_sql is not None
    assert res.identity_reseed_sql.startswith("DBCC CHECKIDENT('orders'")


def test_identity_sync_skipped_without_known_identity(spark, sf_dir, tmp_path):
    """Guessing an identity column would reseed to a wrong value; with no
    catalog-known identity the reseed must be skipped entirely."""
    dst = tmp_path / "dest"
    cfg = _write_config(tmp_path, sf_dir, dst, ["orders"],
                        **{"sync-identity": True})
    report = run_from_config_file(cfg, spark=spark, monitor_interval=60,
                                  log=lambda *_: None)
    assert report.exit_code == EXIT_OK
    (res,) = report.results
    assert res.identity_reseed_sql is None


def test_request_cancel_skips_queued_tables(spark, sf_dir, tmp_path):
    from smartbulkcopy_spark.executor import EXIT_COPY_ERRORS, CopyExecutor

    config_path = _write_config(tmp_path, sf_dir, tmp_path / "dest",
                                ["region", "nation", "customer"])
    from smartbulkcopy_spark.config import load_config

    ex = CopyExecutor(spark, load_config(config_path), monitor_interval=60,
                      log=lambda *_: None)
    ex.request_cancel()  # cancel before run: every table skips
    report = ex.run()
    assert report.exit_code == EXIT_COPY_ERRORS
    assert all(r.error == "cancelled before start" for r in report.results)


# -- retry policy -----------------------------------------------------------


def _cfg(attempts=3, delay=10):
    return EngineConfig(retry_max_attempt=attempts, retry_delay_increment=delay)


def test_retry_backoff_is_linear_and_bounded():
    calls, sleeps = [], []

    def flaky():
        calls.append(1)
        raise TransientError(10054, "connection reset by peer")

    with pytest.raises(TransientError):
        with_retry(flaky, _cfg(attempts=4, delay=10), sleep=sleeps.append)
    assert len(calls) == 4
    assert sleeps == [10, 20, 30]  # attempts * delay_increment


def test_retry_recovers_midway():
    state = {"n": 0}

    def flaky():
        state["n"] += 1
        if state["n"] < 3:
            raise TransientError(40613, "database unavailable")
        return "ok"

    assert with_retry(flaky, _cfg(), sleep=lambda _: None) == "ok"
    assert state["n"] == 3


def test_non_transient_raises_immediately():
    calls = []

    def fatal():
        calls.append(1)
        raise TransientError(2627, "PK violation")  # not in transient list

    with pytest.raises(TransientError):
        with_retry(fatal, _cfg(), sleep=lambda _: None)
    assert len(calls) == 1


def test_transient_classification():
    assert is_transient(TransientError(10928, "throttled"))
    assert not is_transient(TransientError(207, "invalid column"))
    assert is_transient(ConnectionResetError("reset"))
    assert is_transient(RuntimeError("Connection reset by peer"))
    assert not is_transient(RuntimeError("syntax error"))


def test_cli_subprocess_end_to_end(sf_dir, tmp_path):
    """The real CLI: `python -m smartbulkcopy_spark <config>` in a fresh
    process (own SparkSession, signal handler, exit code). Slow (~40s JVM
    boot) but it is the one path nothing else executes."""
    import os
    import subprocess
    import sys

    dst = tmp_path / "dest"
    cfg = _write_config(tmp_path, sf_dir, dst, ["region", "nation"])
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [sys.executable, "-m", "smartbulkcopy_spark", cfg],
        capture_output=True, text=True, timeout=300,
        cwd="/root/repo", env=env,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert (dst / "region.parquet").exists()
    assert (dst / "nation.parquet").exists()


# -- graceful cancel --------------------------------------------------------


def test_cancel_handler_two_stage():
    """First Ctrl-C cancels Spark jobs cooperatively, second hard-exits
    (reference: client/SmartBulkCopy.cs:913-928)."""
    from smartbulkcopy_spark.__main__ import install_cancel_handler

    class FakeSC:
        cancelled = 0

        def cancelAllJobs(self):
            FakeSC.cancelled += 1

    class FakeSpark:
        sparkContext = FakeSC()

    lines, exits, coop = [], [], []
    handler = install_cancel_handler(
        FakeSpark(), on_cancel=lambda: coop.append(1),
        log=lines.append, hard_exit=lambda: exits.append(1)
    )
    handler(None, None)
    assert FakeSC.cancelled == 1 and not exits
    assert coop == [1]  # executor told to skip queued tables
    assert "cancel requested" in lines[0]
    handler(None, None)
    assert exits == [1]
    assert FakeSC.cancelled == 1  # no second cooperative cancel


# -- monitor ----------------------------------------------------------------


def test_monitor_tick_reports_rate(tmp_path):
    class S:
        running = {"lineitem"}
        queued = 2

    lines = []
    clock = iter([10.0, 20.0]).__next__
    mon = CopyMonitor(str(tmp_path), S(), log=lines.append, clock=clock)
    (tmp_path / "x.bin").write_bytes(b"\0" * (5 * 1024 * 1024))
    b, t = mon.tick(0, 0.0)
    assert b == 5 * 1024 * 1024
    assert "tasks running: 1" in lines[0] and "queue: 2" in lines[0]
    assert "0.50 MB/sec" in lines[0]  # 5 MB over 10s
    assert "lineitem" in lines[0]


def test_monitor_jdbc_log_flush_sampler():
    """JDBC destination rate path (reference samples the cumulative 'Log
    Bytes Flushed/sec' counter 5s apart, client/SmartBulkCopy.cs:707-731):
    each tick re-resolves the physical instance name (it changes when an
    Azure SLO change moves the database — the reference's 'This needs to
    be in the loop') and differences the counter into an MB/s line."""
    from smartbulkcopy_spark.monitor import log_flush_sampler

    class FakeConn:
        def __init__(self):
            # two counter samples 5s apart: 10 MB flushed -> 2.00 MB/sec.
            # The physical name CHANGES between ticks (SLO move): the
            # second counter query must carry the new name.
            self.counters = iter([0, 10 * 1024 * 1024])
            self.instances = iter(["mydb_physical", "mydb_physical_v2"])
            self.queries = []

        def scalar(self, sql):
            self.queries.append(sql)
            if "physical_database_name" in sql:
                return next(self.instances)
            return next(self.counters)

    class S:
        running = set()
        queued = 0

    conn = FakeConn()
    sampler = log_flush_sampler(conn)
    assert conn.queries == []  # nothing resolved until a tick samples
    lines = []
    clock = iter([0.0, 5.0]).__next__
    mon = CopyMonitor(
        "ignored-for-jdbc", S(), log=lines.append, clock=clock,
        sampler=sampler,
    )
    b0, t0 = sampler(), clock()
    b1, _ = mon.tick(b0, t0)
    assert b1 == 10 * 1024 * 1024
    assert "2.00 MB/sec" in lines[0]
    counter_qs = [q for q in conn.queries if "physical_database_name" not in q]
    assert "'mydb_physical'" in counter_qs[0]
    assert "'mydb_physical_v2'" in counter_qs[1]  # re-resolved per tick


def test_cli_usage_errors_are_config_exit():
    """Both subcommand shapes reject bad argv with EXIT_CONFIG before
    any Spark session is built."""
    from smartbulkcopy_spark.__main__ import main

    assert main([]) == EXIT_CONFIG
    assert main(["curate"]) == EXIT_CONFIG
    assert main(["curate", "only-one-arg"]) == EXIT_CONFIG


def test_safe_check_catches_part_file_rewritten_in_place(
    spark, tmp_path, monkeypatch
):
    """A directory dataset whose part file is rewritten in place during
    the copy keeps the directory's own mtime and size, so the safe-check
    must look at the part files: the run exits non-zero."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    part = tmp_path / "src" / "t.parquet" / "part-00000.parquet"
    part.parent.mkdir(parents=True)
    pq.write_table(pa.table({"k": [1, 2, 3], "v": [10, 20, 30]}), part)
    table_dir = part.parent.stat()

    copy_one = CopyExecutor._copy_one

    def rewrite_then_copy(self, *args, **kwargs):
        pq.write_table(pa.table({"k": [1, 2, 3], "v": [11, 21, 31]}), part)
        return copy_one(self, *args, **kwargs)

    monkeypatch.setattr(CopyExecutor, "_copy_one", rewrite_then_copy)
    cfg = _write_config(tmp_path, tmp_path / "src", tmp_path / "dest", ["t"])
    report = run_from_config_file(
        cfg, spark=spark, monitor_interval=60, log=lambda *_: None
    )
    after = part.parent.stat()
    assert (after.st_mtime_ns, after.st_size) == (
        table_dir.st_mtime_ns,
        table_dir.st_size,
    ), "the rewrite must be invisible at the directory level"
    assert report.exit_code == EXIT_CONFIG, report.messages
    assert any("safe-check failed" in m for m in report.messages)
