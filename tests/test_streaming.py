"""Streaming path: the watermarked tumbling-window aggregation must
converge to the batch q18 answer; append mode must respect the watermark.
Plus temporal/identity DDL hook emission (SURVEY §2.11)."""

from __future__ import annotations

import shutil

import pyspark.sql.functions as F
import pytest

from smartbulkcopy_spark import streaming
from smartbulkcopy_spark.ddl import (
    hooks_for,
    identity_reseed_sql,
    temporal_disable_sql,
    temporal_enable_sql,
)
from smartbulkcopy_spark.model import HistoryInfo, TableInfo, TableType
from smartbulkcopy_spark.queries import REGISTRY


@pytest.fixture()
def events_dir(tmp_path, sf_dir):
    """A streamable copy of the events feed (file-source streams list a
    directory; the fixture file stays read-only in testdata)."""
    d = tmp_path / "events_feed"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-000.parquet")
    return str(d)


def _batch_q18(spark, sf_dir):
    return {
        (r["w"], r["event_type"]): (r["c"], r["total_cents"])
        for r in REGISTRY["q18_tumbling_window"].fn(spark, sf_dir).collect()
    }


def test_streaming_converges_to_batch(spark, sf_dir, events_dir):
    got = streaming.run_to_convergence(
        spark, events_dir, query_name="conv_test", output_mode="complete"
    )
    stream_rows = {
        (r["w"], r["event_type"]): (r["c"], r["total_cents"])
        for r in got.collect()
    }
    assert stream_rows == _batch_q18(spark, sf_dir)


def test_streaming_converges_under_hostile_timezone(
    spark, sf_dir, events_dir
):
    """The driver grades with ITS OWN session timezone; the streaming
    window rendering must not depend on it (a bare LTZ->NTZ cast does —
    it shifted every window by the session offset)."""
    orig = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        got = streaming.run_to_convergence(
            spark, events_dir, query_name="conv_tz_test",
            output_mode="complete",
        )
        stream_rows = {
            (r["w"], r["event_type"]): (r["c"], r["total_cents"])
            for r in got.collect()
        }
        assert stream_rows == _batch_q18(spark, sf_dir)
    finally:
        spark.conf.set("spark.sql.session.timeZone", orig)


def test_streaming_multi_file_append_respects_watermark(
    spark, sf_dir, events_dir, tmp_path
):
    """Feed the events in 3 sequential time chunks (one file per
    micro-batch); in append mode with a 2h watermark the emitted windows
    are exactly the finalized ones — batch-identical values for every
    emitted window, and the tail windows (inside the watermark at end of
    input) held back in state."""
    src = spark.read.parquet(events_dir)
    lo, hi = src.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 3
    d = tmp_path / "multi_feed"
    for k in range(3):  # sequential writes -> increasing file mtimes
        chunk = src.where(
            (F.col("ts") >= lo + k * span)
            & (F.col("ts") < (lo + (k + 1) * span if k < 2 else hi))
            | (F.lit(k == 2) & (F.col("ts") == hi))
        )
        chunk.coalesce(1).write.mode("append").parquet(str(d))

    got = streaming.run_to_convergence(
        spark,
        str(d),
        query_name="append_test",
        output_mode="append",
        max_files_per_trigger=1,
    )
    emitted = {
        (r["w"], r["event_type"]): (r["c"], r["total_cents"])
        for r in got.collect()
    }
    batch = _batch_q18(spark, sf_dir)
    assert emitted, "append mode emitted nothing"
    # chunks partition time, so nothing was late: every emitted window
    # must match the batch answer exactly
    for k, v in emitted.items():
        assert batch[k] == v, k
    # tail windows within the final watermark stay in state (not emitted)
    max_w = max(w for w, _ in batch)
    emitted_ws = {w for w, _ in emitted}
    assert max_w not in emitted_ws
    assert len(emitted) < len(batch)


def test_stateful_sessionization_converges_to_batch(
    spark, sf_dir, events_dir, tmp_path
):
    """applyInPandasWithState sessionizer fed three sequential time chunks
    (state carried across micro-batches) must land on the batch q35
    answer for every user."""
    src = spark.read.parquet(events_dir)
    lo, hi = src.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 3
    d = tmp_path / "session_feed"
    for k in range(3):
        chunk = src.where(
            (F.col("ts") >= lo + k * span)
            & (F.col("ts") < (lo + (k + 1) * span if k < 2 else hi))
            | (F.lit(k == 2) & (F.col("ts") == hi))
        )
        chunk.coalesce(1).write.mode("append").parquet(str(d))

    got = {
        r["user_id"]: (r["n_events"], r["n_sessions"])
        for r in streaming.run_sessionization(
            spark, str(d), query_name="sess_conv", max_files_per_trigger=1
        ).collect()
    }
    batch = {
        r["user_id"]: (r["n_events"], r["n_sessions"])
        for r in REGISTRY["q35_sessionization"].fn(spark, sf_dir).collect()
    }
    assert got == batch


# -- DDL hooks --------------------------------------------------------------


def test_temporal_ddl_shapes():
    h = HistoryInfo(
        history_table="[dbo].[orders_history]",
        period_start_column="valid_from",
        period_end_column="valid_to",
        retention_period="6 MONTHS",
    )
    assert temporal_disable_sql("[dbo].[orders]") == (
        "ALTER TABLE [dbo].[orders] SET (SYSTEM_VERSIONING = OFF)"
    )
    sql = temporal_enable_sql("[dbo].[orders]", h)
    assert "SYSTEM_VERSIONING = ON" in sql
    assert "HISTORY_TABLE = [dbo].[orders_history]" in sql
    assert "HISTORY_RETENTION_PERIOD = 6 MONTHS" in sql
    # infinite retention omits the retention clause
    h2 = HistoryInfo(history_table="[dbo].[h]", retention_period="INFINITE")
    assert "RETENTION" not in temporal_enable_sql("[dbo].[t]", h2)
    assert identity_reseed_sql("orders", 1500) == (
        "DBCC CHECKIDENT('orders', RESEED, 1500)"
    )


def test_hooks_emitted_only_for_temporal_destinations():
    plain = TableInfo(name="t")
    assert hooks_for(plain).pre == []
    temporal = TableInfo(
        name="t",
        table_type=TableType.SYSTEM_VERSIONED_TEMPORAL,
        history_info=HistoryInfo(history_table="[dbo].[t_hist]"),
    )
    hooks = hooks_for(temporal)
    assert hooks.pre == ["ALTER TABLE t SET (SYSTEM_VERSIONING = OFF)"]
    assert hooks.post == [
        "ALTER TABLE t SET (SYSTEM_VERSIONING = ON"
        " (HISTORY_TABLE = [dbo].[t_hist]))"
    ]


def test_executor_logs_temporal_hooks(spark, sf_dir, tmp_path):
    from smartbulkcopy_spark.catalog import LayoutSpec
    from smartbulkcopy_spark.config import EngineConfig, StopIf
    from smartbulkcopy_spark.executor import EXIT_OK, CopyExecutor

    config = EngineConfig(
        source=sf_dir,
        destination=str(tmp_path / "dest"),
        tables=["region"],
        stop_if=StopIf.NONE,  # waive the temporal guard, like the reference
    )
    layouts = {
        "region": LayoutSpec(
            table_type=TableType.SYSTEM_VERSIONED_TEMPORAL,
            history=HistoryInfo(history_table="[dbo].[region_history]"),
        )
    }
    lines = []
    report = CopyExecutor(
        spark, config, layouts=layouts, monitor_interval=60, log=lines.append
    ).run()
    assert report.exit_code == EXIT_OK, report.messages
    (res,) = report.results
    assert res.pre_sql and "SYSTEM_VERSIONING = OFF" in res.pre_sql[0]
    assert res.post_sql and "SYSTEM_VERSIONING = ON" in res.post_sql[0]
    assert any("pre-copy DDL hook" in ln for ln in lines)
    assert any("post-copy DDL hook" in ln for ln in lines)


def test_streaming_dedup_drops_redelivered_batches(spark, sf_dir, tmp_path):
    """At-least-once replay: the same feed file delivered twice (plus a
    genuinely new chunk) must emit each (user_id, ts) key exactly once,
    and the surviving set must equal the batch DISTINCT."""
    import shutil

    import pyspark.sql.functions as F

    d = tmp_path / "replayed_feed"
    d.mkdir()
    src = f"{sf_dir}/events.parquet"
    shutil.copy(src, d / "part-000.parquet")
    shutil.copy(src, d / "part-001-redelivery.parquet")  # duplicate delivery

    got = streaming.run_dedup(spark, str(d), query_name="dedup_replay")
    emitted = got.select("user_id", "ts").collect()
    keys = [(r["user_id"], r["ts"]) for r in emitted]
    assert len(keys) == len(set(keys)), "duplicate key emitted"

    from smartbulkcopy_spark.queries import table

    batch = table(spark, sf_dir, "events").select("user_id", "ts").distinct()
    assert len(keys) == batch.count()


def test_corpus_ingest_stream_dedup_and_quarantine(spark, sf_dir, tmp_path):
    """The streaming JSONL ingest contract: availableNow drains the
    backlog; malformed/incomplete lines land in quarantine with raw
    bytes; clean docs are exact-deduped within batch (keep-first) and
    against the ingested index; a replay with a FRESH checkpoint (lost
    stream state) ingests nothing new — idempotency comes from the
    fingerprint index, not only the checkpoint."""
    import json as js

    import pyspark.sql.functions as F

    from smartbulkcopy_spark.pipeline.ingest import run_corpus_ingest
    from smartbulkcopy_spark.pipeline.text import norm_text
    from smartbulkcopy_spark.queries import table

    docs = [
        r.asDict()
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang", "source")
        .orderBy("doc_id")
        .limit(40)
        .collect()
    ]
    half = len(docs) // 2
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    bad = ['{"doc_id": 1, "text": "tru', '{"doc_id": 999}', "not json at all"]
    dup_of_0 = dict(docs[0], doc_id=100000)  # same text, new id
    within_batch_dup = dict(docs[half], doc_id=100001)
    with open(in_dir / "00.jsonl", "w") as f:
        for d in docs[:half]:
            f.write(js.dumps(d) + "\n")
        f.write(bad[0] + "\n" + bad[1] + "\n")
    with open(in_dir / "01.jsonl", "w") as f:
        for d in docs[half:] + [dup_of_0, within_batch_dup]:
            f.write(js.dumps(d) + "\n")
        # the SAME line twice in one landing file (producer retry glued
        # into one file): exactly one copy may survive
        f.write(js.dumps(docs[half]) + "\n")
        f.write(bad[2] + "\n")
    # the file source orders batches by modification time: pin 00 older
    # so the keep-first expectation below is deterministic
    import os
    import time

    now = time.time()
    os.utime(in_dir / "00.jsonl", (now - 100, now - 100))
    os.utime(in_dir / "01.jsonl", (now, now))

    out, quar, ckpt = (str(tmp_path / n) for n in ("out", "quar", "ck1"))
    run_corpus_ingest(spark, str(in_dir), out, quar, ckpt,
                      max_files_per_trigger=1)

    ingested = spark.read.parquet(out)
    got_ids = {r["doc_id"] for r in ingested.select("doc_id").collect()}
    # every fixture doc ingested once; both content-dups dropped
    assert got_ids == {d["doc_id"] for d in docs}
    assert ingested.count() == len(docs)
    assert (
        ingested.select("fingerprint").distinct().count() == len(docs)
    )
    # fingerprints match the batch reader's normalization rule
    expect_fp = {
        r["fp"]
        for r in table(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(40)
        .select(F.md5(norm_text()).alias("fp"))
        .collect()
    }
    assert {
        r["fingerprint"] for r in ingested.select("fingerprint").collect()
    } == expect_fp

    quarantined = spark.read.parquet(quar)
    assert sorted(r["raw_line"] for r in quarantined.collect()) == sorted(bad)

    # lost-checkpoint replay: fresh checkpoint, same input, nothing new
    # in the corpus AND no duplicated quarantine rows (the reject write
    # dynamically overwrites its own batch partition on replay)
    run_corpus_ingest(spark, str(in_dir), out, quar, str(tmp_path / "ck2"),
                      max_files_per_trigger=1)
    assert spark.read.parquet(out).count() == len(docs)
    assert sorted(
        r["raw_line"] for r in spark.read.parquet(quar).collect()
    ) == sorted(bad)


def test_stateful_peak_concurrency_converges_to_batch(
    spark, sf_dir, events_dir, tmp_path
):
    """Streaming interval tracker + shared peak assembly must reproduce
    the batch q172 row bit-for-bit from three sequential time chunks —
    including under a hostile session timezone (absolute epoch micros
    cross the pandas boundary as longs, never datetimes)."""
    src = spark.read.parquet(events_dir)
    lo, hi = src.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 3
    d = tmp_path / "peak_feed"
    for k in range(3):
        chunk = src.where(
            (F.col("ts") >= lo + k * span)
            & (F.col("ts") < (lo + (k + 1) * span if k < 2 else hi))
            | (F.lit(k == 2) & (F.col("ts") == hi))
        )
        chunk.coalesce(1).write.mode("append").parquet(str(d))

    batch = REGISTRY["q172_peak_concurrency"].fn(spark, sf_dir).collect()
    orig = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        got = streaming.run_peak_concurrency(
            spark, str(d), query_name="peak_conv", max_files_per_trigger=1
        ).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", orig)
    assert [tuple(r) for r in got] == [tuple(r) for r in batch]


def test_stateful_session_funnel_converges_to_batch(
    spark, sf_dir, events_dir, tmp_path
):
    """Stateful per-session funnel tracker fed three sequential time
    chunks must reproduce the batch q153 rollup bit-for-bit — sessions
    spanning chunk boundaries carried through state, stage mins monotone
    across emissions."""
    src = spark.read.parquet(events_dir)
    lo, hi = src.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 3
    d = tmp_path / "funnel_feed"
    for k in range(3):
        chunk = src.where(
            (F.col("ts") >= lo + k * span)
            & (F.col("ts") < (lo + (k + 1) * span if k < 2 else hi))
            | (F.lit(k == 2) & (F.col("ts") == hi))
        )
        chunk.coalesce(1).write.mode("append").parquet(str(d))

    got = streaming.run_session_funnel(
        spark, str(d), query_name="funnel_conv", max_files_per_trigger=1
    ).collect()
    batch = REGISTRY["q153_session_funnel"].fn(spark, sf_dir).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in batch]


def test_stateful_trackers_reject_out_of_order_feed(
    spark, sf_dir, events_dir, tmp_path
):
    """The stateful trackers' convergence contract is time-ordered
    arrival ACROSS micro-batches; an event behind a user's session
    watermark must raise loudly instead of silently mis-sessionizing
    (round-10 advice: the else-branch `last = t` would otherwise move
    the watermark backwards)."""
    src = spark.read.parquet(events_dir)
    lo, hi = src.agg(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) / 2
    d = tmp_path / "ooo_feed"
    # LATER half first, earlier half second: with one file per trigger
    # the second micro-batch arrives behind every touched watermark
    src.where(F.col("ts") >= mid).coalesce(1).write.mode(
        "append"
    ).parquet(str(d))
    src.where(F.col("ts") < mid).coalesce(1).write.mode(
        "append"
    ).parquet(str(d))
    # Both trackers fail inside the shared drain, which must stop the
    # query and put the session's shuffle width back on the way out.
    width = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(Exception, match="out-of-order event feed"):
        streaming.run_peak_concurrency(
            spark, str(d), query_name="peak_ooo", max_files_per_trigger=1
        ).collect()
    assert spark.streams.active == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == width
    with pytest.raises(Exception, match="out-of-order event feed"):
        streaming.run_session_funnel(
            spark, str(d), query_name="funnel_ooo",
            max_files_per_trigger=1,
        ).collect()
    assert spark.streams.active == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == width


def test_streaming_seasonality_converges_to_batch(
    spark, sf_dir, events_dir
):
    """Complete-mode hour-of-day profile must equal batch q157 bit-for-
    bit — including under a hostile session timezone (the hour-of-day
    is epoch arithmetic, not an LTZ hour() rendering)."""
    batch = REGISTRY["q157_hourly_seasonality"].fn(spark, sf_dir).collect()
    orig = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Australia/Eucla")
    try:
        got = streaming.run_hourly_seasonality(
            spark, events_dir, query_name="season_conv"
        ).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", orig)
    assert [tuple(r) for r in got] == [tuple(r) for r in batch]


def test_stream_stream_attribution_converges_to_batch(
    spark, sf_dir, events_dir, tmp_path
):
    """Round-12 stage: the watermarked STREAM-STREAM interval join (the
    one Structured Streaming surface the registry had not exercised)
    must reproduce batch q95 bit-for-bit — from the single-file feed
    under a hostile session timezone, and from three sequential time
    chunks at one file per trigger (errors held in join state across
    micro-batch boundaries until their click window closes)."""
    batch = [
        tuple(r)
        for r in REGISTRY["q95_interval_click_attribution"]
        .fn(spark, sf_dir)
        .collect()
    ]
    assert any(r[2] > 0 for r in batch)  # the fixture attributes clicks

    orig = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        got = streaming.run_click_attribution(
            spark, events_dir, query_name="attrib_conv_single"
        ).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", orig)
    assert [tuple(r) for r in got] == batch

    src = spark.read.parquet(events_dir)
    lo, hi = src.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 3
    d = tmp_path / "attrib_feed"
    for k in range(3):
        chunk = src.where(
            (F.col("ts") >= lo + k * span)
            & (F.col("ts") < (lo + (k + 1) * span if k < 2 else hi))
            | (F.lit(k == 2) & (F.col("ts") == hi))
        )
        chunk.coalesce(1).write.mode("append").parquet(str(d))
    got3 = streaming.run_click_attribution(
        spark,
        str(d),
        query_name="attrib_conv_chunks",
        max_files_per_trigger=1,
    ).collect()
    assert [tuple(r) for r in got3] == batch
