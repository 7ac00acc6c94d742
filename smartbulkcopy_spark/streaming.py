"""Structured Streaming path for the `events` table (SURVEY §2.9/§7.2
Phase 4).

The reference is batch-only; its monitor loop is a polling pseudo-stream
(reference: client/SmartBulkCopy.cs:665-766). Here the stream is real:
a file source feeding a watermarked tumbling-window aggregation whose
converged output must equal the batch q18 answer — that equivalence is
the correctness gate for the streaming engine.

Scale notes: the aggregation state is keyed by (hour, event_type); the
watermark bounds state size (hours beyond watermark are finalized and
evicted). File-source micro-batches map 1:1 onto arriving partitions of
a 100 TB event feed; nothing here is local-mode-specific.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from smartbulkcopy_spark.queries import cents, events_ts_ntz

# Shuffle width of every drain's stateful operator. Streaming state width
# binds at query START, and each partition carries its own state store
# plus a per-batch checkpoint fixed cost (a stream-stream join has FOUR
# stores per partition per side: q198 measured 14 s at 32 partitions vs
# 3.2 s at 4 for the same 40k state rows at sf0.1). In-flight state here
# is small and keyed — a struct per live user, a counter per bounded
# key, the rows inside a watermark horizon — so the width is sized to
# that, never to the corpus. State is keyed, so the width cannot change
# converged values.
DRAIN_SHUFFLE_PARTITIONS = 8


def _drain(
    spark: SparkSession, df: DataFrame, query_name: str, output_mode: str
) -> DataFrame:
    """Run the streaming frame `df` once over everything its sources
    hold (availableNow trigger) into the memory sink `query_name` and
    return the sink's table. The only memory-sink start in the package.

    The session's shuffle width is narrowed to DRAIN_SHUFFLE_PARTITIONS
    for the query's start and restored before returning, so any batch
    assembly the caller runs on the result plans at session width. A
    drain that fails or is interrupted mid-wait is stopped first: a
    query left running keeps its sink name registered and poisons later
    runs in a long-lived session (stop() on a finished query is a
    no-op)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(DRAIN_SHUFFLE_PARTITIONS)
    )
    q = None
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if q is not None and q.isActive:
            q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(query_name)


@contextlib.contextmanager
def events_feed(path: str):
    """Yield a directory the file source can stream `path` from. File
    sources list a DIRECTORY, while fixture tables are single read-only
    files: a file is symlinked into a temp dir (no data copy) that is
    removed on exit — the memory sink holds its rows independently of
    the source, so a drained result outlives the feed. A directory
    (e.g. a Spark-written table) streams in place and is never
    removed."""
    if os.path.isdir(path):
        yield os.path.abspath(path)
        return
    d = tempfile.mkdtemp(prefix="sbc_stream_feed_")
    try:
        os.symlink(
            os.path.abspath(path), os.path.join(d, os.path.basename(path))
        )
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Open a parquet event feed as a stream (`path` must be a
    directory — see ``events_feed`` for single-file fixtures).

    Watermarks require TIMESTAMP (an absolute instant), not TIMESTAMP_NTZ,
    so `ts` is rebuilt with ``timestamp_micros`` — a pure epoch
    computation, independent of the session timezone. The naive fixture
    values are thereby pinned to UTC instants; hour windows align to epoch
    (also tz-independent) and ``hourly_aggregate`` renders the window
    start back to a UTC-pinned NTZ, so the converged output is bit-equal
    to the batch q18 answer in ANY session timezone.

    ``events_ts_ntz`` first brings nanosecond feeds to the same NTZ as
    microsecond ones; the epoch offset is the q45/q46 ``timestampdiff``
    pattern."""
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return events_ts_ntz(reader.parquet(path)).withColumn(
        "ts",
        F.timestamp_micros(
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
            )
        ),
    )


def hourly_aggregate(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window aggregation — the streaming twin of
    q18 (same column names, same cents representation). State is keyed
    (window, event_type) and bounded by the watermark."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count("*").alias("c"),
            cents(F.sum("value")).alias("total_cents"),
        )
        .select(
            # A bare NTZ cast renders the window instant in the SESSION
            # timezone, silently breaking batch-q18 equivalence whenever
            # the session is not UTC — and a convert_timezone round-trip
            # is ambiguous during a DST fall-back hour. Rebuilding from
            # epoch micros is pure arithmetic: exact in every session
            # timezone, no DST caveat.
            F.expr(
                "timestampadd(MICROSECOND, unix_micros(window.start),"
                " TIMESTAMP_NTZ'1970-01-01 00:00:00')"
            ).alias("w"),
            "event_type",
            "c",
            "total_cents",
        )
    )


SESSION_GAP_MICROS = 30 * 60 * 1_000_000  # microsecond-exact, like q35
_SESSION_STATE_SCHEMA = "last_ts long, n_events long, n_sessions long"
_SESSION_OUT_SCHEMA = "user_id bigint, n_events bigint, n_sessions bigint"


def sessionize(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    sessionization with a 30-minute inactivity gap.

    State per user is three numbers (last event epoch, event count,
    session count) — bounded, keyed by user_id, updated per micro-batch
    with Arrow-transferred pandas groups. Converges to the batch q35
    answer when events arrive in order (the convergence test feeds
    time-ordered chunks; out-of-order arrivals within a batch are sorted
    before folding)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        last_ts, n_events, n_sessions = (
            state.get if state.exists else (None, 0, 0)
        )
        # A group may arrive as SEVERAL Arrow chunks; sorting per chunk
        # would fold out-of-order events with a regressed anchor. Gather
        # the whole micro-batch's group, then sort once.
        chunks = [pdf for pdf in pdfs]
        whole = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        for t in whole["ts"].sort_values():
            micros = int(t.value // 1_000)
            if last_ts is None or micros - last_ts > SESSION_GAP_MICROS:
                n_sessions += 1
            last_ts = micros
            n_events += 1
        state.update((last_ts, n_events, n_sessions))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n_events],
                "n_sessions": [n_sessions],
            }
        )

    return (
        stream.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def dedup_events(
    stream: DataFrame, watermark: str = "2 hours", keys=("user_id", "ts")
) -> DataFrame:
    """Streaming exact deduplication — the at-least-once-delivery guard.

    A replayed feed (source retries, redelivered micro-batches) must not
    double-count events downstream; ``dropDuplicatesWithinWatermark``
    keeps first-arrival rows and drops any duplicate key that arrives
    within the watermark, while the watermark bounds the dedup state:
    keys older than it are evicted instead of accumulating forever —
    the property that makes streaming dedup viable on an unbounded
    100 TB feed, where an unwatermarked ``dropDuplicates`` would grow
    state without limit. The batch twin is ``SELECT DISTINCT`` on the
    same keys (q21 is the content-hash analog for documents)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def run_dedup(
    spark: SparkSession,
    path: str,
    query_name: str = "events_dedup",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain `path` through the streaming dedup and return the emitted
    (append-mode) rows."""
    stream = read_events_stream(spark, path, max_files_per_trigger)
    return _drain(spark, dedup_events(stream), query_name, "append")


def run_sessionization(
    spark: SparkSession,
    path: str,
    query_name: str = "sessions",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain `path` through the stateful sessionizer and return the final
    per-user counts (update mode: the memory sink keeps every emission;
    the last one per user is the converged value)."""
    stream = read_events_stream(spark, path, max_files_per_trigger)
    snap = _drain(spark, sessionize(stream), query_name, "update")
    # update mode appends one row per user per micro-batch; dedupe to the
    # final (max n_events) emission per user.
    return snap.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("n_sessions").alias("n_sessions"),
    )


def run_to_convergence(
    spark: SparkSession,
    path: str,
    query_name: str = "events_hourly",
    max_files_per_trigger: int | None = None,
    output_mode: str = "complete",
) -> DataFrame:
    """Process everything currently in `path` (availableNow trigger) and
    return the resulting table. In `complete` mode the result must equal
    the batch q18 answer bit-for-bit; in `append` mode only watermark-
    finalized windows are emitted."""
    stream = read_events_stream(spark, path, max_files_per_trigger)
    return _drain(spark, hourly_aggregate(stream), query_name, output_mode)


def enrich_stream(
    stream: DataFrame, cust: DataFrame, nat: DataFrame
) -> DataFrame:
    """Stream-static enrichment: the event stream joined to the customer
    and nation dimensions, rolled up per (nation, event_type) — the
    streaming twin of batch q148 (same columns, same cents rule). The
    static sides are re-read per micro-batch by Structured Streaming's
    stream-static join semantics; nation is an explicit broadcast, and
    at 100 TB the customer side would be a keyed join exactly as in the
    batch plan. Unwindowed aggregation ⇒ complete output mode: state is
    one row per (nation, event_type), bounded by the key space, not the
    stream."""
    return (
        stream.join(cust, stream["user_id"] == cust["c_custkey"])
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .groupBy("n_name", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            cents(F.sum("value")).alias("total_cents"),
        )
    )


def run_enrichment(
    spark: SparkSession,
    sf_dir: str,
    events_path: str | None = None,
    query_name: str = "events_enriched",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain the event feed (a streamable directory, or the sf_dir
    fixture file by default) through the stream-static enrichment and
    return the converged (complete-mode) table — must equal batch q148
    bit-for-bit."""
    from smartbulkcopy_spark.queries import table as _table

    with events_feed(events_path or f"{sf_dir}/events.parquet") as feed:
        stream = read_events_stream(spark, feed, max_files_per_trigger)
        cust = _table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey"
        )
        nat = _table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name"
        )
        return _drain(
            spark, enrich_stream(stream, cust, nat), query_name, "complete"
        )


# ---------------------------------------------------------------------------
# Streaming peak concurrency — the stateful twin of batch q172. A
# stateful per-user operator emits session INTERVALS (closed ones final,
# the open one with its en-so-far, superseded by later emissions); the
# converged interval table feeds the exact same edge-sum assembly as the
# batch query (queries.peak_from_intervals), so convergence is bit-equal
# by construction once the intervals match. State per user is three
# longs — bounded, like sessionize.
# ---------------------------------------------------------------------------

_INTERVAL_STATE_SCHEMA = "sid long, st long, last long"
_INTERVAL_OUT_SCHEMA = "user_id bigint, sid bigint, st bigint, en bigint"


def session_intervals(stream: DataFrame) -> DataFrame:
    """Per-user 30-minute-gap session intervals via
    applyInPandasWithState (update mode). Timestamps are converted to
    epoch-micro LONGS on the JVM side (`unix_micros`) BEFORE crossing
    into pandas — a pandas datetime round-trip renders in the session
    timezone and would shift absolute values under a non-UTC session
    (the q172 twin needs absolute micros, unlike sessionize's gap-only
    arithmetic). Each micro-batch emits every session it touched: closed
    sessions with their final (st, en), the open session with en-so-far;
    a later emission for the same (user_id, sid) supersedes (en only
    grows), so the converged table is groupBy(user_id, sid) min(st)/
    max(en). Converges to the batch islands when chunks arrive in time
    order (the q35 convergence discipline)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        sid, st, last = state.get if state.exists else (0, None, None)
        out: list[tuple[int, int, int]] = []
        chunks = [pdf for pdf in pdfs]
        whole = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        ts = whole["t"].sort_values()
        # Convergence to batch q172 requires time-ordered arrival ACROSS
        # micro-batches (within a batch the sort above handles it). An
        # event behind this user's watermark would silently mis-sessionize
        # — fail loudly instead (multi-file feeds must be time-ordered).
        if last is not None and len(ts) and int(ts.iloc[0]) < last:
            raise ValueError(
                f"out-of-order event feed for user {key[0]}:"
                f" t={int(ts.iloc[0])} arrived after watermark {last};"
                " session_intervals requires time-ordered micro-batches"
            )
        for t in ts:
            t = int(t)
            if last is None:
                sid, st, last = 1, t, t
            elif t - last > SESSION_GAP_MICROS:
                out.append((sid, st, last))  # closed: final emission
                sid, st, last = sid + 1, t, t
            else:
                last = t  # sorted within the batch, so t >= last
        if last is not None:
            out.append((sid, st, last))  # open session, en-so-far
            state.update((sid, st, last))
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out),
                "sid": [o[0] for o in out],
                "st": [o[1] for o in out],
                "en": [o[2] for o in out],
            }
        )

    return (
        stream.select("user_id", F.unix_micros("ts").alias("t"))
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_INTERVAL_OUT_SCHEMA,
            stateStructType=_INTERVAL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_peak_concurrency(
    spark: SparkSession,
    path: str,
    query_name: str = "peak_conc",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain `path` through the stateful interval tracker and return the
    converged (n_sessions, peak_concurrency, peak_at_us) row — must be
    bit-equal to batch q172 when chunks arrive in time order."""
    from smartbulkcopy_spark.queries import peak_from_intervals

    stream = read_events_stream(spark, path, max_files_per_trigger)
    iv = (
        _drain(spark, session_intervals(stream), query_name, "update")
        .groupBy("user_id", "sid")
        .agg(F.min("st").alias("st"), F.max("en").alias("en"))
    )
    return peak_from_intervals(spark, iv)


# ---------------------------------------------------------------------------
# Streaming session funnel — the stateful twin of batch q153 (funnel
# completion WITHIN a 30-minute-gap session). Extends the interval
# tracker's state with the four stage first-times; the converged
# per-session stage mins feed the exact CASE expression the batch query
# uses (queries._FUNNEL_STAGE_SQL), so the 5-row rollup is bit-equal by
# construction once the sessions match. State per user: six longs.
# ---------------------------------------------------------------------------

_FUNNEL_MISSING = 1 << 62  # monotone-min sentinel; never a real epoch
_FUNNEL_STATE_SCHEMA = (
    "sid long, last long, m0 long, m1 long, m2 long, m3 long"
)
_FUNNEL_OUT_SCHEMA = (
    "user_id bigint, sid bigint,"
    " m0 bigint, m1 bigint, m2 bigint, m3 bigint"
)


def session_funnel_stages(stream: DataFrame) -> DataFrame:
    """Per-(user, session) stage first-times via applyInPandasWithState
    (update mode). Missing stages carry the HUGE sentinel rather than
    NULL/-1 so every per-session emission series is monotone non-
    increasing and the converged value is a plain min over emissions.
    Timestamps cross into pandas as epoch-micro longs (the
    session_intervals rule). Ties at equal t are order-free here: they
    can neither split a session (gap 0) nor change a min."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from smartbulkcopy_spark.queries import _FUNNEL_STAGES

    stage_idx = {s: i for i, s in enumerate(_FUNNEL_STAGES)}

    def update(key, pdfs, state: GroupState):
        if state.exists:
            sid, last, *m = state.get
            m = list(m)
        else:
            sid, last, m = 0, None, [_FUNNEL_MISSING] * 4
        out: list[tuple[int, list[int]]] = []
        chunks = [pdf for pdf in pdfs]
        whole = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        whole = whole.sort_values("t", kind="stable")
        # Same cross-micro-batch ordering contract as session_intervals:
        # an event behind the user watermark would mis-sessionize quietly.
        if last is not None and len(whole) and int(whole["t"].iloc[0]) < last:
            raise ValueError(
                f"out-of-order event feed for user {key[0]}:"
                f" t={int(whole['t'].iloc[0])} arrived after watermark"
                f" {last}; session_funnel_stages requires time-ordered"
                " micro-batches"
            )
        for t, et in zip(whole["t"], whole["event_type"]):
            t = int(t)
            if last is None or t - last > SESSION_GAP_MICROS:
                if last is not None:
                    out.append((sid, m))  # closed: final emission
                sid, m = sid + 1, [_FUNNEL_MISSING] * 4
            last = t
            i = stage_idx.get(et)
            if i is not None and t < m[i]:
                m[i] = t
        if last is not None:
            out.append((sid, m))  # open session, mins-so-far
            state.update((sid, last, *m))
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out),
                "sid": [o[0] for o in out],
                **{
                    f"m{i}": [o[1][i] for o in out]
                    for i in range(4)
                },
            }
        )

    return (
        stream.select(
            "user_id", F.unix_micros("ts").alias("t"), "event_type"
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_FUNNEL_OUT_SCHEMA,
            stateStructType=_FUNNEL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_session_funnel(
    spark: SparkSession,
    path: str,
    query_name: str = "sess_funnel",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain `path` through the stateful funnel tracker and return the
    converged (funnel_stage, n_sessions) rollup — must be bit-equal to
    batch q153 when chunks arrive in time order."""
    from smartbulkcopy_spark.queries import (
        _FUNNEL_STAGE_SQL,
        _FUNNEL_STAGES,
    )

    stream = read_events_stream(spark, path, max_files_per_trigger)
    conv = (
        _drain(spark, session_funnel_stages(stream), query_name, "update")
        .groupBy("user_id", "sid")
        .agg(
            *[
                F.min(f"m{i}").alias(f"mm{i}")
                for i in range(len(_FUNNEL_STAGES))
            ]
        )
        .select(
            *[
                F.when(
                    F.col(f"mm{i}") == _FUNNEL_MISSING, F.lit(None)
                )
                .otherwise(F.col(f"mm{i}"))
                .alias(f"m_{s}")
                for i, s in enumerate(_FUNNEL_STAGES)
            ]
        )
    )
    return (
        conv.select(
            F.expr(_FUNNEL_STAGE_SQL).cast("long").alias("funnel_stage")
        )
        .groupBy("funnel_stage")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy("funnel_stage")
    )


# ---------------------------------------------------------------------------
# Streaming hourly seasonality — the twin of batch q157. Unwindowed
# complete-mode aggregation: state is one row per (event_type,
# hour-of-day), bounded by the key space (24 x types) like
# enrich_stream. hour() on the stream's absolute TIMESTAMP would render
# in the SESSION timezone; the hour-of-day is instead pure epoch
# arithmetic ((unix_micros DIV hour) % 24), equal to the batch query's
# NTZ field extraction because the naive fixture values are UTC-pinned
# by read_events_stream.
# ---------------------------------------------------------------------------

_HOUR_US = 3_600_000_000


def hourly_seasonality_stream(stream: DataFrame) -> DataFrame:
    return stream.groupBy(
        "event_type",
        F.expr(f"(unix_micros(ts) DIV {_HOUR_US}) % 24")
        .cast("long")
        .alias("hod"),
    ).agg(F.count("*").alias("n"))


def run_hourly_seasonality(
    spark: SparkSession,
    path: str,
    query_name: str = "hourly_seasonality",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain `path` through the seasonality aggregation and return the
    converged profile — must be bit-equal to batch q157."""
    stream = read_events_stream(spark, path, max_files_per_trigger)
    h = _drain(
        spark, hourly_seasonality_stream(stream), query_name, "complete"
    )
    return h.select(
        "event_type",
        "hod",
        F.col("n").cast("long").alias("n_events"),
        F.expr("1000000 * n DIV sum(n) OVER (PARTITION BY event_type)")
        .cast("long")
        .alias("share_ppm"),
    ).orderBy("event_type", "hod")


# ---------------------------------------------------------------------------
# Stream-stream interval join — the one Structured Streaming surface the
# registry did not yet exercise (§2.9 had windows, watermarks, replay
# dedup, stream-static enrichment, and two applyInPandasWithState
# trackers). The q95 attribution twin: errors and clicks open as TWO
# streams over the same feed and meet in a watermarked inner join with
# the exact q95 time-range condition; the join is the stateful hard
# part, and the converged matched pairs feed q95's batch LEFT-JOIN/count
# assembly (the q182 recipe — stream does the stateful operator, batch
# does the exact final rollup).
#
# INNER, not left-outer, by design: outer-side null emissions require
# the watermark to pass the join window, and an availableNow drain's
# watermark never advances past the last event — trailing unmatched
# errors would be withheld forever. Inner pairs emit as both sides
# arrive (the watermark only EVICTS state), so the drained sink is
# complete over any finite feed whose disorder stays inside the delay.
# ---------------------------------------------------------------------------

def _attrib_window_secs() -> int:
    """Derived from the batch constant so a retune cannot silently
    desynchronize the twin from q95 (the window is whole seconds by
    construction: RANGE_WINDOW_US is minutes x 60e6)."""
    from smartbulkcopy_spark.queries import RANGE_WINDOW_US

    assert RANGE_WINDOW_US % 1_000_000 == 0
    return RANGE_WINDOW_US // 1_000_000


ATTRIB_WINDOW_SECS = _attrib_window_secs()
_ATTRIB_DELAY = "2 hours"  # state-eviction bound, not a correctness knob


def click_attribution_join(
    errs: DataFrame, clks: DataFrame
) -> DataFrame:
    """(event_id, cid) matched pairs: clicks by the same user strictly
    after an error and within the 10-minute window — micro-exact (the
    rebuilt ts carries the fixture's fractional seconds; interval
    arithmetic is micro-precise, mirroring q95's epoch_us predicate).
    Both sides carry watermarks so the join state is bounded: click
    state lives only until the watermark passes its own window; error
    state until the watermark passes ts + window."""
    e = (
        errs.withWatermark("ts", _ATTRIB_DELAY)
        .select(
            F.col("event_id"),
            F.col("user_id").alias("e_uid"),
            F.col("ts").alias("e_ts"),
        )
    )
    c = (
        clks.withWatermark("ts", _ATTRIB_DELAY)
        .select(
            F.col("event_id").alias("cid"),
            F.col("user_id").alias("c_uid"),
            F.col("ts").alias("c_ts"),
        )
    )
    return e.join(
        c,
        F.expr(
            "e_uid = c_uid AND c_ts > e_ts"
            f" AND c_ts <= e_ts + INTERVAL {ATTRIB_WINDOW_SECS} SECONDS"
        ),
    ).select("event_id", "cid")


def run_click_attribution(
    spark: SparkSession,
    path: str,
    query_name: str = "click_attrib",
    max_files_per_trigger: int | None = None,
    batch_src: str | None = None,
) -> DataFrame:
    """Drain the feed through the stream-stream interval join and
    assemble q95's exact answer: per ERROR event (batch-read from
    `batch_src`, default the feed itself — the left side of q95's final
    LEFT JOIN is not a streaming concern), the count of matched clicks.
    Bit-equal to batch q95 on any feed whose disorder stays inside the
    watermark delay. Pass the durable events parquet as `batch_src`
    when the feed is an ``events_feed`` temp dir removed before the
    result is consumed (only the memory sink outlives the drain)."""
    errs = read_events_stream(spark, path, max_files_per_trigger).where(
        F.col("event_type") == "error"
    )
    clks = read_events_stream(spark, path, max_files_per_trigger).where(
        F.col("event_type") == "click"
    )
    m = (
        _drain(spark, click_attribution_join(errs, clks), query_name, "append")
        .groupBy("event_id")
        .agg(F.count("*").alias("n"))
    )
    err = (
        spark.read.parquet(batch_src or path)
        .where(F.col("event_type") == "error")
        .select("event_id", "user_id")
    )
    return (
        err.join(m, "event_id", "left")
        .select(
            "event_id",
            "user_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_clicks"),
        )
        .orderBy("event_id")
    )
