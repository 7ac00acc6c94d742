"""bench.py stdout-line contract: the driver keeps only the last ~2000
chars of bench stdout and parses the JSON line from that tail, so the
printed line must stay short no matter how many queries are registered
(BENCH_r04 recorded ``"parsed": null`` when the round-4 line overflowed)."""

from __future__ import annotations

import json
import re

import bench
from smartbulkcopy_spark.queries import REGISTRY


def worst_case_payloads():
    # every registered query at a pessimistic 3-digit timing, plus the
    # full copy section with 8x rows and all shape booleans
    timings = {name: 123.4567 for name in REGISTRY}
    copies: dict[str, object] = {}
    for layout in (
        "heap",
        "heap_partitioned",
        "ordered_rowstore",
        "rowstore_partitioned",
    ):
        for suffix in ("", "_8x"):
            copies[f"{layout}{suffix}"] = 123.4567
            copies[f"{layout}{suffix}_rows_per_sec"] = 1234567
    copies["shape"] = {
        "heap_bucket_exchange_no_sort": True,
        "partitioned_single_range_exchange": True,
        "ordered_parallel_range_sort": True,
        "rowstore_partitioned_local_key_sort": True,
        "partitioned_beats_heap_8x": True,
        "note": bench.COPY_SHAPE_NOTE,
    }
    return timings, copies


def test_line_fits_driver_tail():
    timings, copies = worst_case_payloads()
    line, doc_ = bench.emit_payloads(timings, copies, 0.1)
    assert len(line) <= bench.MAX_LINE
    # worst-case widths must NOT trigger the degrade path at the current
    # registry size — the per-query timings belong on the line
    assert "truncated" not in json.loads(line)
    # and with headroom for future queries: another 40 registrations at
    # worst-case widths must still fit WITHOUT dropping the timings
    # (r9 verdict item 7 asked for N+25; at the 182-query registry the
    # dense array affords +40 — when THIS assertion starts failing,
    # pack tighter, e.g. decisecond ints, rather than shrinking it)
    padded = dict(timings)
    nxt = max(int(re.match(r"q(\d+)", n).group(1)) for n in REGISTRY) + 1
    for i in range(nxt, nxt + 40):
        padded[f"q{i}_future_operator"] = 123.4567
    line2, _ = bench.emit_payloads(padded, copies, 0.1)
    assert len(line2) <= bench.MAX_LINE
    doc2 = json.loads(line2)
    assert doc2["metric"] == "sum_of_query_wall_times"
    assert "truncated" not in doc2


def test_line_is_parseable_json_with_dense_timings():
    timings, copies = worst_case_payloads()
    line, detail = bench.emit_payloads(timings, copies, 0.1)
    doc = json.loads(line)
    assert doc["metric"] == "sum_of_query_wall_times"
    assert doc["unit"] == "sec"
    assert doc["sf"] == 0.1
    # contiguous registration numbers pack as a dense array: t[i] is
    # the DECISECOND-integer timing of query number q1st + i ("tu":"ds")
    assert doc["queries"]["q1st"] == 1
    assert doc["queries"]["tu"] == "ds"
    assert len(doc["queries"]["t"]) == len(REGISTRY)
    assert doc["queries"]["t"][0] == int(
        round(round(timings["q01_scan_project"], 1) * 10)
    )
    # the sum survives 2-decimal compaction to cent precision
    assert abs(doc["value"] - sum(timings.values())) < 0.01
    # compact copy keys round-trip through the detail key_map
    inv = detail["key_map"]["copy"]
    assert set(inv) == {"heap", "part", "ord", "ordpart"}
    assert doc["copy"]["part_8x_rps"] == 1234567
    assert doc["copy"]["shape"]["note"] == "see BENCH_DETAIL.json"
    # shape compresses to a pass-count when all booleans hold...
    n_bools = sum(
        isinstance(v, bool) for v in copies["shape"].values()
    )
    assert doc["copy"]["shape"]["pass"] == n_bools
    assert doc["copy"]["shape"]["of"] == n_bools
    assert "false" not in doc["copy"]["shape"]
    # ...and names only the regressing keys otherwise
    bad = dict(copies)
    bad["shape"] = dict(copies["shape"])
    bad["shape"]["partitioned_beats_heap_8x"] = False
    line_bad, _ = bench.emit_payloads(timings, bad, 0.1)
    shape_bad = json.loads(line_bad)["copy"]["shape"]
    assert shape_bad["pass"] == n_bools - 1
    assert shape_bad["false"] == ["part_beats_heap_8x"]


def test_top8_explicit_keys_on_line():
    """Round-13 verdict item 7: the top-8 slowest queries must ALSO
    emit as explicit "qNNN": decisecond keys (the driver's per-query
    comparator reads literal JSON keys and cannot expand the dense
    array — PERF_r13's regression table was degenerate)."""
    timings, copies = worst_case_payloads()
    timings["q180_exact_substring_verify"] = 200.0
    timings["q107_minhash_estimate_quality"] = 150.0
    line, _ = bench.emit_payloads(timings, copies, 0.1)
    doc = json.loads(line)
    assert doc["queries"]["q180"] == 2000
    assert doc["queries"]["q107"] == 1500
    explicit = [
        k for k in doc["queries"] if k not in ("q1st", "tu", "t")
    ]
    assert len(explicit) == 8
    # explicit keys agree with the dense array (t[i] = q1st + i)
    for k in explicit:
        i = int(k[1:]) - doc["queries"]["q1st"]
        assert doc["queries"][k] == doc["queries"]["t"][i]


def test_detail_keeps_full_names_and_note():
    timings, copies = worst_case_payloads()
    _, detail = bench.emit_payloads(timings, copies, 0.1)
    assert set(detail["queries"]) == set(REGISTRY)
    assert detail["copy"]["shape"]["note"] == bench.COPY_SHAPE_NOTE
    assert detail["copy"]["heap_partitioned_8x_rows_per_sec"] == 1234567


def test_compile_counts_go_to_detail_only():
    """Per-query records (codegen compile counts among them) are
    detail-file data under full names; the stdout line is byte-identical
    with or without them."""
    timings, copies = worst_case_payloads()
    profile = {name: {"compiles": 140, "jobs": 3} for name in REGISTRY}
    line, detail = bench.emit_payloads(timings, copies, 0.1, profile=profile)
    assert line == bench.emit_payloads(timings, copies, 0.1)[0]
    assert {n: r["compiles"] for n, r in detail["profile"].items()} == {
        name: 140 for name in REGISTRY
    }


def test_profile_record_schema(spark, sf_dir):
    """One run of q69 through bench's record function: the record's keys
    and types are pinned, it saw q69's jobs and exchanges, and no eager()
    intermediate outlives the run."""
    from smartbulkcopy_spark import queries

    rec = bench.query_record(
        spark, REGISTRY["q69_dedup_clusters"].fn, sf_dir
    )
    assert list(rec) == [
        "build_s", "exec_s", "compiles", "jobs", "stages", "tasks",
        "input_records", "shuffle_write_bytes", "spill_bytes", "plan_s",
        "plan",
    ]
    for k in ("build_s", "exec_s", "plan_s"):
        assert isinstance(rec[k], float) and rec[k] >= 0, k
    for k in ("compiles", "jobs", "stages", "tasks", "input_records",
              "shuffle_write_bytes", "spill_bytes"):
        assert isinstance(rec[k], int) and rec[k] >= 0, k
    assert list(rec["plan"]) == list(bench.PLAN_NODES)
    assert all(isinstance(v, int) for v in rec["plan"].values())
    assert rec["jobs"] >= 1
    assert rec["stages"] >= 1
    assert rec["plan"]["exchange"] >= 1
    assert queries._LIVE_CACHES == []
    json.dumps(rec)  # goes into BENCH_DETAIL.json as is


def test_line_degrades_gracefully_on_overflow():
    """If the compact line ever outgrows the driver tail (e.g. hundreds of
    registrations), bench must still print a parseable line with the
    headline metric rather than crashing and recording a null round."""
    timings, copies = worst_case_payloads()
    flood = dict(timings)
    nxt = max(int(re.match(r"q(\d+)", n).group(1)) for n in REGISTRY) + 1
    for i in range(nxt, nxt + 400):
        flood[f"q{i}_future_operator"] = 123.4567
    line, detail = bench.emit_payloads(flood, copies, 0.1)
    assert len(line) <= bench.MAX_LINE
    doc = json.loads(line)
    assert doc["metric"] == "sum_of_query_wall_times"
    assert abs(doc["value"] - sum(flood.values())) < 0.01
    assert "queries" not in doc and doc["truncated"]
    # the detail file still carries everything
    assert set(detail["queries"]) == set(flood)


def test_idle_marker_on_line():
    """VERDICT r9 #8: the idle_at_start marker must ride the printed
    line (the driver keeps only the stdout tail; BENCH_DETAIL.json is
    overwritable by a later non-idle run)."""
    timings, copies = worst_case_payloads()
    for flag in (True, False):
        line, _ = bench.emit_payloads(timings, copies, 0.1, idle=flag)
        assert len(line) <= bench.MAX_LINE
        assert json.loads(line)["idle"] is flag
    # None (loadavg unavailable) omits the key rather than printing null
    line, _ = bench.emit_payloads(timings, copies, 0.1)
    assert "idle" not in json.loads(line)


def test_empty_and_gapped_timings_guarded():
    """ADVICE r8: empty timings must not IndexError, and a gap in the
    registration numbers must fail LOUDLY at emit time — the silent
    explicit-qNN fallback would overflow the 1900-char line at 175
    queries and quietly drop per-query timings from the driver line."""
    import pytest

    _, copies = worst_case_payloads()
    line, detail = bench.emit_payloads({}, copies, 0.1)
    doc = json.loads(line)
    assert doc["value"] == 0
    assert doc["queries"] == {}

    timings, _ = worst_case_payloads()
    gapped = {n: v for n, v in timings.items() if n != "q50_split_assignment"}
    with pytest.raises(AssertionError, match="gapped"):
        bench.emit_payloads(gapped, copies, 0.1)
