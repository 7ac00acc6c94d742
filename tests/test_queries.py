"""Every registered query with an oracle must hash-match DuckDB on the same
parquet (mirrors the driver's CORRECTNESS gate, SURVEY §2.10)."""

from __future__ import annotations

import pytest

from smartbulkcopy_spark.queries import REGISTRY

from .util import assert_matches_oracle

ORACLED = [name for name, spec in REGISTRY.items() if spec.oracle is not None]


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, sf_dir)
    assert_matches_oracle(df, duck, spec.oracle, name=name)


def test_registry_nonempty():
    assert len(REGISTRY) >= 19


def test_driver_emission_order():
    """The driver oracle-checks only the first ~50 queries() entries
    (SURVEY §2.12): the window must always contain the full §2.10
    contract (tier 1), every registered query must appear exactly once
    overall, and the rotation must emit least-recently-driver-green
    first so never-graded operators drain at 27 slots/round."""
    from smartbulkcopy_spark.queries import (
        DRIVER_WINDOW,
        LAST_GREEN,
        TIER1,
        ordered_names,
    )

    names = ordered_names()
    assert sorted(names) == sorted(REGISTRY)
    window = set(names[: DRIVER_WINDOW])
    assert set(TIER1) <= window

    # Rotation invariant: after the pinned tier-1 block, last-green rounds
    # are non-decreasing (never-graded = round 0 sorts first).
    rounds = [LAST_GREEN.get(n, 0) for n in names[len(TIER1) :]]
    assert rounds == sorted(rounds)

    # Every never-graded query must be inside the next driver window while
    # capacity allows (backlog <= rotating slots).
    never = [n for n in names if n not in LAST_GREEN]
    capacity = DRIVER_WINDOW - len(TIER1)
    if len(never) <= capacity:
        assert set(never) <= window
    # The ledger only names registered queries (no typos / renames).
    assert set(LAST_GREEN) <= set(REGISTRY)

    import __spark_entry__ as e

    assert list(e.queries()) == names


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.queries()).issuperset(set(e.oracle_sql()))


def test_json_int_is_integer_strict(spark):
    """Malformed/missing JSON values must classify as NULL, never cast
    through engine-specific rounding (DuckDB would round '1.5' to 2)."""
    import pyspark.sql.functions as F

    from smartbulkcopy_spark.queries import json_int

    df = spark.createDataFrame(
        [
            ('{"k": 5}',),
            ('{"k": -7}',),
            ('{"k": 1.5}',),
            ('{"k": "x"}',),
            ("{}",),
            (None,),
        ],
        "props string",
    )
    got = [
        r["k"] for r in df.select(json_int("props", "$.k").alias("k")).collect()
    ]
    assert got == [5, -7, None, None, None, None]


def test_round_closeout_discipline():
    """The recurring late-registration gap (rounds 5-7): a new
    registration is only DONE when it carries a QUEUED_SINCE seniority
    entry, says what it does and shows up in the scale tooling and the
    committed bench record. Pin it: every registered query must be
    ledger-known (QUEUED_SINCE or LAST_GREEN), and every registration
    from round 7 on (batch >= 70) must have a non-empty `doc` and a
    scale_probe entry."""
    import importlib.util
    import json
    from pathlib import Path

    from smartbulkcopy_spark.queries import LAST_GREEN, QUEUED_SINCE

    repo = Path(__file__).parents[1]
    p = repo / "tools" / "scale_probe.py"
    spec = importlib.util.spec_from_file_location("scale_probe", p)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    OPS = mod.PROBES

    unknown = [
        n
        for n in REGISTRY
        if n not in QUEUED_SINCE and n not in LAST_GREEN
    ]
    assert not unknown, f"registrations missing ledger entries: {unknown}"
    assert set(QUEUED_SINCE) <= set(REGISTRY)

    recent = [n for n, b in QUEUED_SINCE.items() if b >= 70]
    missing_doc = [n for n in recent if not REGISTRY[n].doc.strip()]
    missing_scale = [n for n in recent if n not in OPS]
    assert not missing_doc, f"registrations without a doc: {missing_doc}"
    assert not missing_scale, f"no scale_probe entry: {missing_scale}"

    # File-backed artifact check (round-8 verdict item 8): the committed
    # BENCH_DETAIL.json must carry a bench.py record for every
    # registration from batch 96 on, i.e. the sweep has run since.
    profile = json.loads((repo / "BENCH_DETAIL.json").read_text())["profile"]
    newest = [n for n, b in QUEUED_SINCE.items() if b >= 96]
    missing_record = [n for n in newest if n not in profile]
    assert not missing_record, f"no BENCH_DETAIL.json profile: {missing_record}"

