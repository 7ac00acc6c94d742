"""Session defaults that only show as counts (generated-code reuse), and
which code may write session conf."""

from __future__ import annotations

import ast
from pathlib import Path

from smartbulkcopy_spark import queries
from smartbulkcopy_spark.queries import REGISTRY, release_caches
from smartbulkcopy_spark.session import CODEGEN_CACHE_ENTRIES


def test_warm_q69_reuses_generated_classes(spark, sf_dir):
    """q69 generates ~150 distinct classes, more than Spark's default
    100-entry codegen cache; the same access order every run then made
    LRU miss on every class and each warm run recompiled all ~140 of
    them. With the cache sized by get_spark a repeat run compiles
    nothing. The count is a JVM counter, not a time, so a slow host
    cannot push it anywhere near the working set."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )

    def run():
        before = compiles.getCount()
        df = REGISTRY["q69_dedup_clusters"].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        release_caches()
        spark.catalog.clearCache()
        return compiles.getCount() - before

    run()
    # 0 in nearly every run, but one warm run on a loaded host compiled
    # 4 classes the first run had not (cause not traced)
    assert run() < 10


def test_only_known_functions_write_session_conf():
    """Every ``.conf.set(`` call in the package, by module and enclosing
    function. Two writers scope a setting and restore it
    (streaming._drain, dedup._distributed_labels); queries.eager's
    one-way guard is the single write that outlives its call. Any new
    writer must be scoped the same way and added here on purpose."""
    pkg = Path(queries.__file__).resolve().parent
    writers = set()
    for path in sorted(pkg.rglob("*.py")):

        def visit(node, fn, mod=path.stem):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = node.name
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "set"
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "conf"
            ):
                writers.add(f"{mod}.{fn}")
            for child in ast.iter_child_nodes(node):
                visit(child, fn)

        visit(ast.parse(path.read_text()), "<module>")
    assert writers == {
        "streaming._drain",
        "dedup._distributed_labels",
        "queries.eager",
    }


def test_events_ts_arrives_as_ntz_without_session_writes(
    spark, sf_dir, tmp_path
):
    """``events.ts`` arrives as TIMESTAMP_NTZ from both parquet units, and
    table() leaves the legacy nanosAsLong flag exactly as it found it.
    Microsecond parquet (every fixture) reads as NTZ whatever the flag
    says; nanosecond parquet (pandas' default unit) reads as bigint nanos
    under the flag get_spark sets at creation and is rebuilt to the same
    microsecond NTZ values."""
    import pandas as pd

    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        df = queries.table(spark, sf_dir, "events")
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        assert df.where("ts IS NULL").count() == 0
        assert spark.conf.get(key) == "false"
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

    assert spark.conf.get(key) == "true"
    ts = pd.to_datetime(
        ["2024-01-01 00:00:00.000001", "2024-03-31 23:59:59.999999"]
    )
    pd.DataFrame({"event_id": [1, 2], "ts": ts}).to_parquet(
        tmp_path / "events.parquet", index=False
    )
    df = queries.table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    got = [r["ts"] for r in df.orderBy("event_id").collect()]
    assert got == [t.to_pydatetime() for t in ts]
    assert spark.conf.get(key) == "true"
