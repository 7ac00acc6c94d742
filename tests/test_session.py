"""Session defaults that only show as counts: generated-code reuse."""

from __future__ import annotations

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
