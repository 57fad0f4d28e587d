"""The session's generated-code cache holds the frozen 17's working set, so a
warm re-run of a query compiles nothing."""

from __future__ import annotations

from bench import FIXED_SUBSET
from soict20221_bigdata_financialplatform_spark.queries import QUERIES
from soict20221_bigdata_financialplatform_spark.session import CODEGEN_CACHE_MAX_ENTRIES


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_frozen(spark, sf_dir: str) -> dict[str, int]:
    """Run each frozen query once; classes compiled by each."""
    compiled = {}
    for name in FIXED_SUBSET:
        # q32 persists its shingles: start every run with nothing cached, so
        # a re-run executes the same plans as the first run
        spark.catalog.clearCache()
        before = _compiles(spark)
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        compiled[name] = _compiles(spark) - before
    spark.catalog.clearCache()
    return compiled


def test_session_sizes_the_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_MAX_ENTRIES)


def test_warm_frozen_pass_compiles_nothing(spark, sf_dir):
    # The frozen 17 compile about 206 distinct classes: with Spark's default
    # cap of 100 a warm pass recompiles most of them.
    _run_frozen(spark, sf_dir)
    recompiled = {q: n for q, n in _run_frozen(spark, sf_dir).items() if n}
    assert not recompiled, recompiled
