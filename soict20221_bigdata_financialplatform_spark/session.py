"""Single SparkSession factory.

The reference created a new ``SparkSession`` inside every call of
``normalize_data`` (reference ``pipeline/util/util.py:58-61``) and set
``PYSPARK_SUBMIT_ARGS`` *after* ``getOrCreate()`` (``test.py:8-9``). Here one
factory owns the session and its scale-relevant configuration.

Settings are chosen for correctness-at-scale first:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) — on a
  1000-executor cluster the static ``shuffle.partitions`` is only an upper
  bound; AQE coalesces post-shuffle partitions to target sizes.
- ``spark.sql.session.timeZone=UTC`` so timestamp semantics are independent of
  the host and match the DuckDB oracle.
- Arrow enabled for every pandas interchange (indicator EWM path, toPandas).
- ``spark.sql.codegen.cache.maxEntries`` = ``CODEGEN_CACHE_MAX_ENTRIES``, so a
  repeated query reuses its compiled classes instead of recompiling them
  (Spark's default of 100 is smaller than the frozen 17's 206). Every run
  still plans and executes its own jobs; only the Java source to bytecode
  step is skipped. The cache is a JVM-wide singleton sized at its first use:
  the setting only takes effect in a session that starts its JVM.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

# Generated classes kept compiled, keyed by their Java source. Measured
# working sets (sf0.001, distinct classes): the frozen 17 compile 206, the
# `serve` endpoints 66, all 344 registry queries 4,577. A loaded class costs
# about 15 KB of metaspace (982 -> 4,577 classes: 207 -> 263 MB), so the
# next power of two above the registry, 8,192, bounds the cache at about
# 120 MB when full. With Spark's default of 100, every warm pass over the
# frozen 17 recompiled 134-180 classes at about 8 ms each.
CODEGEN_CACHE_MAX_ENTRIES = 8192


def get_spark(
    app_name: str = "spark-finplat",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the submitter sets it and this factory leaves it alone.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Parquet TIMESTAMP(NANOS) (events.ts) is read as raw nanos and
        # converted to µs timestamps in the loader — matches DuckDB's ns→µs
        # truncation (Spark 4 otherwise rejects NANOS outright).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # explode(computed_array) otherwise grows an inferred, fully-inlined
        # `size(expr)>0` filter pushed to the scan — double-evaluates the
        # expensive array chain and can never prune parquet (see
        # sources/readers.py:load_table, which also sets this at runtime).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
