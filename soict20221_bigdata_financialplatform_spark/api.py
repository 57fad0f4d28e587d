"""Serving-layer facade — the reference's four REST endpoints (``API.py:28-75``)
as library functions over symbol-partitioned parquet, plus the batch backfill
pipeline (``to_db.py:40-55``) and the Kafka-sink inverse (K3).

Each endpoint is a parameterized lazy plan: partition pruning on ``symbol``
(the table is written ``partitionBy("symbol")``) + row-group pruning on the
clustered ``time`` ordering reproduce Cassandra's
``PRIMARY KEY (SYMBOL, TIME)`` read path, with Catalyst doing the pruning.
The three point reads are prepared once per mounted frame and route (see
``_newest``); ``/news`` is built per call.
"""

from __future__ import annotations

import threading
import weakref
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from soict20221_bigdata_financialplatform_spark.functions.indicators import with_indicators
from soict20221_bigdata_financialplatform_spark.functions.normalize import normalize_bars


# ---------------------------------------------------------------------------
# Endpoints (reference API.py; semantics per SURVEY §2.11 — the reference's
# scrambled .format() args fixed, intended behavior implemented)
#
# The three point reads are prepared routes: the same DataFrame for the same
# (frame, route arguments), so a request re-executes an already-planned
# query. The largest fixed cost of a fresh point read is opening its scan
# (the file scan RDD broadcasts the session's Hadoop configuration); a
# prepared route pays it once. Every call still runs its own Spark job;
# nothing caches results. Keyed by the frame object, not its path: a frame
# reloaded after a backfill starts with no routes.
# ---------------------------------------------------------------------------

# A prepared route pins its opened scan and with it one broadcast of the
# Hadoop configuration, about 0.26 MB of driver storage memory (SCALE.md), so
# one frame keeps at most 128 routes, about 34 MB; the least recently used
# goes.
PREPARED_ROUTES = 128

_routes: weakref.WeakKeyDictionary[DataFrame, OrderedDict] = weakref.WeakKeyDictionary()
_routes_lock = threading.Lock()


def _newest(frame: DataFrame, symbol: str, order_col: str, n: int) -> DataFrame:
    """One symbol's ``n`` newest rows by ``order_col``, newest first, as a
    prepared route of ``frame``."""
    key = (symbol, order_col, n)
    with _routes_lock:
        routes = _routes.setdefault(frame, OrderedDict())
        if key in routes:
            routes.move_to_end(key)
            return routes[key]
    # built outside the lock: a cold route must not stall the warm ones
    df = (
        frame.where(F.col("symbol") == symbol)
        .orderBy(F.col(order_col).desc())
        .limit(n)
    )
    with _routes_lock:
        df = routes.setdefault(key, df)
        routes.move_to_end(key)
        if len(routes) > PREPARED_ROUTES:
            routes.popitem(last=False)
    return df


def olhc(bars: DataFrame, symbol: str, n_days: int) -> DataFrame:
    """``/OLHC/<code>/<n>``: last n days of daily bars for one symbol,
    newest first (reference API.py:28-37). A prepared route."""
    return _newest(bars, symbol, "date", n_days)


def realtime(ticks: DataFrame, symbol: str) -> DataFrame:
    """``/realtime/<code>``: newest tick for one symbol, LIMIT 1
    (reference API.py:40-50). A prepared route."""
    return _newest(ticks, symbol, "time", 1)


def news_latest(news: DataFrame, n: int = 6) -> DataFrame:
    """``/news``: latest n headlines, deduped by title — the upsert-by-title
    semantics of PRIMARY KEY (TITLE, TIME) (reference API.py:52-62,
    warehouse.py:93-100). Deterministic survivor: newest time per title, a
    (title, time) tie going to the smallest remaining columns, left to
    right; the survivors are ordered newest first, then by title. Both
    orders are total, so the answer does not depend on partitioning.

    Built on every call, not prepared: the title window plans an Exchange
    under AQE, and re-executing a finished adaptive plan reads the previous
    call's shuffle output, which would make it a result cache."""
    from pyspark.sql import Window

    rest = [c for c in news.columns if c not in ("title", "time")]
    w = Window.partitionBy("title").orderBy(F.col("time").desc(), *rest)
    return (
        news.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
        .orderBy(F.col("time").desc(), "title")
        .limit(n)
    )


def info(bars: DataFrame, symbol: str, limit: int = 2000) -> DataFrame:
    """``/info/<code>``: symbol history newest-first, LIMIT 2000
    (reference API.py:64-75). A prepared route (``olhc`` with n = limit
    shares it)."""
    return _newest(bars, symbol, "date", limit)


# ---------------------------------------------------------------------------
# Batch backfill (reference to_db.py:40-55) + storage layout
# ---------------------------------------------------------------------------


def backfill(
    raw_bars: DataFrame,
    out_path: str,
    ema_n: int = 25,
    rsi_n: int = 14,
    sma_n: int = 20,
) -> None:
    """normalize → indicators → symbol-partitioned parquet.

    Replaces the reference's collect()+per-row-INSERT loop (to_db.py:51-55)
    with one distributed write; rows stay in executors end to end. Sorted
    within partitions by date so time-slice reads prune row groups.
    """
    bars = normalize_bars(raw_bars)
    dp = raw_bars.sparkSession.sparkContext.defaultParallelism
    enriched = with_indicators(
        bars, key_cols=("symbol",), order_col="date", value_col="close",
        ema_n=ema_n, rsi_n=rsi_n, sma_n=sma_n,
        ema_partitions=max(2, dp // 4),
    ).na.fill(0.0, ["change_abs", "change_pct"])
    (
        enriched.repartition("symbol")
        .sortWithinPartitions("symbol", "date")
        .write.mode("overwrite")
        .partitionBy("symbol")
        .parquet(out_path)
    )


def load_bars(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


# ---------------------------------------------------------------------------
# K3 inverse: DataFrame → JSON messages (the Kafka producer sink, done right:
# real JSON via to_json, not Python-repr strings decoded by ast.literal_eval)
# ---------------------------------------------------------------------------


def to_kafka_payload(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """(key, value) string columns ready for ``.write.format("kafka")``
    (reference producer.py:105-133 re-expressed; SURVEY §2.2 K3)."""
    value = F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value")
    if key_col is not None:
        return df.select(F.col(key_col).cast("string").alias("key"), value)
    return df.select(value)
