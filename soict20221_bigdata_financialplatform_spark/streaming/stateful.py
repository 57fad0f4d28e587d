"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY §2.10 engine-added; driver brief: "applyInPandasWithState for custom
stateful operators").

``running_symbol_stats``: per-symbol running day-stats the built-in windowed
aggregation can't express incrementally across micro-batches — session
high-water/low-water marks, cumulative tick count, and last price — emitted
once per (symbol, batch) with state carried in a GroupState tuple.

State size: one 5-tuple per symbol — bounded by the symbol universe, the
smallest possible keyed state. Timeouts: none (a trading day's state is
reset by the date rolling over, encoded in the state key itself).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = "high double, low double, last_price double, n_ticks long, last_ts timestamp"
OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("high", T.DoubleType()),
        T.StructField("low", T.DoubleType()),
        T.StructField("last_price", T.DoubleType()),
        T.StructField("n_ticks", T.LongType()),
        T.StructField("last_ts", T.TimestampType()),
    ]
)


def _update(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (symbol,) = key
    if state.exists:
        high, low, last_price, n_ticks, last_ts = state.get
    else:
        high, low, last_price, n_ticks, last_ts = (
            float("-inf"), float("inf"), float("nan"), 0, None,
        )
    for pdf in pdfs:
        # A NULL-price tick carries no information for price state: dropped
        # entirely (not counted, does not advance last_ts). Without this a
        # NaN close CLOBBERS last_price to NaN whenever it sorts last in a
        # batch — the carry-last-real-price convention the EMA path follows.
        pdf = pdf.dropna(subset=["close"])
        if pdf.empty:
            continue
        pdf = pdf.sort_values("time", kind="mergesort")
        high = max(high, float(pdf["close"].max()))
        low = min(low, float(pdf["close"].min()))
        last_price = float(pdf["close"].iloc[-1])
        n_ticks += len(pdf)
        last_ts = pdf["time"].iloc[-1].to_pydatetime()
    state.update((high, low, last_price, n_ticks, last_ts))
    yield pd.DataFrame(
        {
            "symbol": [symbol],
            "high": [high],
            "low": [low],
            "last_price": [last_price],
            "n_ticks": [n_ticks],
            "last_ts": [last_ts],
        }
    )


def running_symbol_stats(ticks: DataFrame) -> DataFrame:
    """ticks (symbol, time, close, ...) stream → one updated stats row per
    symbol per micro-batch. Update output mode. NULL-price ticks are
    dropped (not counted, do not advance last_ts) — pinned in
    tests/test_dirty_data.py."""
    return (
        ticks.select("symbol", "time", "close")
        .groupBy("symbol")
        .applyInPandasWithState(
            _update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
